#!/usr/bin/env python3
"""Records the digests ``query_warm`` checks against: each query's row
count and order-insensitive digest, and each registry table's, at the
benchmark's corpus scale and at its smoke scale.  Before writing
``perfbench/expected.json`` it runs ``dev/compare.py`` on the dumped
results, so every query that has a DuckDB oracle is cross-checked; a
query whose result the oracle disagrees with is still recorded (the
benchmark pins what the engine returns), and is listed under
``oracle_disagrees`` so the disagreement stays visible.

    python3 perfbench/record.py          # from the repository root

Run it again only when the query set, the corpus generator or a query's
intended result changes.
"""

import json
import os
import shutil
import subprocess
import sys

import run


def main():
    w = run.SPEC["workloads"]["query_warm"]
    classes = run.build()
    expected = {}
    for scale in (w["corpus_scale"], w["smoke_scale"]):
        corpus = run.corpus_dir(scale)
        work = os.path.join(run.BUILD, "record-%s" % scale)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        dump = os.path.join(work, "dump")
        extra = {"queries": ",".join(w["queries"]), "dump": dump}
        raw = run.run_jvm(classes, "record", 0, 0, 0, corpus, work, extra)
        bad = [c for c in raw["checks"] if not c["ok"]]
        if bad:
            sys.exit("record failed at scale %s: %s" % (scale, bad))
        oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "dev", "compare.py"), corpus, dump],
                                stdout=subprocess.PIPE, text=True)
        sys.stdout.write(oracle.stdout)
        disagree = sorted(ln.split()[1] for ln in oracle.stdout.splitlines() if ln.startswith("FAIL"))
        digests = json.load(open(os.path.join(dump, "digests.json")))
        expected[str(scale)] = {"queries": digests["queries"],
                                "indexes": {n: digests["indexes"][n] for n in w["indexes"]},
                                "oracle_disagrees": disagree}
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
