#!/usr/bin/env python3
"""Benchmark of the daily ETL pipeline and of the warm query mix over a
registry built cold during set-up.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 5     # every workload, one table

Run from the repository root.  The first run compiles the engine
(``src/main/scala``) and the benchmark's own Scala sources with the
Scala compiler shipped with Spark (``$SPARK_HOME/jars``, else the jar
directory ``build.sbt`` names) into ``.bench_build/``.
Inputs are generated from the seed (``perfbench/gen.py``); generation is
not timed.  One JVM runs one workload as a closed loop with one client
thread on ``local[<cores>]``.  ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  The
process exits non-zero if any correctness check fails.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_TIMEOUT_S = 170


def spark_jars():
    """``$SPARK_HOME/jars``, else the jar directory the sbt build names
    (``unmanagedBase``)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def build():
    """Compiles the engine and the benchmark once per distinct source
    tree; returns the class directory."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit("no engine sources at src/main/scala: run from the repository root")
    srcs = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    tmp = classes + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("compilation failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    try:
        os.rename(tmp, classes)
    except OSError:  # another run published the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


def heap():
    """Sized the way the repository's test command sizes it: half of RAM,
    clamped to 2..8 GiB."""
    try:
        kb = int(next(l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def corpus_dir(scale):
    """The fixed query corpus, generated once per checkout."""
    d = os.path.join(BUILD, "corpus-%s-%d" % (scale, SPEC["corpus_seed"]))
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d, ignore_errors=True)
        gen.corpus(d, scale, SPEC["corpus_seed"])
        open(os.path.join(d, ".ok"), "w").close()
    return d


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classes, workload, seed, seconds, trace, inputs, work, extra):
    """Runs one workload in its own JVM; returns its raw JSON output."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "out.json")
    cmd = ["java", "-Xmx" + heap(), "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dgraft.index.root=" + os.path.join(work, "registry"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--inputs", inputs, "--work", work, "--out", out]
    for k, v in extra.items():
        cmd += ["--" + k, v]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("%s: watchdog timeout after %ds" % (workload, JVM_TIMEOUT_S))
    finally:
        log.close()
    if not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise RuntimeError("%s: JVM exited %d without output\n%s" % (workload, proc.returncode, tail))
    return json.load(open(out))


def etl_sizes(w, smoke):
    """Input sizes: one fraction of the sf0.1 mapping of harness tables to
    the pipeline's sources, so every source keeps the mapping's ratios."""
    m, f = w["sf01_mapping"], w["smoke_fraction" if smoke else "fraction"]
    return {"days": w["smoke_days" if smoke else "days"],
            "tx_per_day": round(m["events"] / m["event_days"] * f),
            "n_clients": round(m["customer"] * f), "n_terminals": round(m["supplier"] * f)}


def run_workload(name, seed, seconds, trace, smoke=False):
    """Generates inputs, runs the JVM, derives the metrics.  Returns
    (result line dict, raw JVM output).  ``smoke`` runs on tiny inputs."""
    w = SPEC["workloads"][name]
    classes = build()
    work = os.path.join(BUILD, "runs", "%s-s%d-t%d-p%d" % (name, seed, trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if name == "etl_daily":
            inputs = os.path.join(work, "inputs")
            gen.etl(inputs, seed, etl_sizes(w, smoke), w["rates"])
            extra = {}
        else:
            scale = w["smoke_scale" if smoke else "corpus_scale"]
            inputs = corpus_dir(scale)
            expected = os.path.join(work, "expected.json")
            with open(expected, "w") as f:
                json.dump(json.load(open(os.path.join(HERE, "expected.json")))[str(scale)], f)
            extra = {"queries": ",".join(w["queries"]), "indexes": ",".join(w["indexes"]), "expected": expected}
        raw = run_jvm(classes, name, seed, seconds, trace, inputs, work, extra)
        return metrics.result(raw, trace, SPEC), raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload and print a table")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args()
    names = list(SPEC["workloads"]) if a.all else [a.workload]
    if not a.all and a.workload not in SPEC["workloads"]:
        ap.error("--workload must be one of %s" % ", ".join(SPEC["workloads"]))
    ok = True
    for n in names:
        try:
            res, raw = run_workload(n, a.seed, a.seconds, a.trace, a.smoke)
        except RuntimeError as e:
            sys.stderr.write("%s\n" % e)
            sys.exit(3)
        for c in raw["checks"]:
            if not c["ok"]:
                sys.stderr.write("CHECK FAILED %s: %s\n" % (c["name"], c["detail"]))
        ok = ok and res["correct"]
        if a.all:
            for k, v in res["metrics"].items():
                print("%-14s %-28s %14.6g %s" % (n, k, v["value"], v["unit"]))
        else:
            print(json.dumps(res))
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
