"""Metrics from one JVM run's raw output (see ``scala/perfbench/Main.scala``).

``result(raw, trace, spec)`` returns the benchmark's result line.  With
``trace=0`` it holds the end-to-end metrics, with ``trace=1`` the
per-layer ones.  Every workload reports every metric of the selected
kind; a layer a workload never calls reads 0.
"""

import statistics

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s", "space_ratio": "ratio"}
STAGES = ("transactions", "blacklist", "terminals", "cards", "accounts", "clients", "report")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n):
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it, or None when there are fewer than eleven samples."""
    for p in range(99, 0, -1):
        if n - rank(n, p) >= 10:
            return p
    return None


def rank(n, p):
    """Number of samples at or below percentile ``p`` (nearest rank)."""
    return max(1, -(-n * p // 100))


def percentile(xs, p):
    xs = sorted(xs)
    return xs[rank(len(xs), p) - 1]


def self_times(spans):
    """Span id → duration minus the part of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def innermost(spans, t):
    """Id of the deepest span open at time ``t`` (0 if none)."""
    best, depth = 0, -1
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["start"] <= t <= s["end"]:
            d, p = 0, s["parent"]
            while p:
                d, p = d + 1, by_id[p]["parent"]
            if d > depth:
                best, depth = s["id"], d
    return best


def descendants(spans, root_id):
    ids, frontier = {root_id}, [root_id]
    while frontier:
        nxt = [s["id"] for s in spans if s["parent"] in frontier]
        ids.update(nxt)
        frontier = nxt
    return ids


class Attributed:
    """Listener records assigned to spans: stages through their job's
    group (``pb-<span id>``) or their submission time; SQL executions and
    streaming batches through their end time."""

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.stage_span, self.job_span = {}, {}
        stage_job = {}
        for j in trace["jobs"]:
            sid = int(j["group"][3:]) if j["group"].startswith("pb-") else innermost(self.spans, j["start"])
            self.job_span[j["id"]] = sid
            for st in j["stages"]:
                stage_job[st] = j["id"]
        self.stages = trace["stages"]
        for st in self.stages:
            j = stage_job.get(st["id"])
            self.stage_span[(st["id"], st["attempt"])] = (
                self.job_span[j] if j is not None else innermost(self.spans, st["submitted"]))
        self.sqls = [(innermost(self.spans, q["end"]), q) for q in trace["sqls"]]
        self.batches = [(innermost(self.spans, b["end"]), b) for b in trace["batches"]]

    def jobs_in(self, ids):
        return sum(1 for sid in self.job_span.values() if sid in ids)

    def stage_sum(self, ids, key):
        return sum(st[key] for st in self.stages if self.stage_span[(st["id"], st["attempt"])] in ids)

    def sqls_in(self, ids):
        return [q for sid, q in self.sqls if sid in ids]


def table_of(path):
    base = path.rstrip("/").split("/")[-1]
    return base[:-len(".__tmp")] if base.endswith(".__tmp") else base


def per_layer_names(spec):
    names = []
    for s in STAGES:
        names += ["pipeline.%s_s" % s, "pipeline.%s_growth" % s]
    names += ["pipeline.day_s", "pipeline.first_day_s", "pipeline.files_processed_ratio", "pipeline.fact_insert_ratio",
              "sources.stage_s", "sources.jdbc_extract_s", "sources.xlsx_s", "sources.jdbc_rows_per_changed_row",
              "tablestore.bytes_written_per_day", "tablestore.files_written_per_day", "tablestore.write_amp",
              "scd2.merge_s", "scd2.rows_written_per_changed_key",
              "exec.jobs_per_day", "exec.tasks_per_day", "exec.shuffle_bytes_per_day",
              "queries.query_s_p50", "queries.tail_s", "queries.construct_s", "queries.construct_jobs",
              "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
              "exec.exec_s", "exec.jobs", "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
              "exec.spill_bytes", "exec.gc_s", "exec.busy_ratio",
              "streaming.batches", "streaming.batch_s",
              "indexes.builds_in_timed", "indexes.hit_ratio", "indexes.rows_written", "indexes.bytes_written"]
    names += ["indexes.%s.build_s" % n for n in spec["workloads"]["query_warm"]["indexes"]]
    names += ["exec.sql_failed", "jvm.peak_heap_mb", "jvm.gc_s", "trace.overhead_ratio", "trace.layer_coverage", "host.calib_s"]
    return names


UNITS = {"_s": "s", "_s_p50": "s", "_ms": "ms", "_mb": "MiB", "_bytes": "bytes", "_ratio": "ratio", "_growth": "ratio",
         "_per_day": "count/day", "_amp": "ratio", "_row": "ratio", "_key": "ratio"}


def unit_of(name):
    if name.endswith("bytes_written_per_day") or name.endswith("shuffle_bytes_per_day"):
        return "bytes/day"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("coverage"):
        return "ratio"
    for suf, u in UNITS.items():
        if name.endswith(suf):
            return u
    return "count"


def end_to_end(raw):
    f = raw["figures"]
    untraced = [p["s"] for p in raw["passes"] if not p["traced"]]
    w = raw["workload"]
    if w == "etl_daily":
        # One incremental day after another; the cold full load of day 1
        # is reported on its own (pipeline.first_day_s) but kept in rows_per_s.
        episodes = sorted({o["pass"] for o in raw["ops"]})
        pass_s = median([sum(o["s"] for o in raw["ops"] if o["name"] == "day" and o["pass"] == e)
                         for e in episodes])
        rows_per_s = f["source_rows"] / median(untraced)
        space = f["warehouse_bytes"] / f["source_bytes"]
    else:
        pass_s = median(untraced)
        rows_per_s = sum(o["rows"] for o in raw["ops"]) / sum(untraced)
        space = f["registry_bytes"] / f["corpus_bytes"]
    return {"setup_s": f["setup_s"], "pass_s": pass_s, "rows_per_s": rows_per_s, "space_ratio": space}


def layers(raw, spec):
    """Every per-layer metric from a traced run."""
    tr, f, w = raw["trace"], raw["figures"], raw["workload"]
    att = Attributed(tr)
    spans = tr["spans"]
    selfs = self_times(spans)
    cores = raw["cpus"]
    v = {n: 0.0 for n in per_layer_names(spec)}
    traced = [p["s"] for p in raw["passes"] if p["traced"]]
    untraced = [p["s"] for p in raw["passes"] if not p["traced"]]
    v["trace.overhead_ratio"] = traced[0] / untraced[0]
    # Share of the traced wall time inside layer spans: 1 − the roots' self time.
    roots = [s for s in spans if s["name"] in ("day", "pass")]
    v["trace.layer_coverage"] = 1 - sum(selfs[s["id"]] for s in roots) / sum(s["end"] - s["start"] for s in roots)
    v["exec.sql_failed"] = tr["sql_failures"]
    v["jvm.peak_heap_mb"] = f["peak_heap_mb"]
    v["jvm.gc_s"] = f["gc_s"]
    v["host.calib_s"] = f.get("calib_s", 0.0)

    if w == "etl_daily":
        days = [s for s in spans if s["name"] == "day"]
        incr = [d for d in days if d["attrs"]["day"] > 0]
        per_day = {n: [] for n in v}
        for d in incr:
            ids = descendants(spans, d["id"])
            stage_spans = {s["name"]: s for s in spans if s["parent"] == d["id"]}
            wall = (d["end"] - d["start"]) / 1e3
            per_day["pipeline.day_s"].append(wall)
            for st in STAGES:
                s = stage_spans["pipeline." + st]
                per_day["pipeline.%s_s" % st].append((s["end"] - s["start"]) / 1e3)
            sq = att.sqls_in(ids)

            def dur(pred):
                return sum(q["dur_ms"] for q in sq if q["output"] and pred(table_of(q["output"]))) / 1e3

            def rows(pred):
                return sum(q["rows"] for q in sq if q["output"] and pred(table_of(q["output"])))
            jdbc = ("stg_cards", "stg_accounts", "stg_clients")
            per_day["sources.stage_s"].append(dur(lambda t: t in ("stg_transactions", "stg_terminals")))
            per_day["sources.jdbc_extract_s"].append(dur(lambda t: t.startswith(jdbc)))
            bl = stage_spans["pipeline.blacklist"]
            bl_sq = att.sqls_in(descendants(spans, bl["id"]))
            per_day["sources.xlsx_s"].append(
                (bl["end"] - bl["start"]) / 1e3 - sum(q["dur_ms"] for q in bl_sq if q["output"] and (
                    table_of(q["output"]).startswith("fact_") or table_of(q["output"]) == "meta_date")) / 1e3)
            changed = d["attrs"]["jdbc_changed"]
            # Both extracts count: the changed rows and the full-key
            # snapshot (stg_*_del) that delete detection reads every day.
            per_day["sources.jdbc_rows_per_changed_row"].append(rows(lambda t: t.startswith(jdbc)) / changed)
            staged_files = sum(1 for q in sq if q["output"] and table_of(q["output"]) in (
                "stg_transactions", "stg_blacklist", "stg_terminals"))
            per_day["pipeline.files_processed_ratio"].append(staged_files / d["attrs"]["files_listed"])
            staged = rows(lambda t: t == "stg_transactions")
            per_day["pipeline.fact_insert_ratio"].append(
                rows(lambda t: t == "fact_transactions") / staged if staged else 0.0)
            per_day["tablestore.bytes_written_per_day"].append(d["attrs"]["bytes_written"])
            per_day["tablestore.files_written_per_day"].append(d["attrs"]["files_written"])
            per_day["tablestore.write_amp"].append(d["attrs"]["bytes_written"] / d["attrs"]["source_bytes"])
            per_day["scd2.merge_s"].append(dur(lambda t: t.startswith("dim_")))
            per_day["scd2.rows_written_per_changed_key"].append(
                rows(lambda t: t.startswith("dim_")) / (changed + d["attrs"]["terminal_changed"]))
            per_day["exec.jobs_per_day"].append(att.jobs_in(ids))
            per_day["exec.tasks_per_day"].append(att.stage_sum(ids, "tasks"))
            per_day["exec.shuffle_bytes_per_day"].append(att.stage_sum(ids, "shuffle_write"))
            per_day["exec.busy_ratio"].append(att.stage_sum(ids, "run_ms") / 1e3 / (wall * cores))
        for n, xs in per_day.items():
            if xs:
                v[n] = median(xs)
        for st in STAGES:
            xs = per_day["pipeline.%s_s" % st]
            v["pipeline.%s_growth" % st] = xs[-1] / xs[0] if xs[0] else 0.0
        first = [d for d in days if d["attrs"]["day"] == 0]
        v["pipeline.first_day_s"] = (first[0]["end"] - first[0]["start"]) / 1e3
        # Incremental days only: the untraced twin episode's day 1 is the cold one.
        day_s = {tr: median([o["s"] for o in raw["ops"] if o["name"] == "day" and (o["pass"] == 2) == tr])
                 for tr in (True, False)}
        v["trace.overhead_ratio"] = day_s[True] / day_s[False]
    elif w == "query_warm":
        part = {}
        for s in spans:
            part.setdefault(s["name"], []).append(s)
        cons = part.get("queries.construct", [])
        v["queries.construct_s"] = sum(s["end"] - s["start"] for s in cons) / 1e3
        v["queries.construct_jobs"] = att.jobs_in({s["id"] for s in cons})
        ex = part.get("exec.execute", [])
        ex_ids = {s["id"] for s in ex}
        exec_ms = sum(s["end"] - s["start"] for s in ex)
        v["exec.exec_s"] = exec_ms / 1e3
        plans = part.get("catalyst.plan", [])
        for ph in ("analysis", "optimization", "planning"):
            v["catalyst.%s_ms" % ph] = sum(s["attrs"].get(ph, 0) for s in plans)
        # exec.* covers queryExecution.toRdd.count() only; the eager jobs
        # of construction are queries.construct_jobs.
        v["exec.jobs"] = att.jobs_in(ex_ids)
        v["exec.tasks"] = att.stage_sum(ex_ids, "tasks")
        v["exec.shuffle_read_bytes"] = att.stage_sum(ex_ids, "shuffle_read")
        v["exec.shuffle_write_bytes"] = att.stage_sum(ex_ids, "shuffle_write")
        v["exec.spill_bytes"] = att.stage_sum(ex_ids, "spill")
        v["exec.gc_s"] = att.stage_sum(ex_ids, "gc_ms") / 1e3
        v["exec.busy_ratio"] = att.stage_sum(ex_ids, "run_ms") / (exec_ms * cores)
        all_ids = descendants(spans, [s for s in spans if s["name"] == "pass"][0]["id"])
        bs = [b for sid, b in att.batches if sid in all_ids]
        v["streaming.batches"] = len(bs)
        v["streaming.batch_s"] = sum(b["dur_ms"] for b in bs) / 1e3
        v["indexes.builds_in_timed"] = f["builds_in_timed"]
        present = f["indexes_present"]
        v["indexes.hit_ratio"] = (present - f["builds_in_timed"]) / present if present else 0.0
        calls = [o["s"] for o in raw["ops"]]
        v["queries.query_s_p50"] = median(calls)
        p = tail_percentile(len(calls))
        v["queries.tail_s"] = percentile(calls, p) if p else max(calls)
        for k, x in f.items():
            if k.startswith("build_s."):
                v["indexes.%s.build_s" % k[len("build_s."):]] = x
        v["indexes.rows_written"] = f["index_rows"]
        v["indexes.bytes_written"] = f["registry_bytes"]
    return v


def result(raw, trace, spec):
    correct = all(c["ok"] for c in raw["checks"]) and bool(raw["checks"])
    if trace:
        vals = layers(raw, spec)
        mets = {k: {"value": vals[k], "unit": unit_of(k)} for k in per_layer_names(spec)}
    else:
        vals = end_to_end(raw)
        mets = {k: {"value": vals[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}
    return {"correct": correct, "attempted": max(1, raw["attempted"]), "failed": raw["failed"], "metrics": mets}
