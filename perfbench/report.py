"""Turns a harness record into the run's metrics, its correctness verdict
and its report file.

End-to-end metrics come from the operation and pass timings; per-layer
metrics come from the jobs, tasks and query executions the traced run's
listeners recorded, attributed to the operation that caused them.
"""
import bisect
import json
import os
import statistics
import sys

import duckdb

import gen

# Table counts the ETL writes from the fixed SyntheticI94 reference inputs
# (airports, demographics and the SAS dictionary), whatever the raw trips.
ETL_FIXED_COUNTS = {
    "i94_airports": 3, "i94_us_states_demographic": 3,
    "i94_us_cities_demographic": 3, "i94_countries": 3,
    "i94_port_state_mapping": 4, "i94_travel_mode": 4,
    "i94_state_mapping": 4, "i94_visa": 3,
}
# Span names of the pipeline stages the traced run times one by one.
STAGE_SPANS = {"write": "etl.write", "catalog": "etl.catalog", "dq": "dq.checks",
               "manifest": "etl.manifest"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    eleventh-largest sample (with fewer samples, the smallest)."""
    s = sorted(xs, reverse=True)
    return (s[min(10, len(s) - 1)] if s else 0.0), len(s)


def wall_s(x):
    return (x["end_ms"] - x["start_ms"]) / 1e3


# -- correctness -------------------------------------------------------

def check_registry(rec, data_dir, tools_dir):
    """Compares every dumped query result with its DuckDB oracle SQL by the
    rules of the repository's oracle checker (tools/check_oracle.py);
    returns {query: reason} for each mismatch."""
    sys.path.insert(0, tools_dir)
    from check_oracle import frame_repr
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name, d in sorted(rec["dumps"].items()):
        if not d["ok"]:
            bad[name] = "failed to produce a result"
            continue
        if not d["oracle"]:
            bad[name] = "no oracle SQL"
            continue
        try:
            got = frame_repr(con.execute(
                f"SELECT * FROM read_parquet('{d['dir']}/*.parquet')").df())
            want = frame_repr(con.execute(d["oracle"]).df())
        except Exception as e:  # noqa: BLE001 - any engine error is a mismatch
            bad[name] = f"oracle error: {str(e)[:200]}"
            continue
        if got[0] != want[0]:
            bad[name] = f"columns {got[0]} != {want[0]}"
        elif len(got[1]) != len(want[1]):
            bad[name] = f"rows {len(got[1])} != {len(want[1])}"
        elif got[1] != want[1]:
            diff = sum(a != b for a, b in zip(got[1], want[1]))
            bad[name] = f"{diff} mismatched rows"
    return bad


def expected_etl_counts(raw_dir):
    """Per-table row counts the ETL must produce from the staged raw trips,
    derived independently with DuckDB."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{raw_dir}/*.parquet')")
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    trips = one("SELECT count(DISTINCT cicid) FROM raw")
    return dict(ETL_FIXED_COUNTS, i94_immigrations=trips, i94_trips=trips,
                i94_visitors=trips,
                i94_flights=one("SELECT count(*) FROM (SELECT DISTINCT fltno, airline "
                                "FROM raw WHERE fltno IS NOT NULL)"),
                i94_dates=one("SELECT count(*) FROM (SELECT DISTINCT i94yr, i94mon, "
                              "arrdate FROM raw)"))


def check_etl(rec):
    """{what: reason} for a failed DQ report, a table count that differs
    from the expected one, and each question that answered nothing."""
    etl = rec["etl"]
    bad = {f"dq:{d['table']}": "dq failed" for d in etl["dq"] if not d["passed"]}
    if not etl["dq"]:
        bad["dq"] = "no dq report"
    for t, n in sorted(expected_etl_counts(etl["staged_raw"]).items()):
        if etl["counts"].get(t) != n:
            bad[f"etl:{t}"] = f"{etl['counts'].get(t)} rows, want {n}"
    for a in rec["answers"]:
        if a["rows"] < 1:
            bad[f"{a['pass']}:{a['question']}"] = "answered nothing"
    return bad


# -- spans and layers --------------------------------------------------

def _covered(iv, lo, hi):
    """Length of [lo, hi] covered by the union of intervals `iv`."""
    total, cur = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in iv):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def attribute(rec):
    """Matches jobs (by tag) and query executions (by time) to operations."""
    jobs_by_tag, queries_of = {}, {}
    for j in rec["jobs"]:
        jobs_by_tag.setdefault(j["tag"], []).append(j)
    ops = sorted(rec["ops"], key=lambda o: o["start_ms"])
    starts = [o["start_ms"] for o in ops]
    for q in rec["queries"]:
        if not q["phases"]:
            continue
        t = min(s for s, _ in q["phases"].values())
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= ops[i]["end_ms"] + 1:
            queries_of.setdefault(ops[i]["tag"], []).append(q)
    return jobs_by_tag, queries_of


def build_spans(rec, jobs_by_tag, queries_of):
    """Span tree: pass > operation > {driver.build, action} > {job,
    catalyst.*}. Each span is {id, name, start_ms, end_ms, parent}."""
    spans = []

    def add(name, s, e, parent):
        spans.append({"id": len(spans), "name": name, "start_ms": s,
                      "end_ms": e, "parent": parent})
        return len(spans) - 1

    pass_span = {p["pass"]: add("pass", p["start_ms"], p["end_ms"], None)
                 for p in rec["passes"]}
    for o in rec["ops"]:
        sid = add(f"op:{o['kind']}", o["start_ms"], o["end_ms"], pass_span.get(o["pass"]))
        b = add("driver.build", o["start_ms"], o["built_ms"], sid)
        a = add(STAGE_SPANS.get(o["name"], "action") if o["kind"] == "etl" else "action",
                o["built_ms"], o["end_ms"], sid)
        child = lambda t: b if t < o["built_ms"] else a  # noqa: E731
        for j in jobs_by_tag.get(o["tag"], []):
            add("job", j["start_ms"], j["end_ms"], child(j["start_ms"]))
        for q in queries_of.get(o["tag"], []):
            for ph, (s, e) in q["phases"].items():
                add(f"catalyst.{ph}", s, e, child(s))
    return spans


def self_times(spans):
    """Per layer name: total span time not covered by its child spans."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        own = (s["end_ms"] - s["start_ms"]) - _covered(
            kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, own) / 1e3
    return out


def layers(rec, extra):
    """Per-layer totals over the timed window (its pass count is fixed by
    the workload), the storage peak, and the share of operation time the
    span tree attributes to named layers."""
    jobs_by_tag, queries_of = attribute(rec)
    m = dict.fromkeys([
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "scheduler.failed_tasks", "scheduler.task_overhead_s", "executor.run_s",
        "executor.cpu_s", "executor.gc_s", "input.bytes_read", "shuffle.read_bytes",
        "shuffle.write_bytes", "shuffle.skew", "spill.bytes", "driver.build_s",
        "driver.residual_s", "etl.run_s", "etl.write_s", "etl.catalog_s",
        "dq.checks_s", "dq.failed_jobs", "analytics.scan_files",
        "analytics.scan_bytes"], 0.0)
    for o in rec["ops"]:
        jobs = jobs_by_tag.get(o["tag"], [])
        qs = queries_of.get(o["tag"], [])
        for j in jobs:
            m["scheduler.jobs"] += 1
            m["scheduler.stages"] += j["stages"]
            m["scheduler.tasks"] += j["tasks"]
            m["scheduler.failed_tasks"] += j["failed_tasks"]
            m["scheduler.task_overhead_s"] += j["overhead_ms"] / 1e3
            m["executor.run_s"] += j["run_ms"] / 1e3
            m["executor.cpu_s"] += j["cpu_ns"] / 1e9
            m["executor.gc_s"] += j["gc_ms"] / 1e3
            m["input.bytes_read"] += j["input_bytes"]
            m["shuffle.read_bytes"] += j["shuffle_read_bytes"]
            m["shuffle.write_bytes"] += j["shuffle_write_bytes"]
            m["shuffle.skew"] = max(m["shuffle.skew"], j["skew"])
            m["spill.bytes"] += j["spill_bytes"]
        for q in qs:
            for ph, (s, e) in q["phases"].items():
                key = f"catalyst.{ph}_s"
                if key in m:
                    m[key] += (e - s) / 1e3
        m["driver.build_s"] += (o["built_ms"] - o["start_ms"]) / 1e3
        m["driver.residual_s"] += (wall_s(o) - _covered(
            [(j["start_ms"], j["end_ms"]) for j in jobs],
            o["start_ms"], o["end_ms"]) / 1e3)
        if o["kind"] == "etl":
            m["etl.run_s"] += wall_s(o)
            stage = {"write": "etl.write_s", "catalog": "etl.catalog_s",
                     "dq": "dq.checks_s"}.get(o["name"])
            if stage:
                m[stage] += wall_s(o)
            if o["name"] == "dq":
                m["dq.failed_jobs"] += sum(j["failed"] for j in jobs)
        if o["kind"] == "analytics":
            m["analytics.scan_files"] += sum(q["scan_files"] for q in qs)
            m["analytics.scan_bytes"] += sum(q["scan_bytes"] for q in qs)
    total = {k: sum(p[k] for p in rec["passes"]) for k in (
        "codegen_ns", "compiles", "rule_runs", "rule_effective_runs",
        "cache_admissions", "cache_evictions", "cache_rebuilds")}
    m["catalyst.effective_rule_ratio"] = (
        total["rule_effective_runs"] / total["rule_runs"] if total["rule_runs"] else 0.0)
    m["codegen.compile_s"] = total["codegen_ns"] / 1e9
    m["codegen.compiles"] = total["compiles"]
    for k in ["admissions", "evictions", "rebuilds"]:
        m[f"caches.{k}"] = total[f"cache_{k}"]
    m["storage.peak_mb"] = rec["storage_peak_bytes"] / 2**20
    etl = rec.get("etl", {})
    m["etl.output_files"] = etl.get("output_files", 0)
    m["etl.output_bytes"] = etl.get("output_bytes", 0)
    m["etl.out_bytes_ratio"] = extra.get("etl_out_bytes_ratio", 0.0)
    m["analytics.pass_s"] = extra.get("analytics_pass_s", 0.0)
    m["op_fail_ratio"] = extra["op_fail_ratio"]
    m["query.tail_samples"] = extra["query_tail_samples"]
    spans = build_spans(rec, jobs_by_tag, queries_of)
    selfs = self_times(spans)
    window = sum(wall_s(o) for o in rec["ops"])
    unattributed = sum(v for k, v in selfs.items()
                       if k == "action" or k.startswith("op:"))
    m["trace.attributed_share"] = 1.0 - unattributed / window if window else 0.0
    return m, spans, selfs


# -- end-to-end ----------------------------------------------------------

def incorrect_op(o, incorrect):
    """Whether a check in `incorrect` (from check_etl or check_registry)
    failed the output of operation `o`."""
    if o["kind"] == "etl":
        return any(k.startswith(("dq", "etl:")) for k in incorrect)
    if o["kind"] == "analytics":
        return f"{o['pass']}:{o['name']}" in incorrect
    return o["name"] in incorrect


def end_to_end(rec, incorrect):
    """The user-visible metrics, the same for every workload. A pass is one
    traversal of the query sample; for i94_etl, pass 0 is the pipeline run
    plus the ten questions and later passes ask the questions again.
    Queries are the registry queries or the questions."""
    ops = rec["ops"]
    if rec["workload"] == "i94_etl":
        queries = [o for o in ops if o["kind"] == "analytics"]
        n = 10
    else:
        queries = ops
        n = len(rec["dumps"])
    passes = sorted({o["pass"] for o in ops})
    walls = {p: sum(wall_s(o) for o in ops if o["pass"] == p) for p in passes}
    complete = [p for p in passes if sum(o["pass"] == p for o in queries) == n]
    warm = [wall_s(o) for o in queries if o["pass"] > 0]
    m = {"setup_s": rec["jvm_start_s"] + median(rec["setup_s"]),
         "cold_pass_s": walls[0],
         "warm_pass_s": median([walls[p] for p in complete if p > 0]),
         "query_p50_s": median(warm)}
    m["query_tail_s"], samples = tail(warm)
    m["live_heap_peak_mb"] = rec["live_heap_peak_bytes"] / 2**20
    failed = sum(1 for o in ops if not o["ok"] or incorrect_op(o, incorrect))
    extra = {"query_tail_samples": samples, "op_fail_ratio": failed / len(ops)}
    if rec["workload"] == "i94_etl":
        extra["etl_wall_s"] = sum(wall_s(o) for o in ops if o["kind"] == "etl")
        extra["analytics_pass_s"] = median(
            [sum(wall_s(o) for o in queries if o["pass"] == p) for p in complete])
        extra["etl_out_bytes_ratio"] = rec["etl"]["output_bytes"] / rec["etl"]["staged_bytes"]
    return m, len(ops), failed, extra


def evaluate(rec, traced, data_dir, tools_dir, declared):
    """Checks the outputs and computes the metrics; `declared` maps each
    metric BENCHMARK.json declares for this mode to its unit."""
    if rec["workload"] == "i94_etl":
        incorrect = check_etl(rec)
    else:
        incorrect = check_registry(rec, data_dir, tools_dir)
    e2e, attempted, failed, extra = end_to_end(rec, incorrect)
    result = {"workload": rec["workload"], "seed": rec["seed"], "traced": traced,
              "end_to_end": e2e, "incorrect": {str(k): v for k, v in incorrect.items()},
              "ops": rec["ops"], "setup_cycles_s": rec["setup_s"], **extra}
    metrics = e2e
    if traced:
        per_layer, spans, selfs = layers(rec, extra)
        result.update(per_layer=per_layer, spans=spans, self_time_s=selfs,
                      jobs=rec["jobs"])
        metrics = per_layer
    if set(metrics) != set(declared):
        raise SystemExit(f"metrics {sorted(metrics)} differ from BENCHMARK.json")
    result["line"] = {
        "correct": not incorrect and failed == 0, "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()}}
    return result


def save(d, args, result):
    """Writes the full report into directory `d`; for a traced run, also
    the tracing overhead against the latest untraced run of the same
    workload and seed."""
    os.makedirs(d, exist_ok=True)
    stem = os.path.join(d, f"{args.workload}-s{args.seed}")
    summary = {k: result[k] for k in ("workload", "seed", "traced", "load_avg_1m",
                                      "cpu_steal_share")}
    summary.update({k: v for k, v in result.items() if k in (
        "op_fail_ratio", "query_tail_samples", "etl_wall_s", "analytics_pass_s",
        "etl_out_bytes_ratio")})
    summary["incorrect"] = sorted(result["incorrect"])
    if result["traced"]:
        base = f"{stem}-t0.json"
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            result["trace_overhead"] = {
                k: v - untraced[k] for k, v in result["end_to_end"].items() if k in untraced}
        summary["attributed_share"] = result["per_layer"]["trace.attributed_share"]
        summary["trace_overhead"] = result.get("trace_overhead", "no untraced run yet")
    result["summary"] = summary
    with open(f"{stem}-t{int(result['traced'])}.json", "w") as f:
        json.dump({k: v for k, v in result.items() if k != "summary"}, f)
