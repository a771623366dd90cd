"""Turns the raw record written by `perfbench.Main` into the benchmark's
metrics, and checks the program's observed outputs against the answer file
(ETL workload) or the golden file (query mix).
"""
import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MB = 1024.0 * 1024.0

# spans recorded around the calls into each layer, in call order
ETL_SPANS = ["extract", "transform", "cache_fill", "validate.schema", "validate.value_ranges",
             "validate.temporal_coverage", "validate.energy_plausibility", "load.parquet",
             "load.register", "export"]
QUERY_SPANS = ["query.build", "query.plan", "query.exec"]
SPAN_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
               ("busy_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB")]
QUERY_MIX = ["q_agg_star", "q_cube", "q_join_star5", "q_pagerank", "q_triangles",
             "q_dedup_minhash", "q_quality_vs_dup", "q_tfidf"]
EXTRAS = [("extract.input_mb", "MB"), ("cache_fill.cached_mb", "MB"),
          ("load.parquet.output_mb", "MB"), ("load.parquet.stored_bytes_per_input_byte", "ratio"),
          ("pipeline.fact_rows_per_s", "rows/s"), ("query.exec.input_mb", "MB"),
          ("spark.failed_tasks", "count"), ("trace.overhead_s", "s"), ("run.op_samples", "count"),
          ("run.op_p50_ms", "ms"), ("run.ops_per_s", "1/s"), ("run.pass_wall_s", "s"),
          ("run.driver_cpu_s", "s"), ("run.task_cpu_s", "s"), ("jvm.jit_cpu_s", "s")]
HIGHER_IS_BETTER = {"pipeline.fact_rows_per_s", "run.op_samples", "run.ops_per_s"}

END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("cache_peak_mb", "MB")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in a fixed order."""
    names = [("%s.%s" % (s, f), u) for s in ETL_SPANS + QUERY_SPANS for f, u in SPAN_FIELDS]
    names += EXTRAS
    names += [("q.%s.%s" % (q, p), "s") for q in QUERY_MIX for p in ("build_s", "exec_s")]
    return names


def percentile_with_tail(samples, p, min_beyond=10):
    """The p-th percentile (nearest rank) of samples, or None when fewer than
    `min_beyond` samples lie beyond it. Returns (value or None, n, beyond)."""
    n = len(samples)
    if n == 0:
        return None, 0, 0
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * n))
    value = xs[rank - 1]
    beyond = sum(1 for x in xs if x > value)
    return (value if beyond >= min_beyond else None), n, beyond


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_table(spans):
    """Per span: inclusive counts, self time (duration minus the time its
    child spans cover) and driver time (duration with no Spark job running)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out += subtree(c)
        return out

    rows = []
    for s in spans:
        tree = subtree(s)
        dur = s["end"] - s["start"]
        jobs = [tuple(j) for t in tree for j in t["jobs"]]
        rows.append({
            "id": s["id"], "parent": s["parent"], "trace": s["trace"], "name": s["name"],
            "wall_s": dur,
            "self_s": dur - union_length([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                                         s["start"], s["end"]),
            "driver_s": dur - union_length(jobs, s["start"], s["end"]),
            "jobs": len(jobs),
            "tasks": sum(t["tasks"] for t in tree),
            "busy_s": sum(t["busy_s"] for t in tree),
            "shuffle_mb": sum(t["shuffle_bytes"] for t in tree) / MB,
            "spill_mb": sum(t["spill_bytes"] for t in tree) / MB,
            "input_mb": sum(t["input_bytes"] for t in tree) / MB,
            "output_mb": sum(t["output_bytes"] for t in tree) / MB,
            "storage_mb_end": s["storage_bytes_end"] / MB,
        })
    return rows


def per_layer(record, answers):
    """Every per-layer metric of one traced run; spans a workload does not
    call read 0. Span metrics are means per traced operation."""
    rows = span_table(record["spans"])
    traces = sorted({r["trace"] for r in rows})
    n = max(1, len(traces))
    out = {}
    for name in ETL_SPANS + QUERY_SPANS:
        mine = [r for r in rows if r["name"] == name]
        for field, _ in SPAN_FIELDS:
            out["%s.%s" % (name, field)] = sum(r[field] for r in mine) / n

    def mean_of(span, field):
        return sum(r[field] for r in rows if r["name"] == span) / n

    out["extract.input_mb"] = mean_of("extract", "input_mb")
    out["cache_fill.cached_mb"] = mean_of("cache_fill", "storage_mb_end")
    out["load.parquet.output_mb"] = mean_of("load.parquet", "output_mb")
    out["query.exec.input_mb"] = mean_of("query.exec", "input_mb")
    etl_obs = [o for o in record["observed"] if "parquet_bytes" in o]
    out["load.parquet.stored_bytes_per_input_byte"] = (
        statistics.median(o["parquet_bytes"] for o in etl_obs) / answers["csv_bytes"]
        if etl_obs and answers else 0.0)
    pipeline_walls = [r["wall_s"] for r in rows if r["name"] == "pipeline"]
    out["pipeline.fact_rows_per_s"] = (
        fact_rows(answers) / statistics.median(pipeline_walls) if pipeline_walls else 0.0)
    out["spark.failed_tasks"] = record["failed_tasks"]
    out["trace.overhead_s"] = tracing_overhead(record["ops"])
    out.update(wall_metrics(record))
    out["run.driver_cpu_s"] = per_pass(record, lambda o: o["driver_cpu_s"])
    out["run.task_cpu_s"] = per_pass(record, lambda o: o["task_cpu_s"])
    out["jvm.jit_cpu_s"] = per_pass(record, lambda o: o["jit_cpu_s"])
    for q in QUERY_MIX:
        for part in ("build", "exec"):
            vals = [r["wall_s"] for r in rows if r["name"] == "query." + part
                    and query_of(record, r["trace"]) == q]
            out["q.%s.%s_s" % (q, part)] = statistics.median(vals) if vals else 0.0
    return out, rows


def layer_table(rows):
    """Markdown table of the spans: means per operation of each span name."""
    traces = max(1, len({r["trace"] for r in rows}))
    cols = ["wall_s", "self_s", "driver_s", "jobs", "tasks", "busy_s", "shuffle_mb", "spill_mb"]
    lines = ["| span | " + " | ".join(cols) + " |", "|---" * (len(cols) + 1) + "|"]
    for name in ["pipeline", "query"] + ETL_SPANS + QUERY_SPANS:
        mine = [r for r in rows if r["name"] == name]
        if mine:
            lines.append("| %s | " % name + " | ".join(
                "%.3f" % (sum(r[c] for r in mine) / traces) for c in cols) + " |")
    return "\n".join(lines) + "\n"


def query_of(record, trace):
    """Name of the operation behind a trace id (traced ops, in order)."""
    traced = [o["name"] for o in record["ops"] if o["traced"]]
    return traced[trace - 1] if 0 < trace <= len(traced) else None


def tracing_overhead(ops):
    """Mean, over operations run both ways, of traced minus untraced wall
    time. A traced run records each operation as two consecutive entries."""
    diffs = [sum(o["wall_s"] if o["traced"] else -o["wall_s"] for o in ops[i:i + 2])
             for i in range(0, len(ops) - 1, 2) if ops[i]["traced"] != ops[i + 1]["traced"]]
    return sum(diffs) / len(diffs) if diffs else 0.0


def fact_rows(answers):
    return sum(v for k, v in answers["rows"].items() if k.startswith("fact_"))


def per_pass(record, value):
    """Median over the run's passes of the sum of value(op) over the pass's
    untraced operations that succeeded."""
    passes = {}
    for o in record["ops"]:
        if o["ok"] and not o["traced"]:
            passes[o["round"]] = passes.get(o["round"], 0.0) + value(o)
    return statistics.median(passes.values()) if passes else float("nan")


def wall_metrics(record):
    """Wall-time figures of the untraced operations that succeeded."""
    ok = [o["wall_s"] for o in record["ops"] if o["ok"] and not o["traced"]]
    return {
        "run.op_samples": len(ok),
        "run.op_p50_ms": statistics.median(ok) * 1000.0 if ok else float("nan"),
        "run.ops_per_s": len(ok) / sum(ok) if ok else 0.0,
        "run.pass_wall_s": per_pass(record, lambda o: o["wall_s"]),
    }


def program_cpu(op):
    """CPU time of the JVM in an operation, less its JIT compiler threads."""
    return op["cpu_s"] - op["jit_cpu_s"]


def end_to_end(record):
    return {
        "setup_s": record["setup_s"],
        "pass_cpu_s": per_pass(record, program_cpu),
        "cache_peak_mb": max(o["cache_bytes"] for o in record["ops"] if not o["traced"]) / MB,
    }


def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= rel * max(abs(a), abs(b)) + rel


def check_etl(obs, answers):
    """Mismatches between one pipeline run's outputs and the answer file."""
    errs = []
    if obs["exit"] != 0:
        return ["Pipeline.run returned %s" % obs["exit"]]
    if obs["rows"] != answers["rows"]:
        errs.append("parquet row counts %s != %s" % (obs["rows"], answers["rows"]))
    want = answers["meter_totals"]
    got = obs["meter_totals"]
    if sorted(got) != sorted(want) or not all(
            close(g, w) for k in want for g, w in zip(got.get(k, []), want[k])):
        errs.append("meter totals differ")
    if obs["summary_errors"]:
        errs.append("summary: %s" % obs["summary_errors"])
        return errs
    doc = json.loads(obs["summary"])
    exp = answers["export"]
    for k, v in exp["annual"].items():
        if not close(doc["annual"][k], v):
            errs.append("summary annual.%s %s != %s" % (k, doc["annual"][k], v))
    got_m = [[m["month"], m["heating_kwh"], m["cooling_kwh"], m["total_kwh"]]
             for m in doc["monthly_breakdown"]]
    if len(got_m) != len(exp["monthly"]) or not all(
            g[0] == w[0] and all(close(a, b) for a, b in zip(g[1:], w[1:]))
            for g, w in zip(got_m, exp["monthly"])):
        errs.append("summary monthly_breakdown differs")
    for k in ("peak_demand_kw", "comfort_hours_percent"):
        if not close(doc["kpis"][k], exp[k]):
            errs.append("summary kpis.%s %s != %s" % (k, doc["kpis"][k], exp[k]))
    return errs


def check_mix(checked, golden):
    """Mismatches between the query mix's fingerprints and the golden file."""
    errs = []
    for c in checked:
        want = golden.get(c["query"])
        if want is None or (c["count"], c["hash"]) != want:
            errs.append("%s: rows=%s hash=%s, golden %s" % (c["query"], c["count"], c["hash"], want))
    return errs


def load_golden(path):
    golden = {}
    with open(path) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, count, h = line.split()
                golden[name] = (int(count), h)
    return golden
