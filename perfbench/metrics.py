"""Metric arithmetic for the benchmark: order statistics, span self time,
and the reduction of one JVM run record to end-to-end and per-layer
metrics. Pure functions over plain data, so the tests drive them directly.
"""
import statistics

# the ops modules whose queries a workload runs (ops_iterative: all in Graph)
MODULES = ("Graph",)

# (name, unit) in report order; BENCHMARK.json lists the same names
END_TO_END = (
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)
PER_LAYER = (
    ("catalog.read_s", "s"), ("catalog.columns", "count"),
    ("rules.eval_s", "s"), ("rules.issues", "count"), ("rules.jobs", "count"),
    ("report.console_s", "s"), ("report.csv_s", "s"), ("report.csv_bytes", "bytes"),
    ("report.jobs", "count"), ("lint.ddl_s", "s"),
    ("ops.build_s", "s"), ("ops.build_jobs", "count"), ("ops.self_s", "s"),
    ("ops.jobs", "count"), ("ops.stages", "count"), ("ops.tasks", "count"),
    ("ops.tasks_per_stage", "count"),
    ("ops.exec_s", "s"), ("ops.shuffle_read_mb", "MB"), ("ops.shuffle_write_mb", "MB"),
    ("sources.input_rows", "count"), ("sources.input_mb", "MB"),
    ("ops.task_s", "s"), ("ops.wall_s", "s"), ("ops.cores", "count"),
    ("ops.utilization", "ratio"), ("ops.spill_mb", "MB"), ("ops.peak_exec_mem_mb", "MB"),
    ("ops.release_s", "s"),
) + tuple((f"ops.{m}.{k}", u) for m in MODULES
          for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))) + (
    ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s"),
)

MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, above=10):
    """The highest percentile of ``xs`` that still has at least ``above``
    samples strictly greater than it.

    Returns ``(value, percentile, samples_above, n)``. With ``n <= above``
    no percentile qualifies; the median is returned instead and
    ``samples_above`` shows that the rule was not met.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0, 0
    k = n - above  # 1-based rank with exactly `above` ranks after it
    while k >= 1 and sum(1 for x in s if x > s[k - 1]) < above:
        k -= 1  # ties at the cut leave fewer than `above` strictly greater
    if k < 1:
        m = statistics.median(s)
        return m, 50.0, sum(1 for x in s if x > m), n
    return s[k - 1], 100.0 * k / n, sum(1 for x in s if x > s[k - 1]), n


def covered(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover (ms)."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - covered([(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def op_latency(op):
    """Latency of one op: the calls that make the user-visible result
    (build + terminal action for a query; catalog read, rules and both
    reports for a lint)."""
    if "build_s" in op:
        return op["build_s"] + op["exec_s"]
    return op["catalog_s"] + op["rules_s"] + op["console_s"] + op["csv_s"]


def timed(record, first):
    """The timed passes: every pass after the ``first`` warm-up passes."""
    return [p for p in record["body"]["passes"] if p["pass"] >= first]


def latency_by_name(record, failed, first):
    """Untraced latencies of the good ops, grouped by op name."""
    out = {}
    for p in timed(record, first):
        for o in p["ops"]:
            if not p["traced"] and (o["pass"], str(o["name"])) not in failed:
                out.setdefault(str(o["name"]), []).append(op_latency(o))
    return out


def end_to_end(record, failed, first):
    """End-to-end metrics from the untraced timed passes of a run record.

    ``failed`` is the set of ``(pass, name)`` ops judged failed (an
    exception in the JVM, or an output that did not check out); their times
    enter no latency metric, and a pass holding one enters no ``pass_s``.
    """
    body = record["body"]
    passes = [p for p in timed(record, first) if not p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    bad = [o for o in ops if (o["pass"], str(o["name"])) in failed]
    good = [o for o in ops if (o["pass"], str(o["name"])) not in failed]
    clean = [p["wall_s"] for p in passes
             if not any((o["pass"], str(o["name"])) in failed for o in p["ops"])]
    lat = [op_latency(o) for o in good]
    t_val, t_pct, t_above, t_n = tail(lat)
    reps = [r["setup_s"] for r in body["setup"]]
    out = {
        "setup_s": record["session_s"] + median(reps),
        "pass_s": median(clean or [p["wall_s"] for p in passes]),
        "op_p50_s": median(lat),
        "op_tail_s": t_val,
        "peak_rss_mb": record["vmhwm_kb"] / 1024.0,
    }
    info = {
        "attempted": len(ops), "failed": len(bad),
        "fail_ratio": len(bad) / len(ops) if ops else 1.0,
        "op_tail_percentile": t_pct, "op_tail_samples_above": t_above, "op_samples": t_n,
        "session_s": record["session_s"], "setup_reps_s": reps,
        "passes_s": [p["wall_s"] for p in passes],
    }
    cols = [o["columns"] for o in good if "columns" in o]
    if cols:
        info["columns_per_s"] = sum(cols) / sum(lat)
    return out, info


def per_layer(record, first):
    """Per-layer metrics from the traced passes: times and counts per pass
    (summed over the traced passes, divided by their number), sizes per
    op, and the tracing overhead against the untraced passes of the same
    run, which alternate with the traced ones."""
    traced = [p for p in timed(record, first) if p["traced"]]
    untraced = [p for p in timed(record, first) if not p["traced"]]
    n = float(len(traced)) or 1.0
    spans = [s for s in record["spans"] if s["pass"] >= 0]
    by_id = {s["id"]: s for s in spans}
    jobs_of = {}
    for j in record["jobs"]:
        if j["span"] in by_id:
            jobs_of.setdefault(j["span"], []).append(j)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def named(name, module=None):
        return [s for s in spans if s["name"] == name and (module is None or s["module"] == module)]

    def jobs(ss):
        return [j for s in ss for j in jobs_of.get(s["id"], [])]

    def tsum(ss):
        return sum(dur(s) for s in ss) / n

    m = {}
    lint_ops = [o for p in traced for o in p["ops"] if "columns" in o]
    m["catalog.read_s"] = tsum(named("catalog.read"))
    m["catalog.columns"] = median([o["columns"] for o in lint_ops]) if lint_ops else 0
    m["rules.eval_s"] = tsum(named("rules.eval"))
    m["rules.issues"] = median([len(o["issues"]) for o in lint_ops]) if lint_ops else 0
    m["rules.jobs"] = len(jobs(named("rules.eval"))) / n
    m["report.console_s"] = tsum(named("report.console"))
    m["report.csv_s"] = tsum(named("report.csv"))
    m["report.csv_bytes"] = median([o["csv_bytes"] for o in lint_ops]) if lint_ops else 0
    m["report.jobs"] = len(jobs(named("report.console") + named("report.csv"))) / n
    m["lint.ddl_s"] = tsum(named("lint.ddl"))

    build, execs = named("ops.build"), named("ops.exec")
    work = build + execs
    wj = jobs(work)
    m["ops.build_s"] = tsum(build)
    m["ops.build_jobs"] = len(jobs(build)) / n
    m["ops.self_s"] = sum(self_time(s, jobs_of.get(s["id"], [])) for s in work) / 1e3 / n
    m["ops.jobs"] = len(wj) / n
    m["ops.stages"] = sum(j["stages"] for j in wj) / n
    m["ops.tasks"] = sum(j["tasks"] for j in wj) / n
    m["ops.tasks_per_stage"] = (sum(j["tasks"] for j in wj) / sum(j["stages"] for j in wj)
                                if any(j["stages"] for j in wj) else 0.0)
    m["ops.exec_s"] = tsum(execs)
    m["ops.shuffle_read_mb"] = sum(j["shuffle_read_bytes"] for j in wj) / MB / n
    m["ops.shuffle_write_mb"] = sum(j["shuffle_write_bytes"] for j in wj) / MB / n
    m["sources.input_rows"] = sum(j["input_rows"] for j in wj) / n
    m["sources.input_mb"] = sum(j["input_bytes"] for j in wj) / MB / n
    m["ops.task_s"] = sum(j["task_s"] for j in wj) / n
    m["ops.wall_s"] = tsum(work)
    m["ops.cores"] = record["cores"]
    m["ops.utilization"] = (m["ops.task_s"] / (m["ops.wall_s"] * record["cores"])
                            if m["ops.wall_s"] > 0 else 0.0)
    m["ops.spill_mb"] = sum(j["spill_bytes"] for j in wj) / MB / n
    m["ops.peak_exec_mem_mb"] = max([j["peak_exec_mem_bytes"] for j in wj], default=0) / MB
    m["ops.release_s"] = tsum(named("ops.release"))
    for mod in MODULES:
        m[f"ops.{mod}.build_s"] = tsum(named("ops.build", mod))
        m[f"ops.{mod}.exec_s"] = tsum(named("ops.exec", mod))
        m[f"ops.{mod}.jobs"] = len(jobs(named("ops.build", mod) + named("ops.exec", mod))) / n
    m["trace.pass_s"] = median([p["wall_s"] for p in traced])
    m["trace.untraced_pass_s"] = median([p["wall_s"] for p in untraced])
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    return m
