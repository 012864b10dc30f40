#!/usr/bin/env python3
"""Benchmark for the graft engine: two workloads, end to end and per layer.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Compiles the program and the benchmark harness on first use, with the Scala
compiler in Spark's jars, generates the workload's inputs from ``--seed``, runs one JVM
on ``local[<cores>]``, checks every output, and prints every metric by name
and unit. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything a run writes lives under ``.perfbench_run/`` in the checkout and
is deleted when the run ends. See ``perfbench/README.md`` for the design.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# A run sets up three times (each from a fresh state; perfbench.Main), runs
# WARMUP_PASSES untimed passes, then round(seconds / nominal_pass_s) timed
# passes (at least two). `nominal_pass_s` is a warm pass's wall time on the
# reference machine (4 cores), so a run times about `--seconds` seconds and
# every run of a workload times the same number of ops.
WARMUP_PASSES = 1
WORKLOADS = {
    # one op = one DDL batch (Derby's work, timed apart) + one lint of the
    # whole catalog; a pass is `cycles_per_pass` ops
    "lint_migrate": {
        "kind": "lint", "tables": 60, "cols_per_table": 12, "ops_per_cycle": 4,
        "cycles_per_pass": 6, "nominal_pass_s": 3.7,
    },
    # one op = one contract query; a pass runs every listed query once
    "ops_iterative": {
        "kind": "ops", "scale": 0.001, "nominal_pass_s": 3.6,
        "queries": ["q143_pagerank", "q263_bfs_hops", "q387_wl_refinement"],
    },
}
HEAP = "1g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------- build

def spark_home(root):
    """The Spark install whose jars the program compiles and runs against:
    ``$SPARK_HOME``, else the jar directory the program's own build.sbt
    names (``unmanagedBase``), else the install of ``spark-submit`` on the
    PATH. None if there is none."""
    cands = [os.environ.get("SPARK_HOME")]
    with open(f"{root}/build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        cands.append(os.path.dirname(m.group(1).rstrip("/")))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    return next((c for c in cands if c and glob.glob(f"{c}/jars/scala-compiler-*.jar")), None)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    return sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)
                  + glob.glob(f"{HERE}/src/**/*.scala", recursive=True))


def build(root, spark):
    """Compiles the program's main sources together with the harness, with
    the Scala compiler that ships in Spark's jars, unless no source changed
    since the last build; returns the classes directory."""
    classes = f"{HERE}/target/classes"
    stamp_file = f"{HERE}/target/classes.stamp"
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    out = f"{classes}.{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = f"{spark}/jars/*"
    log("[perfbench] compiling the program and the harness (scalac)")
    t0 = time.time()
    try:
        r = subprocess.run([java_bin(), "-Xmx1g", "-Xss4m", "-XX:-UsePerfData", "-cp", jars,
                            "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", jars]
                           + sources(root), stdin=subprocess.DEVNULL, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f"[perfbench] compile failed (exit {r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(out, classes)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"[perfbench] compile took {time.time() - t0:.1f} s")
    return classes


# ------------------------------------------------------------------- inputs

def pass_count(w, seconds):
    return max(2, int(round(seconds / w["nominal_pass_s"])))


def plan(w, seed, seconds, trace):
    """Seeded op order for the set-up repetitions and for every pass.

    Returns ``(setup_order, passes, traced)``. The first ``WARMUP_PASSES``
    passes are untimed warm-up. A traced run records half of the timed
    passes, in the order untraced, traced, traced, untraced (repeated), and
    times the others without the listener. Passes still get faster as the
    JIT warms up; in this order both halves sit at the same mean position,
    so a steady speed-up cancels out of the tracing overhead that one run
    states.
    """
    rng = random.Random(seed)
    total = WARMUP_PASSES + pass_count(w, seconds)
    traced = [p for p in range(WARMUP_PASSES, total) if trace and (p - WARMUP_PASSES) % 4 in (1, 2)]
    if w["kind"] == "lint":
        k = w["cycles_per_pass"]
        return [], [[str(1 + i * k + j) for j in range(k)] for i in range(total)], traced
    qs = w["queries"]
    return rng.sample(qs, len(qs)), [rng.sample(qs, len(qs)) for _ in range(total)], traced


def write_spec(path, kv, passes):
    with open(path, "w") as fh:
        for k, v in kv.items():
            fh.write(f"{k}={v}\n")
        for p in passes:
            fh.write("pass=" + ",".join(p) + "\n")


# ------------------------------------------------------------------- checks

def canon(v):
    """Value canonicalization of the repository's oracle compare
    (dev/compare.py): shortest round-trip repr for floats, str otherwise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def canonical_hash(rel):
    """(row count, sha256) of a DuckDB relation with columns sorted by name
    and rows kept in their output order."""
    cols = rel.columns
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[canon(r[i]) for i in idx] for r in rel.fetchall()]
    blob = json.dumps([[cols[i] for i in idx], rows], separators=(",", ":"))
    return len(rows), hashlib.sha256(blob.encode()).hexdigest()


def check_outputs(pins, body, run_dir):
    """Returns {query: error} for every query whose output, in some set-up
    repetition or in the check pass after the timed passes, is missing or
    differs from its pinned oracle row count and hash."""
    import duckdb

    con = duckdb.connect()
    bad = {}
    written = [(f"set-up {i}", f"rep{i}", rep["ops"]) for i, rep in enumerate(body["setup"])]
    written.append(("check pass", "final", body["check"]))
    for label, sub, ops in written:
        for o in ops:
            name = o["name"]
            files = sorted(glob.glob(f"{run_dir}/check/{sub}/{name}/*.parquet"))
            if not o["ok"]:
                bad[name] = f"{label}: {o['error']}"
            elif not files:
                bad[name] = f"{label}: no output written"
            elif name not in pins:
                bad[name] = "no pinned hash in expected.json"
            else:
                got = canonical_hash(con.sql(f"SELECT * FROM read_parquet({files!r})"))
                want = (pins[name]["rows"], pins[name]["sha256"])
                if got != want:
                    bad[name] = (f"{label}: rows/hash {got[0]}/{got[1][:12]} "
                                 f"!= pinned {want[0]}/{want[1][:12]}")
    return bad


def ops_verdict(body, bad):
    """(failed ops, problems) of an ops run: a query whose output did not
    check out fails in every timed pass, since its timings are of a wrong
    result; an op that raised fails on its own."""
    failed, problems = set(), [f"{q}: {e}" for q, e in sorted(bad.items())]
    for p in body["passes"]:
        for o in p["ops"]:
            if not o["ok"] or o["name"] in bad:
                failed.add((o["pass"], o["name"]))
                if not o["ok"]:
                    problems.append(f"pass {o['pass']} {o['name']}: {o.get('error')}")
    return failed, problems


def lint_mismatch(op, stream, cycle):
    got = {tuple(x) for x in op["issues"]}
    want = stream.expected[cycle]
    if got != want:
        return (f"issues differ from prediction: {len(got - want)} unexpected, "
                f"{len(want - got)} missing, e.g. {sorted(got ^ want)[:2]}")
    if op["csv_rows"] != len(op["issues"]):
        return f"csv has {op['csv_rows']} rows for {len(op['issues'])} issues"
    if op["columns"] != stream.columns[cycle]:
        return f"catalog has {op['columns']} columns, schema has {stream.columns[cycle]}"
    return None


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt")
            and os.path.isfile(f"{root}/src/main/scala/graft/SparkEntry.scala")):
        raise SystemExit("[perfbench] run from the root of a checkout: the program's "
                         "sources (build.sbt, src/main/scala) are not here")
    spark = spark_home(root)
    if spark is None:
        raise SystemExit("[perfbench] no Spark install found: set SPARK_HOME")

    w = WORKLOADS[args.workload]
    classes = build(root, spark)
    run_dir = os.path.join(root, ".perfbench_run", f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "derby"):
        os.makedirs(f"{run_dir}/{d}")
    proc = None
    try:
        warm, passes, traced = plan(w, args.seed, args.seconds, args.trace)
        kv = {"workload": args.workload, "dir": run_dir, "cores": cores(),
              "out": f"{run_dir}/record.json", "traced": ",".join(map(str, traced))}
        stream = None
        if w["kind"] == "lint":
            cycles = sum(len(p) for p in passes)
            stream = gen.LintStream(args.seed, w["tables"], w["cols_per_table"], cycles,
                                    w["ops_per_cycle"])
            with open(f"{run_dir}/schema.sql", "w") as fh:
                fh.write("\n".join(stream.schema) + "\n")
            with open(f"{run_dir}/batches.sql", "w") as fh:
                for i, b in enumerate(stream.batches):
                    fh.write(f"#cycle {i}\n" + "".join(s + "\n" for s in b))
            kv.update(schema=f"{run_dir}/schema.sql", batches=f"{run_dir}/batches.sql")
        else:
            gen.write_fixture(f"{run_dir}/fixture", w["scale"])
            kv.update(data=f"{run_dir}/fixture", warm=",".join(warm))
        write_spec(f"{run_dir}/spec.txt", kv, passes)

        cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/derby",
                f"-Dderby.stream.error.file={run_dir}/derby/derby.log",
                "-cp", f"{classes}:{spark}/jars/*", "perfbench.Main", f"{run_dir}/spec.txt"]
        cpu0 = cpu_times()
        with open(f"{run_dir}/jvm.log", "w") as jl:
            proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=jl, stderr=jl,
                                    cwd=run_dir, env=dict(os.environ, TMPDIR=f"{run_dir}/tmp"))
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        proc, cpu1 = None, cpu_times()
        if rc != 0 or not os.path.exists(f"{run_dir}/record.json"):
            with open(f"{run_dir}/jvm.log") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            raise SystemExit(f"[perfbench] JVM exited with {rc}")
        with open(f"{run_dir}/record.json") as fh:
            record = json.load(fh)
        body = record["body"]

        # ---- correctness: JVM errors, output checks, failing ops
        if stream is not None:
            failed, problems = set(), []
            for i, rep in enumerate(body["setup"]):
                err = lint_mismatch(rep, stream, 0)
                if err:
                    problems.append(f"set-up lint {i}: {err}")
            for p in body["passes"]:
                for o in p["ops"]:
                    err = o.get("error") if not o["ok"] else lint_mismatch(o, stream, int(o["name"]))
                    if err:
                        failed.add((o["pass"], str(o["name"])))
                        problems.append(f"cycle {o['name']}: {err}")
        else:
            with open(f"{HERE}/expected.json") as fh:
                pins = json.load(fh)[args.workload]
            failed, problems = ops_verdict(body, check_outputs(pins, body, run_dir))

        e2e, info = metrics.end_to_end(record, failed, WARMUP_PASSES)
        for msg in problems:
            print(f"[perfbench] FAILED {msg}")
        print(f"[perfbench] workload={args.workload} seed={args.seed} cores={record['cores']} "
              f"heap_mb={record['heap_mb']} passes={len(passes)} (warm-up {WARMUP_PASSES}, traced "
              f"{traced or 'none'})")
        for name, unit in metrics.END_TO_END:
            print(f"[perfbench] {name} = {e2e[name]:.6g} {unit}")
        print(f"[perfbench] op_tail_s is p{info['op_tail_percentile']:.1f} of "
              f"{info['op_samples']} ops ({info['op_tail_samples_above']} above it)")
        print(f"[perfbench] fail_ratio = {info['fail_ratio']:.6g} "
              f"({info['failed']} of {info['attempted']} ops)")
        if "columns_per_s" in info:
            print(f"[perfbench] columns_per_s = {info['columns_per_s']:.6g} 1/s")
        print(f"[perfbench] session_s = {info['session_s']:.6g} s, set-up repetitions = "
              + ", ".join(f"{x:.3f}" for x in info["setup_reps_s"]) + " s, passes = "
              + ", ".join(f"{x:.3f}" for x in info["passes_s"]) + " s")
        if stream is None:
            for q, lat in sorted(metrics.latency_by_name(record, failed, WARMUP_PASSES).items()):
                print(f"[perfbench] op {q} = {metrics.median(lat):.4g} s (median of {len(lat)})")
        if args.trace:
            layer = metrics.per_layer(record, WARMUP_PASSES)
            for name, unit in metrics.PER_LAYER:
                print(f"[perfbench] {name} = {layer[name]:.6g} {unit}")
            chosen = {k: {"value": layer[k], "unit": u} for k, u in metrics.PER_LAYER}
        else:
            chosen = {k: {"value": e2e[k], "unit": u} for k, u in metrics.END_TO_END}
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            print(f"[perfbench] cpu steal during the JVM run = "
                  f"{100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.1f}% (other tenants' load)")
        print(f"[perfbench] run wall = {time.time() - t_start:.1f} s")
        correct = not problems and info["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": info["attempted"],
                          "failed": info["failed"], "metrics": chosen}))
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
