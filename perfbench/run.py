#!/usr/bin/env python3
"""Benchmark of the NutQL engine and its dedup pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpch_olap --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from the checkout's sources (once,
into .bench_build/), generates the workload's inputs from the seed, runs
one closed-loop client in a single JVM for the given seconds, rounded up
to whole cycles of the workload's statement mix, checks every result
against DuckDB, prints a report and, as the last line, one JSON object
with the end-to-end metrics (--trace 0) or the per-layer split of a
traced pass (--trace 1). Everything the run writes stays under
.bench_build/ and the per-run part is deleted before it exits.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ["tpch_olap", "dedup_ingest"]
END_TO_END = [("setup_s", "s"), ("query_p50_ms", "ms"), ("ops_per_s", "1/s"),
              ("heap_after_gc_mb", "MB")]
DEADLINE_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_stamp(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness")]
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "harness", "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness with sbt when the sources changed."""
    out = os.path.join(root, ".bench_build", "harness")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "source.stamp")
    stamp = _source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    log("building engine + harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as f:
        return f.read().strip()


# ------------------------------------------------------------- settings

def spark_cpus():
    """The CPUs this process may run on (`nproc`)."""
    return str(len(os.sched_getaffinity(0)))


def driver_heap():
    """Half of MemTotal in GiB, clamped to 2..8, as the repository's
    tier-1 test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- plans

def make_plan(workload, seed, data_root, run_dir):
    if workload == "tpch_olap":
        return workloads.olap_plan(seed, workloads.cached_tpch(data_root, 0.1),
                                   workloads.cached_tpch(data_root, 0.01), 4000)
    if workload == "dedup_ingest":
        return workloads.dedup_plan(seed, run_dir, 8)
    raise ValueError(workload)


def input_bytes(plan):
    paths = set()
    for kind, _, arg in plan.setup + plan.ops:
        if kind == "base":
            paths.add(arg.split(" ", 1)[1])
        elif kind == "batch":
            paths.add(arg)
    return sum(os.path.getsize(p) for p in paths)


# --------------------------------------------------------------- launch

def run_jvm(args, classpath, run_dir, plan_dir, out_dir, cycle, budget):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=spark_cpus(), SPARK_LOCAL_DIRS=local)
    cmd = ["java", f"-Xmx{driver_heap()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--plan", plan_dir, "--out", out_dir, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cycle", str(cycle)]
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    with open(logf) as lf:
        out = lf.read()
    if code != 0:
        sys.stderr.write(out[-6000:])
        fail(f"harness JVM failed ({code})")
    sys.stderr.write("".join(l + "\n" for l in out.splitlines() if l.startswith("[harness]")))


def merge_passes(passes):
    """One record per pass name: a traced run alternates untraced and
    traced cycles, each reported as a pass of its own."""
    merged = {}
    for p in passes:
        m = merged.setdefault(p["name"], {"name": p["name"], "wall_s": 0.0, "ops": [],
                                          "gc_ms": 0, "gc_count": 0, "storage_peak_bytes": 0,
                                          "spans": [], "jobs": [], "phases": []})
        m["wall_s"] += p["wall_s"]
        m["gc_ms"] += p["gc_ms"]
        m["gc_count"] += p["gc_count"]
        m["storage_peak_bytes"] = max(m["storage_peak_bytes"], p["storage_peak_bytes"])
        for key in ("ops", "spans", "jobs", "phases"):
            m[key] += p.get(key, [])
    return merged


def read_results(out_dir):
    results = defaultdict(dict)
    with open(os.path.join(out_dir, "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            results[r["pass"]][r["op"]] = r["rows"]
    with open(os.path.join(out_dir, "summary.json")) as f:
        return json.load(f), results


# -------------------------------------------------------------- metrics

def end_to_end(summary, p):
    ops = p["ops"]
    ms = lambda kinds: [o["ms"] for o in ops if o["kind"] in kinds]  # noqa: E731
    q, w = ms({"query"}), ms({"write", "batch", "rebuild"})
    wall = p["wall_s"]
    rows_written = sum(o["rows"] for o in ops if "error" not in o)
    stored_rows = summary["stored_rows"]
    m = {
        "setup_s": (statistics.median(summary["setup_s"]), "s"),
        "query_p50_ms": (stats.percentile(q, 50) if q else None, "ms"),
        "query_p90_ms": (stats.tail_percentile(q, 90), "ms"),
        "write_p50_ms": (stats.percentile(w, 50) if w else None, "ms"),
        "write_p90_ms": (stats.tail_percentile(w, 90), "ms"),
        "ops_per_s": (len(ops) / wall, "1/s"),
        "rows_written_per_s": (rows_written / wall if rows_written else None, "1/s"),
        "bytes_stored_per_row": (summary["warehouse_bytes"] / stored_rows
                                 if stored_rows else None, "B"),
        "heap_after_gc_mb": (summary["heap_after_gc_mb"], "MB"),
    }
    return m, len(q), len(w)


def per_layer(plan, summary, traced, untraced, verdict_counts, workload_bytes):
    ops = {o["op"]: o for o in traced["ops"]}
    spans = traced["spans"]
    jobs = traced["jobs"]
    split, by_id = stats.layer_split(spans, traced["phases"])
    loop_ops = sorted(ops)
    n = len(loop_ops)
    wall_ms = sum(ops[i]["ms"] for i in loop_ops)
    queries = [i for i in loop_ops if ops[i]["kind"] == "query"]
    n_q = max(len(queries), 1)
    per_op = lambda x: x / max(n, 1)  # noqa: E731
    layer_total = defaultdict(float)
    worst, worst_op = 0.0, None
    for i in loop_ops:
        for layer, v in split[i].items():
            layer_total[layer] += v
        attributed = sum(v for k, v in split[i].items() if k != "harness")
        if abs(1 - attributed / ops[i]["ms"]) > worst:
            worst, worst_op = abs(1 - attributed / ops[i]["ms"]), i
    if worst_op is not None:
        log(f"least attributed op: {worst_op} ({ops[worst_op]['kind']}), {worst:.3f} unattributed")
    spans_named = lambda name: [s for s in spans if s[3] == name and s[2] >= 0]  # noqa: E731
    dur = lambda ss: sum(s[6] - s[5] for s in ss)  # noqa: E731
    span_of_job = {j["job"]: by_id.get(j["span"]) for j in jobs}

    def jobs_in(names, op_min=0):
        """Jobs whose span, or an ancestor of it, is one of `names`."""
        out = []
        for j in jobs:
            s = span_of_job[j["job"]]
            while s is not None and s[3] not in names:
                s = by_id.get(s[1])
            if s is not None and s[2] >= op_min:
                out.append(j)
        return out

    def phase_ms(name):
        return sum(e - s for ph, s, e in traced["phases"] if ph == name) / max(n, 1)

    bind = spans_named("engine.bind")
    bind_jobs = jobs_in({"engine.bind"})
    exec_spans = spans_named("exec.action")
    exec_jobs = jobs_in({"exec.action"})
    exec_ms = dur(exec_spans)
    cores = int(summary["cores"])
    writes = [i for i in loop_ops if ops[i]["kind"] == "write"]
    insert_spans = [s for s in spans_named("engine.write")
                    if plan.ops[s[2]][2].lower().startswith("insert")]
    optimize_spans = [s for s in spans_named("engine.write")
                      if plan.ops[s[2]][2].lower().startswith("optimize")]
    write_jobs = jobs_in({"engine.write"})
    files_written = 0
    prev = None
    for i in loop_ops:
        f = ops[i].get("warehouse_files")
        if f is not None and prev is not None and ops[i]["kind"] == "write":
            files_written += max(f - prev, 0)
        prev = f if f is not None else prev
    pipe_jobs = jobs_in({"pipeline.classify_append", "pipeline.rebuild"})
    batches = [i for i in loop_ops if ops[i]["kind"] == "batch"]
    n_b = max(len(batches), 1)
    mean = lambda ss: dur(ss) / len(ss) if ss else 0.0  # noqa: E731
    table_files = [ops[i]["table_files"] for i in queries if "table_files" in ops[i]]
    storage_max = summary["storage_max_bytes"]
    m = {
        "nutql.parse_us": mean(spans_named("nutql.parse")) * 1000,
        "nutql.parse_share": layer_total["nutql"] / wall_ms,
        "nutql.short_sql_ns": summary["short_sql_ns"],
        "nutql.long_sql_ns": summary["long_sql_ns"],
        "engine.bind_ms": mean(bind),
        "engine.bind_share": sum(split[i]["engine"] for i in queries) / wall_ms,
        "engine.bind_jobs": len(bind_jobs) / n_q,
        "engine.bind_job_ms": sum(j["end"] - j["start"] for j in bind_jobs) / n_q,
        "engine.insert_ms": mean(insert_spans),
        "engine.optimize_ms": mean(optimize_spans),
        "engine.write_share": sum(split[i]["engine"] for i in writes) / wall_ms,
        "engine.write_jobs": len(write_jobs) / max(len(writes), 1),
        "engine.files_written": files_written / max(len(writes), 1),
        "engine.bytes_written": sum(j["output_bytes"] for j in write_jobs) / max(len(writes), 1),
        "engine.table_files": statistics.mean(table_files) if table_files else 0.0,
        "catalyst.analysis_ms": phase_ms("analysis"),
        "catalyst.optimization_ms": phase_ms("optimization"),
        "catalyst.planning_ms": phase_ms("planning"),
        "catalyst.share": layer_total["catalyst"] / wall_ms,
        "exec.ms": per_op(exec_ms),
        "exec.share": layer_total["exec"] / wall_ms,
        "exec.jobs": per_op(len(exec_jobs)),
        "exec.stages": per_op(sum(j["stages"] for j in exec_jobs)),
        "exec.tasks": per_op(sum(j["tasks"] for j in exec_jobs)),
        "exec.input_bytes": per_op(sum(j["input_bytes"] for j in exec_jobs)),
        "exec.shuffle_write_bytes": per_op(sum(j["shuffle_write_bytes"] for j in exec_jobs)),
        "exec.shuffle_read_bytes": per_op(sum(j["shuffle_read_bytes"] for j in exec_jobs)),
        "exec.spill_bytes": per_op(sum(j["spill_bytes"] for j in exec_jobs)),
        "exec.task_run_ms": per_op(sum(j["run_ms"] for j in exec_jobs)),
        "exec.task_cpu_ms": per_op(sum(j["cpu_ms"] for j in exec_jobs)),
        "exec.job_wait_ms": per_op(sum(j["first_launch"] - j["start"] for j in exec_jobs)),
        "exec.slot_busy_ratio": (sum(j["run_ms"] for j in exec_jobs) / (exec_ms * cores)
                                 if exec_ms else 0.0),
        "pipeline.build_ms": (statistics.median(summary["setup_index_build_ms"])
                              if summary["setup_index_build_ms"] else 0.0),
        "pipeline.classify_append_ms": mean(spans_named("pipeline.classify_append")),
        "pipeline.verdict_ms": (statistics.mean(ops[i]["ms"] for i in queries)
                                if batches and queries else 0.0),
        "pipeline.rebuild_ms": mean(spans_named("pipeline.rebuild")),
        "pipeline.share": layer_total["pipeline"] / wall_ms,
        "pipeline.jobs": len(pipe_jobs) / n_b if batches else 0.0,
        "pipeline.shuffle_bytes": (sum(j["shuffle_write_bytes"] for j in pipe_jobs) / n_b
                                   if batches else 0.0),
        "pipeline.cached_pieces": (max(ops[i].get("persisted_rdds", 0) for i in loop_ops)
                                   if batches else 0),
        "pipeline.verdict_exact": verdict_counts.get("exact", 0) / n_b,
        "pipeline.verdict_near": verdict_counts.get("near", 0) / n_b,
        "pipeline.verdict_new": verdict_counts.get("new", 0) / n_b,
        "pipeline.dropped_postings": summary["dropped_postings"],
        "cache.persisted_rdds_after_release": summary["persisted_rdds_after_release"],
        "cache.storage_mem_peak_bytes": traced["storage_peak_bytes"],
        "cache.working_set_ratio": workload_bytes / storage_max if storage_max else 0.0,
        "jvm.gc_ms": per_op(traced["gc_ms"]),
        "jvm.gc_count": per_op(traced["gc_count"]),
        "trace.ops": n,
        "trace.overhead_pct": 100.0 * (traced["wall_s"] / untraced["wall_s"] - 1),
        "trace.unattributed_max": worst,
    }
    return m


UNIT_WORDS = [("bytes", "B"), ("us", "us"), ("ns", "ns"), ("ms", "ms"), ("share", "ratio"),
              ("ratio", "ratio"), ("pct", "%"), ("max", "ratio")]


def unit_of(name):
    """Per-layer units follow the words of the metric name's last part."""
    words = name.rsplit(".", 1)[-1].split("_")
    return next((unit for word, unit in UNIT_WORDS if word in words), "count")


def audit(summary):
    """The run's audits that failed: dropped index postings, RDDs left
    persisted after the caches were released, and a posting-cap probe
    whose over-cap corpus did not register as dropped postings."""
    out = []
    if summary["dropped_postings"] != 0:
        out.append(f"dedup index dropped {summary['dropped_postings']} posting buckets")
    if summary["persisted_rdds_after_release"] != 0:
        out.append(f"{summary['persisted_rdds_after_release']} RDDs persisted after release")
    if summary.get("cap_probe_dropped") == 0:
        out.append("an over-cap corpus dropped no postings: the posting audit is blind")
    return out


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("not the root of a nutdbspark checkout: build.sbt and src/main/scala/graft are missing")
    classpath = build(root)
    build_s = time.time() - started

    bench_dir = os.path.join(root, ".bench_build")
    run_dir = os.path.join(bench_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan = make_plan(args.workload, args.seed, os.path.join(bench_dir, "data"), run_dir)
        plan_dir, out_dir = os.path.join(run_dir, "plan"), os.path.join(run_dir, "out")
        plan.write(plan_dir)
        log(f"plan ready at {time.time() - started:.1f} s")
        budget = DEADLINE_S - (time.time() - started - build_s) - 15
        run_jvm(args, classpath, run_dir, plan_dir, out_dir, plan.cycle, budget)
        log(f"harness done at {time.time() - started:.1f} s")
        summary, results = read_results(out_dir)
        log("set-up times (s): " + " ".join(f"{t:.3f}" for t in summary["setup_s"]))
        workload_bytes = input_bytes(plan)
        checked, mismatches = oracle.check(plan, results)
        log(f"checked at {time.time() - started:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = merge_passes(summary["passes"])
    errors = [(p["name"], o["op"], o["error"]) for p in summary["passes"]
              for o in p["ops"] if "error" in o]
    audits = audit(summary)
    attempted = sum(len(p["ops"]) for p in summary["passes"])
    failed = len(errors) + len(mismatches) + len(audits)
    for name, op, why in errors:
        log(f"FAILED {name} op {op}: {why}")
    for name, op, why in mismatches:
        log(f"WRONG {name} op {op} ({plan.ops[op][2][:80]}...): {why}")
    for a in audits:
        log(f"AUDIT {a}")

    main_pass = passes["main"] if args.trace == 0 else passes["untraced"]
    e2e, n_q, n_w = end_to_end(summary, main_pass)
    e2e["fail_ratio"] = (failed / attempted, "ratio")
    print(f"workload {args.workload} seed {args.seed}: {len(main_pass['ops'])} ops "
          f"({n_q} reads, {n_w} writes) in {main_pass['wall_s']:.2f} s, "
          f"{checked} results checked against DuckDB, {failed} failed; "
          f"Spark local[{spark_cpus()}], -Xmx{driver_heap()}")
    for name, (v, unit) in e2e.items():
        shown = "n/a (too few samples or no such operation)" if v is None else f"{v:.6g} {unit}"
        print(f"  {name:<24} {shown}")

    if args.trace == 0:
        metrics = {name: {"value": e2e[name][0], "unit": unit} for name, unit in END_TO_END}
    else:
        counts = defaultdict(int)
        for i, rows in results.get("traced", {}).items():
            if plan.oracle[i] and plan.oracle[i][0] == "batch_verdicts":
                for _, verdict in rows:
                    counts[verdict] += 1
        layer = per_layer(plan, summary, passes["traced"], passes["untraced"], counts,
                          workload_bytes)
        for name, v in layer.items():
            print(f"  {name:<36} {v:.6g} {unit_of(name)}")
        metrics = {name: {"value": v, "unit": unit_of(name)} for name, v in layer.items()}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
