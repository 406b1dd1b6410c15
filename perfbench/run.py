"""gravitydb_spark benchmark: one seeded single-client closed loop per run.

    python3 perfbench/run.py --workload crud_commit --seed 1 --seconds 5 --trace 0

Run from the repository root. The run opens its own Spark session on
``local[<nproc>]`` through ``gravitydb_spark.session.get_spark``, sets the
workload up (session, graph build, store init, warm-up), then runs ops back
to back until ``--seconds`` have passed, finishing the round in flight (a
round is one transaction for crud_commit, one insert and one delete batch
for ivm_cc, and one traversal of each shape for zoe_read).
Every op's output is checked; a wrong or failed op counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` Spark's event log is switched on, every call into the package
is wrapped in a span, and the last line carries the per-layer metrics
instead. The line before it (``PERFBENCH_DETAIL {...}``) stamps the run:
load average, CPU steal, nproc, parallelism, master, seed, versions, the op
latency tail (null below 22 ops), and the tracing overhead when an untraced
run of the same workload, seed and sources exists in this checkout.

Everything the run writes lives under ``perfbench/_work/`` and is removed
at exit, apart from the untraced throughput per workload, seed and source
digest, which a traced run compares against.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")
MB = 1024.0 * 1024.0

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "store_mb": "MB",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "ingest.build_s": "s",
    "ingest.rows": "count",
    "ql.build_s": "s",
    "compiler.execute_s": "s",
    "compiler.execute_jobs": "count",
    "compiler.extract_paths_s": "s",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_job": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.job_span_s": "s",
    "spark.driver_idle_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.result_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.jvm_gc_s": "s",
    "graph.crud_s": "s",
    "graph.crud_jobs": "count",
    "graph.gc_s": "s",
    "graph.doctor_s": "s",
    "transaction.commit_s": "s",
    "transaction.commit_jobs": "count",
    "transaction.load_s": "s",
    "transaction.bytes_written_mb": "MB",
    "transaction.snapshots_published": "count",
    "ccivm.insert_s": "s",
    "ccivm.delete_s": "s",
    "ccivm.compact_s": "s",
    "ccivm.flat_labels_s": "s",
    "ccivm.jobs_per_batch": "count",
    "ccivm.o1_delete_ratio": "ratio",
    "trace.ops_per_s": "1/s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def configure_environment(work: str, trace: bool) -> None:
    """Session settings that must exist before the JVM starts. Scratch
    space stays inside the run's work dir; the event log is written only
    by traced runs, uncompressed, because Python has no zstd decoder."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata: the JVM would write it under /tmp whatever tmpdir says.
    # A fixed, pre-touched heap: otherwise G1 grows and touches the heap by
    # GC-time heuristics, and peak RSS follows host load, not the program.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", java_opts,
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def tail_latency(lat: list[float]) -> dict:
    """Latency at the highest percentile with at least 10 samples beyond it
    (nearest rank). Below 22 samples that percentile is not above the
    median, so the tail is unresolved and its value is null."""
    s = sorted(lat)
    n = len(s)
    k = n - 11
    if 2 * k > n - 1:
        return {"value_s": s[k], "percentile": f"p{100.0 * (k + 1) / n:.1f}", "samples": n, "beyond": n - 1 - k}
    return {"value_s": None, "percentile": None, "samples": n, "beyond": 0, "unresolved": "fewer than 22 ops"}


def source_hash() -> str:
    """Digest of the package and benchmark sources, so a traced run is
    compared only with an untraced run of the same code."""
    import hashlib

    h = hashlib.sha256()
    for top in ("gravitydb_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d not in ("_work", "__pycache__"))
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(start, end)]
    return 100.0 * delta[7] / max(sum(delta), 1)


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this Python process and of the driver JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(tracer, wl, ops: list[int], session_s: float) -> dict:
    """Per-layer numbers from the spans and the event log: per-op means of
    layer self time, jobs and Spark work, attributed by time window."""
    from tracing import attribute, layer_totals, read_event_log, spark_op_metrics
    import workloads as W

    spans = tracer.spans
    att = attribute(spans, read_event_log(os.path.join(wl.work, "eventlog")))
    n = max(len(ops), 1)
    sums: dict[str, float] = {}
    for idx in ops:
        for k, v in spark_op_metrics(spans, att, idx).items():
            sums[k] = sums.get(k, 0.0) + v
        for name, (dur, jobs) in layer_totals(spans, att, idx).items():
            sums[name + "_s"] = sums.get(name + "_s", 0.0) + dur
            sums[name + "_jobs"] = sums.get(name + "_jobs", 0.0) + jobs
    out = {k: v / n for k, v in sums.items()}
    out["spark.tasks_per_job"] = sums.get("spark.tasks", 0.0) / max(sums.get("spark.jobs", 0.0), 1.0)
    out["session.start_s"] = session_s
    out["ingest.build_s"] = sum((s.duration for s in spans if s.name == W.INGEST), 0.0)
    out["ingest.rows"] = wl.ingest_rows
    # once per run, after the timed ops
    out["graph.gc_s"] = sum((s.duration for s in spans if s.name == W.GC), 0.0)
    out["graph.doctor_s"] = sum((s.duration for s in spans if s.name == W.DOCTOR), 0.0)
    out["transaction.bytes_written_mb"] = sum(wl.written_bytes) / MB / n
    out["transaction.snapshots_published"] = wl.commits / n
    if isinstance(wl, W.IvmCC):
        # per batch of that kind, not per op
        deletes = len(wl.delete_stats)
        out["ccivm.insert_s"] = sums.get("ccivm.insert_s", 0.0) / max(len(ops) - deletes, 1)
        out["ccivm.delete_s"] = sums.get("ccivm.delete_s", 0.0) / max(deletes, 1)
        out["ccivm.flat_labels_s"] = sum((s.duration for s in spans if s.name == "ccivm.flat_labels"), 0.0)
        out["ccivm.jobs_per_batch"] = out.get("spark.jobs", 0.0)
        out["ccivm.o1_delete_ratio"] = wl.o1_delete_ratio()
    return {name: (out.get(name, 0.0), unit) for name, unit in LAYER_UNITS.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gravitydb_spark")):
        print(f"perfbench: no gravitydb_spark package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 3
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_environment(work, trace)
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    spark = None
    try:
        from tracing import Tracer

        tracer = Tracer(trace)
        wl = W.WORKLOADS[args.workload](None, tracer, args.seed, work)
        wl.prepare_inputs()

        t0 = time.perf_counter()
        with tracer.span("session.start"):
            from gravitydb_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        wl.spark = spark
        wl.setup()
        setup_s = time.perf_counter() - t0

        lat, failed, ops, errors = [], 0, [], []
        i = 0
        loop_start = time.perf_counter()
        while True:
            op_idx = len(tracer.spans)  # index the op span gets when tracing
            with tracer.span("op", op=i):
                t = time.perf_counter()
                try:
                    out, err = wl.op(i), None
                except Exception as e:  # a failed op is counted and the loop goes on
                    out, err = None, e
                    traceback.print_exc()
                dt = time.perf_counter() - t
            if trace:
                ops.append(op_idx)
            if err is None:
                try:
                    ok = wl.check(i, out)
                except Exception as e:  # a check that cannot run fails the op
                    ok, err = False, e
                    traceback.print_exc()
            if err is not None or not ok:
                failed += 1
                errors.append(f"op {i}: {err!r}" if err else f"op {i}: wrong answer")
            lat.append(dt)
            i += 1
            if time.perf_counter() - loop_start >= args.seconds and i % wl.ops_per_round == 0:
                break
        finish_ok = wl.finish()
        store_mb = wl.store_bytes() / MB
        py_rss, jvm_rss = peak_rss_mb(spark)
        default_parallelism = spark.sparkContext.defaultParallelism
        master = spark.sparkContext.master
        spark_version = spark.version
        stop_spark(spark)
        spark = None

        attempted = len(lat)
        ops_per_s = (attempted - failed) / sum(lat)
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": ops_per_s,
            "store_mb": store_mb,
            "peak_rss_mb": py_rss + jvm_rss,
        }
        # the untraced run of this workload, seed and code, if one was made
        record = os.path.join(WORK_ROOT, f"untraced-{args.workload}-s{args.seed}-{source_hash()}.json")
        overhead = None
        if trace:
            layers = layer_metrics(tracer, wl, ops, session_s)
            layers["trace.ops_per_s"] = (ops_per_s, LAYER_UNITS["trace.ops_per_s"])
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            if os.path.exists(record):
                with open(record) as fh:
                    base = json.load(fh)["ops_per_s"]
                overhead = {
                    "untraced_ops_per_s": base,
                    "traced_ops_per_s": ops_per_s,
                    "overhead_pct": 100.0 * (base - ops_per_s) / base,
                }
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
            with open(record, "w") as fh:
                json.dump({"ops_per_s": ops_per_s}, fh)

        import pyarrow

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "cpu_steal_pct": steal_pct(ticks_start, cpu_ticks()),
            "nproc": nproc(),
            "default_parallelism": default_parallelism,
            "master": master,
            "spark_version": spark_version,
            "pyarrow_version": pyarrow.__version__,
            "python_version": sys.version.split()[0],
            "ops": attempted,
            "error_rate": failed / attempted,
            "errors": errors[:5],
            "final_check": finish_ok,
            "op_p50_s": statistics.median(lat),
            "op_tail": tail_latency(lat),
            "op_latencies_s": lat,
            "peak_rss_parts_mb": {"python": py_rss, "jvm": jvm_rss},
            "setup_parts": {"session_s": session_s, "workload_s": setup_s - session_s},
            "end_to_end": e2e,
            "tracing_overhead": overhead,
        }
        detail.update(wl.detail())
        print("PERFBENCH_DETAIL " + json.dumps(detail, sort_keys=True), flush=True)
        result = {"correct": failed == 0 and finish_ok, "attempted": attempted, "failed": failed, "metrics": metrics}
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
