"""The repository benchmark: one seeded workload, one closed-loop client.

Run from the repository root::

    python3 perfbench/run.py --workload benefits_sql --seed 1 --seconds 3 --trace 0

Workloads: ``benefits_sql``, ``cdc_upsert`` and ``vector_search`` (see
``README.md``). One client sends an op, waits for it, checks its output and
sends the next, on ``local[<cores>]`` with ``SPARK_GRAFT_CPUS`` pinned to
the cores this process may run on. The workloads read the sf0.1 tables
under ``data/``; the CDC stream they generate from ``--seed``, Spark's
scratch space and temporary files go to ``.perfbench/`` in the current
directory, which is removed on exit.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and Spark's job, stage and task metrics and reports
the per-layer ones, among them its own ``trace.p50_s`` and
``trace.ops_per_s``: their gap to ``p50_s`` and ``ops_per_s`` of an
untraced run with the same seed is the tracing overhead. The line before it
holds the run's context: cores, load average, sample count, error rate,
input sizes, peak resident memory and the wall time of each phase.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "full_data_infrastructure_spark"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "p50_s": "s",
    "ops_per_s": "1/s",
    "read_p50_s": "s",
    "live_mb": "MiB",
}

# Per-layer metrics; every workload reports all of them. Time inside a layer
# is given as its share of the op's wall time, so a layer a workload never
# enters reads 0 as a ratio.
LAYER_UNITS = {
    "session.import_s": "s",
    "session.build_s": "s",
    "session.warmup_s": "s",
    "queries.build_share": "ratio",
    "sources.load_table_share": "ratio",
    "sources.load_table_calls": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_share": "ratio",
    "spark.task_skew": "ratio",
    "streaming.trigger_share": "ratio",
    "streaming.add_batch_share": "ratio",
    "streaming.planning_share": "ratio",
    "streaming.source_share": "ratio",
    "streaming.commit_share": "ratio",
    "streaming.wait_share": "ratio",
    "streaming.input_rows": "count",
    "streaming.output_bytes": "bytes",
    "streaming.write_amp": "ratio",
    "streaming.snapshot_files": "count",
    "streaming.snapshot_bytes": "bytes",
    "cache.persists": "count",
    "cache.released": "count",
    "cache.cached_bytes": "bytes",
    "similarity.build_share": "ratio",
    "similarity.exec_share": "ratio",
    "similarity.pairs_scored": "count",
    "trace.p50_s": "s",
    "trace.ops_per_s": "1/s",
}

# span name -> metric holding the share of the op's wall time spent in it
SPAN_SHARE = {
    "queries.build": "queries.build_share",
    "sources.load_table": "sources.load_table_share",
    "similarity.build": "similarity.build_share",
    "similarity.exec": "similarity.exec_share",
}
# span name -> metric holding how many times the op entered it
SPAN_CALLS = {
    "sources.load_table": "sources.load_table_calls",
    "cache.persist": "cache.persists",
}
# streaming progress durations (seconds per op) -> share metric
STREAMING_SHARE = {
    "streaming.trigger": "streaming.trigger_share",
    "streaming.add_batch": "streaming.add_batch_share",
    "streaming.planning": "streaming.planning_share",
    "streaming.source": "streaming.source_share",
    "streaming.commit": "streaming.commit_share",
}


def _peak_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set (``VmHWM``), in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _memory(spark) -> tuple[float, float]:
    """Peak resident memory of driver and JVM, and the memory the JVM still
    holds after full garbage collections (heap and non-heap in use). The peak
    follows the collector's timing and varies by a fifth between runs. The
    driver's resident set is left out of the held memory: it is mostly the
    benchmark's own collected results and oracle frames, which the allocator
    keeps after they are freed. A collection frees what Python and Spark's
    context cleaner have let go of by then; both release more on their own
    threads afterwards, so the JVM is collected until the memory in use
    holds still: until three readings in a row agree within 1%. Two readings
    can agree while a release is pending and drop by half on the third."""
    jvm = spark.sparkContext._jvm
    pids = [os.getpid(), jvm.java.lang.ProcessHandle.current().pid()]
    peak = _peak_mb(pids)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used: list[float] = []
    for _ in range(12):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used.append(
            (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20
        )
        if len(used) >= 3 and max(used[-3:]) < 1.01 * min(used[-3:]):
            break
    return peak, min(used)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(name: str, seed: int, seconds: float, traced: bool, work: str) -> tuple[dict, dict]:
    import pyarrow.parquet as pq

    import tracing
    from workloads import WORKLOADS

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    phases: dict[str, float] = {}  # wall seconds of each phase of the run
    mark = time.perf_counter()

    def phase(label: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[label] = now - mark
        mark = now

    tracer = tracing.Tracer(traced)
    wl = WORKLOADS[name](seed, work, tracer)
    phase("generate")

    # ---- set-up: import, session, first action, warm-up ops ----
    t0 = time.perf_counter()
    from full_data_infrastructure_spark import cache
    from full_data_infrastructure_spark import queries as registry
    from full_data_infrastructure_spark.session import build_session

    registry.queries()  # imports every operator module
    t_import = time.perf_counter()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
    }
    if traced:
        conf.update(tracing.TRACE_CONF)
    spark = build_session(app_name=f"perfbench-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_build = time.perf_counter()
    try:
        spark.range(1).count()
        wl.start(spark)
        for i in range(wl.warmup_ops):  # ops and reads as the timed loop runs them
            wl.warmup(i)
            cache.release_persisted()
            if i % wl.read_every == 0:
                wl.read_probe()
        setup_s = time.perf_counter() - t0
        session = {
            "session.import_s": t_import - t0,
            "session.build_s": t_build - t_import,
            "session.warmup_s": setup_s - (t_build - t0),
        }
        phase("setup")
        tracer.bind(spark)
        failed = wl.after_setup()  # oracles, and the checks of the warm-up outputs
        phase("check_warmup")

        # ---- the timed closed loop ----
        targets = [
            (importlib.import_module(module), attr, span)
            for module, attr, span in (
                (f"{PACKAGE}.sources.parquet", "load_table", "sources.load_table"),
                (f"{PACKAGE}.cache", "tracked_persist", "cache.persist"),
            )
        ]
        latencies: list[float] = []
        by_kind: dict[str, list[float]] = {}
        reads: list[float] = []
        attempted = wl.warmup_ops
        deadline = time.perf_counter() + 3 * seconds + 60
        with tracing.wrapped(tracer, targets):
            i = 0
            while (sum(latencies) < seconds or i < wl.min_ops or i % wl.ops_per_round) \
                    and time.perf_counter() < deadline:
                with tracer.op(i):
                    start = time.perf_counter()
                    out = wl.op(i)
                    latencies.append(time.perf_counter() - start)
                by_kind.setdefault(wl.kind(i), []).append(latencies[-1])
                if i % wl.read_every == 0:
                    reads.append(wl.read_probe())
                ok = wl.check(i, out)
                del out
                if traced:  # while the op's persisted intermediates live
                    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
                    tracer.count("cache.cached_bytes",
                                 sum(r.memSize() + r.diskSize() for r in infos))
                tracer.count("cache.released", cache.release_persisted())
                failed += not ok
                attempted += 1
                i += 1
        phase("timed_loop")
        peak_rss_mb, live_mb = _memory(spark)

        metrics = {
            "setup_s": setup_s,
            "p50_s": _p50(by_kind),
            "ops_per_s": len(latencies) / sum(latencies),
            "read_p50_s": statistics.median(reads),
            "live_mb": live_mb,
        }
        units = dict(END_TO_END)
        if traced:
            metrics, units = _layer_metrics(spark, wl, tracer, session, latencies, by_kind, cores)
        phase("metrics")
    finally:
        wl.stop()
        _stop_spark(spark)
    phase("stop")

    context = {
        "workload": name,
        "seed": seed,
        "nproc": cores,
        "loadavg": list(os.getloadavg()),
        "samples": len(latencies),
        "warmup_ops": wl.warmup_ops,
        "error_rate": failed / attempted,
        "input_rows": {t: pq.ParquetFile(p).metadata.num_rows for t, p in wl.inputs.items()},
        "input_bytes": sum(os.path.getsize(p) for p in wl.inputs.values()),
        "peak_rss_mb": peak_rss_mb,
        "phase_s": phases,
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return context, result


def _p50(by_kind: dict[str, list[float]]) -> float:
    """The median latency of each kind of op, averaged over the kinds.

    With one kind this is the plain median. ``benefits_sql`` mixes four fast
    and four slow queries: the plain median of its ops falls in the gap
    between the groups and the median of the queries' medians is the mean of
    two of them, so either jumps with a single query's noise; the mean of
    all eight medians weighs every query equally and varies less."""
    return statistics.fmean(statistics.median(v) for v in by_kind.values())


def _layer_metrics(spark, wl, tracer, session, latencies, by_kind, cores):
    """Per-layer metrics: each is the median over ops of its per-op value."""
    import tracing

    from workloads import BenefitsSql

    rest = tracing.SparkRest(spark)
    per_op = tracing.spark_op_metrics(rest, tracer, cores)
    query_ratio = {q: f"queries.{q}.p50_ratio" for q in BenefitsSql.QUERIES}
    units = {**LAYER_UNITS, **dict.fromkeys(query_ratio.values(), "ratio")}
    rows = []
    for op, spark_m in zip(tracer.ops, per_op):
        wall = op.end - op.start
        m = dict.fromkeys(units, 0.0)
        m.update(spark_m)
        m.update(op.counters)
        for span, metric in SPAN_SHARE.items():
            m[metric] = tracer.span_seconds(op, span) / wall
        for span, metric in SPAN_CALLS.items():
            m[metric] = len(tracer.span_ids(op, span))
        for counter, metric in STREAMING_SHARE.items():
            m[metric] = op.counters.get(counter, 0.0) / wall
        if "streaming.trigger" in op.counters:
            m["streaming.wait_share"] = max(0.0, 1.0 - m["streaming.trigger_share"])
            m["streaming.output_bytes"] = spark_m["spark.output_bytes"]
            m["streaming.write_amp"] = (
                spark_m["spark.output_bytes"] / op.counters["streaming.change_bytes"]
            )
        rows.append(m)
    metrics = {k: tracing.median([r[k] for r in rows]) for k in units}
    metrics.update(session)
    p50_s = metrics["trace.p50_s"] = _p50(by_kind)
    metrics["trace.ops_per_s"] = len(latencies) / sum(latencies)
    for q, metric in query_ratio.items():  # each query's median over p50_s
        metrics[metric] = statistics.median(by_kind[q]) / p50_s if q in by_kind else 0.0
    return metrics, units


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        context, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(context))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
