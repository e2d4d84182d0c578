"""One run of one workload in a fresh process; writes a result JSON file.

Started by ``run.py`` with the package copy first on ``PYTHONPATH``.
Steps: set up once (session build with the JVM launch, input staging
and statistics planning), one untimed warm-up pass that checks its
answers, ``--settle`` untimed passes while the JIT compiler catches
up, ``--passes`` timed passes, then the checks that need every answer.
``setup_s`` runs from the start of this process to the end of the
warm-up pass, less the time the warm-up spends checking answers, so
import, JVM launch, statistics misses and first-use JIT cost all land
in it; the settling passes count in no reported time.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

import metrics  # noqa: E402
from tracing import (  # noqa: E402
    Tracer,
    cpu_times,
    peak_rss_mb,
    python_worker_cpu_s,
    read_event_log,
    steal_share,
)
from workloads import WORKLOADS  # noqa: E402


def _stats_keys(path: Path) -> int:
    try:
        return len(json.loads(path.read_text()))
    except (OSError, ValueError):
        return 0


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector in the driver JVM
    (which runs the local executors too)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--settle", type=int, required=True)
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--traced", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-log", default=None)
    args = ap.parse_args()

    work = Path(args.work)
    tracer = Tracer(active=bool(args.traced))
    wl = WORKLOADS[args.workload](work, args.seed, tracer)
    tracer.wrap_catalog()
    tracer.wrap_stats()

    from database_join_spark.plans import stats as stats_mod
    from database_join_spark.session import get_spark

    # the package copy ships the checkout's statistics catalog; what a
    # run adds to it are the misses it paid
    stats_path = Path(stats_mod.DEFAULT_PATH)
    keys0 = _stats_keys(stats_path)
    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark)
    wl.stage(spark)
    wl.plan(spark)
    staged_s = time.perf_counter() - T_PROCESS
    warmup_s = wl.warmup(spark)
    setup_s = staged_s + warmup_s
    stats_misses = _stats_keys(stats_path) - keys0
    setup_counters = dict(tracer.counters)

    t_settle = time.perf_counter()
    for i in range(args.settle):
        wl.run_pass(spark, -2 - i)
    settle_s = time.perf_counter() - t_settle
    tracer.counters.clear()

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    load_start = os.getloadavg()[0]
    pyw0 = python_worker_cpu_s(jvm_pid)
    gc0 = jvm_gc_s(spark)
    cpu0 = cpu_times()
    passes, pass_steal = [], []
    t_measure = time.perf_counter()
    for pass_no in range(args.passes):
        before = cpu_times()
        passes.append(wl.run_pass(spark, pass_no))
        pass_steal.append(steal_share(before, cpu_times()))
    measure_s = time.perf_counter() - t_measure
    python_worker_s = python_worker_cpu_s(jvm_pid) - pyw0
    gc_s = jvm_gc_s(spark) - gc0
    rss = peak_rss_mb(jvm_pid)
    load_end = os.getloadavg()[0]
    steal = steal_share(cpu0, cpu_times())

    wl.finish(spark)
    conf = spark.sparkContext.getConf()
    session = {
        "master": spark.sparkContext.master,
        "spark.driver.memory": conf.get("spark.driver.memory", "1g (Spark default)"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
    }
    spark.stop()

    pooled = [op.seconds for p in passes for op in p.ops]
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for op in p.ops:
            by_op.setdefault(op.name, []).append(op.seconds)
    walls = [p.wall_s for p in passes]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": bool(args.traced),
        "attempted": wl.attempted,
        "failed": wl.failed,
        "setup_s": setup_s,
        "staged_s": staged_s,
        "warmup_s": warmup_s,
        "settle_passes": args.settle,
        "settle_s": settle_s,
        "session_start_s": session_start_s,
        "passes": len(passes),
        "pass_steal_share": pass_steal,
        "measure_s": measure_s,
        "pass_wall_s": walls,
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(pooled),
        "op_tail": metrics.op_tail(pooled),
        "op_samples": len(pooled),
        "op_s": by_op,
        "op_median_s": {k: statistics.median(v) for k, v in by_op.items()},
        "geomean_s": metrics.geomean_of_medians(by_op),
        "rows_per_s": (
            statistics.median([p.rows / p.wall_s for p in passes]) if passes[0].rows else None
        ),
        "peak_rss_mb": rss["total"],
        "rss_mb": rss,
        "stats_misses": stats_misses,
        "python_worker_s": python_worker_s,
        "jvm_gc_s": gc_s,
        "load1_start": load_start,
        "load1_end": load_end,
        "cpu_steal_share": steal,
        "session": session,
        "workload_info": wl.info,
    }
    if args.traced:
        result["setup_counters"] = setup_counters
        result["counters"] = dict(tracer.counters)
        if args.event_log:
            result["event_log"] = read_event_log(args.event_log, tracer.extra_groups)
    Path(args.out).write_text(json.dumps(result, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
