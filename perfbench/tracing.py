"""Layer timing from outside the package, for the traced run.

Nothing here edits the package: counters add up the time of the calls
the harness makes into each layer, the catalog is timed by rebinding
the ``table`` name that query modules imported, Spark jobs are
attributed to ops through job groups and the status tracker, and
executor-side metrics come from Spark's own event log, which only the
traced run enables.

The untraced run uses none of this except the ``/proc`` readers, which
run outside the timed passes.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

#: Job-group prefix of every op the benchmark times.
GROUP_PREFIX = "pb|"


def timed_group(pass_no: int, op: str, phase: str) -> str:
    """Job-group id of one op phase (``c`` construct, ``a`` action);
    only timed passes (``pass_no >= 0``) carry :data:`GROUP_PREFIX`."""
    prefix = GROUP_PREFIX if pass_no >= 0 else "warmup|"
    return f"{prefix}{pass_no}|{op}|{phase}"


class Tracer:
    """Counters held in memory, added up per name; written out when the
    run ends. ``active`` is False in the untraced run, where every
    method returns at once so the timed code path is the same in both
    runs.
    """

    def __init__(self, active: bool):
        self.active = active
        self.counters: dict[str, float] = defaultdict(float)
        self._sc = None
        self.py4j_calls = 0
        self._count_py4j = False
        #: Job groups Spark chose for timed work (a streaming query's run id).
        self.extra_groups: set[str] = set()

    def add(self, name: str, value: float) -> None:
        if self.active:
            self.counters[name] += value

    # -- Spark job attribution ---------------------------------------------
    def bind(self, spark) -> None:
        """Attach to a live session: remember its context and count py4j
        round trips while :meth:`counting_py4j` is open."""
        if not self.active:
            return
        self._sc = spark.sparkContext
        from py4j.java_gateway import GatewayClient

        if not getattr(GatewayClient.send_command, "_pb_wrapped", False):
            original = GatewayClient.send_command
            tracer = self

            def send_command(client, *args, **kwargs):
                if tracer._count_py4j:
                    tracer.py4j_calls += 1
                return original(client, *args, **kwargs)

            send_command._pb_wrapped = True
            GatewayClient.send_command = send_command

    def set_group(self, group: str | None) -> None:
        if not self.active or self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    @contextmanager
    def counting_py4j(self):
        before = self.py4j_calls
        self._count_py4j = self.active
        try:
            yield
        finally:
            self._count_py4j = False
            self.add("py4j_calls", self.py4j_calls - before)

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """Exact (jobs, stages, tasks) the status tracker holds for one
        job group."""
        if not self.active or self._sc is None:
            return 0, 0, 0
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return len(jobs), stages, tasks

    def current_group_jobs(self) -> int:
        """Jobs so far in the calling thread's job group."""
        if not self.active or self._sc is None:
            return 0
        group = self._sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            return 0
        return len(self._sc.statusTracker().getJobIdsForGroup(group))

    # -- rebinding package names -------------------------------------------
    def wrap_catalog(self) -> None:
        """Time ``catalog.table`` where query modules call it: they bind
        the name at import (``from database_join_spark.catalog import
        table``), so the name is rebound in every loaded package module
        that holds the original function."""
        if not self.active:
            return
        from database_join_spark import catalog

        original = catalog.table
        tracer = self

        def table(*args, **kwargs):
            jobs0 = tracer.current_group_jobs()
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                tracer.add("catalog.calls", 1)
                tracer.add("catalog.s", time.perf_counter() - t0)
                tracer.add("catalog.jobs", tracer.current_group_jobs() - jobs0)

        for name, mod in list(sys.modules.items()):
            if name.startswith("database_join_spark") and getattr(
                mod, "table", None
            ) is original:
                setattr(mod, "table", table)

    def wrap_stats(self) -> None:
        """Time the statistics-catalog entry points (module attributes,
        looked up at call time by the queries that use them); nested
        calls count once."""
        if not self.active:
            return
        from database_join_spark.plans import stats

        tracer = self
        depth = [0]

        def wrap(fn):
            def wrapper(*args, **kwargs):
                depth[0] += 1
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    depth[0] -= 1
                    if depth[0] == 0:
                        tracer.add("plans.sizing_s", time.perf_counter() - t0)

            return wrapper

        for name in (
            "plan_for_cached",
            "cached_statistic",
            "mean_tokens_per_doc_cached",
            "sized_shuffle_for_table",
        ):
            if hasattr(stats, name):
                setattr(stats, name, wrap(getattr(stats, name)))


# --------------------------------------------------------------------------
# /proc readers (Linux)
# --------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        kids[int(fields[1])].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(jvm_pid: int) -> list[int]:
    """PySpark daemon and worker processes under the JVM."""
    return [p for p in descendants(jvm_pid) if "pyspark" in _cmdline(p)]


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int) -> float:
    """utime + stime + reaped children's time of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rfind(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def python_worker_cpu_s(jvm_pid: int) -> float:
    return sum(cpu_seconds(p) for p in python_workers(jvm_pid))


def peak_rss_mb(jvm_pid: int) -> dict:
    """VmHWM of the driver JVM and of every live Python worker, in MiB;
    ``total`` is their sum."""
    workers = [vm_hwm_kb(p) / 1024.0 for p in python_workers(jvm_pid)]
    jvm = vm_hwm_kb(jvm_pid) / 1024.0
    return {"total": jvm + sum(workers), "jvm": jvm, "python_workers": workers}


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(
    lines, group_prefix: str = GROUP_PREFIX, extra_groups: frozenset = frozenset()
) -> dict[str, float]:
    """Sum executor metrics over the jobs of the benchmark's timed ops.

    A job counts when its job group starts with ``group_prefix`` or is
    one of ``extra_groups`` (a streaming query runs its batches under
    its run id), or when it belongs to a SQL execution that has such a
    job (broadcast collection jobs run under their own group). Returns
    seconds and MiB totals plus the number of counted jobs.
    """
    job_group: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    exec_metrics: dict[int, dict[int, str]] = defaultdict(dict)
    driver_updates: list[tuple[int, int, float]] = []
    tasks: list[tuple[int, dict]] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id") or ""
            if props.get("spark.sql.execution.id") is not None:
                job_exec[jid] = int(props["spark.sql.execution.id"])
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo", {}), exec_metrics[ev["executionId"]])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", []):
                driver_updates.append((ev["executionId"], int(acc_id), float(value)))

    def ours(group: str) -> bool:
        return group.startswith(group_prefix) or group in extra_groups

    ours_exec = {job_exec[j] for j, g in job_group.items() if ours(g) and j in job_exec}
    ours_jobs = {
        j for j, g in job_group.items() if ours(g) or job_exec.get(j) in ours_exec
    }
    out = defaultdict(float)
    out["jobs"] = float(len(ours_jobs))
    mib = 1024.0 * 1024.0
    for sid, m in tasks:
        if stage_job.get(sid) not in ours_jobs:
            continue
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sw = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mib
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / mib
        out["spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / mib
        out["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / mib
    for eid, acc_id, value in driver_updates:
        if eid in ours_exec and exec_metrics[eid].get(acc_id) == "time to build":
            out["broadcast_build_s"] += value / 1e3
    return dict(out)


def read_event_log(log_dir: str | Path, extra_groups=frozenset()) -> dict[str, float]:
    """Totals over every (uncompressed, unrolled) event log in a dir."""
    totals: dict[str, float] = defaultdict(float)
    for p in sorted(Path(log_dir).iterdir()):
        if p.is_file() and not p.name.startswith("."):
            with open(p) as f:
                for k, v in parse_event_log(f, extra_groups=frozenset(extra_groups)).items():
                    totals[k] += v
    return dict(totals)
