"""Benchmark entry point.

    python3 perfbench/run.py --workload q4112_ref --seed 1 --seconds 10 --trace 0

Runs the package from a copy under ``.perfbench_work/`` (so the
statistics catalog it writes, Spark's scratch files and the generated
inputs stay out of the work tree), starts one worker process per
measured run, checks that the checkout is unchanged afterwards, and
prints a detail line and then the result line as JSON on stdout.

``--trace 0`` runs the workload untraced and reports the end-to-end
metrics. ``--trace 1`` runs it untraced and traced, each measuring for
half of ``--seconds``, in an order that alternates with the seed, and
reports the per-layer metrics of the traced run and the ratio of the
two runs' fastest passes as the tracing overhead.

A run measures a fixed number of timed passes, after
:data:`SETTLE_PASSES` untimed ones (:data:`TRACE_SETTLE_PASSES` per
worker with ``--trace 1``): as many of the workload's typical settled
pass (``PASS_S``) as fit in the measuring time, and never fewer than
:data:`E2E_MIN_PASSES` (:data:`TRACE_MIN_PASSES` per worker with
``--trace 1``), so every median rests on enough passes and the same
seconds always give the same pass count.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

from layers import END_TO_END, PER_LAYER, per_layer_values  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "database_join_spark"
WORK_ROOT = ROOT / ".perfbench_work"
#: Whole-run budget; every run must end well inside three minutes.
BUDGET_S = 170.0
#: The first passes after the warm-up still run up to a third slower
#: while the JIT compiler catches up; timed, they would put the median
#: on that slope, which host load makes steeper or flatter.
SETTLE_PASSES = 2
#: Enough for a median that one slow pass does not move.
E2E_MIN_PASSES = 3
#: Each worker of a traced run (the overhead ratio compares the fastest
#: passes); no more, so a traced run of two cold workers stays well
#: inside the time limit.
TRACE_MIN_PASSES = 2
#: For the same reason each worker of a traced run settles for one pass
#: only; the fastest timed passes, which the ratio compares, come after
#: it.
TRACE_SETTLE_PASSES = 1


#: Task slots of the worker's ``local[N]`` session (``SPARK_GRAFT_CPUS``,
#: which ``session.get_spark`` reads): one fewer than the host's CPUs,
#: so the JVM's compiler and collector threads and the client have a
#: CPU of their own instead of preempting task threads. With every CPU
#: given to tasks, ops with one task per slot waited on whichever task
#: was preempted, and 3-10% of CPU steal slowed q4112_ref by 30-75%.
TASK_SLOTS = max(1, (os.cpu_count() or 2) - 1)


def pass_count(workload: str, seconds: float, minimum: int) -> int:
    return max(minimum, round(seconds / WORKLOADS[workload].PASS_S))


def host_fingerprint() -> dict:
    cpu_model = None
    mem_total_kb = None
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    cpu_model = line.split(":", 1)[1].strip()
                    break
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_total_kb = int(line.split()[1])
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(),
        "cpu_model": cpu_model,
        "mem_total_gb": round(mem_total_kb / 1048576, 1) if mem_total_kb else None,
        "python": platform.python_version(),
    }


def tree_state() -> tuple:
    """What the run must leave unchanged: every file of the checkout
    outside the benchmark's own scratch directories, and ``git status``
    where the checkout is a git work tree."""
    skip = {WORK_ROOT.name, ".bench_build", ".git"}
    files = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        if Path(dirpath) == ROOT:
            dirnames[:] = [d for d in dirnames if d not in skip]
        for name in filenames:
            p = Path(dirpath, name)
            try:
                st = p.lstat()
            except OSError:
                continue
            files.append((str(p.relative_to(ROOT)), st.st_size, st.st_mtime_ns))
    status = None
    if (ROOT / ".git").exists() and shutil.which("git"):
        status = subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True
        ).stdout
    return sorted(files), status


def stage_package(work: Path) -> Path:
    """Copy the package (and the files it resolves next to itself) into
    a worker's scratch directory; the copy is what the worker imports,
    so each worker starts from the statistics catalog the checkout
    ships and its writes stay out of the checkout."""
    pkg = work / "pkg"
    shutil.copytree(
        ROOT / PACKAGE, pkg / PACKAGE, ignore=shutil.ignore_patterns("__pycache__")
    )
    if (ROOT / "STATS_CACHE.json").exists():
        shutil.copy2(ROOT / "STATS_CACHE.json", pkg / "STATS_CACHE.json")
    if (ROOT / "java_ext").is_dir():
        shutil.copytree(ROOT / "java_ext", pkg / "java_ext")
    return pkg


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_group(pgid: int) -> None:
    """Stop whatever the worker left in its process group and wait
    until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def run_worker(
    args, work: Path, traced: bool, settle: int, passes: int, deadline: float
) -> dict:
    tag = "traced" if traced else "untraced"
    run_dir = work / tag
    (run_dir / "tmp").mkdir(parents=True)
    pkg = stage_package(run_dir)
    out = run_dir / "result.json"
    env = dict(os.environ)
    env["PYTHONPATH"] = str(pkg) + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["SPARK_GRAFT_CPUS"] = str(TASK_SLOTS)
    env["TMPDIR"] = str(run_dir / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    submit = [
        f"--driver-java-options=-Djava.io.tmpdir={run_dir / 'tmp'}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--settle", str(settle),
        "--passes", str(passes),
        "--traced", str(int(traced)), "--work", str(run_dir), "--out", str(out),
    ]
    if traced:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
        cmd += ["--event-log", str(log_dir)]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _end_group(proc.pid)
        proc.wait()
    if code != 0 or not out.exists():
        raise RuntimeError(f"{tag} worker failed (exit {code})")
    return json.loads(out.read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + BUDGET_S
    # a terminated run still ends its worker's process group and
    # removes its scratch directory (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ package next to {HERE.name}/", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    before = tree_state()
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if args.trace:
            # the two runs share the measuring time; which goes first
            # alternates with the seed, so host drift over a run does
            # not always fall on the same side of the ratio
            passes = pass_count(args.workload, args.seconds / 2, TRACE_MIN_PASSES)
            order = (True, False) if args.seed % 2 else (False, True)
            by_mode = {
                t: run_worker(args, work, t, TRACE_SETTLE_PASSES, passes, deadline)
                for t in order
            }
            runs = [by_mode[t] for t in order]
            layers = per_layer_values(by_mode[True], by_mode[False])
            values = {name: (layers[name], unit) for name, (unit, _) in PER_LAYER.items()}
        else:
            passes = pass_count(args.workload, args.seconds, E2E_MIN_PASSES)
            res = run_worker(args, work, False, SETTLE_PASSES, passes, deadline)
            runs = [res]
            layers = None
            values = {m["name"]: (res[m["name"]], m["unit"]) for m in END_TO_END}
    except RuntimeError as err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass
    unchanged = tree_state() == before
    if not unchanged:
        print("perfbench: the run changed files of the checkout", file=sys.stderr)

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host_fingerprint(),
        "tree_unchanged": unchanged,
        "fail_ratio": failed / attempted,
        "layers": layers,
        "runs": runs,
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0 and unchanged,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
