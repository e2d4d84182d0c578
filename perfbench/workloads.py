"""The benchmark's workloads.

Each workload drives the package only through its public functions and
exposes the same steps to the worker:

* ``stage(spark)`` generates or writes its inputs from the seed;
* ``plan(spark)`` does the statistics planning a user does before
  querying (only ``q4112_ref`` has any);
* ``warmup(spark)`` runs one untimed pass and checks its answers;
* ``run_pass(spark, pass_no)`` runs one pass and returns the latency of
  each op (negative ``pass_no``: an untimed warm-up pass);
* ``finish(spark)`` checks what can only be checked after the timed
  passes.

An op is one query's construction plus its action, or one micro-batch.
``PASS_S`` is a settled pass's typical wall time on a 4-vCPU host, from
which the runner fixes how many timed passes fit in ``--seconds``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from fixtures import (
    stream_day_docs,
    stream_expected_admitted,
    write_star_schema,
)
from tracing import Tracer, timed_group


@dataclass
class OpResult:
    name: str
    seconds: float


@dataclass
class PassResult:
    ops: list[OpResult]
    #: Wall time of the pass: the sum of its op latencies, or for a
    #: stream replay, construction until the last sink commit.
    wall_s: float
    #: Input rows the pass consumed (0 where not defined).
    rows: int = 0


def _log_failure(what: str) -> None:
    print(f"# FAILED {what}\n{traceback.format_exc()}", file=sys.stderr)


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    PASS_S = 1.0

    def __init__(self, work: Path, seed: int, tracer: Tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.failed = 0
        self.attempted = 0
        self.info: dict = {}

    def stage(self, spark) -> None:
        pass

    def plan(self, spark) -> None:
        pass

    def finish(self, spark) -> None:
        pass

    def _timed_op(self, spark, pass_no: int, name: str, construct, action) -> OpResult:
        """Time ``action(construct())`` with the construction and the
        action in job groups of their own (traced run only)."""
        tr = self.tracer
        self.attempted += 1
        ok = True
        t0 = t1 = time.perf_counter()
        try:
            tr.set_group(timed_group(pass_no, name, "c"))
            with tr.counting_py4j():
                obj = construct()
            t1 = time.perf_counter()
            tr.set_group(timed_group(pass_no, name, "a"))
            ok = bool(action(obj))
        except Exception:
            _log_failure(f"{self.name}/{name} pass {pass_no}")
            ok = False
        t2 = time.perf_counter()
        tr.set_group(None)
        if tr.active:
            tr.add("queries.construct_s", t1 - t0)
            tr.add("exec.action_s", t2 - t1)
            jobs_c, _, _ = tr.group_counts(timed_group(pass_no, name, "c"))
            tr.add("queries.construct_jobs", jobs_c)
            jobs, stages, tasks = tr.group_counts(timed_group(pass_no, name, "a"))
            tr.add("exec.jobs", jobs)
            tr.add("exec.stages", stages)
            tr.add("exec.tasks", tasks)
        if not ok:
            self.failed += 1
        return OpResult(name, t2 - t0)


# --------------------------------------------------------------------------
# q4112_ref — the paper's join + integer AVG queries over generated frames
# --------------------------------------------------------------------------


class Q4112Ref(Workload):
    """Part 1, Part 2 at 100 groups, and Part 2 at 1e6 groups (sized by
    the statistics catalog) over ``datagen.q4112_frames``."""

    name = "q4112_ref"
    ops = ("part1", "part2_g100", "part2_g1e6")
    PASS_S = 2.0
    OUTER = 10_000_000
    INNER = 100

    def __init__(self, work, seed, tracer):
        super().__init__(work, seed, tracer)
        from database_join_spark.datagen import Q4112Config

        # The seed perturbs the value domains, so every seed is a
        # different (and, for the statistics catalog, unseen) table.
        price_max = 40 + seed % 21
        qty_max = 15 + (seed // 21) % 11
        self.cfgs = {
            g: Q4112Config(
                inner_tuples=self.INNER,
                outer_tuples=self.OUTER,
                groups=g,
                outer_selectivity=1.0,
                price_max=price_max,
                qty_max=qty_max,
            )
            for g in (100, 1_000_000)
        }
        self.info.update(outer_tuples=self.OUTER, price_max=price_max, qty_max=qty_max)
        self.sizing = None
        self.results: dict[str, list] = {op: [] for op in self.ops}

    def plan(self, spark) -> None:
        from database_join_spark.datagen import q4112_frames
        from database_join_spark.plans import stats

        cfg = self.cfgs[1_000_000]
        _, orders = q4112_frames(spark, cfg, spark.sparkContext.defaultParallelism)
        self.sizing, cached = stats.plan_for_cached(
            orders, ["store_id"], table_key=f"q4112:{cfg}"
        )
        self.info["sizing"] = {
            "est_groups": self.sizing.est_groups,
            "capacity_bit": self.sizing.capacity_bit,
            "tasks_per_core": self.sizing.tasks_per_core,
            "profile": self.sizing.profile,
            "estimate_cached": cached,
        }

    def _op(self, spark, pass_no: int, op: str) -> OpResult:
        from database_join_spark.datagen import (
            part1_query,
            part2_query,
            q4112_frames,
        )
        from database_join_spark.plans.sizing import applied

        cores = spark.sparkContext.defaultParallelism
        if op == "part1":
            cfg, query, parts = self.cfgs[100], part1_query, 4 * cores
        elif op == "part2_g100":
            cfg, query, parts = self.cfgs[100], part2_query, cores
        else:
            cfg, query, parts = self.cfgs[1_000_000], part2_query, self.sizing.tasks(cores)

        def construct():
            return query(*q4112_frames(spark, cfg, parts))

        def action(df):
            if op == "part2_g1e6":
                with applied(spark, self.sizing):
                    rows = df.collect()
            else:
                rows = df.collect()
            self.results[op].append(tuple(rows[0]))
            return True

        return self._timed_op(spark, pass_no, op, construct, action)

    def warmup(self, spark) -> float:
        return sum(self._op(spark, -1, op).seconds for op in self.ops)

    def run_pass(self, spark, pass_no: int) -> PassResult:
        ops = [self._op(spark, pass_no, op) for op in self.ops]
        return PassResult(ops, sum(o.seconds for o in ops), rows=len(ops) * self.OUTER)

    def finish(self, spark) -> None:
        """Compare every answer of every pass with the package's numpy
        oracle. With one group, Part 2's average of group averages is
        Part 1's average."""
        from dataclasses import replace

        from database_join_spark.datagen import part2_oracle

        cfg = self.cfgs[100]
        expect = {
            "part1": part2_oracle(replace(cfg, groups=1))[:1],
            "part2_g100": part2_oracle(cfg),
            "part2_g1e6": part2_oracle(self.cfgs[1_000_000]),
        }
        for op, seen in self.results.items():
            wrong = [answer for answer in seen if answer != expect[op]]
            if wrong:
                print(f"# WRONG {op}: {wrong} != {expect[op]}", file=sys.stderr)
                self.failed += len(wrong)
        self.info["answers"] = expect


# --------------------------------------------------------------------------
# sf_pipeline — registry queries over generated fixtures, then stream ingest
# --------------------------------------------------------------------------


class SfPipeline(Workload):
    """Relational and LLM-pipeline registry rows over fixture tables the
    benchmark writes from its seed, then a replay of the streaming
    ingest front (:class:`StreamReplay`)."""

    name = "sf_pipeline"
    ops = ("tpch_q5", "agg_avg_of_avgs", "text_analysis", "dedup_semantic")
    PASS_S = 5.3
    SF = 0.01

    def __init__(self, work, seed, tracer):
        super().__init__(work, seed, tracer)
        from database_join_spark.queries import load_all

        self.registry = load_all()
        self.sf_dir = str(work / "sf")
        #: result digest of each no-oracle op in the checked warm-up pass
        self.digests: dict[str, tuple] = {}
        self.stream = StreamReplay(self)

    def stage(self, spark) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.info["fixture_rows"] = write_star_schema(self.sf_dir, self.seed, self.SF)
        self.info["fixture_sf"] = self.SF
        self.stream.stage(spark)

    def _digest(self, df) -> tuple:
        """Order-insensitive (rows, hash-sum) of a result."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import MapType

        cols = [
            F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
            for f in df.schema.fields
        ]
        row = df.select(F.xxhash64(*cols).alias("h")).agg(
            F.count("*"), F.sum("h")
        ).collect()[0]
        return int(row[0]), int(row[1] or 0)

    def _noop(self, df) -> bool:
        df.write.format("noop").mode("overwrite").save()
        return True

    def warmup(self, spark) -> float:
        """One untimed pass: oracle'd ids are compared with DuckDB, the
        others record the digest every later pass must reproduce, and
        the stream is replayed once. Returns the Spark-side seconds
        (DuckDB time excluded)."""
        duck = self._duck()
        spent = 0.0
        for op in self.ops:
            spec = self.registry[op]
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                df = spec.fn(spark, self.sf_dir)
                if spec.oracle is None:
                    self.digests[op] = self._digest(df)
                    spent += time.perf_counter() - t0
                    self.info.setdefault("warmup_op_s", {})[op] = time.perf_counter() - t0
                    continue
                got = df.toPandas()
                spent += time.perf_counter() - t0
                self.info.setdefault("warmup_op_s", {})[op] = time.perf_counter() - t0
                want = duck.execute(spec.oracle).df()
                if not frames_match(got, want):
                    print(f"# WRONG {op}: differs from its DuckDB oracle", file=sys.stderr)
                    self.failed += 1
            except Exception:
                _log_failure(f"{self.name}/{op} warm-up")
                self.failed += 1
                spent += time.perf_counter() - t0
        duck.close()
        return spent + self.stream.replay(spark, -1).wall_s

    def _duck(self):
        import duckdb

        from database_join_spark.catalog import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        return con

    def run_pass(self, spark, pass_no: int) -> PassResult:
        ops = []
        for op in self.ops:
            spec = self.registry[op]
            if spec.oracle is None:
                def action(df, op=op):
                    return self._digest(df) == self.digests.get(op)
            else:
                action = self._noop
            ops.append(self._timed_op(
                spark, pass_no, op, lambda spec=spec: spec.fn(spark, self.sf_dir), action
            ))
        replay = self.stream.replay(spark, pass_no)
        return PassResult(ops + replay.ops, sum(o.seconds for o in ops) + replay.wall_s)


def frames_match(got, want) -> bool:
    """Row count, column names and order-insensitive values agree —
    the comparison the repository's oracle tests make."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    a, b = _canon(got), _canon(want)
    for col in a.columns:
        for x, y in zip(a[col], b[col]):
            if x != y and not (_is_null(x) and _is_null(y)):
                return False
    return True


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _canon(df):
    """Columns sorted by name, values normalized, rows sorted."""
    import pandas as pd
    from decimal import Decimal

    df = df[sorted(df.columns)].copy()

    def norm(v):
        if _is_null(v):
            return None
        if isinstance(v, Decimal):
            return str(v.normalize()) if v != 0 else "0"
        if isinstance(v, float):
            return float(v)
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime().replace(tzinfo=None)
        if hasattr(v, "item"):
            return v.item()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    out = df.map(norm)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


# --------------------------------------------------------------------------
# Streaming ingest replay
# --------------------------------------------------------------------------


class StreamReplay:
    """``streaming.corpus_ingest_dedup`` (quality gate plus cross-batch
    exact dedup on the content fingerprint, a stateful operator) into a
    parquet sink, over a planted-class document stream of one file per
    day. A replay runs the whole stream, one day per micro-batch, into
    a fresh checkpoint and sink; each micro-batch is an op."""

    PER_DAY = 2000
    #: The first micro-batch writes the empty dedup state, the second
    #: probes and grows it.
    DAYS = 2

    def __init__(self, owner: Workload):
        self.owner = owner
        self.work = owner.work
        self.seed = owner.seed
        self.tracer = owner.tracer
        self.info = owner.info.setdefault("stream", {})
        self.src = owner.work / "stream_src"
        self.info.update(per_day=self.PER_DAY, days=self.DAYS)

    def stage(self, spark) -> None:
        import pyarrow.parquet as pq

        shutil.rmtree(self.src, ignore_errors=True)
        self.src.mkdir(parents=True)
        now = time.time() - 60
        for day in range(self.DAYS):
            path = self.src / f"day-{day:03d}.parquet"
            pq.write_table(stream_day_docs(self.seed, day, self.PER_DAY), path)
            # arrival order is day order whatever the timestamp resolution
            os.utime(path, (now + day, now + day))

    def replay(self, spark, pass_no: int) -> PassResult:
        from database_join_spark.streaming import corpus_ingest_dedup

        tr = self.tracer
        run = self.work / f"replay_{pass_no + 1}"
        shutil.rmtree(run, ignore_errors=True)
        t0 = time.perf_counter()
        tr.set_group(timed_group(pass_no, "replay", "c"))
        with tr.counting_py4j():
            stream = corpus_ingest_dedup(
                spark.readStream.schema("doc_id BIGINT, day INT, text STRING")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(self.src))
            )
        t1 = time.perf_counter()
        tr.set_group(None)
        query = (
            stream.select("doc_id", "day", "fp", "n_tokens")
            .writeStream.format("parquet")
            .option("path", str(run / "sink"))
            .option("checkpointLocation", str(run / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        except Exception:
            _log_failure(f"stream replay {pass_no}")
        t2 = time.perf_counter()
        progress = [json.loads(p.json) for p in query.recentProgress]
        progress = [p for p in progress if p["numInputRows"] > 0]
        error = query.exception()
        query.stop()
        ok = error is None and len(progress) == self.DAYS and self._check(spark, run)
        self.owner.attempted += self.DAYS
        if not ok:
            print(f"# FAILED stream replay {pass_no}: {error}", file=sys.stderr)
            self.owner.failed += self.DAYS
        if tr.active:
            # the query runs its micro-batches under its run id as job group
            group = str(query.runId)
            if pass_no >= 0:
                tr.extra_groups.add(group)
            tr.add("queries.construct_s", t1 - t0)
            tr.add("exec.action_s", t2 - t1)
            jobs, stages, tasks = tr.group_counts(group)
            tr.add("exec.jobs", jobs)
            tr.add("exec.stages", stages)
            tr.add("exec.tasks", tasks)
            tr.add("streaming.batches", len(progress))
            for p in progress:
                tr.add("streaming.batch_s", p["durationMs"]["triggerExecution"] / 1e3)
                tr.add("streaming.add_batch_s", p["durationMs"].get("addBatch", 0) / 1e3)
            tr.add("streaming.jobs", jobs)
        if progress:
            last = progress[-1]["stateOperators"]
            self.info["state_rows"] = sum(op["numRowsTotal"] for op in last)
            self.info["state_bytes"] = sum(op["memoryUsedBytes"] for op in last)
        if pass_no >= 0:
            self.info.setdefault("docs_per_s", []).append(self.PER_DAY * self.DAYS / (t2 - t0))
        shutil.rmtree(run, ignore_errors=True)
        ops = [
            OpResult(f"batch{i}", p["durationMs"]["triggerExecution"] / 1e3)
            for i, p in enumerate(progress)
        ]
        return PassResult(ops, t2 - t0)

    def _check(self, spark, run: Path) -> bool:
        """Planted-class arithmetic: the sink holds exactly the docs the
        gate and the cross-batch fingerprint state must admit."""
        admitted = spark.read.parquet(str(run / "sink")).count()
        expected = stream_expected_admitted(self.PER_DAY, self.DAYS)
        if admitted != expected:
            print(f"# WRONG stream sink {admitted} (expect {expected})", file=sys.stderr)
        src_bytes = sum(p.stat().st_size for p in self.src.glob("*.parquet"))
        self.info["input_bytes"] = src_bytes
        return admitted == expected


WORKLOADS = {w.name: w for w in (Q4112Ref, SfPipeline)}
