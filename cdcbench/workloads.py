"""The workloads: closed loops with one driver client.

Each workload makes its feeds from the seed before anything is timed (the
engine receives only the parquet segments), warms up on a small pass of the
same plan, then runs a fixed number of cycles derived from ``--seconds``.
The cycle count comes from the requested length, not from the clock, so two
versions of the program always do the same work.

Every op is checked against the pandas oracle right after it is timed (a
compaction or vacuum through the scan that follows it); a mismatch fails
the op.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np
import pandas as pd

from . import oracle

#: bench.py's feed shape: 8 turns per conversation, updates = 20/3 x
#: conversations, deletes = updates / 20, 2% duplicates, 2% late, 5% hot
TURNS, DUP, LATE, HOT = 8, 0.02, 0.02, 0.05
#: change events per conversation in that shape (8 + 6.67 + 0.33, + 2%)
EVENTS_PER_CONV = 15.3


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    note: str = ""


@dataclass
class Feed:
    dir: str
    segments: list  # per-segment event frames, in delivery order
    paths: list  # per-segment parquet paths

    @functools.cached_property
    def events(self) -> pd.DataFrame:
        return pd.concat(self.segments, ignore_index=True)


@dataclass
class Run:
    """State one run shares across its workload's cycles."""

    spark: object
    work: str
    feeds: str
    seed: int
    tracer: object = None
    ops: list = field(default_factory=list)
    bootstrap_s: list = field(default_factory=list)
    #: wall of the write phase and the change events it applied
    write_wall_s: float = 0.0
    events: int = 0
    #: wall of every op group (sync, merge, read, maintenance)
    busy_s: float = 0.0
    #: streaming progress of each trigger (sync_stream)
    progress: list = field(default_factory=list)
    listener: object = None
    #: (start, end) epoch ms of each cycle, for the event-log windows
    windows: list = field(default_factory=list)

    def timed(self, kind: str, request: str, fn: Callable):
        """Run one op, returning (result, seconds)."""
        span = (contextlib.nullcontext() if self.tracer is None
                else self.tracer.span(f"op.{kind}", request=request))
        with span:
            t0 = time.perf_counter()
            result = fn()
            dt = time.perf_counter() - t0
        self.busy_s += dt
        return result, dt

    def bootstrap(self, fn: Callable):
        """Create a table for the workload: timed as set-up, never traced."""
        t0 = time.perf_counter()
        if self.tracer is None:
            result = fn()
        else:
            with self.tracer.suspended():
                result = fn()
        self.bootstrap_s.append(time.perf_counter() - t0)
        return result

    def record(self, kind: str, seconds: float, problem: Optional[str]) -> None:
        self.ops.append(Op(kind, seconds, problem is None, problem or ""))

    def scratch(self) -> "Run":
        """A throwaway run on the same session, for warm-up passes whose
        ops are not measured."""
        return Run(spark=self.spark, work=self.work, feeds=self.feeds, seed=self.seed)


def feed_spec(n_events: int, n_segments: int, seed: int):
    from airbyte_spark.feedgen import FeedSpec

    convs = max(1, round(n_events / EVENTS_PER_CONV))
    updates = round(convs * 20 / 3)
    return FeedSpec(
        n_convs=convs, turns_per_conv=TURNS, n_updates=updates,
        n_deletes=updates // 20, dup_rate=DUP, late_rate=LATE,
        hot_fraction=HOT, n_segments=n_segments, seed=seed,
    )


def make_feed(run: Run, name: str, n_events: int, n_segments: int) -> Feed:
    """Generate (once per seed and size) the feed's parquet segments."""
    from airbyte_spark.feedgen import generate_feed

    d = os.path.join(run.feeds, f"{name}-e{n_events}-n{n_segments}-s{run.seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        generate_feed(d, feed_spec(n_events, n_segments, run.seed))
        open(os.path.join(d, "_DONE"), "w").close()
    paths = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    return Feed(d, [pd.read_parquet(p) for p in paths], paths)


def final_state(events: pd.DataFrame) -> pd.DataFrame:
    from airbyte_spark.feedgen import oracle_final_state
    from airbyte_spark.functions.text import canonicalize_pandas

    return oracle_final_state(events, canonicalize_pandas)


def n_keys(events: pd.DataFrame) -> int:
    return len(events.drop_duplicates(oracle.PK))


def _keys(events: pd.DataFrame) -> list[tuple[str, int]]:
    """Distinct ``(conv_id, turn_idx)`` keys as plain Python values."""
    k = events[oracle.PK].drop_duplicates()
    return list(zip(k["conv_id"].tolist(), k["turn_idx"].astype(int).tolist()))


def fresh_dir(run: Run, *parts: str) -> str:
    d = os.path.join(run.work, *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def _scan(run: Run, path: str, request: str, want: pd.DataFrame):
    from airbyte_spark.lake import LakeTable

    table = LakeTable(run.spark, path)
    got, dt = run.timed("scan", request, lambda: table.read().toPandas())
    problem = oracle.mismatch(got, want)
    run.record("scan", dt, problem)
    return got, problem


# --------------------------------------------------------------- sync_stream


class SyncStream:
    """Bounded ``run_replay_stream`` (availableNow) with watermark dedup, a
    MOR main table and MOR SCD-2 history, one segment per trigger, no
    compaction; then the reads of what the sync leaves behind: the resolved
    main table and the SCD current rows."""

    name, DIR = "sync_stream", "sync"
    SEGMENT_EVENTS = 4_000
    SEGMENTS = 5
    #: the warm-up sync runs this many triggers of the measured size: after
    #: a one-trigger warm-up the JIT was still warming through the measured
    #: sync (its first trigger ~50% slower than its last)
    WARM_SEGMENTS = 2
    #: the main table is scanned this many times after each measured sync;
    #: one sample per run left scan_p50_s at the mercy of one steal burst
    SCANS = 3
    #: nominal seconds per cycle on a 4-core host (sizes the cycle count)
    CYCLE_S = 30.0

    def __init__(self, run: Run, seconds: int):
        self.run = run
        self.cycles = max(1, round(seconds / self.CYCLE_S))

    def prepare(self) -> None:
        self.feed = make_feed(
            self.run, "sync", self.SEGMENT_EVENTS * self.SEGMENTS, self.SEGMENTS)
        self.want = final_state(self.feed.events)
        self.warm = make_feed(self.run, "sync-warm",
                              self.SEGMENT_EVENTS * self.WARM_SEGMENTS, self.WARM_SEGMENTS)
        self.warm_want = final_state(self.warm.events)

    def warm_up(self) -> None:
        self._sync(self.run.scratch(), self.warm, self.warm_want, "warm", scans=1)

    def cycle(self, i: int) -> None:
        self._sync(self.run, self.feed, self.want, f"c{i}", self.SCANS)

    def _sync(self, run: Run, feed: Feed, want: pd.DataFrame, tag: str,
              scans: int) -> None:
        from airbyte_spark.lake import LakeTable
        from airbyte_spark.lake.scd import bootstrap_scd_table, read_scd
        from airbyte_spark.schemas import CHANGE_STRUCT, PK
        from airbyte_spark.streaming import ReplayConfig, run_replay_stream
        from airbyte_spark.streaming.runner import bootstrap_table
        from pyspark.sql import functions as F

        base = fresh_dir(run, self.DIR, tag)
        cfg = ReplayConfig(
            feed_dir=feed.dir, table_path=f"{base}/table",
            checkpoint_dir=f"{base}/checkpoint", app_id=f"cdcbench-{tag}",
            max_files_per_trigger=1, strategy="mor",
            scd_table_path=f"{base}/scd", scd_strategy="mor",
        )

        def bootstrap():
            table = bootstrap_table(run.spark, cfg.table_path)
            bootstrap_scd_table(
                run.spark, cfg.scd_table_path, CHANGE_STRUCT, PK,
                bucket_cols=["conv_id"], n_buckets=table.snapshot().n_buckets,
            )

        run.bootstrap(bootstrap)
        if run.listener is not None:
            del run.listener.progress[:]
        q, wall = run.timed("sync", f"sync-{tag}", lambda: run_replay_stream(run.spark, cfg))
        if run.listener is not None:
            run.listener.wait_terminated()
            progress = list(run.listener.progress)
        else:
            progress = list(q.recentProgress)
        run.progress.extend(progress)
        run.write_wall_s += wall
        run.events += len(feed.events)

        def scd_current():
            hist = read_scd(LakeTable(run.spark, cfg.scd_table_path))
            live = hist.filter(
                (F.col("_airbyte_active_row") == 1)
                & F.col("_ab_cdc_deleted_at").isNull()
            )
            return live.select(*oracle.COLS).toPandas()

        scd, scd_s = run.timed("scd_scan", f"scd-{tag}", scd_current)
        results = [_scan(run, cfg.table_path, f"scan{j}-{tag}", want)
                   for j in range(scans)]
        got = results[0][0]
        problem = next((p for _, p in results if p is not None), None)
        run.record("scd_scan", scd_s, oracle.mismatch(scd, got))
        for p in progress:
            if p["numInputRows"] > 0:
                run.record(
                    "write", p["durationMs"]["triggerExecution"] / 1000.0, problem)


# --------------------------------------------------------------- serve_mixed


class ServeMixed:
    """Writes beside reads on one MOR table. Each round: one fenced
    ``merge_batch(strategy="mor")`` of the next feed chunk, 4 point lookups
    of 4 random keys, 1 full resolved scan and 1 ``changes_between`` of the
    round's commit; every ``COMPACT_EVERY``-th round also ``compact()`` +
    ``vacuum(grace_commits=2)``; a last scan follows the final round.
    Streaming is bypassed."""

    name, DIR = "serve_mixed", "serve"
    CHUNK_EVENTS = 10_000
    LOOKUPS, KEYS_PER_LOOKUP = 4, 4
    COMPACT_EVERY = 4
    ROUND_S = 8.0

    def __init__(self, run: Run, seconds: int):
        self.run = run
        self.cycles = max(self.COMPACT_EVERY, round(seconds / self.ROUND_S))

    def prepare(self) -> None:
        n = self.cycles
        self.feed = make_feed(self.run, "serve", self.CHUNK_EVENTS * n, n)
        self.warm = make_feed(self.run, "serve-warm", self.CHUNK_EVENTS, 2)
        self.prefix_want = []
        self.prefix_keys = []
        self.chunk_keys = []
        for r in range(n):
            prefix = pd.concat(self.feed.segments[: r + 1], ignore_index=True)
            self.prefix_want.append(final_state(prefix))
            self.prefix_keys.append(_keys(prefix))
            self.chunk_keys.append(n_keys(self.feed.segments[r]))

    def _table(self, run: Run, tag: str):
        from airbyte_spark.streaming.runner import bootstrap_table

        path = fresh_dir(run, self.DIR, tag)
        return run.bootstrap(lambda: bootstrap_table(run.spark, path))

    def warm_up(self) -> None:
        from airbyte_spark.lake import merge as lake_merge
        from airbyte_spark.plans.replay import prepare_changes
        from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS

        spark = self.run.spark
        table = self._table(self.run.scratch(), "warm")
        for r, path in enumerate(self.warm.paths):
            st = lake_merge.merge_batch(
                table, spark.read.schema(CHANGE_STRUCT).parquet(path), ORDER_COLS,
                app_id="cdcbench-serve", batch_id=r, post_collapse=prepare_changes,
                strategy="mor")
        table.point_lookup(_keys(self.warm.segments[0])[:1]).toPandas()
        table.read().toPandas()
        table.changes_between(st.version - 1, st.version).count()
        table.compact()
        table.vacuum(grace_commits=2)

    def start(self) -> None:
        """One table for all rounds, bootstrapped before the first."""
        self.table = self._table(self.run, "main")

    def cycle(self, r: int) -> None:
        from airbyte_spark.lake import merge as lake_merge
        from airbyte_spark.plans.replay import prepare_changes
        from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS

        run, table = self.run, self.table
        chunk = run.spark.read.schema(CHANGE_STRUCT).parquet(self.feed.paths[r])
        stats, dt = run.timed("write", f"r{r}-merge", lambda: lake_merge.merge_batch(
            table, chunk, ORDER_COLS, app_id="cdcbench-serve", batch_id=r,
            post_collapse=prepare_changes, strategy="mor",
        ))
        run.write_wall_s += dt
        run.events += len(self.feed.segments[r])
        run.record("write", dt, None if stats.rows_in == self.chunk_keys[r]
                   else f"rows_in {stats.rows_in} != {self.chunk_keys[r]} keys")

        want = self.prefix_want[r]
        keys = self.prefix_keys[r]
        rng = np.random.default_rng([run.seed, r])
        for j in range(self.LOOKUPS):
            pick = [keys[i] for i in rng.choice(len(keys), self.KEYS_PER_LOOKUP, replace=False)]
            got, dt = run.timed("lookup", f"r{r}-lookup{j}",
                                lambda: table.point_lookup(pick).toPandas())
            run.record("lookup", dt, oracle.mismatch(got, oracle.rows_for_keys(want, pick)))

        _scan(run, table.path, f"r{r}-scan", want)

        n, dt = run.timed("changes", f"r{r}-changes", lambda: table.changes_between(
            stats.version - 1, stats.version).count())
        run.record("changes", dt, None if n == stats.rows_in
                   else f"{n} change rows != rows_in {stats.rows_in}")

        if (r + 1) % self.COMPACT_EVERY == 0:
            v, dt = run.timed("compact", f"r{r}-compact", table.compact)
            run.record("compact", dt, None if isinstance(v, int) else f"compact -> {v!r}")
            _, dt = run.timed("vacuum", f"r{r}-vacuum",
                              lambda: table.vacuum(grace_commits=2))
            run.record("vacuum", dt, None)

    def finish(self) -> None:
        """The final resolved scan, after the last round's maintenance."""
        _scan(self.run, self.table.path, "final-scan", self.prefix_want[-1])


WORKLOADS = {w.name: w for w in (SyncStream, ServeMixed)}
