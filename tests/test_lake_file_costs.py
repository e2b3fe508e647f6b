"""Per-file Spark costs of LakeTable reads and writes: scans of many files
are planned from the commit log with no listing job, and writes run one
task per core while still laying out one file per bucket."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from airbyte_spark.catalog import TableSchema
from airbyte_spark.feedgen import FeedSpec, generate_feed, oracle_final_state
from airbyte_spark.lake import LakeTable, merge_batch
from airbyte_spark.lake import table as lake_table
from airbyte_spark.lake.scd import bootstrap_scd_table, read_scd, scd_merge_batch
from airbyte_spark.schemas import CHANGE_STRUCT, CURSOR, ORDER_COLS, PK, TRANSCRIPT_STRUCT
from tests.util import assert_same

LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"
N_BUCKETS = 32
# ~230 conversations per half: every one of the 32 buckets is touched by
# both merges, so each table ends with 64 live files (> Spark's 32-path
# parallel-listing threshold)
SPEC = FeedSpec(n_convs=400, turns_per_conv=2, n_updates=100, n_deletes=10,
                n_segments=2, seed=5)
_groups = itertools.count()


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    ev = generate_feed(str(tmp_path_factory.mktemp("costfeed")), SPEC)
    return ev, np.array_split(np.arange(len(ev)), 2)


def _batch(spark, ev, idx):
    pdf = ev.iloc[idx][[f.name for f in CHANGE_STRUCT.fields]]
    return spark.createDataFrame(pdf, schema=CHANGE_STRUCT)


def _bucket_counts(df, n_buckets):
    b = F.pmod(F.hash(F.col("conv_id")), F.lit(n_buckets)).alias("b")
    return {r["b"]: r["count"] for r in df.groupBy(b).count().collect()}


def _run_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"lake-file-costs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_read_plans_many_files_without_a_spark_job(spark, tmp_path, feed):
    ev, halves = feed
    main = LakeTable.create(
        spark, str(tmp_path / "main"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=N_BUCKETS,
    )
    scd = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, cursor=CURSOR,
        n_buckets=N_BUCKETS,
    )
    for i, idx in enumerate(halves):
        st = merge_batch(main, _batch(spark, ev, idx), ORDER_COLS,
                         batch_id=i, strategy="mor")
        assert st.touched_buckets == N_BUCKETS
        scd_merge_batch(scd, _batch(spark, ev, idx), PK, cursor=CURSOR,
                        batch_id=i, strategy="mor")
    assert len(main.snapshot().files) > 32
    assert len(scd.snapshot().files) > 32

    before = spark.conf.get(LISTING)
    for read in (main.read, lambda: read_scd(scd)):
        df, jobs = _run_in_group(spark, read)
        assert jobs == [], "planning the scan started a Spark job"
        assert spark.conf.get(LISTING) == before
    assert_same(main.read(), oracle_final_state(ev))

    # a value the user set survives the lake's pin
    spark.conf.set(LISTING, "7")
    try:
        _, jobs = _run_in_group(spark, main.read)
        assert jobs == []
        assert spark.conf.get(LISTING) == "7"
    finally:
        spark.conf.set(LISTING, before)


def test_pinned_conf_restores_only_at_the_outermost_exit(spark):
    key = "spark.sql.files.maxRecordsPerFile"
    before = spark.conf.get(key)
    with lake_table._pinned_conf(spark, key, "11"):
        with lake_table._pinned_conf(spark, key, "22"):
            # the outer pin owns the value; nested pins share it
            assert spark.conf.get(key) == "11"
        assert spark.conf.get(key) == "11"
    assert spark.conf.get(key) == before
    assert lake_table._PINS == {}


def _write_task_count(spark, jobs):
    """Task count of the last job's result stage — the data-file write."""
    st = spark.sparkContext.statusTracker()
    return st.getStageInfo(max(st.getJobInfo(jobs[-1]).stageIds)).numTasks


def _added_files(table, version):
    return {p: m for p, m in table.snapshot().files.items() if m["v"] == version}


def test_writes_run_one_task_per_core_and_one_file_per_bucket(spark, tmp_path, feed):
    ev, halves = feed
    cores = spark.sparkContext.defaultParallelism
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=N_BUCKETS,
    )

    def check(version, jobs, want_counts):
        added = _added_files(table, version)
        assert sorted(m["bucket"] for m in added.values()) == sorted(want_counts)
        for m in added.values():
            assert m["rows"] == want_counts[m["bucket"]]
        assert _write_task_count(spark, jobs) <= cores

    for i, idx in enumerate(halves):
        batch = _batch(spark, ev, idx)
        st, jobs = _run_in_group(spark, lambda: merge_batch(
            table, batch, ORDER_COLS, batch_id=i, strategy="mor"))
        assert st.touched_buckets > cores
        check(st.version, jobs, _bucket_counts(batch.select(*PK).distinct(), N_BUCKETS))

    resolved = _bucket_counts(table.read(include_deleted=True), N_BUCKETS)
    v, jobs = _run_in_group(spark, table.compact)
    check(v, jobs, resolved)

    resolved64 = _bucket_counts(table.read(include_deleted=True), 64)
    v, jobs = _run_in_group(spark, lambda: table.rebucket(64))
    assert table.snapshot().n_buckets == 64
    check(v, jobs, resolved64)
    assert_same(table.read(), oracle_final_state(ev))
