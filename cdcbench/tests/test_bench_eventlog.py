"""The event-log parser on a tiny traced job: the canonicalizer UDF and
the latest-per-key collapse, run on a session with the event log on."""

import os
import time

import pytest

from cdcbench import eventlog, session

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def traced_job(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    log_dir = os.path.join(work, "eventlog")
    spark = session.start(ROOT, work, log_dir)
    from pyspark.sql import functions as F

    from airbyte_spark.functions.text import canonicalize_udf
    from airbyte_spark.operators.dedup import latest_per_key

    try:
        rows = [(f"c{i % 50}", i % 3, i, f"  text  {i} ") for i in range(600)]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, lsn long, text string")
        lo = time.time() * 1000
        top = latest_per_key(df, ["conv_id", "turn_idx"], ["lsn"])
        out = top.withColumn("text", canonicalize_udf(F.col("text"))).collect()
        hi = time.time() * 1000
    finally:
        session.stop(spark)
    return eventlog.event_log_files(log_dir), (lo, hi), len(out)


def test_parser_reads_jobs_tasks_and_task_metrics(traced_job):
    files, window, _ = traced_job
    assert files
    c = eventlog.read_counters(files, [window])
    assert c.jobs >= 1 and len(c.job_times) == c.jobs
    assert c.tasks >= 1
    assert c.executor_run_ms > 0 and c.executor_cpu_ns > 0
    assert c.shuffle_write_bytes > 0


def test_parser_reads_python_udf_and_collapse_metrics(traced_job):
    files, window, keys = traced_job
    c = eventlog.read_counters(files, [window])
    assert keys == 150
    assert c.python["udf_rows"] == keys
    assert c.python["udf_bytes_sent"] > 0
    assert c.collapse_rows_in == 600
    assert c.collapse_rows_out == keys


def test_parser_keeps_only_events_inside_the_windows(traced_job):
    files, (lo, hi), _ = traced_job
    c = eventlog.read_counters(files, [(hi + 1, hi + 2)])
    assert (c.jobs, c.tasks, c.python) == (0, 0, {})
