"""StreamingQueryListener metrics (O2) — live telemetry vs committed lineage."""

import time

from airbyte_spark.feedgen import FeedSpec, generate_feed
from airbyte_spark.lake import LakeTable
from airbyte_spark.streaming import ReplayConfig, run_replay_stream
from airbyte_spark.streaming.metrics import attach, detach


def test_listener_counts_match_feed(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("mfeed")
    ev = generate_feed(str(feed), FeedSpec(n_convs=10, turns_per_conv=3,
                                           n_updates=40, n_deletes=5,
                                           n_segments=3, seed=9))
    lst = attach(spark, jsonl_path=str(tmp_path / "metrics.jsonl"))
    try:
        cfg = ReplayConfig(
            feed_dir=str(feed),
            table_path=str(tmp_path / "t"),
            checkpoint_dir=str(tmp_path / "ck"),
            app_id="metrics-test",
            max_files_per_trigger=1,
        )
        run_replay_stream(spark, cfg)
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline:
            t = lst.totals(name="metrics-test")
            if t["rows"] >= len(ev):
                break
            time.sleep(0.5)
        assert t["rows"] == len(ev)
        assert t["batches"] >= 3  # one per segment (maxFilesPerTrigger=1)
        # committed truth agrees with live telemetry
        lin = LakeTable(spark, cfg.table_path).lineage_df().toPandas()
        assert lin["rows_in"].sum() <= t["rows"]  # collapse <= raw input
        assert (tmp_path / "metrics.jsonl").exists()
        # O8: df.observe() metrics ran inside the stream's own jobs and
        # agree with both the feed and the committed lineage
        obs = lst.observed_totals("replay_feed", name="metrics-test")
        assert obs["rows_obs"] == len(ev)
        assert obs["text_bytes_obs"] > 0
        assert obs["max_lsn_obs"] == int(ev["_ab_cdc_lsn"].max())
        assert obs["max_lsn_obs"] == int(lin["max_lsn"].max())
    finally:
        detach(spark, lst)


def test_reused_listener_waits_for_each_query(spark, tmp_path):
    """One listener, two bounded (availableNow) runs: the first run's
    terminated event must not satisfy the wait on the second, and once
    the wait returns, the second run's final batch is in ``progress``."""
    import threading

    src = str(tmp_path / "src")
    spark.range(10).coalesce(1).write.parquet(src)
    gate = threading.Event()

    def sink(df, batch_id):
        gate.wait(30)
        df.count()

    lst = attach(spark)
    try:
        for run in range(2):
            gate.clear()
            q = (
                spark.readStream.schema("id long").parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / f"ck{run}"))
                .trigger(availableNow=True)
                .queryName(f"reuse-{run}")
                .start()
            )
            # the query is blocked inside its only batch: nothing may
            # report it terminated yet
            assert not lst.wait_terminated(0.5)
            gate.set()
            q.awaitTermination(60)
            assert lst.wait_terminated(30.0)
            assert lst.totals(name=f"reuse-{run}")["rows"] == 10
    finally:
        detach(spark, lst)
