"""Structured Streaming variant: same transforms, micro-batch execution,
checkpointed resume (availableNow triggers keep tests deterministic)."""

import os

import pytest
from pyspark.sql import functions as F

from grove_spark.fixtures.generator import write_fixture
from grove_spark.streaming.stream import (
    build_stream,
    read_sequence_stream,
    start_to_parquet,
    windowed_sink_counts,
)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_fixture")
    return write_fixture(str(d), 300)


def test_stream_pipeline_counts_match_batch(spark, fixture_dir, tmp_path):
    batch_df = spark.read.parquet(fixture_dir["sequences"])
    sources = spark.read.parquet(fixture_dir["sources"])
    sinks = spark.read.parquet(fixture_dir["sinks"])

    stream = read_sequence_stream(spark, fixture_dir["sequences"], batch_df.schema)
    assert stream.isStreaming
    routed = build_stream(stream, sources, sinks, dedup=False)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_to_parquet(
        routed.select("doc_id", "descriptor", "routed_tokens", "event_time"),
        out, ckpt,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    # batch reference
    from grove_spark.plans.pipeline import build_pipeline

    res = build_pipeline(batch_df, sources, sinks, n_partitions=4, with_metadata=False)
    want = {(r["descriptor"], r["rows"]) for r in res.counts.collect()}
    got_counts = {
        (r["descriptor"], r["count"])
        for r in got.groupBy("descriptor").count().collect()
    }
    assert got_counts == want


def test_stream_resume_no_duplicates(spark, fixture_dir, tmp_path):
    """Restarting from the checkpoint reprocesses nothing (T1 pointer
    commit == checkpoint offsets)."""
    batch_df = spark.read.parquet(fixture_dir["sequences"])
    sources = spark.read.parquet(fixture_dir["sources"])
    sinks = spark.read.parquet(fixture_dir["sinks"])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        stream = read_sequence_stream(spark, fixture_dir["sequences"], batch_df.schema)
        routed = build_stream(stream, sources, sinks, dedup=False)
        q = start_to_parquet(
            routed.select("doc_id", "descriptor", "event_time"), out, ckpt
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # same checkpoint: availableNow finds nothing new
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0


def test_windowed_counts_is_valid_streaming_agg(spark, fixture_dir):
    batch_df = spark.read.parquet(fixture_dir["sequences"])
    sources = spark.read.parquet(fixture_dir["sources"])
    sinks = spark.read.parquet(fixture_dir["sinks"])
    stream = read_sequence_stream(spark, fixture_dir["sequences"], batch_df.schema)
    routed = build_stream(stream, sources, sinks, dedup=True, delay="10 minutes")
    agg = windowed_sink_counts(routed)
    # plan must be a legal streaming aggregation (analysis would throw here)
    assert agg.isStreaming


def test_manifest_sink_exactly_once(spark, fixture_dir, tmp_path):
    """Streaming T1: each micro-batch publishes data + pointer + counts
    in one atomic manifest commit; replayed epochs and checkpoint
    restarts publish nothing twice."""
    from grove_spark.state.runstate import RunState
    from grove_spark.streaming.stream import manifest_sink

    batch_df = spark.read.parquet(fixture_dir["sequences"])
    sources = spark.read.parquet(fixture_dir["sources"])
    sinks = spark.read.parquet(fixture_dir["sinks"])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    state = RunState(str(tmp_path / "state"))

    def run_once():
        stream = read_sequence_stream(spark, fixture_dir["sequences"], batch_df.schema)
        routed = build_stream(stream, sources, sinks, dedup=False).select(
            "doc_id", "descriptor", "connector", "routed_tokens", "event_time"
        )
        q = start_to_parquet(routed, out, ckpt, foreach_batch=manifest_sink(state, out, key="stream.test"))
        q.awaitTermination(180)

    run_once()
    total = sum(
        spark.read.parquet(p).count() for p in state.committed_paths()
    )
    from grove_spark.plans.pipeline import build_pipeline

    res = build_pipeline(batch_df, sources, sinks, n_partitions=4, with_metadata=False)
    want = sum(r["rows"] for r in res.counts.collect())
    assert total == want
    assert state.pointer("stream.test") is not None
    n_commits = len(state.committed_paths())

    # restart from the same checkpoint with no new data: nothing re-published
    run_once()
    assert len(state.committed_paths()) == n_commits
    assert sum(spark.read.parquet(p).count() for p in state.committed_paths()) == want

    # simulate a REPLAYED epoch (crash after commit, before checkpoint
    # advance): the sink must be idempotent on the epoch id
    replay_df = spark.read.parquet(state.committed_paths()[0])
    manifest_sink(state, out, key="stream.test")(replay_df, 0)
    assert len(state.committed_paths()) == n_commits


def test_manifest_sink_outputs_are_prunable(spark, fixture_dir, tmp_path):
    """Each micro-batch commits the event_time footer stats of the files
    it wrote: a manifest_scan at batch 0's pointer keeps only batch 1's
    files and returns the same rows as the unpruned read."""
    from grove_spark.operators.dedup import watermark_literal
    from grove_spark.sources.file_stats import _list_parquet
    from grove_spark.sources.scans import manifest_scan
    from grove_spark.state.runstate import RunState
    from grove_spark.streaming.stream import manifest_sink

    rows = spark.read.parquet(fixture_dir["sequences"]).select(
        "doc_id", F.lit("logs").alias("descriptor"),
        F.col("source").alias("connector"), "event_time",
    )
    cut = F.lit("2024-01-01 00:02:30").cast("timestamp")  # mid-fixture
    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    sink = manifest_sink(state, out, key="stream.k")
    sink(rows.where(F.col("event_time") < cut), 0)
    wm = state.pointer("stream.k")
    sink(rows.where(F.col("event_time") >= cut), 1)

    ms = manifest_scan(spark, state, pointer_col="event_time", watermark=wm)
    n_b1 = len(_list_parquet(f"{out}/part-stream.k-b1"))
    n_all = sum(len(_list_parquet(p)) for p in state.committed_paths())
    assert ms._grove_prune == {"files_kept": n_b1, "files_total": n_all}
    assert 0 < n_b1 < n_all
    full = None
    for p in state.committed_paths():
        d = spark.read.option("basePath", p).parquet(p)
        full = d if full is None else full.unionByName(d, allowMissingColumns=True)
    full = full.where(F.col("event_time") > watermark_literal(full, "event_time", wm))
    got = sorted(r["doc_id"] for r in ms.select("doc_id").collect())
    assert got and got == sorted(r["doc_id"] for r in full.select("doc_id").collect())


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark drops
    re-deliveries of the same event id arriving within the watermark
    delay — the streaming twin of D1's batch content-hash dedup, with
    state that expires instead of growing forever."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i % 60:02d}:00") for i in range(100)],
        "event_id bigint, ts_s string",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    # write the batch TWICE: every event is delivered twice
    base.write.mode("append").parquet(src)
    base.write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = "stream_dedup_wm"
    q = (
        stream.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = spark.table(name)
    assert got.count() == 100
    assert got.select("event_id").distinct().count() == 100


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks and an event-time
    interval condition (the enrich-by-recent-context pattern): clicks
    join impressions within [0, 10 min]. availableNow drains both sides;
    the batch twin is the oracle."""
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    imps = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i % 50:02d}:00") for i in range(100)],
        "ad_id bigint, ts_s string",
    ).selectExpr("ad_id", "CAST(ts_s AS TIMESTAMP) AS imp_ts")
    clicks = spark.createDataFrame(
        [(i, f"2024-01-01 00:{(i % 50) + 5:02d}:30") for i in range(0, 100, 3)],
        "ad_id bigint, ts_s string",
    ).selectExpr("ad_id", "CAST(ts_s AS TIMESTAMP) AS clk_ts")
    imps.write.parquet(imp_dir)
    clicks.write.parquet(clk_dir)

    def joined(left, right):
        return left.join(
            right,
            F.expr(
                "i.ad_id = c.ad_id AND clk_ts >= imp_ts "
                "AND clk_ts <= imp_ts + INTERVAL 10 MINUTES"
            ),
        )

    batch = joined(imps.alias("i"), clicks.alias("c")).count()

    s_imp = (
        spark.readStream.schema("ad_id bigint, imp_ts timestamp")
        .parquet(imp_dir).withWatermark("imp_ts", "1 hour").alias("i")
    )
    s_clk = (
        spark.readStream.schema("ad_id bigint, clk_ts timestamp")
        .parquet(clk_dir).withWatermark("clk_ts", "1 hour").alias("c")
    )
    q = (
        joined(s_imp, s_clk)
        .writeStream.format("memory").queryName("ss_join")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert spark.table("ss_join").count() == batch > 0

def test_merge_sink_streaming_upsert(spark, tmp_path):
    """Streaming CoW upsert (streaming/stream.py merge_sink): a stream
    of corrections converges the committed store instead of appending
    duplicates; intra-batch key collisions resolve via latest_by;
    replayed epochs publish nothing twice."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F
    from test_merge import SCHEMA, _rows, _store

    from grove_spark.sources.scans import manifest_scan
    from grove_spark.streaming.stream import merge_sink, start_to_parquet

    state, out = _store(spark, tmp_path)  # 200 rows across 2 range dirs
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)

    t0 = dt.datetime(2024, 1, 1)
    # one batch: two corrections for key 150 (latest_by must keep the
    # later), one for 160, one brand-new key 999
    corrections = [
        (150, "stale_patch", t0 + dt.timedelta(hours=1), "logs", "gate"),
        (150, "fresh_patch", t0 + dt.timedelta(hours=2), "logs", "gate"),
        (160, "patched", t0, "logs", "gate"),
        (999, "inserted", t0, "logs", "gate"),
    ]
    spark.createDataFrame(corrections, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    sink = merge_sink(
        state, out, ["event_id"], key="stream.fix", latest_by="event_time"
    )

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = start_to_parquet(stream, out, ckpt, foreach_batch=sink)
        q.awaitTermination(180)

    run_once()
    got = manifest_scan(spark, state, pointer_col="event_time")
    assert got.count() == 201  # 200 - 2 replaced + 2 replacements + 1 insert
    by_id = {
        r["event_id"]: r["event_type"]
        for r in got.where(F.col("event_id").isin(150, 160, 999)).collect()
    }
    assert by_id == {150: "fresh_patch", 160: "patched", 999: "inserted"}
    n_versions = state.version()

    # restart on the same checkpoint with no new data: nothing published
    run_once()
    assert state.version() == n_versions

    # replayed epoch (crash after commit, before checkpoint advance):
    # the deterministic run id short-circuits
    sink(spark.createDataFrame(corrections, SCHEMA), 0)
    assert state.version() == n_versions

    # a second file = a new epoch: supersedes the earlier correction
    spark.createDataFrame(
        [(150, "final", t0 + dt.timedelta(hours=3), "logs", "gate")], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = manifest_scan(spark, state, pointer_col="event_time")
    assert got.count() == 201
    assert got.where(F.col("event_id") == 150).first()["event_type"] == "final"
