"""Structured Streaming variant of the pipeline (SURVEY §2.6).

The reference's daemon mode (grove/entrypoints/local_daemon.py:49-197)
polls vendor APIs every `frequency` seconds per connector. The streaming
equivalent: ``readStream`` over the landed sequence files (or a rate /
Kafka source in production), the SAME transform chain (the batch plan
functions are reused verbatim — that's the point of declaring them as
DataFrame -> DataFrame), then:

* ``withWatermark(event_time, delay)`` — the consistency-delay /
  late-data handling of T6 (GitHub `delay`, BigQuery 180 s ceiling);
* ``dropDuplicatesWithinWatermark`` — the streaming form of D1
  content-hash dedup with bounded state (exactly the reference's
  "hashes only for the newest pointer" bound, enforced by the engine);
* windowed per-sink counts (O7 telemetry as a live aggregate);
* ``foreachBatch`` sinks with the checkpoint directory providing the
  pointer-commit semantics (T1) — Spark's checkpoint IS the pointer
  cache, committed atomically with the batch.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grove_spark.functions.hashing import entry_hash
from grove_spark.operators.dedup import ENTRY_HASH_COLS
from grove_spark.operators.enrich import enrich
from grove_spark.operators.routing import route
from grove_spark.plans.parse import DEFAULT_PATTERN, parse_stage


def read_sequence_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-based micro-batch source over the landing directory (each
    arriving parquet file ≈ one vendor API page)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def build_stream(
    stream: DataFrame,
    sources_dim: DataFrame,
    sinks_dim: DataFrame,
    delay: str = "30 seconds",
    dedup: bool = True,
    pattern: str = DEFAULT_PATTERN,
) -> DataFrame:
    """The same parse->enrich->route chain, streaming-safe."""
    # watermarks require TIMESTAMP (tz-aware); parquet NTZ cols cast
    # through the session zone (UTC)
    df = stream.withColumn("event_time", F.col("event_time").cast("timestamp"))
    df = df.withWatermark("event_time", delay)
    if dedup:
        df = df.withColumn("__h", entry_hash(ENTRY_HASH_COLS))
        df = df.dropDuplicatesWithinWatermark(["__h"]).drop("__h")
    if "raw" in df.columns:
        df = parse_stage(df, "raw", pattern)
    df = enrich(df, sources_dim, on="source")
    return route(df, sinks_dim, connector_col="connector", raw_col="tokens")


def windowed_sink_counts(routed: DataFrame, window: str = "1 minute") -> DataFrame:
    """Live O7 telemetry: per-sink counts over tumbling event-time windows."""
    return routed.groupBy(
        F.window("event_time", window), F.col("descriptor")
    ).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.size("routed_tokens")).alias("sum_n_tok"),
    )


def manifest_sink(state, out_path: str, key: str = "stream.default"):
    """foreachBatch sink with EXACTLY-ONCE manifest commits: each
    micro-batch writes its own ``part-<key>-b<epoch>`` directory and
    publishes {data path, new pointer, per-sink counts} in one atomic
    RunState commit (T1 — the streaming twin of run_incremental's
    protocol).

    Replay-safe two ways: Spark re-runs a failed batch under the SAME
    epoch id, and (a) an already-committed epoch is skipped up front,
    (b) a crash between the data write and the manifest publish leaves
    an orphan directory readers never see (committed_paths). Together:
    at-least-once execution, exactly-once effect."""
    from pyspark.sql import functions as F  # noqa: F811 (executor pickle)

    from grove_spark.operators.sinks import write_partitioned_parquet

    def submit(df: DataFrame, epoch_id: int) -> None:
        run_id = f"{key}-b{epoch_id}"
        if state.is_committed(run_id):
            return  # replayed batch: effect already published
        # native-type max (cast-to-string max mis-orders non-timestamp
        # pointers); stringified only at the manifest boundary
        counts = df.groupBy("descriptor").agg(
            F.count(F.lit(1)).alias("rows"),
            F.max(F.col("event_time")).alias("ptr"),
        ).collect()
        if not counts:
            return  # empty batch: nothing to publish
        run_dir = f"{out_path}/part-{run_id}"
        state.register_pending(run_dir)  # orphan GC must not race the write
        write_partitioned_parquet(df, run_dir)
        ptrs = [r["ptr"] for r in counts if r["ptr"] is not None]
        state.commit(
            key, run_id,
            # all-null event times: keep the previous pointer (commit
            # with pointer=None preserves it)
            pointer=str(max(ptrs)) if ptrs else None,
            metrics={"per_sink": {r["descriptor"]: {"rows": r["rows"]} for r in counts}},
            data_paths=[run_dir],
        )

    return submit


def merge_sink(
    state,
    out_path: str,
    key_cols,
    key: str = "stream.merge",
    when_matched: str = "update",
    latest_by: Optional[str] = None,
    **merge_kwargs,
):
    """foreachBatch sink that CoW-MERGES each micro-batch into the
    committed store (operators/merge.py) — the streaming half of the
    correction/supersession story: a stream of re-delivered rows keeps
    the store converged instead of appending duplicates.

    Exactly-once the same two ways as manifest_sink: a replayed epoch's
    deterministic run id is recognized up front (is_committed), and a
    crash between the rewrite and the manifest publish leaves an orphan
    dir readers never see. A retried batch re-merges against the FRESH
    snapshot (merge_into re-reads the version), so at-least-once
    execution still lands exactly-once effect. A concurrent
    non-streaming committer mid-merge surfaces as ConcurrentCommitError
    and fails the batch loudly — Spark's retry then re-merges on the
    new snapshot.

    ``latest_by`` resolves intra-batch key collisions BEFORE the merge
    (merge_into requires unique source keys): keep each key's row with
    the greatest value of that column (one ``max_by`` aggregate —
    map-side combined, shuffles one row per distinct key). Without it,
    a batch carrying two rows for one key fails with the loud
    duplicate-key contract."""
    from pyspark.sql import functions as F  # noqa: F811 (executor pickle)

    from grove_spark.operators.merge import merge_into

    key_cols = list(key_cols)

    def submit(df: DataFrame, epoch_id: int) -> None:
        run_id = f"{key}-b{epoch_id}"
        if state.is_committed(run_id):
            return  # replayed batch: effect already published
        if latest_by is not None:
            others = [c for c in df.columns if c not in key_cols]
            packed = df.groupBy(*key_cols).agg(
                F.max_by(F.struct(*others), F.col(latest_by)).alias("__r")
            )
            df = packed.select(
                *key_cols, *[F.col(f"__r.{c}").alias(c) for c in others]
            )
        merge_into(
            df.sparkSession, state, out_path, df, key_cols,
            when_matched=when_matched, connector_key=key,
            run_id=run_id, **merge_kwargs,
        )

    return submit


def start_to_parquet(
    routed: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger_once: bool = True,
    foreach_batch: Optional[Callable] = None,
):
    """Start the sink; the checkpoint dir carries pointer-commit lineage
    (T1: offsets+state committed atomically per micro-batch)."""
    writer = routed.writeStream.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    if foreach_batch is not None:
        return writer.foreachBatch(foreach_batch).start()
    return writer.format("parquet").option("path", out_path).start()
