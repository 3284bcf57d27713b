"""The flagship end-to-end plan: parse -> enrich -> route -> aggregate.

This is the Spark lifecycle equivalent of the reference's whole
entrypoint (SURVEY §3.4): what Grove does with 50 threads, per-page HTTP
and row-at-a-time processors becomes ONE declarative DataFrame plan:

  scan sequences (watermark predicate pushed to parquet/Iceberg)
    -> seen-hash anti-join at the resume boundary (operators/dedup)
    -> parse of the raw line in Catalyst (plans/parse.parse_stage)
    -> broadcast enrich with the sources dim (connector/pointer_path/...)
    -> optional processor chain (raw vs processed dual stream)
    -> broadcast routing join to sinks dim (fan-out, salted repartition)
    -> partitioned write per descriptor + per-sink aggregate counts

Scale notes (the 100 TB plan): the only wide operation is the final
groupBy on (descriptor) — low cardinality, partial-agg'd map-side. Both
joins are broadcast. The write shuffle is the salted repartition, sized
by ``n_partitions``. Everything else is embarrassingly parallel scan +
project inside whole-stage codegen.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from grove_spark.operators.dedup import (
    ENTRY_HASH_COLS,
    advance_seen,
    dedup_by_hash,
    dedup_by_pointer,
)
from grove_spark.operators.enrich import enrich
from grove_spark.operators.routing import route, salted_repartition, sink_counts
from grove_spark.operators.sinks import write_partitioned_parquet
from grove_spark.plans.metadata import grove_metadata
from grove_spark.plans.parse import DEFAULT_PATTERN, parse_stage
from grove_spark.session import local_frame
from grove_spark.sources.scans import incremental_scan
from grove_spark.state.runstate import RunState, reference


@dataclass
class PipelineResult:
    routed: DataFrame
    counts: DataFrame
    observed: dict
    run_id: str | None = None
    # the post-watermark, post-hash-dedup stream BEFORE routing fan-out:
    # boundary seen-hashes are computed here so they match what the next
    # run's dedup_by_hash sees on its input
    deduped: DataFrame | None = None


def build_pipeline(
    sequences: DataFrame,
    sources_dim: DataFrame,
    sinks_dim: DataFrame,
    pattern: str = DEFAULT_PATTERN,
    watermark: str | None = None,
    pointer_col: str = "event_time",
    n_partitions: int = 32,
    n_salt: int = 8,
    with_metadata: bool = True,
    observe: bool = True,
    seen_state: DataFrame | None = None,
    repartition: bool = True,
    processed_chain: list | None = None,
) -> PipelineResult:
    """Assemble the full plan lazily; nothing executes here."""
    df = sequences
    if watermark is not None:
        # incremental scan: exact predicate, pushed down to the file scan.
        # With a seen-state the predicate is INCLUSIVE (>=) and the
        # anti-join below removes the already-emitted boundary rows —
        # late rows sharing the committed pointer are kept, not dropped
        # (exactly-once at the boundary, reference :627-671)
        df = dedup_by_pointer(
            df, pointer_col, watermark, inclusive=seen_state is not None,
        )
    if seen_state is not None:
        # D1 content-hash dedup against the previous run's boundary state
        # (the reference hashes every entry on every save() and drops
        # cache hits, grove/connectors/__init__.py:403,627-671). The seen
        # table is tiny by construction -> broadcast anti-join; the md5
        # of canonical JSON per row is the dominant CPU cost, there is
        # NO shuffle.
        df = dedup_by_hash(df, seen_state, ENTRY_HASH_COLS, pointer_col)
    deduped = df  # boundary-hash source: same rows/columns the next run hashes
    if "raw" in df.columns:
        df = parse_stage(df, "raw", pattern)
    df = enrich(df, sources_dim, on="source")
    if with_metadata:
        df = grove_metadata(
            df,
            pointer=F.col(pointer_col).cast("string"),
            collection_time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
    if processed_chain:
        # raw-vs-processed dual stream (OutputStream.raw/processed,
        # grove/models.py:62-70): descriptors subscribed to "processed"
        # receive the chain's output — which may change cardinality
        # (split_path) — so the fan-out is a union of two routing joins
        # over one shared (persisted upstream by the caller) scan.
        from grove_spark.operators.processors import apply_chain

        raw_routed = route(
            df, sinks_dim.where(F.col("stream") != "processed"),
            connector_col="connector", raw_col="tokens",
        )
        processed_df = apply_chain(df, processed_chain)
        proc_routed = route(
            processed_df, sinks_dim.where(F.col("stream") == "processed"),
            connector_col="connector", raw_col="tokens",
        )
        routed = raw_routed.unionByName(proc_routed, allowMissingColumns=True)
    else:
        routed = route(df, sinks_dim, connector_col="connector", raw_col="tokens")
    # Lean output projection BEFORE the routing shuffle: the sink schema
    # is (doc_id, routed_tokens, n_tok, source, connector, identity,
    # descriptor, sink_kind, event_time, parsed?, _grove?). Dropping the
    # duplicate raw token array and the raw line here halves shuffle and
    # sink bytes — at 100 TB that's the difference between a write-bound
    # and a scan-bound job.
    keep = [c for c in [
        "doc_id", "routed_tokens", "n_tok", "source", "connector",
        "identity", "descriptor", "sink_kind", "stream", "event_time",
        "parsed", "_grove", "pointer_path", "log_order",
    ] if c in routed.columns]
    routed = routed.select(*keep)
    obs = None
    if observe:
        # per-run processed/failed telemetry (the reference's _saved
        # counters + per-row error accounting, grove/connectors/
        # __init__.py:144-148): a row whose raw line failed the grok
        # pattern counts as failed
        metrics = [
            F.count(F.lit(1)).alias("processed"),
            F.sum("n_tok").alias("n_tok_total"),
        ]
        if "parsed" in routed.columns:
            pfields = [f.name for f in routed.schema["parsed"].dataType.fields]
            probe = pfields[0] if "doc" not in pfields else "doc"
            metrics.append(
                F.sum(
                    F.when(F.col(f"parsed.{probe}") == "", 1).otherwise(0)
                ).alias("failed")
            )
        obs = Observation("grove_pipeline")
        routed = routed.observe(obs, *metrics)
    # telemetry aggregates BEFORE the routing shuffle: it needs only
    # (descriptor, n_tok), so the token arrays never enter this branch's
    # shuffle; the salted repartition exists solely for the fan-out WRITE
    counts = sink_counts(routed)
    if repartition:
        routed = salted_repartition(routed, n_partitions, n_salt=n_salt)
    return PipelineResult(routed=routed, counts=counts, observed=obs, deduped=deduped)  # type: ignore[arg-type]


def run_incremental(
    spark: SparkSession,
    sequences_path: str,
    sources_dim: DataFrame,
    sinks_dim: DataFrame,
    state: RunState,
    out_path: Optional[str] = None,
    connector_key: str = "fleet",
    identity: str = "default",
    pointer_col: str = "event_time",
    **plan_kw,
) -> PipelineResult:
    """One resumable run: read watermark + boundary seen-hashes from
    run-state, scan with a pruned INCLUSIVE incremental predicate, build
    the plan with a seen-hash anti-join, write sinks, then commit
    watermark + new boundary hashes + metrics + data lineage in one
    manifest.

    The inclusive predicate + anti-join pair is what makes the boundary
    exactly-once: rows arriving later with event_time EQUAL to the
    committed pointer are ingested (a strict > would silently drop them),
    while rows already emitted at that pointer are removed by their
    content hash — the reference's deduplicate_by_hash contract
    (grove/connectors/__init__.py:627-671) without its dupe window.
    """
    key = reference(connector_key, identity)
    base_version = state.version()
    watermark = state.pointer(key)
    seen = state.seen_hashes(key)
    run_id = state.new_run_id()

    seen_df = None
    if watermark is not None and seen:
        seen_df = local_frame(
            spark,
            [(p, h) for p, hashes in seen.items() for h in hashes],
            "pointer string, hash string",
        )
    # file-level pruning (S6's Iceberg analog) with footer stats cached
    # in the state dir, so a resumed run over an append-only source pays
    # one footer read per NEW file only. INCLUSIVE (>=) with a seen-state:
    # the boundary rows are re-read for the seen-hash anti-join.
    sequences = incremental_scan(
        spark, sequences_path, pointer_col, watermark,
        inclusive=seen_df is not None, prune=True,
        stats_cache=os.path.join(state.root, "filestats"),
    )
    prune_metrics = getattr(sequences, "_grove_prune", None)
    result = build_pipeline(
        sequences, sources_dim, sinks_dim,
        pointer_col=pointer_col, seen_state=seen_df, **plan_kw,
    )

    # several actions follow (counts, write, boundary max + join) and ALL
    # of them share the deduped subtree — persist THAT, not the routed
    # frame: routed is post-salted-repartition while counts aggregates the
    # pre-repartition lineage, so persisting routed left counts AND the
    # write each re-running the whole scan→parse→enrich→route pipeline
    # (three source scans per run). With the cache on deduped every
    # downstream action re-derives only the narrow in-memory
    # parse/enrich/route projections; the source is scanned ONCE.
    result.deduped.persist()
    counts_rows = result.counts.collect()  # tiny: one row per descriptor
    data_paths = []
    # skip empty collections entirely, like the reference does for empty
    # streams (grove/connectors/__init__.py:358-366) — a 0-row dynamic
    # partition write would publish a schemaless, unreadable directory
    out_stats = None
    if out_path and counts_rows:
        run_dir = f"{out_path}/part-{run_id}"
        state.register_pending(run_dir)  # orphan GC must not race the write
        write_partitioned_parquet(result.routed, run_dir)
        data_paths.append(run_dir)
        # writer-side stats collection: one footer read per file just
        # written, recorded IN the commit — downstream manifest_scan
        # consumers prune these outputs without re-opening footers
        from grove_spark.sources.file_stats import (
            _list_parquet,
            parquet_file_stats,
        )

        out_stats = parquet_file_stats(_list_parquet(run_dir), pointer_col)
    # boundary state for the NEXT run: hashes of rows AT the new max
    # pointer (native-type max — see boundary_hashes). One small job over
    # the predicate-pruned batch; the pointer string is Spark's own cast,
    # so the next run's string round-trip is self-consistent.
    from grove_spark.operators.dedup import boundary_hashes

    brows = (
        boundary_hashes(result.deduped, ENTRY_HASH_COLS, pointer_col).collect()
        if counts_rows else []
    )
    new_ptr, new_seen = advance_seen(brows, watermark, seen)
    metrics = {
        "per_sink": {r["descriptor"]: {"rows": r["rows"], "sum_n_tok": r["sum_n_tok"]} for r in counts_rows},
    }
    if prune_metrics is not None:
        metrics["scan"] = prune_metrics
    if result.observed is not None and counts_rows:
        # Observation.get asserts on a 0-row observed plan; an empty run
        # has nothing to observe anyway
        metrics["observed"] = {k: v for k, v in result.observed.get.items()}

    state.commit(
        key, run_id,
        pointer=new_ptr, seen=new_seen, metrics=metrics, data_paths=data_paths,
        expected_version=base_version, file_stats=out_stats,
    )
    result.deduped.unpersist()
    result.run_id = run_id
    return result
