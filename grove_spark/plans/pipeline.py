"""The flagship end-to-end plan: parse -> enrich -> route -> aggregate.

This is the Spark lifecycle equivalent of the reference's whole
entrypoint (SURVEY §3.4): what Grove does with 50 threads, per-page HTTP
and row-at-a-time processors becomes ONE declarative DataFrame plan:

  scan sequences (watermark predicate pushed to parquet/Iceberg)
    -> seen-hash anti-join at the resume boundary (operators/dedup)
    -> parse of the raw line in Catalyst (plans/parse.parse_stage)
    -> broadcast enrich with the sources dim (connector/pointer_path/...)
    -> broadcast routing join to sinks dim (fan-out, salted repartition)
    -> partitioned write per descriptor + per-sink aggregate counts

Commit protocol (shared with config.run_fleet): ``operators/sinks.
write_run`` writes the run dir and reads its footer stats, and
``commit_keyed`` commits boundary hashes, pointers, metrics, data paths
and file stats per member in ONE commit_many — so fleet outputs carry
``file_stats`` too, and a fleet report's ``new_pointer`` is the
pointer the tick committed.

Scale notes (the 100 TB plan): the only wide operation is the final
groupBy on (descriptor) — low cardinality, partial-agg'd map-side. Both
joins are broadcast. The write shuffle is the salted repartition, sized
by ``n_partitions``. Everything else is embarrassingly parallel scan +
project inside whole-stage codegen.
"""

from __future__ import annotations

import os
import time
from collections import namedtuple
from dataclasses import dataclass
from typing import Dict, Optional, Sequence

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
from grove_spark.operators.sinks import write_partitioned_parquet, write_run
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
    with_metadata: bool = True,
    observe: bool = True,
    seen_state: DataFrame | None = None,
    repartition: bool = True,
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
        routed = salted_repartition(routed, n_partitions)
    return PipelineResult(routed=routed, counts=counts, observed=obs, deduped=deduped)  # type: ignore[arg-type]


# one state key a run commits: its values of the run's key columns
# (``()`` without key columns), pointer column, watermark and seen hashes
Member = namedtuple("Member", "key values pointer_col watermark seen")


def commit_keyed(
    state: RunState, run_id: str, counts_rows: list, deduped: DataFrame,
    members: Sequence[Member], key_cols: Sequence[str] = (),
    data_paths: Sequence[str] = (), file_stats: Optional[dict] = None,
    extras: Optional[dict] = None, now: Optional[float] = None,
    expected_version: Optional[int] = None,
) -> Dict[str, dict]:
    """The commit half of the resume protocol: run_incremental is its
    one-member case without key columns, run_fleet has one member per
    due connector keyed on (connector, identity, operation).

    ``counts_rows`` are the collected (*key_cols, descriptor, rows,
    sum_n_tok) counts; ``deduped`` is the stream the next run hashes.
    Per member, advance_seen folds its boundary_hashes rows (one job per
    distinct pointer column, none when nothing was counted) into the
    pointer and seen hashes; metrics are its per-sink counts plus
    ``extras``. ONE conditional commit_many publishes every member, and
    only members that wrote rows get ``data_paths`` and ``file_stats``.
    Returns {key: {per_sink, new_pointer}} for those members, where
    ``new_pointer`` is the pointer committed."""
    # looked up at call time, like the sink writer: a patched module
    # attribute (perfbench's spans) must see the boundary-hash jobs
    from grove_spark.operators.dedup import boundary_hashes

    key_cols = list(key_cols)

    def values_of(r):
        return tuple(r[k] for k in key_cols)

    per_sink: Dict[tuple, dict] = {}
    for r in counts_rows:
        per_sink.setdefault(values_of(r), {})[r["descriptor"]] = {
            "rows": r["rows"], "sum_n_tok": r["sum_n_tok"],
        }
    # boundary state for the NEXT run: hashes of the rows AT each key's
    # max pointer (native-type max — see boundary_hashes), one small job
    # over the persisted batch per pointer column; the pointer string is
    # Spark's own cast, so the next run's string round-trip is
    # self-consistent. boundary_hashes works per key, so a member keeps
    # the rows of its own pointer column's job only
    brows: Dict[tuple, list] = {}
    for pc in sorted({m.pointer_col for m in members}) if counts_rows else []:
        want = {m.values for m in members if m.pointer_col == pc}
        for r in boundary_hashes(deduped, ENTRY_HASH_COLS, pc, key_cols).collect():
            if values_of(r) in want:
                brows.setdefault(values_of(r), []).append(r)

    updates, report = [], {}
    for m in members:
        ptr, seen = advance_seen(brows.get(m.values), m.watermark, m.seen)
        sinks = per_sink.get(m.values)
        updates.append({
            "key": m.key, "pointer": ptr, "seen": seen,
            "metrics": {"per_sink": sinks or {}, **(extras or {})},
            "data_paths": list(data_paths) if sinks else [],
            "file_stats": file_stats if sinks else None,
        })
        if sinks:
            report[m.key] = {"per_sink": sinks, "new_pointer": ptr}
    state.commit_many(updates, run_id, now=now, expected_version=expected_version)
    return report


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
    data_paths, file_stats = [], None
    # skip empty collections entirely, like the reference does for empty
    # streams (grove/connectors/__init__.py:358-366) — a 0-row dynamic
    # partition write would publish a schemaless, unreadable directory
    if out_path and counts_rows:
        data_paths, file_stats = write_run(
            state, f"{out_path}/part-{run_id}",
            lambda d: write_partitioned_parquet(result.routed, d), pointer_col,
        )
    extras = {}
    if prune_metrics is not None:
        extras["scan"] = prune_metrics
    if result.observed is not None and counts_rows:
        # the Observation fired on counts.collect(); Observation.get
        # asserts on a 0-row observed plan, and an empty run has nothing
        # to observe anyway
        extras["observed"] = dict(result.observed.get)
    commit_keyed(
        state, run_id, counts_rows, result.deduped,
        [Member(key, (), pointer_col, watermark, seen)],
        data_paths=data_paths, file_stats=file_stats, extras=extras,
        expected_version=base_version,
    )
    result.deduped.unpersist()
    result.run_id = run_id
    return result
