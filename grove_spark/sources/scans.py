"""Incremental sources (SURVEY §2.1 S1-S10).

Every one of the reference's 44 paginated-API connectors reduces, in a
set-oriented engine, to ONE primitive: a scan with an exact incremental
predicate derived from run-state, plus per-source quirks expressed as
plan options. The paging loops, Link-header cursors, keyset pagination
and lookback windows (okta/api.py:47-85, google/bigquery_query.py:262-359)
are all obsolete: the storage layer prunes files/partitions from the
watermark predicate and Spark scans the remainder in parallel.

Covered source shapes:
* parquet/Iceberg-style table scan with watermark (S1/S3/S4/S6)
* time-window scan with consistency delay (S2: `end = now - delay`)
* CSV log-file scan (S7: SalesForce event logs arrive as CSV)
* JSON config scan -> broadcast dimension (S10)
* generator/heartbeat source (S8: spark.range)
* JDBC pull scan (S5) — plan builder provided, exercised only when a
  JDBC driver is on the classpath (none in this sandbox)
"""

from __future__ import annotations

import datetime as dt
import os as _os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def incremental_scan(
    spark: SparkSession,
    path: str,
    pointer_col: str,
    watermark: Optional[str] = None,
    delay_s: int = 0,
    now: Optional[dt.datetime] = None,
    fmt: str = "parquet",
    lookback_s: int = 0,
    prune: bool = False,
    stats_cache=None,
    merge_schema: bool = False,
    inclusive: bool = False,
) -> DataFrame:
    """Watermarked incremental scan with optional consistency delay,
    lookback re-scan and file-level pruning.

    ``watermark`` (exclusive lower bound) comes from run-state;
    ``inclusive=True`` re-reads the rows AT it, for a caller that drops
    the already-emitted ones with a seen-hash anti-join (dedup_by_hash —
    the boundary half of the resume protocol). ``delay_s``
    imposes the reference's late-data ceiling ``end = now - delay``
    (github/audit_log.py:121, bigquery_query.py:106). ``lookback_s``
    widens the lower bound to ``watermark - lookback`` (the BigQuery
    ``late_buffer_days`` re-scan, bigquery_query.py:241-260) — rows in
    the overlap are re-read and must be deduplicated downstream by
    content hash (dedup_by_hash with window-wide seen state). All
    predicates push down to the file scan (PushedFilters).

    ``prune=True`` (parquet only) additionally skips WHOLE FILES whose
    footer min/max cannot intersect the watermark/ceiling window, before
    the reader ever lists them — the Iceberg manifest-pruning analog
    (sources/file_stats.py). ``stats_cache`` (a FileStatsCache or a
    directory path) keeps footer reads incremental across runs: only
    new/changed files are opened. The row predicate stays on the scan —
    pruning changes cost, never results. The pruning decision is
    surfaced on the returned frame as ``df._grove_prune =
    {files_kept, files_total}``.

    ``merge_schema=True`` handles SCHEMA EVOLUTION in append-only log
    dirs (a connector that starts emitting a new field mid-stream):
    parquet footers are unioned so every file's columns appear, older
    files reading the new columns as null. Off by default — the merge
    pass reads every footer, which is exactly the cost file pruning
    exists to avoid; a pruned scan merges only the KEPT files'
    schemas."""
    prune_info = None
    ceiling_py = None
    if delay_s > 0:
        _now = now or dt.datetime.now(dt.timezone.utc)
        ceiling_py = (_now - dt.timedelta(seconds=delay_s)).replace(tzinfo=None)
    if prune and fmt == "parquet" and (watermark is not None or ceiling_py is not None):
        from grove_spark.sources.file_stats import (
            FileStatsCache,
            _to_comparable,
            prune_files,
        )

        if isinstance(stats_cache, str):
            stats_cache = FileStatsCache(stats_cache)
        if stats_cache is not None:
            stats = stats_cache.stats_for(path, pointer_col)
        else:
            from grove_spark.sources.file_stats import (
                _list_parquet,
                parquet_file_stats,
            )

            stats = parquet_file_stats(_list_parquet(path), pointer_col)
        kind = next((e.get("kind") for e in stats.values()), "str")
        wm = watermark
        if wm is not None and lookback_s > 0:
            if kind == "num":
                wm = _to_comparable(wm, "num") - lookback_s
            elif kind == "ts":
                wm = _to_comparable(wm, "ts") - dt.timedelta(seconds=lookback_s)
            else:
                # STRING pointer stats cannot be shifted by an interval
                # without knowing their exact format; pruning with the
                # unadjusted watermark would drop files the lookback
                # re-scan must read. Conservative: no watermark pruning
                # (the row predicate still applies — cost, not results)
                wm = None
        # the delay ceiling only translates to file stats for native
        # timestamp columns; anything else skips ceiling pruning rather
        # than comparing a datetime against numeric/lexicographic stats
        ceiling_arg = (
            ceiling_py.isoformat(sep=" ")
            if (ceiling_py is not None and kind == "ts") else None
        )
        kept, total = prune_files(
            path, pointer_col, wm,
            inclusive=inclusive,
            ceiling=ceiling_arg,
            stats=stats,
        )
        prune_info = {"files_kept": len(kept), "files_total": total}
        reader = spark.read.option("basePath", path)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if kept:
            df = reader.parquet(*kept)
        else:
            # schema-stable empty frame: the lazy reader still provides
            # the schema (merged, when requested — otherwise an evolved
            # column present only in newer files would vanish from the
            # empty batch), the always-false predicate reads no data
            df = reader.parquet(path).where(F.lit(False))
        df = _apply_window(
            df, pointer_col, watermark, lookback_s, ceiling_py, inclusive
        )
        df._grove_prune = prune_info  # type: ignore[attr-defined]
        return df

    reader = spark.read
    if merge_schema and fmt == "parquet":
        reader = reader.option("mergeSchema", "true")
    df = reader.format(fmt).load(path)
    return _apply_window(
        df, pointer_col, watermark, lookback_s, ceiling_py, inclusive
    )


def _apply_window(
    df: DataFrame,
    pointer_col: str,
    watermark: Optional[str],
    lookback_s: int,
    ceiling: Optional[dt.datetime],
    inclusive: bool,
) -> DataFrame:
    """The row-level incremental predicates (always applied — file
    pruning is coarse and must never change results)."""
    from grove_spark.operators.dedup import watermark_literal

    if watermark is not None:
        # literal cast to the column's native type: pushdown survives and
        # numeric sequence pointers order numerically, not as strings
        lo = watermark_literal(df, pointer_col, watermark)
        if lookback_s > 0:
            from pyspark.sql import types as T

            if isinstance(df.schema[pointer_col].dataType, T.NumericType):
                # sequence-kind pointers: lookback is in pointer units
                lo = lo - F.lit(lookback_s)
            else:
                lo = lo - F.expr(f"INTERVAL {lookback_s} SECONDS")
        col = F.col(pointer_col)
        df = df.where(col >= lo if inclusive else col > lo)
    if ceiling is not None:
        from pyspark.sql import types as T

        if isinstance(df.schema[pointer_col].dataType, T.NumericType):
            # a wall-clock consistency delay has no meaning against a
            # sequence-kind pointer — comparing the timestamp literal
            # would be an ANSI cast error at runtime anyway; fail at
            # plan-build time with the actual problem
            raise ValueError(
                f"delay_s needs a time-typed pointer column; "
                f"{pointer_col!r} is numeric (sequence-kind pointers "
                "have no consistency-delay semantics)"
            )
        df = df.where(
            F.col(pointer_col) <= F.lit(ceiling.strftime("%Y-%m-%d %H:%M:%S.%f"))
        )
    return df


def csv_log_scan(
    spark: SparkSession,
    path: str,
    pointer_col: str,
    watermark: Optional[str] = None,
    header: bool = True,
    schema=None,
) -> DataFrame:
    """CSV event-log scan (S7 — sf/event_log.py:190-200 dict-ifies rows;
    the pointer filter is a real predicate instead of a per-row
    comparison). Pass an explicit ``schema`` in production: inference
    reads the data TWICE (one full pass just to type the columns)."""
    from grove_spark.operators.dedup import watermark_literal

    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if watermark is not None:
        df = df.where(F.col(pointer_col) > watermark_literal(df, pointer_col, watermark))
    return df


def ndjson_scan(
    spark: SparkSession,
    path: str,
    pointer_col: Optional[str] = None,
    watermark: Optional[str] = None,
    schema=None,
) -> DataFrame:
    """Read (possibly gzip-compressed) NDJSON — the O1 sink format read
    BACK as a source (a downstream consumer of the reference's gzip
    NDJSON S3 objects; codec picked per file extension by Spark). Pass an
    explicit schema in production: schema inference reads the data twice
    and gzip files are not splittable, so inference serializes on the
    largest file."""
    from grove_spark.operators.dedup import watermark_literal

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    if pointer_col and watermark is not None:
        df = df.where(F.col(pointer_col) > watermark_literal(df, pointer_col, watermark))
    return df


def orc_log_scan(
    spark: SparkSession,
    path: str,
    pointer_col: Optional[str] = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """ORC log scan — the columnar sibling of the parquet scan for lake
    layouts that standardized on ORC (Spark's reader is built in; jars/
    orc-core). ORC files carry their schema, so unlike CSV/NDJSON there
    is no inference double-read; the typed watermark predicate lands in
    the ORC reader's PushedFilters exactly like parquet (min/max stripe
    stats skip whole stripes at scale)."""
    from grove_spark.operators.dedup import watermark_literal

    df = spark.read.orc(path)
    if pointer_col and watermark is not None:
        df = df.where(F.col(pointer_col) > watermark_literal(df, pointer_col, watermark))
    return df


def manifest_scan(
    spark: SparkSession,
    state,
    pointer_col: Optional[str] = None,
    watermark: Optional[str] = None,
    inclusive: bool = False,
    base_path: Optional[str] = None,
    as_of: Optional[int] = None,
) -> DataFrame:
    """Read back the COMMITTED outputs of a run-state manifest with
    manifest-resident file pruning (the snapshot-read half of the
    Iceberg analog; the commit half is RunState.commit's ``file_stats``).

    ``as_of`` time-travels: the listing as of an older manifest version
    (Iceberg snapshot-id read) — a later compaction does not hide the
    original dirs, and data expired by retention is gone (same contract
    as expired snapshots).

    The file listing comes from the manifest (``committed_paths``) — a
    crashed run's orphan directories are invisible, exactly like reading
    an Iceberg snapshot. With a ``watermark``, files whose recorded
    pointer max is behind it are dropped from the listing WITHOUT
    opening any footer: the stats were collected by the writer at commit
    time. Files the manifest has no stats for (older manifests) are
    kept conservatively. The row-level predicate is applied regardless —
    pruning changes cost, never results."""
    from grove_spark.sources.file_stats import _list_parquet, prune_files

    paths = state.committed_paths(as_of=as_of)
    all_files = [f for p in paths for f in _list_parquet(p)]
    if pointer_col and watermark is not None and all_files:
        stats = state.committed_file_stats(as_of=as_of)
        merged = {
            f: stats.get(f, {"min": None, "max": None}) for f in all_files
        }
        kept, total = prune_files(
            "", pointer_col, watermark, inclusive=inclusive, stats=merged
        )
    else:
        kept, total = all_files, len(all_files)
    if not all_files:
        raise ValueError("manifest has no committed data paths to scan")
    if kept:
        # group kept files under their committed run directory so hive
        # partition columns (descriptor/connector/date) reconstruct: each
        # run dir is its own basePath, the per-run frames union
        import os as _os
        from functools import reduce

        norm_paths = sorted((_os.path.normpath(p) for p in paths),
                            key=len, reverse=True)
        by_dir: dict = {}
        for f in kept:
            d = next(
                (p for p in norm_paths
                 if _os.path.normpath(f).startswith(p + _os.sep)),
                base_path or _os.path.dirname(f),
            )
            by_dir.setdefault(d, []).append(f)
        frames = [
            spark.read.option("basePath", d).parquet(*fs)
            for d, fs in sorted(by_dir.items())
        ]
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
    else:
        # ALL files pruned: build the empty frame exactly like the kept
        # branch — per-run-dir basePath reads unioned — so discovered
        # hive partition columns (descriptor/connector/date) are
        # identical regardless of pruning outcome; a bare multi-root
        # read here could infer a different schema and turn a caller's
        # select on those columns into an AnalysisException on an
        # all-pruned watermark (ADVICE r4).
        from functools import reduce

        frames = [spark.read.option("basePath", p).parquet(p) for p in sorted(paths)]
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        ).where(F.lit(False))
    if pointer_col and watermark is not None:
        from grove_spark.operators.dedup import watermark_literal

        lo = watermark_literal(df, pointer_col, watermark)
        df = df.where(
            F.col(pointer_col) >= lo if inclusive else F.col(pointer_col) > lo
        )
    df._grove_prune = {"files_kept": len(kept), "files_total": total}  # type: ignore[attr-defined]
    return df


def incremental_append_scan(
    spark: SparkSession,
    state,
    since_version: int,
    as_of: Optional[int] = None,
    ignore_mutations: bool = False,
) -> DataFrame:
    """Read ONLY the rows appended to a manifested store after
    ``since_version`` — the Iceberg incremental append scan, i.e. the
    "train on data I haven't consumed yet" primitive. The consumer's
    checkpoint is one integer: read, process, store
    ``df._grove_incremental["version"]``, repeat.

    Compaction commits in the window are skipped silently (data-neutral:
    same rows, new layout — their run ids ride along in the attached
    info). MERGE commits are NOT expressible as appends (they change
    history); they raise loudly unless ``ignore_mutations=True``, which
    means "give me the appends, I accept that upserts/deletes in the
    window are not reflected" — the same contract as Iceberg's
    incremental read refusing replace snapshots.

    An empty window returns an empty frame with the store's exact
    schema (hive partition columns included), so downstream selects
    never fork on emptiness."""
    info = state.incremental_paths(since_version, as_of=as_of)
    if info["mutations"] and not ignore_mutations:
        raise ValueError(
            f"versions ({since_version}, {info['version']}] contain "
            f"history-changing merge commits {info['mutations']} — an "
            "incremental append read cannot reflect upserts/deletes. "
            "Re-read the store (manifest_scan) or pass "
            "ignore_mutations=True to consume only the appends."
        )
    from functools import reduce

    dirs = [d for d in info["appended"] if _os.path.isdir(d)]
    missing = [d for d in info["appended"] if not _os.path.isdir(d)]
    if missing:
        raise ValueError(
            f"appended dirs expired before they were consumed: {missing} "
            "— retention (expire_runs) is the reader barrier; consume "
            "incrementals before it reclaims replaced dirs."
        )
    if dirs:
        frames = [
            spark.read.option("basePath", d).parquet(d) for d in dirs
        ]
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
    else:
        base = state.committed_paths(as_of=as_of)
        if not base:
            raise ValueError("manifest has no committed data paths to scan")
        frames = [
            spark.read.option("basePath", p).parquet(p) for p in sorted(base)
        ]
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        ).where(F.lit(False))
    df._grove_incremental = info  # type: ignore[attr-defined]
    return df


def config_scan(spark: SparkSession, path: str) -> DataFrame:
    """Connector-config scan (S10 — configs/local_file.py:55-78): JSON
    documents -> a dimension DataFrame to broadcast-enrich with. Disabled
    configs are dropped exactly like base.py:61-64."""
    df = spark.read.option("multiLine", "true").json(path)
    if "disabled" in df.columns:
        df = df.where(~F.coalesce(F.col("disabled"), F.lit(False)))
    return df


def heartbeat(spark: SparkSession, n: int = 5, operation: str = "heartbeat") -> DataFrame:
    """Generator source (S8 — local/heartbeat.py:43-60): n synthetic
    entries with a timestamp; the engine's smoke source."""
    return spark.range(n).select(
        F.lit(operation).alias("type"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
        F.col("id").alias("sequence"),
    )


def jdbc_pull_scan(
    spark: SparkSession,
    url: str,
    query: str,
    pointer_col: str,
    watermark: Optional[str] = None,
    num_partitions: int = 8,
    partition_col: Optional[str] = None,
    bounds: Optional[tuple] = None,
    pointer_kind: str = "cursor",
    quote_char: str = '"',
    **options,
):
    """SQL pull scan (S5 — snowflake/query_history.py:15-24): the
    parameterized `WHERE ptr > %(pointer)s` becomes a pushed dbtable
    subquery; `batch_size` flushing becomes partitioned parallel reads.
    Executed for real against the embedded Derby driver Spark ships
    (tests/test_sources.py, gate row ``jdbc_pull``); any other JDBC
    driver on the classpath works the same way.

    ``pointer_kind`` uses the registry vocabulary (registry.py:39):
    ``sequence`` embeds an unquoted numeric literal (a quoted '49'
    against a BIGINT column is a type error on Derby/Postgres and a
    string comparison — wrong ordering — on lax engines), ``timestamp``/
    ``date`` emit typed ANSI literals, ``cursor`` stays a quoted string.
    The pointer identifier itself is quoted with ``quote_char`` because
    Spark's JDBC writer creates case-sensitive quoted columns (an
    unquoted ``event_id`` upper-cases to a missing ``EVENT_ID``).

    The watermark is validated/escaped and the pointer column validated
    as a bare identifier before embedding — run-state values can in
    principle be attacker-influenced (stored pointer from a scraped
    API)."""
    if not pointer_col.replace("_", "").isalnum():
        raise ValueError(f"pointer_col must be a bare identifier: {pointer_col!r}")
    pred = None
    if watermark is not None:
        s = str(watermark)
        if pointer_kind == "sequence":
            try:
                float(s)
            except ValueError as err:
                raise ValueError(
                    f"sequence watermark {s!r} is not numeric — refusing to "
                    "embed it as a SQL literal"
                ) from err
            lit = s
        elif pointer_kind in ("timestamp", "date"):
            import datetime as dt

            dt.datetime.fromisoformat(s.replace("Z", "+00:00").replace(" ", "T"))
            # ANSI literal form: space separator, no trailing Z (Derby
            # rejects the ISO 'T' form inside TIMESTAMP '...').
            ansi = s.replace("T", " ").removesuffix("Z")
            lit = f"{pointer_kind.upper()} '{ansi}'"
        else:
            lit = "'" + s.replace("'", "''") + "'"
        pred = f"{quote_char}{pointer_col}{quote_char} > {lit}"
    sub = f"(SELECT * FROM ({query}) t" + (f" WHERE {pred}) s" if pred else ") s")
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", sub)
    if partition_col and bounds:
        reader = (
            reader.option("partitionColumn", partition_col)
            .option("lowerBound", str(bounds[0]))
            .option("upperBound", str(bounds[1]))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
