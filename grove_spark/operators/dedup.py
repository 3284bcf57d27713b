"""Deduplication operators (SURVEY §2.3).

Reference semantics re-expressed set-oriented:

* D1 content-hash dedup  — grove/connectors/__init__.py:590-671: drop an
  entry when its (pointer, md5-of-canonical-JSON) pair was seen in the
  previous run's boundary state. State is bounded: only hashes sharing
  the LATEST pointer value are kept (:634-637).
* D2/D3 pointer dedup    — :695-754: in Spark the sequential
  walk-until-pointer becomes an exact watermark predicate; the
  "prefer duplicates over loss" fallback (:717-722) is unreachable
  because the predicate is exact, not positional (documented, tested).

At 100 TB: the seen-hash table is tiny (one boundary pointer's worth of
hashes per connector) -> broadcast anti-join, no shuffle of the big side.
The watermark predicate is a pushed-down parquet/Iceberg filter.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grove_spark.functions.hashing import entry_hash


def dedup_within_batch(
    df: DataFrame, hash_cols: Sequence[str], algo: str = "xxhash64"
) -> DataFrame:
    """Exact dedup inside one collection: first row per content hash.

    Default hash is xxhash64 over the raw columns — JVM-native, no JSON
    string materialization (hashing a 2 KB token array via md5(to_json(…))
    costs ~10× more CPU). ``algo="md5_json"`` gives byte parity with the
    reference's hash_entry when the seen-state must interoperate."""
    h = entry_hash(hash_cols) if algo == "md5_json" else F.xxhash64(*hash_cols)
    return df.withColumn("__h", h).dropDuplicates(["__h"]).drop("__h")


def dedup_by_hash(
    df: DataFrame,
    seen: DataFrame,
    hash_cols: Sequence[str],
    pointer_col: str,
) -> DataFrame:
    """Anti-join against the persisted seen-hash state (D1).

    ``seen`` has columns (pointer string, hash string) and is small by
    construction (boundary pointer only) -> broadcast anti-join.

    The md5-of-canonical-JSON is the dominant per-row CPU of the whole
    pipeline, yet only rows AT a seen pointer can ever match the
    anti-join — every other row survives regardless of its hash. The
    hash is therefore computed under ``CASE WHEN pointer IN (<seen
    pointers>)`` (codegen evaluates CASE branches lazily), so the
    boundary cohort pays it and the other ~100% of rows skip both the
    JSON serialization and the md5. The seen frame is driver-local by
    construction (it comes out of the manifest JSON, built with
    ``session.local_frame``), so its pointer projection folds into a
    LocalRelation and collecting it at plan-build time starts no Spark
    job; the distinct is taken here on the driver. Anti-join semantics
    are unchanged: a null/unseen-pointer row gets a null join key, which
    never equals, which survives — exactly what a computed hash at an
    unseen pointer did.
    """
    ptrs = sorted({
        r["__p"]
        for r in seen.select(
            F.col("pointer").cast("string").alias("__p")
        ).collect()
        if r["__p"] is not None
    })
    if not ptrs:
        return df  # empty seen-state: the anti-join kept every row
    p = F.col(pointer_col).cast("string")
    hashed = df.withColumn(
        "__h", F.when(p.isin(ptrs), entry_hash(hash_cols))
    ).withColumn("__p", p)
    seen2 = F.broadcast(
        seen.select(
            F.col("pointer").cast("string").alias("__p"),
            F.col("hash").alias("__h"),
        )
    )
    return hashed.join(seen2, ["__p", "__h"], "left_anti").drop("__p", "__h")


def boundary_hashes(df: DataFrame, hash_cols: Sequence[str], pointer_col: str) -> DataFrame:
    """New seen-hash state: hashes of entries sharing the max pointer value
    (the bounded-state rule, reference :634-637 / hash_entries :604-625).

    The max is taken on the NATIVE pointer type (string max mis-orders
    numeric sequence pointers); the stringification for the manifest
    happens after the boundary rows are selected.

    State size = rows sharing the max pointer — tiny for timestamp /
    sequence pointers, but a COARSE pointer (a date) makes the boundary
    a whole day of hashes; the reference has the identical property
    (:634-637). For coarse pointers prefer a finer pointer column or
    strict-> semantics."""
    mx = df.select(F.col(pointer_col).alias("__mx")).agg(F.max("__mx").alias("__mx"))
    rows = df.join(F.broadcast(mx), df[pointer_col] == mx["__mx"], "inner")
    return rows.select(
        F.col(pointer_col).cast("string").alias("pointer"),
        entry_hash(hash_cols).alias("hash"),
    ).distinct()


def watermark_literal(df: DataFrame, pointer_col: str, pointer: str):
    """A watermark literal cast to the pointer COLUMN's native type.

    Run-state stores pointers as strings (they cross a JSON manifest);
    comparing ``cast(col as string) > lit`` would (a) block parquet
    predicate pushdown — the cast wraps the column, so the scan re-reads
    the full table every run — and (b) mis-order numeric sequence
    pointers (string "10" < "9"): silent data loss for
    zitadel-style monotonic sequences (grove/connectors/zitadel/
    events.py:22). Casting the LITERAL to the column's type keeps the
    column bare, so the GreaterThan lands in PushedFilters and numeric /
    timestamp ordering is native. Genuinely opaque string cursors hit the
    StringType branch and compare as strings, unchanged.

    The cast is validated DRIVER-side first: a stored pointer that cannot
    cast to the column's type (schema drift, corrupted manifest) would
    otherwise become a NULL literal, turning every incremental scan into
    a silent permanent zero-row no-op.
    """
    from pyspark.sql import types as T

    dtype = df.schema[pointer_col].dataType
    s = str(pointer)
    try:
        if isinstance(dtype, T.NumericType):
            float(s)
        elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            import datetime as dt

            dt.datetime.fromisoformat(s.replace("Z", "+00:00").replace(" ", "T"))
    except ValueError as err:
        raise ValueError(
            f"watermark {s!r} does not cast to {pointer_col}'s type {dtype} — "
            "refusing a NULL comparison that would silently scan zero rows"
        ) from err
    return F.lit(s).cast(dtype)


def dedup_by_pointer(
    df: DataFrame,
    pointer_col: str,
    pointer: str | None,
    log_order: str = "CHRONOLOGICAL",
    inclusive: bool = False,
) -> DataFrame:
    """Incremental watermark filter (D2/D3).

    Chronological: keep rows strictly after the stored pointer.
    Reverse-chronological sources have no scan-order constraint in Spark;
    the same exact predicate applies. When no pointer exists yet (first
    run) everything is kept. ``inclusive`` re-admits rows AT the pointer
    (pair it with a seen-hash anti-join, dedup_by_hash) so late arrivals
    sharing the boundary timestamp are not lost — the reference's
    deduplicate_by_hash boundary rule (grove/connectors/__init__.py:627-671).
    """
    if pointer is None:
        return df
    wm = watermark_literal(df, pointer_col, pointer)
    col = F.col(pointer_col)
    return df.where(col >= wm if inclusive else col > wm)


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_count: int = 2,
    keep: str = "none",
) -> DataFrame:
    """Cross-corpus line-level dedup (the CCNet/MassiveText pass that
    document-level dedup misses): a line whose exact text appears in
    >= ``min_count`` documents corpus-wide is boilerplate (nav bars,
    cookie banners, license headers) and is dropped from EVERY document
    (``keep='none'``) or from all but its first occurrence by
    (doc, position) order (``keep='first'``).

    Plan shape at 100 TB: lines are counted by a 64-bit xxhash64 (never
    shuffling the line text for the count), the duplicated-hash set —
    typically orders of magnitude smaller than the line count — is
    anti-joined back (AQE broadcasts it when small), and documents are
    reassembled with one grouped sort over (pos, line). Hash collisions
    across distinct lines are possible in principle (64-bit space) and
    would only over-drop; at Web scale that risk is the standard
    trade for not shuffling raw text twice.

    Returns one row per input document: ``id_col``, ``n_lines``,
    ``n_kept``, ``text_kept`` (empty string when every line was
    boilerplate — the caller decides whether to drop empty docs).
    """
    import re as _re

    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first': {keep!r}")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(delimiter))).alias(
            "pos", "line"
        ),
    ).withColumn("lh", F.xxhash64("line"))
    # count DISTINCT documents, not occurrences: a line repeated inside
    # ONE document is repetition (repetition_signals' territory), not
    # corpus boilerplate, and must not be dropped corpus-wide
    counts = lines.groupBy("lh").agg(F.countDistinct(id_col).alias("c"))
    dup = counts.where(F.col("c") >= min_count)
    if keep == "none":
        kept = lines.join(dup.select("lh"), "lh", "left_anti")
    else:
        first = (
            lines.join(dup.select("lh"), "lh", "left_semi")
            .groupBy("lh")
            .agg(F.min(F.struct(id_col, "pos")).alias("f"))
            .select("lh", F.col(f"f.{id_col}").alias("__fid"), F.col("f.pos").alias("__fpos"))
        )
        kept = (
            lines.join(first, "lh", "left")
            .where(
                F.col("__fid").isNull()
                | ((F.col(id_col) == F.col("__fid")) & (F.col("pos") == F.col("__fpos")))
            )
            .drop("__fid", "__fpos")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            delimiter,
        ).alias("text_kept"),
    )
    totals = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), _re.escape(delimiter))).cast("bigint").alias("n_lines"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
        )
    )
