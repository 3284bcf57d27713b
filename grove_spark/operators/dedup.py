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

The resume protocol's hash state lives here, shared by run_incremental
and run_fleet: ``dedup_by_hash``, ``boundary_hashes``, ``advance_seen``.
Its pruned watermark scan is sources/scans.incremental_scan.

At 100 TB: the seen-hash table is tiny (one boundary pointer's worth of
hashes per connector) -> broadcast anti-join, no shuffle of the big side.
The watermark predicate is a pushed-down parquet/Iceberg filter.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grove_spark.functions.hashing import entry_hash
from grove_spark.session import in_list

# the sequences table's entry-hash columns, in canonical JSON key order
ENTRY_HASH_COLS = ("doc_id", "tokens")


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
    pointer: str | Column,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Anti-join against the persisted seen-hash state (D1).

    ``seen`` has columns (*key_cols, pointer, hash) and is small by
    construction (boundary pointer only) -> broadcast anti-join.
    ``pointer`` is a column name or a per-row Column (the fleet's
    per-member pointer CASE); ``key_cols`` scope the state, so one fleet
    member's seen hashes never drop another member's rows.

    The md5-of-canonical-JSON is the dominant per-row CPU of the whole
    pipeline, yet only rows AT a seen pointer can match the anti-join.
    The hash is therefore computed under ``CASE WHEN pointer IN (<seen
    pointers>)`` (codegen evaluates CASE branches lazily): every other
    row skips the JSON serialization and the md5. The gate is not keyed:
    it only picks the rows that pay the hash, and the keyed anti-join
    still decides which rows drop, so a row at ANOTHER key's seen pointer
    is hashed and survives. (A keyed gate, ``key = k AND pointer IN
    (...)`` per key, costs ~15 py4j Column calls per key: ~0.2 s of
    driver time per 12-member fleet tick on 4 cores.) The pointer is
    projected as ``__p`` first and the gate reads ``__p``, so a per-row
    pointer CASE is evaluated once a row; the ``IN`` list is one parsed
    predicate (``session.in_list``), so the plan-build cost does not grow
    with the number of seen pointers. The seen frame is driver-local
    (``session.local_frame`` over the manifest JSON), so collecting its
    pointers here starts no Spark job. A null/unseen-pointer row gets a
    null ``__h``, which never equals, so it survives — as a computed hash
    at an unseen pointer would.
    """
    key_cols = list(key_cols)
    seen2 = seen.select(
        *key_cols,
        F.col("pointer").cast("string").alias("__p"),
        F.col("hash").alias("__h"),
    )
    ptrs = sorted({r["__p"] for r in seen2.select("__p").collect()} - {None})
    if not ptrs:
        return df  # empty seen-state: the anti-join kept every row
    p = F.col(pointer) if isinstance(pointer, str) else pointer
    hashed = df.withColumn("__p", p.cast("string")).withColumn(
        "__h", F.when(in_list("__p", ptrs), entry_hash(hash_cols))
    )
    return hashed.join(
        F.broadcast(seen2), [*key_cols, "__p", "__h"], "left_anti"
    ).drop("__p", "__h")


def boundary_hashes(
    df: DataFrame,
    hash_cols: Sequence[str],
    pointer_col: str,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """New seen-hash state: hashes of entries sharing the max pointer value
    (the bounded-state rule, reference :634-637 / hash_entries :604-625),
    one max per ``key_cols`` group. Returns (*key_cols, pointer, hash).

    The max is taken on the NATIVE pointer type (string max mis-orders
    numeric sequence pointers); the stringification for the manifest
    happens after the boundary rows are selected.

    State size = rows sharing the max pointer — tiny for timestamp /
    sequence pointers, but a COARSE pointer (a date) makes the boundary
    a whole day of hashes; the reference has the identical property
    (:634-637). For coarse pointers prefer a finer pointer column or
    strict-> semantics."""
    key_cols = list(key_cols)
    mx = df.groupBy(*key_cols).agg(F.max(pointer_col).alias(pointer_col))
    return (
        df.join(F.broadcast(mx), key_cols + [pointer_col], "inner")
        .select(
            *key_cols,
            F.col(pointer_col).cast("string").alias("pointer"),
            entry_hash(hash_cols).alias("hash"),
        )
        .distinct()
    )


def advance_seen(
    boundary: Sequence,
    watermark: Optional[str],
    prev_seen: Optional[Dict[str, list]],
) -> Tuple[Optional[str], Optional[Dict[str, list]]]:
    """(pointer, seen) to commit for one key: ``boundary`` is the key's
    collected boundary_hashes rows (none: pointer and hashes stay). A
    pointer that did not advance keeps its earlier hashes too (reference
    :634-637), so rows emitted by earlier runs there stay dropped."""
    if not boundary:
        return watermark, (prev_seen or None)
    ptr = boundary[0]["pointer"]
    keep = {r["hash"] for r in boundary}
    if watermark is not None and ptr == str(watermark):
        keep |= set((prev_seen or {}).get(ptr, []))
    return ptr, {ptr: sorted(keep)}


def pointer_kind(dtype) -> str:
    """The ordering of a pointer column's type, in the vocabulary of the
    file stats (sources/file_stats): ``num``, ``ts`` or ``str``."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.NumericType):
        return "num"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "ts"
    return "str"


def watermark_value(pointer: str, kind: str, target: str):
    """A stored watermark string validated and parsed DRIVER-side into
    its column's native order (``kind`` as from ``pointer_kind``): an int
    or float for numeric pointers (Python compares the two exactly), a
    naive UTC datetime for time pointers, the string itself otherwise.
    Comparing these values picks the lowest of several watermarks
    without a Spark job. ``target`` names the column and type for the
    error.

    A pointer that cannot cast (schema drift, corrupted manifest) would
    otherwise become a NULL literal, turning every incremental scan into
    a silent permanent zero-row no-op: it raises instead."""
    import datetime as dt

    s = str(pointer)
    try:
        if kind == "num":
            try:
                return int(s)
            except ValueError:
                return float(s)
        if kind == "ts":
            v = dt.datetime.fromisoformat(s.replace("Z", "+00:00").replace(" ", "T"))
            if v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return v
    except ValueError as err:
        raise ValueError(
            f"watermark {s!r} does not cast to {target} — "
            "refusing a NULL comparison that would silently scan zero rows"
        ) from err
    return s


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

    The cast is validated DRIVER-side first (``watermark_value``).
    """
    dtype = df.schema[pointer_col].dataType
    watermark_value(pointer, pointer_kind(dtype), f"{pointer_col}'s type {dtype}")
    return F.lit(str(pointer)).cast(dtype)


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
