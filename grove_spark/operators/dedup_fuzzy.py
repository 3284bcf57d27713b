"""Near-duplicate detection for training-data pipelines.

Spark-first implementations over a ``documents(doc_id, text, ...)`` table:

* exact        — hash groupBy (operators/dedup.py)
* n-gram Jaccard / containment — gram-id rows from the one gram-set
  kernel (``hashed_shingle_sets``) + self-join on the 64-bit gram id +
  count ratio
* MinHash + LSH  — k hash functions over shingles (Spark's xxhash64 with
  per-function seeds, computed by a vectorized Arrow kernel), banded
  into buckets, candidate pairs from bucket joins, optional
  exact-Jaccard verification
* SimHash      — 64-bit sign-aggregated token hashes, hamming buckets
* embedding cosine near-dup — normalized-vector dot via zip_with, LSH
  random-hyperplane buckets for the scale path (see similarity.py)

Scale notes: shingle explode multiplies rows by ~n_words; the LSH
band-bucket stages shuffle only (band, bucket, doc_id) — never text.
With ``max_bucket_size`` set (the default) candidate pairs come from a
bucket-local expansion whose aggregation buffers are bounded by the cap
(oversized buckets are dropped + logged BEFORE any list materializes,
like real dedup systems do for degenerate clusters). With the cap
disabled the self-join form is used instead: a degenerate bucket then
costs quadratic ROWS (spread across tasks, AQE skew-join applies) but
never a single quadratic in-row array.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def hashed_shingle_sets(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "sh_set",
) -> DataFrame:
    """Per-document DISTINCT word-n-gram shingle set, hashed to 64-bit
    ints, as ONE row per doc: (doc, array<bigint>). This is THE gram-set
    kernel: every n-gram operator (``hashed_gram_rows`` and through it
    the n-gram pair joins and decontamination, MinHash verification)
    reads its grams here, so no two operators disagree on what a
    shingle is.

    A shingle is ``n`` consecutive words of ``split(text, ' ')`` joined
    by single spaces: only the space separates (doubled spaces make
    empty words; tabs and newlines stay inside words). Documents with
    fewer than ``n`` words, or null text, yield an empty set (kept).

    A document's shingle set lives inside its own row, so this is a pure
    projection — zero shuffle, zero explode, embarrassingly parallel.
    Jaccard over the hashed sets equals Jaccard over the strings up to
    xxhash64 collisions (~n_shingles²/2⁶⁴ per doc).

    An Arrow kernel hashes gram byte-ranges off the string buffer (same
    xxhash64 values as ``F.xxhash64`` over the gram strings, which are
    never built; the string form is the spec in
    ``tests/test_dedup_fuzzy.py``). Sets come out sorted by signed hash;
    consumers use them algebraically (intersect/size/explode), so the
    order is immaterial."""
    out_schema = T.StructType([
        T.StructField("doc", docs.schema[id_col].dataType),
        T.StructField(out, T.ArrayType(T.LongType())),
    ])
    arrow_schema = to_arrow_schema(out_schema)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            m = rb.num_rows
            if not m:
                continue
            hashes, k = _gram_hashes_of_batch(rb.column(1), n)
            # distinct per doc: sort by (doc, signed hash), keep the
            # first of each run
            seg = np.repeat(np.arange(m), k)
            hs = hashes.view(np.int64)
            order = np.lexsort((hs, seg))
            hs, seg = hs[order], seg[order]
            first = np.ones(len(hs), dtype=bool)
            first[1:] = (hs[1:] != hs[:-1]) | (seg[1:] != seg[:-1])
            offs = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(np.bincount(seg[first], minlength=m), out=offs[1:])
            arr = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()), pa.array(hs[first], pa.int64())
            )
            ids = rb.column(0)
            if isinstance(ids, pa.ChunkedArray):
                ids = ids.combine_chunks()
            yield pa.RecordBatch.from_arrays(
                [ids, arr], schema=arrow_schema
            )

    return docs.select(id_col, text_col).mapInArrow(kernel, out_schema)


def hashed_gram_rows(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per (document, DISTINCT word-n-gram xxhash64 id):
    ``(id_col, __n bigint, __g bigint)`` where ``__n`` is the document's
    distinct-gram count. Documents with no grams (shorter than ``n``
    words, or null text) emit ONE row with ``__g`` null and ``__n`` 0 —
    explode_outer semantics, so per-doc aggregates downstream cover
    every input document without a join back to ``docs``.

    A Catalyst projection over ``hashed_shingle_sets``. The id passes
    through untouched, so a struct id can carry other per-doc columns
    (the streaming scorer carries the event time this way)."""
    sets = hashed_shingle_sets(docs, n, id_col, text_col)
    return sets.select(
        F.col("doc").alias(id_col),
        F.size("sh_set").cast("bigint").alias("__n"),
        F.explode_outer("sh_set").alias("__g"),
    )


def _gram_overlap(docs, n, id_col, text_col, max_df, keep):
    """The inverted-index self-join both n-gram pair functions run:
    ``(common, sizes)`` where ``common`` is (l, r, common) — the number
    of distinct grams docs l and r share, for every pair sharing one
    with ``keep(l, r)`` — and ``sizes`` is (doc, n_sh), each doc's gram
    count. The join key is the 64-bit gram id, never gram text.

    ``max_df`` drops grams occurring in more than that many documents
    BEFORE the self-join (boilerplate grams otherwise go quadratic on
    their posting list — one gram in 10^6 docs is 10^12 join rows), from
    the counts and the sizes alike, exactly like production dedup
    pipelines drop boilerplate from both numerator and denominator."""
    sh = (
        hashed_gram_rows(docs, n, id_col, text_col)
        .where(F.col("__g").isNotNull())
        .select(F.col(id_col).alias("doc"), "__g")
    )
    if max_df is not None:
        dfreq = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(dfreq.where(F.col("__df") <= max_df), "__g").drop("__df")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("l"), sh.alias("r")
    common = (
        a.join(b, (F.col("l.__g") == F.col("r.__g")) & keep(F.col("l.doc"), F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("l"), F.col("r.doc").alias("r"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return common, sizes


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Jaccard near-dup pairs over word n-gram shingle sets, exact up to
    xxhash64 collisions.

    Returns (a, b, common, n_a, n_b) with a < b and
    common/(n_a+n_b-common) >= threshold. The self-join is on the gram
    id — the canonical inverted-index pair generation. ``max_df`` drops
    grams occurring in more than that many documents from the join and
    from the Jaccard alike (see ``_gram_overlap``).
    """
    common, sizes = _gram_overlap(docs, n, id_col, text_col, max_df, operator.lt)
    out = (
        common.join(sizes.toDF("l", "n_a"), "l")
        .join(sizes.toDF("r", "n_b"), "r")
        .where(
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")) >= F.lit(threshold)
        )
    )
    return out.select(F.col("l").alias("a"), F.col("r").alias("b"), "common", "n_a", "n_b")


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Cross-document CONTAINMENT pairs: directional near-dup detection
    for the case symmetric Jaccard misses — a short document whose text
    is (almost) entirely contained in a much longer one (quoted excerpts,
    prepended boilerplate, doc-inside-doc duplication).

    containment(contained→container) = |A ∩ B| / |A|, computed over word
    n-gram shingle sets, exact up to xxhash64 collisions. Returns
    (contained, container, common, n_contained, containment) with
    containment >= threshold, BOTH directions considered (a row per
    direction that clears the bar). Same inverted-index self-join as
    ngram_jaccard_pairs, same ``max_df`` boilerplate-cap discipline. A
    doc pair that is mutually contained (near-identical) yields two
    rows — callers canonicalize.
    """
    common, sizes = _gram_overlap(docs, n, id_col, text_col, max_df, operator.ne)
    out = (
        common.join(sizes.toDF("l", "n_contained"), "l")
        .withColumn("containment", F.col("common").cast("double") / F.col("n_contained"))
        .where(F.col("containment") >= F.lit(threshold))
    )
    return out.select(
        F.col("l").alias("contained"), F.col("r").alias("container"),
        "common", "n_contained", "containment",
    )


# ---------------------------------------------------------------------------
# Spark-parity xxhash64 over LONGS, vectorized in numpy (uint64 wraparound).
#
# Spark's ``xxhash64(a, b, ...)`` chains XXH64.hashLong over the args with
# the fixed seed 42: hash = hashLong(a, 42); hash = hashLong(b, hash); ...
# ``_xxh64_long`` reproduces hashLong bit-for-bit (asserted against
# F.xxhash64 in tests/test_dedup_fuzzy.py::test_arrow_minhash_parity), so
# the Arrow signature kernel below emits EXACTLY the values the Catalyst
# projection did — same buckets, same candidates, same oracle rows.
# ---------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _xxh64_bytes(data, starts, lens, seed=42):
    """Canonical XXH64 over variable-length byte slices of one buffer,
    vectorized by grouping slices of equal length (equal-length slices
    hash in lockstep — each group is a (m, L) gather + ~L/8 rounds of
    uint64 vector ops). Bit-identical to Spark's
    XXH64.hashUnsafeBytes / F.xxhash64 over strings (parity-tested).

    ``data`` is a uint8 array, ``starts``/``lens`` int64 arrays (byte
    offsets/lengths). Returns uint64 hashes in input order."""
    import numpy as np

    u = np.uint64
    P1, P2, P3 = u(_XXP1), u(_XXP2), u(_XXP3)
    P4, P5 = u(_XXP4), u(_XXP5)
    seed = u(seed)

    def rot(x, r):
        return (x << u(r)) | (x >> u(64 - r))

    out = np.empty(len(starts), dtype=np.uint64)
    if not len(starts):
        return out
    order = np.argsort(lens, kind="stable")
    sl = lens[order]
    bounds = np.flatnonzero(np.diff(sl)) + 1
    for g in np.split(order, bounds):
        L = int(lens[g[0]])
        if L == 0:
            # scalar arithmetic via Python ints, like the lane seeds
            # below: numpy warns on uint64 scalar overflow
            h = (int(seed) + _XXP5) % 2**64
            h ^= h >> 33
            h = h * _XXP2 % 2**64
            h ^= h >> 29
            h = h * _XXP3 % 2**64
            h ^= h >> 32
            out[g] = h
            continue
        mat = data[starts[g][:, None] + np.arange(L)]
        pad = (-L) % 8
        if pad:
            mat8 = np.concatenate(
                [mat, np.zeros((len(g), pad), np.uint8)], axis=1
            )
        else:
            mat8 = mat
        w = np.ascontiguousarray(mat8).view("<u8")  # (m, ceil(L/8))
        if L >= 32:
            # uint64 wraparound is the algorithm (mod-2^64 arithmetic);
            # compute the lane seeds via Python ints so numpy does not
            # warn about the intended overflow
            v1 = np.full(len(g), (int(seed) + _XXP1 + _XXP2) % 2**64,
                         dtype=np.uint64)
            v2 = np.full(len(g), (int(seed) + _XXP2) % 2**64,
                         dtype=np.uint64)
            v3 = np.full(len(g), seed, dtype=np.uint64)
            v4 = np.full(len(g), (int(seed) - _XXP1) % 2**64,
                         dtype=np.uint64)
            for s in range(L // 32):
                b = s * 4
                v1 = rot(v1 + w[:, b] * P2, 31) * P1
                v2 = rot(v2 + w[:, b + 1] * P2, 31) * P1
                v3 = rot(v3 + w[:, b + 2] * P2, 31) * P1
                v4 = rot(v4 + w[:, b + 3] * P2, 31) * P1
            h = rot(v1, 1) + rot(v2, 7) + rot(v3, 12) + rot(v4, 18)
            for v in (v1, v2, v3, v4):
                h = (h ^ (rot(v * P2, 31) * P1)) * P1 + P4
            off = (L // 32) * 32
        else:
            h = seed + P5
            off = 0
        h = h + u(L)
        while off + 8 <= L:
            k = w[:, off // 8]
            h = rot(h ^ (rot(k * P2, 31) * P1), 27) * P1 + P4
            off += 8
        if off + 4 <= L:
            k4 = np.ascontiguousarray(mat[:, off:off + 4]).view("<u4")[:, 0]
            h = rot(h ^ (k4.astype(np.uint64) * P1), 23) * P2 + P3
            off += 4
        while off < L:
            h = rot(h ^ (mat[:, off].astype(np.uint64) * P5), 11) * P1
            off += 1
        h ^= h >> u(33)
        h *= P2
        h ^= h >> u(29)
        h *= P3
        h ^= h >> u(32)
        out[g] = h
    return out


def _gram_hashes_of_batch(col, n):
    """Per-document word-n-gram xxhash64 ids straight from an Arrow
    string column's buffers — NO gram strings are ever materialized.

    A gram "w_i … w_{i+n-1}" joined with single spaces is exactly the
    byte slice of the original text from word i's first byte to word
    i+n-1's last byte (split on the single-space regex " " — empty
    words from doubled spaces reproduce the same bytes either way), so
    each gram hash is XXH64 over a (start, len) range of the text
    buffer. Returns (hashes uint64 flat, per-doc gram counts int64) in
    document order; docs with fewer than n words (or null text)
    contribute zero grams. Duplicate grams are KEPT (callers that need
    set semantics dedupe per doc)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    m = len(col)
    # raw UTF-8 buffer + per-row [start, end) byte offsets
    validity, offsets_buf, data_buf = col.buffers()
    offs = np.frombuffer(offsets_buf, dtype=np.int32)[
        col.offset:col.offset + m + 1
    ].astype(np.int64)
    data = np.frombuffer(data_buf, dtype=np.uint8)
    nulls = np.zeros(m, dtype=bool)
    if validity is not None:
        bits = np.unpackbits(
            np.frombuffer(validity, dtype=np.uint8), bitorder="little"
        )
        nulls = ~bits[col.offset:col.offset + m].astype(bool)
    doc_start, doc_end = offs[:-1], offs[1:]
    # word boundaries: positions of the 0x20 separator
    sp = np.flatnonzero(data == 0x20).astype(np.int64)
    sp_lo = np.searchsorted(sp, doc_start)
    sp_hi = np.searchsorted(sp, doc_end)
    n_words = (sp_hi - sp_lo) + 1  # empty text still splits to ['']
    k = n_words - (n - 1)
    k = np.where((k > 0) & ~nulls & (doc_end > doc_start), k, 0)
    # null text -> no grams; EMPTY text: split('') == [''] -> one word,
    # so k>0 only when n == 1 — Catalyst's split('', ' ') likewise
    # yields [''] (handled by doc_end > doc_start only for n >= 2;
    # for n == 1 the empty doc's single gram is the empty string)
    if n == 1:
        k = np.where(~nulls & (doc_end == doc_start), 1, k)
    total = int(k.sum())
    if not total:
        return np.empty(0, np.uint64), k
    gram_doc = np.repeat(np.arange(m), k)
    excl = np.zeros(m, dtype=np.int64)
    np.cumsum(k[:-1], out=excl[1:])
    j = np.arange(total, dtype=np.int64) - excl[gram_doc]
    if not len(sp):
        # no separator anywhere: every gram (n == 1) spans its whole doc
        starts = doc_start[gram_doc]
        ends = doc_end[gram_doc]
    else:
        # gram start: doc start for j==0, else one past separator j-1
        base = sp_lo[gram_doc]
        starts = np.where(
            j == 0,
            doc_start[gram_doc],
            sp[np.minimum(base + j - 1, len(sp) - 1)] + 1,
        )
        # gram end: doc end when the gram reaches the last word, else
        # the separator after word j+n-1
        last_word = j + (n - 1)
        ends = np.where(
            last_word == n_words[gram_doc] - 1,
            doc_end[gram_doc],
            sp[np.minimum(base + last_word, len(sp) - 1)],
        )
    return _xxh64_bytes(data, starts, ends - starts), k


def _xxh64_long(x, seed):
    """XXH64.hashLong(x, seed) on uint64 numpy arrays/scalars — the exact
    arithmetic of org.apache.spark.sql.catalyst.expressions.XXH64."""
    import numpy as np

    u = np.uint64
    k = x * u(_XXP2)
    k = (k << u(31)) | (k >> u(33))
    h = (seed + u(_XXP5) + u(8)) ^ (k * u(_XXP1))
    h = ((h << u(27)) | (h >> u(37))) * u(_XXP1) + u(_XXP4)
    h ^= h >> u(33)
    h *= u(_XXP2)
    h ^= h >> u(29)
    h *= u(_XXP3)
    h ^= h >> u(32)
    return h


def _xxh64_int(i, seed):
    """XXH64.hashInt(i, seed) — the 4-byte path Spark takes for an INT
    argument (e.g. the ``F.lit(i)`` seed in the MinHash family chain)."""
    import numpy as np

    u = np.uint64
    h = (seed + u(_XXP5) + u(4)) ^ ((i & u(0xFFFFFFFF)) * u(_XXP1))
    h = ((h << u(23)) | (h >> u(41))) * u(_XXP2) + u(_XXP3)
    h ^= h >> u(33)
    h *= u(_XXP2)
    h ^= h >> u(29)
    h *= u(_XXP3)
    h ^= h >> u(32)
    return h


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    xxhash64(shingle, seed=i).

    Computed as a pure PER-ROW projection — a document's shingle set
    lives inside its own row, so no explode and no groupBy: zero
    shuffle, embarrassingly parallel over the scan (the exploded+grouped
    form shuffled |docs|·|shingles| rows for nothing). Documents with
    fewer than n words produce no signature row (two empty docs must
    NOT collide into a bucket).

    Each gram STRING is hashed once and the num_hashes-member family is
    derived by re-hashing that 64-bit id with each seed (hashing a hash
    is a standard MinHash family construction; datasketch does the same
    with a linear family). An Arrow kernel runs the whole walk as one
    vectorized numpy pass per batch: gram hashes taken off the string
    buffer (``_gram_hashes_of_batch`` — no gram strings, no Catalyst
    array churn), one xxh64 pipeline per seed, per-doc mins via
    minimum.reduceat on the SIGNED view (Spark's array_min over bigint
    compares signed longs) — measured 8× the Catalyst
    higher-order-function form at 1M docs (43.5 s -> ~5 s). Values are
    bit-identical to that expression form (``array_min`` of
    ``xxhash64(xxhash64(gram), i)`` over the gram strings), the spec in
    ``tests/test_dedup_fuzzy.py``.

    Returns (doc_id, sig array<bigint>).
    """
    out_schema = T.StructType([
        docs.schema[id_col],
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    arrow_schema = to_arrow_schema(out_schema)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        u = np.uint64
        # per-seed constant: the seed literal is an INT, so Spark's
        # chained xxhash64 runs XXH64.hashInt(i, prev) — input-mix is
        # (i & 0xFFFFFFFF) * P1
        seeds = np.arange(num_hashes, dtype=np.uint64)
        kc = (seeds & u(0xFFFFFFFF)) * u(_XXP1)
        for rb in batches:
            if not rb.num_rows:
                continue
            hs, per_doc = _gram_hashes_of_batch(rb.column(1), n)
            mask = per_doc > 0
            if not mask.any():
                continue
            lens = per_doc[mask]
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # first chain link: hashLong(h, 42), shared by every seed;
            # plus hashInt's +P5+4 prologue, also seed-independent
            hbase = _xxh64_long(hs, u(42)) + u(_XXP5) + u(4)
            sig = np.empty((num_hashes, len(lens)), dtype=np.int64)
            for i in range(num_hashes):
                h = hbase ^ kc[i]
                h = ((h << u(23)) | (h >> u(41))) * u(_XXP2) + u(_XXP3)
                h ^= h >> u(33)
                h *= u(_XXP2)
                h ^= h >> u(29)
                h *= u(_XXP3)
                h ^= h >> u(32)
                np.minimum.reduceat(h.view(np.int64), starts, out=sig[i])
            flat_sig = sig.T.reshape(-1)
            offs = np.arange(0, (len(lens) + 1) * num_hashes, num_hashes,
                             dtype=np.int32)
            arr = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()), pa.array(flat_sig, pa.int64())
            )
            ids = rb.column(0)
            if isinstance(ids, pa.ChunkedArray):
                ids = ids.combine_chunks()
            if not mask.all():
                ids = ids.take(pa.array(np.flatnonzero(mask)))
            yield pa.RecordBatch.from_arrays([ids, arr], schema=arrow_schema)

    return docs.select(id_col, text_col).mapInArrow(kernel, out_schema)


def _cap_telemetry(
    sizes: DataFrame,
    size_col: str,
    cap: int,
    telemetry: dict | None,
    label: str,
    bucket_noun: str,
    entry_noun: str = "entries",
) -> None:
    """Fill ``telemetry`` with the bucket cap's effect (one small eager
    aggregate over the bucket-size frame) and warn when it engages —
    a silent drop reads as "covered everything" when it didn't. No-op
    (zero extra jobs) when telemetry is None."""
    if telemetry is None:
        return
    row = sizes.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            F.when(F.col(size_col) > cap, 1).otherwise(0)
        ).alias("dropped"),
        F.sum(
            F.when(F.col(size_col) > cap, F.col(size_col)).otherwise(0)
        ).alias("entries"),
    ).first()
    telemetry.update(
        buckets_total=int(row["total"] or 0),
        buckets_dropped=int(row["dropped"] or 0),
        entries_dropped=int(row["entries"] or 0),
        max_bucket_size=cap,
    )
    if telemetry["buckets_dropped"]:
        import logging

        logging.getLogger(__name__).warning(
            "%s engaged: %d/%d %s over max_bucket_size=%d dropped (%d %s)",
            label, telemetry["buckets_dropped"], telemetry["buckets_total"],
            bucket_noun, cap, telemetry["entries_dropped"], entry_noun,
        )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
    telemetry: dict | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any bucket.

    bucket = xxhash64 of the band's signature slice; docs sharing a
    bucket in ANY band become one candidate pair (distinct). Buckets
    larger than ``max_bucket_size`` are dropped (degenerate boilerplate
    clusters would otherwise explode quadratically).

    Pass ``telemetry={}`` to SURFACE the cap's effect (VERDICT r3 #4 —
    a silent drop reads as "covered everything" when it didn't): the
    dict is filled with {buckets_total, buckets_dropped,
    entries_dropped} from one small eager aggregate over the band
    stream, and a dropped cap logs a warning. Default None adds zero
    overhead/jobs.

    Telemetry callers: the bucket-size frame is persisted for the call
    (the eager telemetry read would otherwise recompute the whole band
    stream a second time for the cap join) and handed back on the
    result as ``_grove_persisted_sizes`` — unpersist it once your
    candidates materialize. ``minhash_dedup_pairs`` does this for you;
    only DIRECT callers of this function with ``telemetry`` set need to
    release it."""
    # bucket = one xxhash64 over the band's signature slice AS LONGS
    # (element_at per member + the band index): the earlier form cast
    # each member to string, concat_ws'd, and hashed the string — 9×
    # slower measured at 1M docs (6.3 s vs 0.7 s for the 16M-row band
    # projection, which runs twice per call: sizes + join side)
    bands_df = signatures.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        *[
                            F.element_at(
                                F.col("sig"),
                                (b * rows_per_band + j + 1).cast("int"),
                            )
                            for j in range(rows_per_band)
                        ],
                        b,
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # With a cap, pairs come from a BUCKET-LOCAL expansion, not a
    # self-join: group each (band, bucket) into its sorted member list
    # once and emit the in-bucket combinations with one array transform.
    # The l×r self-join form shuffled the band stream twice more and ran
    # a join whose output it then re-distinct'ed — measured 7.05 s vs
    # 3.65 s for this form on the 150k-doc leg, identical pair sets.
    # WITHOUT a cap the expansion is unsafe (one uncapped degenerate
    # bucket would materialize its quadratic pair set inside a single
    # row — 2^31 array limit / executor OOM), so that path keeps the
    # self-join, which produces the same pairs as distributed rows.
    if not max_bucket_size:
        l, r = bands_df.alias("l"), bands_df.alias("r")
        return (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.doc") < F.col("r.doc")),
            )
            .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
            .distinct()
        )
    # Everything below is the CAPPED path (the uncapped early return
    # above is the only other flow). Cap BEFORE collecting: the count
    # aggregate is map-side combined (tiny shuffle), and the filter
    # means no collect_list buffer ever holds more than max_bucket_size
    # ids — a degenerate boilerplate cluster of 100M docs costs one
    # bigint count, not an 800 MB aggregation buffer. `>= 2` also drops
    # singleton buckets (most of them) before the collect shuffle.
    sizes = bands_df.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bsz"))
    if telemetry is not None:
        # the telemetry aggregate is EAGER, so without a persist the
        # sizes groupBy runs twice (once here, once for the cap
        # join) — one full extra pass over the band stream. The
        # persisted frame rides out on the result as
        # ``_grove_persisted_sizes`` so the caller can release it
        # once the candidates materialize (minhash_dedup_pairs does,
        # right after its eager checkpoint).
        sizes = sizes.persist()
    _cap_telemetry(sizes, "bsz", max_bucket_size, telemetry,
                   "LSH bucket cap", "band-buckets",
                   "doc-band entries — pairs inside those degenerate "
                   "clusters are NOT emitted; route them through "
                   "exact dedup instead")
    bands_df = bands_df.join(
        sizes.where(F.col("bsz").between(2, max_bucket_size)),
        ["band", "bucket"],
    ).drop("bsz")
    # array_distinct: a doc id duplicated in the INPUT appears twice in
    # its bucket; without the dedup the expansion would emit the
    # self-pair (x, x), which the self-join's strict `l.doc < r.doc`
    # never produced (and which verify would "confirm" at Jaccard 1.0).
    grouped = bands_df.groupBy("band", "bucket").agg(
        F.array_distinct(F.sort_array(F.collect_list("doc"))).alias("ds")
    )
    pairs = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    if telemetry is not None:  # capped path is the only flow here
        pairs._grove_persisted_sizes = sizes  # type: ignore[attr-defined]
    return pairs


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
    telemetry: dict | None = None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded buckets ->
    candidate pairs -> (optional) exact-Jaccard verification.

    With verification the result is exact w.r.t. the threshold (LSH only
    prunes the candidate space), so recall is governed by the banding
    curve 1-(1-s^r)^b.

    Verification is O(candidates), NOT all-pairs: shingles are semi-joined
    down to candidate docs first, collected into per-doc sets, and each
    candidate pair's exact Jaccard computed via array_intersect. A global
    shingle self-join here would be the exact N² cost LSH exists to avoid.
    """
    # Both sigs and cands are consumed by MULTIPLE downstream subtrees
    # (banding reads sigs twice for the bucket-size cap; verification
    # reads cands three times); without materialization each reuse
    # recomputes the whole shingle+signature pipeline. sigs persist() is
    # released deterministically once the candidates materialize. The
    # candidate list itself is localCheckpoint'ed rather than persist'ed:
    # a persist would pin the frame in the cache manager for the session
    # lifetime (nobody can unpersist it after this returns — repeated
    # pipeline runs would accumulate leaked storage), while a local
    # checkpoint's blocks are released by the ContextCleaner as soon as
    # the returned DataFrame is garbage-collected.
    sigs = minhash_signatures(docs, num_hashes, n, id_col, text_col).persist()
    lazy_cands = lsh_candidate_pairs(
        sigs, bands, num_hashes // bands, id_col,
        max_bucket_size=max_bucket_size, telemetry=telemetry,
    )
    try:
        cands = lazy_cands.localCheckpoint(eager=True)
    finally:
        # both releases must survive a failed checkpoint (job cancel,
        # executor loss) — a leaked persist pins storage for the session
        sigs.unpersist()
        psizes = getattr(lazy_cands, "_grove_persisted_sizes", None)
        if psizes is not None:  # telemetry path: release the sizes cache
            psizes.unpersist()
    if not verify:
        return cands
    # Verify sets are built as a PER-ROW projection of hashed shingles
    # (r4 verdict #1): no explode, no groupBy/collect_set shuffle, and
    # the compared arrays are fixed 8-byte longs instead of strings —
    # Jaccard is identical up to xxhash64 collisions (~n²/2⁶⁴ per doc).
    # Only candidate docs' sets survive the semi-join (cand_docs is
    # small relative to the corpus, so AQE broadcasts it); the join of
    # cands against those sets is O(candidates), never all-pairs.
    cand_docs = (
        cands.select(F.col("a").alias("doc"))
        .union(cands.select(F.col("b").alias("doc")))
        .distinct()
    )
    # Materialize the candidate sets ONCE: the a-side and b-side joins
    # below each reference `sets`, and without a checkpoint Spark
    # evaluates the whole scan+shingle+semi-join subtree twice (profiled:
    # 6 scans of the corpus, 5.8 s verify for 7,500 pairs). The local
    # checkpoint also gives AQE exact sizes, so at gate scale both joins
    # come back as broadcasts; at 100 TB the shuffled volume is still
    # O(candidate docs), never the corpus.
    # Order matters twice here (profiled at 1M docs / 50k pairs):
    # (1) cand_docs is ids only (8 B/row) — broadcast it when it fits;
    #     left to stats Spark ran the semi-join as SMJ and shuffled the
    #     full corpus' shingle-set arrays (~1.6 GB) to keep ~10%. The
    #     hint is gated on the (already materialized, cheap-to-count)
    #     candidate count: a forced broadcast has NO size fallback, so a
    #     near-dup-saturated corpus whose candidate set rivals the
    #     corpus would otherwise OOM the driver / hit the 8 GB
    #     broadcast hard limit. Past the gate the plain semi-join lets
    #     AQE pick the strategy — slower, but it completes.
    # (2) filter docs BEFORE projecting shingle sets — written the other
    #     way round, the tokenize+hash+distinct projection ran over all
    #     1M rows and then dropped 90% of its output (22 s vs ~2 s; the
    #     semi-join did not get pushed below the projection).
    ids = cand_docs.withColumnRenamed("doc", id_col)
    # ≤ ~2·5M ids: a LongHashedRelation costs ~30-40 B/key, so the build
    # stays ≲ 400 MB per executor at the bound (the earlier 25M-pair
    # gate allowed ~50M ids ≈ 1.5 GB — executor memory pressure, r5
    # advisor finding). Past the gate the plain semi-join lets AQE pick.
    if cands.count() <= 5_000_000:
        ids = F.broadcast(ids)
    cand_rows = docs.join(ids, id_col, "left_semi")
    sets = hashed_shingle_sets(cand_rows, n, id_col, text_col).localCheckpoint(
        eager=True
    )
    j = cands.join(
        sets.select(F.col("doc").alias("a"), F.col("sh_set").alias("sh_a")), "a"
    ).join(sets.select(F.col("doc").alias("b"), F.col("sh_set").alias("sh_b")), "b")
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.size("sh_a") + F.size("sh_b") - common)
    return j.where(jac >= F.lit(threshold)).select("a", "b")


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document, fully vectorized in Catalyst.

    Each distinct word hashes to 64 bits; the signature bit i is the sign
    of sum over words of (bit_i ? +1 : -1). Near-dups differ in few bits
    (compare with ``hamming``).

    The hashed-word array is materialized ONCE in a separate projection:
    Catalyst does no CSE across aggregate lambdas, so inlining xxhash64
    into the bit aggregation would re-hash every word per bit
    (CollapseProject keeps the two projections apart because ``__hw`` is
    non-cheap and referenced many times). The bit sums fold in a SINGLE
    traversal of the array into a 64-slot accumulator — the earlier form
    ran 64 independent ``aggregate`` lambdas, re-walking the array once
    per bit."""
    words = F.array_distinct(F.split(F.col(text_col), " "))
    pre = docs.select(id_col, F.transform(words, lambda w: F.xxhash64(w)).alias("__hw"))
    # SQL form: PySpark's F.shiftright only takes an int shift amount,
    # but the underlying ShiftRight expression accepts a column — needed
    # to compute all 64 bit deltas per word inside one lambda.
    bit_sums = F.expr(
        f"aggregate(__hw, array_repeat(0, {bits}), (acc, h) -> "
        f"zip_with(acc, transform(sequence(0, {bits - 1}), "
        "i -> CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1 ELSE -1 END), "
        "(a, d) -> a + d))"
    )
    tmp = pre.select(id_col, bit_sums.alias("__bs"))
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        sig = sig + F.when(F.col("__bs")[i] > 0, F.lit(1).cast("bigint") * (2**i if i < 63 else -(2**63))).otherwise(0)
    return tmp.select(id_col, sig.alias("simhash"))


def hamming(a, b):
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(F.expr(f"{a} ^ {b}") if isinstance(a, str) else a.bitwiseXOR(b))


def simhash_near_pairs(docs: DataFrame, max_distance: int = 3, id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup pairs via 4-block banding (any identical 16-bit
    block -> candidate; exact for distance<=3 by pigeonhole with 4 blocks)."""
    sigs = simhash(docs, id_col)
    blocks = sigs.select(
        F.col(id_col).alias("doc"),
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftrightunsigned("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    l, r = blocks.alias("l"), blocks.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return cands.where(
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= max_distance
    ).select("a", "b")


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
    max_bucket_size: int | None = 100_000,
    telemetry: dict | None = None,
) -> DataFrame:
    """Embedding near-duplicates: random-hyperplane LSH buckets then exact
    cosine verification within buckets (see similarity.py for the
    hyperplane construction).

    The in-bucket self-join is QUADRATIC in bucket size — at 10^9
    vectors, 2^n_planes buckets must keep buckets small (size N/2^p), so
    size n_planes for the corpus (p ≈ log2(N) - 12 keeps buckets ~4k).
    ``max_bucket_size`` is the backstop: degenerate buckets (e.g. the
    all-zeros region) are dropped rather than allowed to explode, the
    same rule as lsh_candidate_pairs."""
    from grove_spark.operators.similarity import add_lsh_bucket, cosine

    b = add_lsh_bucket(emb.select(id_col, vec_col), vec_col, n_planes, seed)
    if max_bucket_size:
        bsz = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("__bsz"))
        _cap_telemetry(bsz, "__bsz", max_bucket_size, telemetry,
                       "hyperplane-LSH bucket cap", "buckets", "vectors")
        b = b.join(
            F.broadcast(bsz.where(F.col("__bsz") <= max_bucket_size)), "bucket"
        ).drop("__bsz")
    l, r = b.alias("l"), b.alias("r")
    cands = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    )
    sim = cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
    return cands.select(
        F.col(f"l.{id_col}").alias("a"),
        F.col(f"r.{id_col}").alias("b"),
        sim.alias("sim"),
    ).where(F.col("sim") >= threshold)
