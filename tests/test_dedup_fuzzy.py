"""Near-dup detection: planted duplicates must be found; clean corpora
must not produce false positives at high thresholds."""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from grove_spark.operators.dedup_fuzzy import (
    embedding_near_pairs,
    hashed_gram_rows,
    hashed_shingle_sets,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm windowsill", "cold windowsill")  # 1-word edit
FAR = (
    "completely different text about spark dataframes shuffles and "
    "broadcast joins at terabyte scale with adaptive query execution"
)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


# ---- expression specs of the Arrow gram kernels ---------------------------
# The package keeps one form per operator: the kernels. These Catalyst
# expression forms over the string shingle definition (_distinct_grams)
# are what each kernel must equal, value for value.


def _distinct_grams(text_col: str, n: int):
    """DISTINCT word n-gram shingle array for one document row: the
    string form of the shingle definition every gram kernel is tested
    against.

    Documents with fewer than ``n`` words yield an empty array —
    guarded explicitly: ``sequence(0, k-1)`` with k=0 yields a
    DESCENDING [0,-1] in Spark and the slice at start 0 throws
    INVALID_PARAMETER_VALUE.START."""
    words = F.split(F.col(text_col), " ")
    k = F.size(words) - (n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def word_shingles(df, text_col: str = "text", n: int = 3, out: str = "shingle"):
    """Distinct word n-gram shingles per document, as one exploded row per
    (doc_id, shingle). Pure Catalyst: split + transform + explode.

    Documents with fewer than ``n`` words produce no shingles (the row
    is dropped by the explode of an empty array — see _distinct_grams)."""
    return df.withColumn(out, F.explode(_distinct_grams(text_col, n)))


def spec_ngram_jaccard_pairs(docs, threshold=0.8, n=3, id_col="doc_id",
                             text_col="text", max_df=None):
    """ngram_jaccard_pairs: the self-join on the gram STRING."""
    sh = word_shingles(docs.select(id_col, text_col), text_col, n).select(
        F.col(id_col).alias("doc"), "shingle"
    )
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(dfreq.where(F.col("__df") <= max_df), "shingle").drop("__df")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("l")
    b = sh.alias("r")
    common = (
        a.join(b, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.doc") < F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("n_sh", "n_a"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("n_sh", "n_b"), "b")
        .where(
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")) >= F.lit(threshold)
        )
    )
    return out.select("a", "b", "common", F.col("n_a").cast("bigint").alias("n_a"), F.col("n_b").cast("bigint").alias("n_b"))


def spec_ngram_containment_pairs(docs, threshold=0.8, n=3, id_col="doc_id",
                                 text_col="text", max_df=None):
    """ngram_containment_pairs: the self-join on the gram STRING."""
    sh = word_shingles(docs.select(id_col, text_col), text_col, n).select(
        F.col(id_col).alias("doc"), "shingle"
    )
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(dfreq.where(F.col("__df") <= max_df), "shingle").drop("__df")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("l"), sh.alias("r")
    common = (
        a.join(b, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.doc") != F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("contained"), F.col("r.doc").alias("container"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    out = (
        common.join(
            sizes.withColumnRenamed("doc", "contained").withColumnRenamed("n_sh", "n_contained"),
            "contained",
        )
        .withColumn("containment", F.col("common").cast("double") / F.col("n_contained"))
        .where(F.col("containment") >= F.lit(threshold))
    )
    return out.select(
        "contained", "container", "common",
        F.col("n_contained").cast("bigint").alias("n_contained"),
        "containment",
    )


def _spec_gram_hashes(text_col: str, n: int):
    return F.transform(_distinct_grams(text_col, n), lambda g: F.xxhash64(g))


def spec_hashed_shingle_sets(docs, n, id_col="doc_id", text_col="text"):
    """hashed_shingle_sets: (doc, sh_set) in first-occurrence order."""
    return docs.select(
        F.col(id_col).alias("doc"), _spec_gram_hashes(text_col, n).alias("sh_set")
    )


def spec_hashed_gram_rows(docs, n, id_col="doc_id", text_col="text"):
    """hashed_gram_rows: one (id, __n, __g) row per distinct gram id,
    explode_outer so a gramless doc keeps one null-gram row."""
    grams = _spec_gram_hashes(text_col, n)
    return docs.select(
        F.col(id_col),
        F.size(grams).cast("bigint").alias("__n"),
        F.explode_outer(grams).alias("__g"),
    )


def spec_minhash_signatures(docs, num_hashes, n, id_col="doc_id", text_col="text"):
    """minhash_signatures: sig[i] = min over grams of
    xxhash64(xxhash64(gram), i); docs with no grams have no row."""
    pre = docs.select(
        F.col(id_col), _distinct_grams(text_col, n).alias("__grams")
    ).where(F.size("__grams") > 0)
    # __hs in its own projection, or Catalyst re-hashes the strings in
    # every seed's min walk
    hs = pre.select(
        id_col, F.transform("__grams", lambda g: F.xxhash64(g)).alias("__hs")
    )

    def min_hash(i: int):
        # the seed is closed over OUTSIDE the lambda: a two-parameter
        # lambda would receive the array index as its second argument
        seed = F.lit(i)
        return F.array_min(F.transform("__hs", lambda h: F.xxhash64(h, seed)))

    return hs.select(
        id_col, F.array(*[min_hash(i) for i in range(num_hashes)]).alias("sig")
    )


# Inputs the kernels' byte-range walk must split exactly like Spark's
# split(text, ' '): empty words from leading/trailing/doubled spaces,
# tabs and newlines INSIDE words (only ' ' separates), multi-byte UTF-8,
# and words/grams of 32+ bytes (XXH64's stripe path).
ADVERSARIAL_TEXTS = [
    "",
    " ",
    "   ",
    " leading space then five words",
    "trailing space after five words ",
    "  both  ends  and  doubled  spaces  ",
    "héllo wörld ünïcode ñandú 日本語 テキスト 🙂 emoji mixed in",
    "tab\tinside word and new\nline inside word plus\r\ncrlf end",
    "\ttab leads and a newline trails\n",
    "x" * 40,
    "supercalifragilisticexpialidocious " * 4,
    "日本語のテキストは一語で三十二バイトを超える",
    " ".join(f"ünï{i}\twörd" for i in range(20)),
    "a b c d e f g h i j k l m n o p",
]


def _parity_corpus(spark, seed_mul, n_rows, max_words, vocab, nulls=False):
    """Random word docs plus ADVERSARIAL_TEXTS, as (doc_id, text)."""
    import random

    rows = []
    for i in range(n_rows):
        rng = random.Random(i * seed_mul)
        k = rng.randint(0, max_words)
        t = " ".join(f"w{rng.randint(0, vocab)}" for _ in range(k))
        if nulls and i % 17 == 0:
            t = t + "  doubled  spaces "
        rows.append((i, None if nulls and i % 23 == 11 else t))
    rows += [(n_rows + j, t) for j, t in enumerate(ADVERSARIAL_TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)], schema=SCHEMA
    )


def test_word_shingles(spark, docs):
    sh = word_shingles(docs.where("doc_id = 3"), n=3).collect()
    words = FAR.split(" ")
    assert len(sh) == len(words) - 2
    assert sh[0]["shingle"] == "completely different text"


def test_word_shingles_short_docs_dont_crash(spark):
    """Docs with fewer than n words yield no shingles (and must not hit
    Spark's descending sequence(0,-1) + slice(_, 0, n) runtime error)."""
    df = spark.createDataFrame(
        [(1, "two words"), (2, "one"), (3, ""), (4, "exactly three words")],
        schema=SCHEMA,
    )
    rows = word_shingles(df, n=3).collect()
    assert {r["doc_id"] for r in rows} == {4}
    assert rows[0]["shingle"] == "exactly three words"
    # and the full pipelines survive a short doc mixed into the corpus
    mixed = spark.createDataFrame([(1, BASE), (2, BASE), (3, "hi")], schema=SCHEMA)
    got = {(r["a"], r["b"]) for r in minhash_dedup_pairs(mixed, threshold=0.5).collect()}
    assert got == {(1, 2)}
    got2 = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(mixed, threshold=0.5).collect()}
    assert got2 == {(1, 2)}


def test_ngram_jaccard_max_df_drops_boilerplate(spark):
    """A shingle present in every doc (boilerplate) is excluded from both
    the join and the Jaccard denominator when max_df caps it."""
    boiler = "copyright acme corp all rights reserved"
    df = spark.createDataFrame(
        [(1, f"{BASE} {boiler}"), (2, f"{NEAR} {boiler}"), (3, f"{FAR} {boiler}")],
        schema=SCHEMA,
    )
    with_cap = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=2).collect()}
    assert (1, 2) in with_cap and not any(3 in p for p in with_cap)


def test_ngram_jaccard_finds_planted_pairs(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (1, 4) in got  # exact dup
    assert (1, 2) in got and (2, 4) in got  # near dup
    assert not any(3 in p for p in got)  # unrelated doc clean
    exact = [r for r in pairs if (r["a"], r["b"]) == (1, 4)][0]
    assert exact["common"] == exact["n_a"] == exact["n_b"]


def test_minhash_exact_dup_identical_signature(spark, docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, num_hashes=32).collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]
    # near-dup signatures mostly agree
    agree = sum(1 for a, b in zip(sigs[1], sigs[2]) if a == b) / 32
    assert agree > 0.5


def test_minhash_lsh_pipeline(spark, docs):
    pairs = {(r["a"], r["b"]) for r in
             minhash_dedup_pairs(docs, threshold=0.5, num_hashes=32, bands=8).collect()}
    assert (1, 4) in pairs and (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_lsh_bucket_cap_drops_degenerate_cluster(spark):
    boiler = [(i, BASE) for i in range(20)]
    df = spark.createDataFrame(boiler, schema=SCHEMA)
    sigs = minhash_signatures(df, num_hashes=32)
    # cap below the cluster size: no candidates survive
    assert lsh_candidate_pairs(sigs, bands=8, rows_per_band=4, max_bucket_size=10).count() == 0
    # without the cap: full quadratic pair set
    assert lsh_candidate_pairs(sigs, bands=8, rows_per_band=4, max_bucket_size=0).count() == 190


def test_bucket_cap_drop_is_surfaced_not_silent(spark, docs):
    """VERDICT r3 #4: the cap's effect must be observable — telemetry
    reports how many band-buckets (and doc entries) were dropped, while
    pairs OUTSIDE the degenerate cluster still come through."""
    from grove_spark.operators.dedup_fuzzy import minhash_dedup_pairs

    # the planted near-dup corpus plus a 12-doc identical boilerplate
    # cluster (a DIFFERENT text, so only its own buckets blow the cap)
    boiler = [(100 + i, FAR) for i in range(12)]
    df = docs.unionByName(spark.createDataFrame(boiler, schema=SCHEMA))
    tele = {}
    pairs = minhash_dedup_pairs(
        df, threshold=0.7, num_hashes=32, bands=8,
        max_bucket_size=10, telemetry=tele,
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert tele["buckets_dropped"] > 0, "cap engaged but not surfaced"
    assert tele["entries_dropped"] >= 12
    assert tele["buckets_total"] > tele["buckets_dropped"]
    assert tele["max_bucket_size"] == 10
    # degenerate-cluster pairs are gone; the planted near-dup survives
    assert all(a < 100 for a, _ in got)
    assert (1, 4) in got
    # telemetry with NO drop: zeros, not missing keys
    tele2 = {}
    minhash_dedup_pairs(
        docs, threshold=0.7, num_hashes=32, bands=8,
        max_bucket_size=1000, telemetry=tele2,
    ).collect()
    assert tele2["buckets_dropped"] == 0 and tele2["buckets_total"] > 0


def test_embedding_bucket_cap_telemetry(spark):
    """Same surfacing contract for the hyperplane-LSH backstop."""
    from grove_spark.operators.dedup_fuzzy import embedding_near_pairs

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(9)] + [
        (100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.001, 0.0])
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tele = {}
    pairs = embedding_near_pairs(
        emb, threshold=0.9, n_planes=4, max_bucket_size=5, telemetry=tele
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert tele["buckets_dropped"] >= 1 and tele["entries_dropped"] >= 9
    assert (100, 101) in got, "pair outside the dropped bucket lost"
    assert all(a >= 100 for a, _ in got)


def test_simhash_near_pairs(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[1] == sigs[4]
    pairs = {(r["a"], r["b"]) for r in simhash_near_pairs(docs, max_distance=6).collect()}
    assert (1, 4) in pairs
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_embedding_near_pairs(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    v1 = rng.standard_normal(16)
    v2 = v1 + rng.standard_normal(16) * 0.01  # near-dup
    v3 = rng.standard_normal(16)  # unrelated
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(
        [(1, [float(x) for x in v1]), (2, [float(x) for x in v2]), (3, [float(x) for x in v3])],
        schema=schema,
    )
    pairs = embedding_near_pairs(df, threshold=0.95, n_planes=4).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}


def test_containment_pairs_directional(spark):
    """A short doc fully contained in a longer one must be flagged in the
    contained->container direction even when symmetric Jaccard is far
    below threshold; unrelated docs never pair."""
    from grove_spark.operators.dedup_fuzzy import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long_ = ("intro words here then " + short +
             " and a very long tail of unrelated filler " +
             " ".join(f"filler{i}" for i in range(40)))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "completely different text with nothing shared here at all")],
        "doc_id int, text string",
    )
    pairs = ngram_containment_pairs(docs, threshold=0.9)
    got = {(r["contained"], r["container"]): r["containment"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert (2, 1) not in got, "containment is directional"
    assert all(3 not in k for k in got)
    # and Jaccard at the same bar misses it (that's the point)
    j = ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert not [r for r in j if {r["a"], r["b"]} == {1, 2}]


def test_duplicate_doc_ids_emit_no_self_pairs(spark):
    """A doc id duplicated in the input lands twice in its buckets; the
    bucket-local expansion must not emit (x, x) — the old self-join's
    strict l.doc < r.doc never did (r5 review regression)."""
    from grove_spark.operators.dedup_fuzzy import minhash_dedup_pairs

    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}")
            for i in range(50)]
    rows.append(rows[7])  # same id, same text — dirty upstream data
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = minhash_dedup_pairs(docs, threshold=0.5).collect()
    assert all(r["a"] != r["b"] for r in pairs)


def test_uncapped_path_is_selfjoin_and_matches_capped(spark):
    """max_bucket_size=0 must NOT use the in-row pair expansion (one
    degenerate bucket would materialize its quadratic pair set inside a
    single array); it keeps the distributed self-join and produces the
    same pairs as a never-engaged cap."""
    from grove_spark.operators.dedup_fuzzy import (
        lsh_candidate_pairs, minhash_signatures)

    rows = [(i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(12)))
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    sigs = minhash_signatures(docs, 64, 3)
    uncapped = lsh_candidate_pairs(sigs, 16, 4, max_bucket_size=0)
    plan = uncapped._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan  # expansion path not taken
    capped = lsh_candidate_pairs(sigs, 16, 4, max_bucket_size=10_000)
    assert uncapped.exceptAll(capped).count() == 0
    assert capped.exceptAll(uncapped).count() == 0


def test_xxh64_long_kernel_matches_spark(spark):
    """The numpy XXH64.hashLong replica must be bit-identical to Spark's
    xxhash64 over longs — single-arg (seed 42) and the chained
    two-arg form minhash_signatures uses."""
    import numpy as np

    from grove_spark.operators.dedup_fuzzy import _xxh64_int, _xxh64_long

    vals = np.array(
        [0, 1, -1, 2**63 - 1, -(2**63), 42, 123456789123456789,
         -987654321987654321, 7, -7],
        dtype=np.int64,
    )
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    one = [r[0] for r in df.select(F.xxhash64("x")).collect()]
    h0 = _xxh64_long(vals.view(np.uint64), np.uint64(42))
    assert h0.view(np.int64).tolist() == one
    for seed in (0, 1, 31, 63):
        # the seed literal is an INT -> Spark chains XXH64.hashInt
        exp = [r[0] for r in df.select(F.xxhash64("x", F.lit(seed))).collect()]
        got = _xxh64_int(np.uint64(seed), h0)
        assert got.view(np.int64).tolist() == exp, f"seed {seed}"


def test_arrow_minhash_parity_with_catalyst(spark):
    """The Arrow signature kernel is bit-identical to the Catalyst
    expression spec at 64 and 32 hashes, including short-doc drop
    semantics and the adversarial texts."""
    df = _parity_corpus(spark, 1, 400, 12, 60)
    for num_hashes in (64, 32):
        a = {r["doc_id"]: r["sig"]
             for r in minhash_signatures(df, num_hashes, 3).collect()}
        c = {r["doc_id"]: r["sig"]
             for r in spec_minhash_signatures(df, num_hashes, 3).collect()}
        assert a == c, f"num_hashes={num_hashes}"
        assert len(a) > 100  # the corpus really produced signatures
        assert {400 + 10, 400 + 12} <= a.keys()  # 32+-byte grams


def test_xxh64_bytes_kernel_matches_spark(spark):
    """The vectorized XXH64-over-bytes replica must match F.xxhash64 on
    strings of every length class: empty, <8, 4-byte tail, 1-byte tail,
    8..31, >=32 (stripe path), multi-byte UTF-8, long."""
    import numpy as np

    from grove_spark.operators.dedup_fuzzy import _xxh64_bytes

    strings = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "abcdefghi", "0123456789abcdef", "0123456789abcdef0123456789abcde",
        "0123456789abcdef0123456789abcdef",  # exactly 32
        "0123456789abcdef0123456789abcdef0123",  # 32 + 4
        "0123456789abcdef0123456789abcdefX",  # 32 + 1
        "x" * 100, "héllo wörld ünïcode",  # multi-byte utf-8
        "the quick brown fox jumps over the lazy dog " * 3,
        "a b", " a  b ", "\ttab\nnewline",
    ]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    exp = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    raw = b"".join(s.encode("utf-8") for s in strings)
    data = np.frombuffer(raw, dtype=np.uint8)
    lens = np.array([len(s.encode("utf-8")) for s in strings], dtype=np.int64)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    got = _xxh64_bytes(data, starts, lens).view(np.int64).tolist()
    assert got == exp


def test_hashed_gram_rows_parity(spark):
    """Arrow gram-row kernel vs the Catalyst expression spec: identical
    (id, __n, __g) multisets, including null texts, short docs, doubled
    spaces, the adversarial texts and n=1/n=3/n=13."""
    df = _parity_corpus(spark, 31, 300, 16, 40, nulls=True)
    n_docs = 300 + len(ADVERSARIAL_TEXTS)
    for n in (1, 3, 13):
        a = sorted(
            (r["doc_id"], r["__n"], r["__g"])
            for r in hashed_gram_rows(df, n).collect()
        )
        c = sorted(
            (r["doc_id"], r["__n"], r["__g"])
            for r in spec_hashed_gram_rows(df, n).collect()
        )
        assert a == c, f"n={n}"
        assert len({r[0] for r in a}) == n_docs  # every doc represented


def test_hashed_shingle_sets_parity(spark):
    """Arrow shingle-set kernel vs the Catalyst spec: same per-doc hash
    SETS (order differs by design: sorted vs first-occurrence),
    adversarial texts included."""
    df = _parity_corpus(spark, 13, 300, 10, 9)
    a = {r["doc"]: frozenset(r["sh_set"])
         for r in hashed_shingle_sets(df, 3).collect()}
    c = {r["doc"]: frozenset(r["sh_set"])
         for r in spec_hashed_shingle_sets(df, 3).collect()}
    assert a == c
    assert len(a) == 300 + len(ADVERSARIAL_TEXTS)  # short docs kept, empty sets


def test_empty_gram_hash_raises_no_warning(spark):
    """An empty gram (n=1 over empty text or doubled spaces) hashes
    without numpy's uint64 scalar-overflow RuntimeWarning, which an
    executor would print for every such batch, and to F.xxhash64's
    value."""
    import warnings

    import numpy as np
    import pyarrow as pa

    from grove_spark.operators.dedup_fuzzy import _gram_hashes_of_batch

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        hashes, k = _gram_hashes_of_batch(pa.array(["", "a  b"]), 1)
    grams = ["", "a", "", "b"]
    df = spark.createDataFrame([(g,) for g in grams], "g string")
    exp = [r[0] for r in df.select(F.xxhash64("g")).collect()]
    assert k.tolist() == [1, 3]
    assert hashes.view(np.int64).tolist() == exp


# Words of the pair corpus: the empty word (doubled spaces), a tab
# inside a word (only ' ' separates), multi-byte UTF-8, and 34-/40-byte
# words (XXH64's stripe path).
PAIR_VOCAB = ["a", "b", "c", "d", "", "tab\tword", "ünï", "日本語", "🙂",
              "x" * 34, "y" * 40]


def _pair_corpus(spark):
    """Near-dup families (a template plus 0-3 word edits) so pairs clear
    the thresholds, plus null, empty, short and leading-space/tab texts
    and duplicated doc ids, as (doc_id, text)."""
    import random

    rng = random.Random(7)
    templates = [[rng.choice(PAIR_VOCAB) for _ in range(rng.randint(4, 14))]
                 for _ in range(6)]
    rows = []
    for i in range(80):
        words = list(templates[i % len(templates)])
        for _ in range(rng.randint(0, 3)):
            words[rng.randrange(len(words))] = rng.choice(PAIR_VOCAB)
        rows.append((i, " ".join(words)))
    rows += [
        (100, None), (101, ""), (102, "a"), (103, "a b"),
        (104, " " + rows[0][1]), (105, "\t" + rows[1][1]),
        (106, rows[2][1].replace(" ", "  ")),
        (3, rows[3][1]),  # the same id twice, same text
        (5, rows[11][1]),  # the same id twice, another doc's text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_pairs_match_string_gram_spec(spark):
    """Both pair functions (self-join on the 64-bit gram id) return
    exactly the rows of their string-gram specs, with and without the
    max_df cap, at n=3 and n=1 (where the empty word is a gram)."""
    df = _pair_corpus(spark)
    cases = [
        (ngram_jaccard_pairs, spec_ngram_jaccard_pairs, 0.3),
        (ngram_containment_pairs, spec_ngram_containment_pairs, 0.5),
    ]
    for fn, spec, threshold in cases:
        for n in (3, 1):
            uncapped = None
            for max_df in (None, 12):
                got = sorted(tuple(r) for r in fn(
                    df, threshold=threshold, n=n, max_df=max_df).collect())
                want = sorted(tuple(r) for r in spec(
                    df, threshold=threshold, n=n, max_df=max_df).collect())
                assert got == want, (fn.__name__, n, max_df)
                # not vacuous: every case returns dozens of pairs
                assert len(want) > 40, (fn.__name__, n, max_df)
                if max_df is None:
                    uncapped = want
            assert want != uncapped, (fn.__name__, n)  # the cap engaged
