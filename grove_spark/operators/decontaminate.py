"""Benchmark decontamination / cross-corpus n-gram overlap dedup.

The one dedup flavor document-level fuzzy matching (dedup_fuzzy) does
not cover: a training corpus must drop documents that CONTAIN text from
a held-out benchmark set — the standard rule is "any shared 13-gram"
(GPT-3 appendix C / PaLM-style decontamination), with a fractional
variant for softer policies. The reference has no text ops at all; this
is Spark-first from scratch.

Scale shape (the 100 TB plan):

* corpus, benchmark and streamed grams all come from the one gram-set
  kernel (``dedup_fuzzy.hashed_gram_rows`` over ``hashed_shingle_sets``:
  gram byte ranges hashed off the string buffer, one row per distinct
  gram id) — embarrassingly parallel, no shuffle until the aggregation.
  No gram string is ever built; the string form is a spec under
  ``tests/``;
* the benchmark side is its DISTINCT gram ids, so the probe join moves
  8-byte longs, never gram text. Benchmarks are tiny
  next to a training corpus (10^6-10^7 grams vs 10^12), so the gram set
  broadcasts and the corpus side NEVER shuffles for the join — the whole
  job is scan → gram kernel → broadcast-probe → partial-agg groupBy(doc).
  For a benchmark too big to broadcast, pass ``broadcast_benchmark=
  False`` to fall back to a shuffle equi-join on the hash;
* per-doc counts aggregate map-side (groupBy on doc_id after the join
  carries only (doc_id, 0/1)).

xxhash64 gram ids admit a ~2^-64/pair false-collision — at 10^7
benchmark grams × 10^4 grams/doc that is ~10^-9 per document, the usual
engineering trade every production decontamination pipeline makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grove_spark.operators.dedup_fuzzy import hashed_gram_rows


def _bench_grams(benchmark: DataFrame, text_col: str, n: int) -> DataFrame:
    """The hashed benchmark gram set — the JOIN CONTRACT shared by the
    batch and streaming scorers (one definition: a hashing/normalization
    change cannot silently break batch/stream parity)."""
    rows = hashed_gram_rows(
        benchmark.select(F.lit(0).alias("__b"), text_col), n, "__b", text_col
    )
    return (
        rows.where(F.col("__g").isNotNull())
        .select("__g")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document n-gram overlap with the benchmark set.

    Returns one row per document id: (id_col, n_grams, n_contaminated,
    contaminated_frac). Documents shorter than ``n`` words have
    n_grams = 0 and frac = 0.0 (nothing to match on). ``id_col`` is
    expected to be unique per row (the universal doc-table contract;
    duplicated ids collapse to one output row).
    """
    # Gram construction + hashing was measured at ~16 s of the 17.7 s
    # 1M-doc leg (the join + aggregate tail is ~1.7 s), so the corpus
    # side hashes gram BYTE RANGES straight off the Arrow string buffer
    # (dedup_fuzzy.hashed_gram_rows — no gram strings, no Catalyst array
    # churn) in ONE pass that also carries the per-doc distinct-gram
    # count. explode_outer semantics in that frame keep gramless docs as
    # a null-gram row, so the per-doc aggregate covers every document
    # with no join back to ``docs``.
    bench = _bench_grams(benchmark, text_col, n)
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    rows = hashed_gram_rows(docs, n, id_col, text_col)
    n_grams = F.max("__n").cast("bigint")
    n_cont = F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint")
    per_doc = (
        rows.join(bench, "__g", "left")
        .groupBy(id_col)
        .agg(n_grams.alias("n_grams"), n_cont.alias("n_contaminated"))
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_contaminated",
        F.when(
            F.col("n_grams") > 0,
            F.col("n_contaminated").cast("double") / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("contaminated_frac"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Drop documents contaminated by the benchmark set.

    A document is contaminated when it shares at least ``min_hits``
    n-grams with the benchmark AND its contaminated fraction is >=
    ``threshold``. The defaults implement the strict "any shared
    13-gram" rule. Returns the surviving ``docs`` rows unchanged.
    """
    scores = contamination_scores(
        docs, benchmark, n, id_col, text_col, broadcast_benchmark
    )
    bad = scores.where(
        (F.col("n_contaminated") >= min_hits)
        & (F.col("contaminated_frac") >= threshold)
    ).select(id_col)
    # anti-join on the id: the contaminated set is a small fraction of
    # the corpus, and ids are narrow either way
    return docs.join(bad, id_col, "left_anti")


def contamination_scores_stream(
    docs,
    benchmark: DataFrame,
    time_col: str,
    delay: str = "10 minutes",
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark_grams: DataFrame | None = None,
) -> DataFrame:
    """Streaming-native contamination scoring: documents arrive as a
    STREAM, the benchmark is static.

    Shape: gram-id rows from the gram-set kernel (stateless; the event
    time rides in a struct id beside the doc id) →
    stream-static broadcast join against the hashed benchmark grams
    (no state — the static side ships with every task) → watermarked
    per-document aggregation keyed on (event time, doc id), emitted in
    APPEND mode once the watermark passes the document's timestamp.
    State is O(open documents inside the lateness window), not O(corpus).

    Deviations from the batch twin (``contamination_scores``), both
    inherent to append-mode streaming: documents shorter than ``n``
    words emit NO row (the batch twin emits n_grams=0 — a streaming
    left-join-back has nowhere to anchor; absent = clean), and each
    document must carry exactly one ``time_col`` value. Compose with
    ``foreachBatch`` + the batch ``decontaminate`` when drop semantics
    over full micro-batches are wanted instead.

    Cache lifecycle: the hashed benchmark grams are persist()ed (a
    stream-static join re-evaluates the static plan every micro-batch)
    and the persisted frame is attached to the returned stream frame as
    ``.benchmark_grams`` — callers unpersist() it when the query stops,
    instead of each call pinning another cached copy for the session's
    lifetime. Alternatively pass a pre-built ``benchmark_grams`` frame
    (schema: one ``__g`` bigint + ``__hit`` int per distinct benchmark
    shingle hash, e.g. a previous call's attribute) whose caching the
    caller owns entirely.
    """
    # the same gram rows as the batch twin; gramless docs' null-gram
    # rows are dropped, so a short doc emits no row
    doc = F.struct(id_col, time_col).alias("__doc")
    sh = (
        hashed_gram_rows(docs.select(doc, text_col), n, "__doc", text_col)
        .where(F.col("__g").isNotNull())
        .select(f"__doc.{time_col}", f"__doc.{id_col}", "__g")
    )
    if benchmark_grams is None:
        benchmark_grams = _bench_grams(benchmark, text_col, n).persist()
    bench = F.broadcast(benchmark_grams)
    n_grams = F.count(F.lit(1)).cast("bigint")
    n_cont = F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint")
    out = (
        sh.withWatermark(time_col, delay)
        .join(bench, "__g", "left")
        .groupBy(time_col, id_col)
        .agg(
            n_grams.alias("n_grams"),
            n_cont.alias("n_contaminated"),
            (n_cont.cast("double") / n_grams).alias("contaminated_frac"),
        )
    )
    out.benchmark_grams = benchmark_grams
    return out
