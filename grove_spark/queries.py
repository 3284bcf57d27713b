"""Query catalog for the driver's correctness gate.

Each entry pairs a Spark implementation (built from grove_spark's real
operators) with an ANSI-SQL oracle DuckDB runs on the same parquet
tables (/root/testdata/sf*/). Conventions for hash-stable comparison:

* every computed column is aliased identically on both sides;
* counts  -> BIGINT on both sides (DuckDB SUM(int) is HUGEINT — cast);
* money   -> exact DECIMAL(18,2) sums, then cast to DOUBLE (both engines
  derive the same double from the same exact decimal);
* times   -> unix microseconds (BIGINT), never engine-formatted strings;
* floats from single arithmetic ops on the same inputs are bit-equal.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grove_spark.operators.enrich import enrich
from grove_spark.operators.processors import filter_entries, split_path, zip_paths
from grove_spark.operators.routing import sink_counts


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread_partitions(df: DataFrame, per_part: int = 1 << 16) -> int:
    """Scale-adaptive repartition width: one partition per ``per_part``
    input bytes (default 64 KB — compressed text expands ~4x, and the
    downstream per-byte kernels keep a task busy at that size), clamped
    to [2, defaultParallelism]. Replaces constant-width spreads that
    cost 32 tiny tasks per stage at gate scale but starve a big input
    (guide §2: derive partitioning from input size, not a constant
    tuned to one box). The size is the optimizer's estimate for ``df``
    (a file scan's is its files' total bytes, read through the Hadoop
    FileSystem, so it holds on any store)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    want = max(2, int(str(stats.sizeInBytes())) // per_part)
    return int(min(df.sparkSession.sparkContext.defaultParallelism, want))


def _gate_store(state, out: str, batches) -> list:
    """Commit each batch as its own run dir under ``out``, the way a
    pipeline run does (operators/sinks.write_run, then one commit with
    the event_time footer stats); returns the manifest version after
    each commit."""
    import os

    from grove_spark.operators.sinks import write_partitioned_parquet, write_run

    versions = []
    for i, batch in enumerate(batches):
        run_id = state.new_run_id()
        data_paths, file_stats = write_run(
            state, os.path.join(out, f"part-{run_id}"),
            lambda d, b=batch: write_partitioned_parquet(b.repartition(2), d),
            "event_time",
        )
        state.commit(
            "gate", run_id, pointer=f"batch{i}", data_paths=data_paths,
            file_stats=file_stats,
        )
        versions.append(state.version())
    return versions


STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


# ---------------------------------------------------------------------------
# Grove pipeline operators over the driver testdata
# ---------------------------------------------------------------------------

def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: multi-output routing fan-out + per-sink counts (O6/O7).

    documents stands in for sequences; every source routes raw->logs and
    processed->processed, sources with src_num%3==0 also route->archive
    (mirrors the fixture sinks dim)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "connector", F.concat(F.col("source"), F.lit("_audit_events"))
    )
    srcs = docs.select("source", "connector").distinct()
    sinks_dim = (
        srcs.withColumn(
            "descriptors",
            F.when(
                F.substring("source", 4, 10).cast("int") % 3 == 0,
                F.array(F.lit("logs"), F.lit("processed"), F.lit("archive")),
            ).otherwise(F.array(F.lit("logs"), F.lit("processed"))),
        )
        .select("connector", F.explode("descriptors").alias("descriptor"))
        .withColumn("stream", F.when(F.col("descriptor") == "processed", F.lit("processed")).otherwise(F.lit("raw")))
        .withColumn("sink_kind", F.lit("s3"))
    )
    routed = docs.join(F.broadcast(sinks_dim), "connector", "inner")
    return routed.groupBy("descriptor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


SQL_ROUTE_COUNTS = """
WITH routed AS (
  SELECT d.*, 'logs' AS descriptor FROM documents d
  UNION ALL
  SELECT d.*, 'processed' FROM documents d
  UNION ALL
  SELECT d.*, 'archive' FROM documents d
  WHERE CAST(substr(source, 4, 10) AS INT) % 3 = 0
)
SELECT descriptor,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM routed GROUP BY descriptor
"""


def q_extract_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 over the events table: JSON-path extraction with first-truthy
    source resolution + a static field."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    mapped = F.when(k.isNotNull() & (k != ""), k).otherwise(F.col("event_type"))
    return ev.select(
        F.col("event_id"),
        mapped.alias("mapped"),
        F.lit("8.8").alias("ecs_version"),
    )


SQL_EXTRACT_PATHS = """
SELECT event_id,
       CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                 AND json_extract_string(props, '$.k') <> ''
            THEN json_extract_string(props, '$.k') ELSE event_type END AS mapped,
       '8.8' AS ecs_version
FROM events
"""


def q_filter_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: drop rows matching any filter (errors and zero-value rows)."""
    ev = _t(spark, sf_dir, "events")
    out = filter_entries(ev, ["sql:event_type = 'error'", "sql:value <= 0"])
    return out.select("event_id", "event_type", "user_id")


SQL_FILTER_ENTRIES = """
SELECT event_id, event_type, user_id FROM events
WHERE NOT (event_type = 'error' OR value <= 0)
"""


def q_split_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: fan one document into one row per word (explode)."""
    docs = _t(spark, sf_dir, "documents").withColumn("words", F.split("text", " "))
    return split_path(docs, "words").select("doc_id", F.col("words").alias("word"))


SQL_SPLIT_PATH = """
SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
"""


def q_zip_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: K/V list -> map, exploded back to rows for comparison."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "params",
        F.array(
            F.struct(F.lit("k").alias("name"), F.get_json_object("props", "$.k").alias("value")),
            F.struct(F.lit("type").alias("name"), F.col("event_type").alias("value")),
        ),
    )
    zipped = zip_paths(ev, "params", key="name", values=["value"])
    # explode_outer + key-not-null == explode, row for row (map keys are
    # never null; empty/missing maps drop either way) — but the OUTER
    # generate blocks InferFiltersFromGenerate, whose inferred
    # size(map_from_entries(...)) > 0 pre-filter re-evaluated the whole
    # map construction (json parse included) once more per row in an
    # interpreted Filter (r6 plan audit; ~35% of the row's wall)
    return (
        zipped.select("event_id", F.explode_outer("params"))
        .where(F.col("key").isNotNull())
        .select("event_id", F.col("key"), F.col("value"))
    )


SQL_ZIP_PATHS = """
SELECT event_id, 'k' AS key, json_extract_string(props, '$.k') AS value FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
UNION ALL
SELECT event_id, 'type' AS key, event_type AS value FROM events
WHERE event_type IS NOT NULL
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 exact content dedup: group by content hash, keep min doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        F.min("doc_id").alias("keeper"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keeper
FROM documents GROUP BY md5(text)
"""


WATERMARK = "2024-01-03 00:00:00"


def q_dedup_pointer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 incremental watermark scan THROUGH the production operator
    (operators/dedup.dedup_by_pointer — the round-1 gate bypassed it and
    its string-cast bug shipped): rows past the stored pointer, new
    pointer per group (unix micros)."""
    from grove_spark.operators.dedup import dedup_by_pointer

    ev = dedup_by_pointer(_t(spark, sf_dir, "events"), "ts", WATERMARK)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("new_pointer_us"),
    )


SQL_DEDUP_POINTER = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       max(epoch_us(ts)) AS new_pointer_us
FROM events WHERE ts > TIMESTAMP '{WATERMARK}'
GROUP BY event_type
"""


def q_dedup_pointer_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/D3 with a NUMERIC sequence pointer (zitadel-style monotonic
    sequence, grove/connectors/zitadel/events.py:22): pointer "9" must
    keep event_id 10.. — string ordering would keep only ids whose text
    sorts after "9" (silent loss). Runs through the production operator."""
    from grove_spark.operators.dedup import dedup_by_pointer

    ev = dedup_by_pointer(_t(spark, sf_dir, "events"), "event_id", "9")
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("first_id"),
        F.max("event_id").cast("bigint").alias("new_pointer"),
    )


SQL_DEDUP_POINTER_SEQ = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS first_id,
       CAST(max(event_id) AS BIGINT) AS new_pointer
FROM events WHERE event_id > 9
"""


def q_boundary_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 bounded seen-state: content hashes of rows sharing the max
    pointer value per connector-analog (event_type)."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.groupBy("event_type").agg(F.max("ts").alias("ts"))
    rows = ev.join(F.broadcast(mx), ["event_type", "ts"], "inner")
    return rows.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("pointer_us"),
        F.md5(F.col("event_id").cast("string")).alias("hash"),
    )


SQL_BOUNDARY_HASHES = """
SELECT e.event_type,
       epoch_us(e.ts) AS pointer_us,
       md5(CAST(e.event_id AS VARCHAR)) AS hash
FROM events e
JOIN (SELECT event_type, max(ts) AS ts FROM events GROUP BY event_type) m
  ON e.event_type = m.event_type AND e.ts = m.ts
"""


def q_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 broadcast enrich: orders joined to the customer dim."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = enrich(orders, cust, on="o_custkey", how="inner")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


SQL_ENRICH_BROADCAST = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_sink_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 per-sink saved-count telemetry shape over lineitem (q1-like
    partial-aggregated groupBy)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
    )


SQL_SINK_TELEMETRY = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer (windowed rank — resume/window parity)."""
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rk").cast("int").alias("rk"))
    )


SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 2
"""


def q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6-adjacent: tumbling hourly windows over the event stream (the
    batch shape of the streaming windowed aggregation)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp")).alias("hour_us"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))


SQL_TUMBLING_COUNTS = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Training-data ops (text analysis / similarity) — first slice
# ---------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


SQL_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
"""


_BPE_PAT = r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]+"


def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: the GPT-2-style pre-tokenizer classes
    (letter runs | digit runs | punctuation runs) as one vectorized
    regexp_extract_all — the tokenizer-budget estimate a training
    pipeline runs over every document. Pattern passed as a literal
    column (no SQL-string escaping differences between engines)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws"),
        F.size(toks).cast("bigint").alias("n_bpe"),
    )


SQL_TOKEN_BPE = rf"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe
FROM documents
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-20 most frequent tokens (explode ->
    map-side-combined count -> TakeOrdered). Deterministic tie-break on
    the token so rank-20 ties select identically in both engines. The
    100 TB shape: partial aggregation means the shuffle carries one row
    per distinct token per task, never the token stream."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


SQL_HEAVY_HITTERS = """
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word ORDER BY n DESC, word ASC LIMIT 20
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features: word count, stopword count, and a scaled integer
    score (integer arithmetic -> bit-stable across engines)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS))).cast("bigint")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
        F.floor(n_stop * 1000 / n_words).cast("bigint").alias("stop_ratio_k"),
    )


_STOP_SQL = ",".join(f"'{w}'" for w in STOPWORDS)
SQL_QUALITY_SCORE = f"""
SELECT doc_id,
       CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
       CAST(len(list_filter(string_split(text,' '), w -> w IN ({_STOP_SQL}))) AS BIGINT) AS n_stop,
       CAST(floor(len(list_filter(string_split(text,' '), w -> w IN ({_STOP_SQL}))) * 1000.0
             / len(string_split(text,' '))) AS BIGINT) AS stop_ratio_k
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword density thresholding (deterministic
    integer score; real n-gram models plug into the same shape)."""
    scored = q_quality_score(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return scored.join(docs, "doc_id").select(
        "doc_id",
        "lang",
        F.when(F.col("stop_ratio_k") >= 100, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )


SQL_LANG_ID = f"""
WITH scored AS ({SQL_QUALITY_SCORE})
SELECT s.doc_id, d.lang,
       CASE WHEN s.stop_ratio_k >= 100 THEN 'en' ELSE 'other' END AS pred_lang
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.lower(F.regexp_replace("text", " ", ""))).alias("fp")
    )


SQL_FINGERPRINT = """
SELECT doc_id, md5(lower(replace(text, ' ', ''))) AS fp FROM documents
"""


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0 (exact ANN
    baseline). Returns ids only — float sims are engine-bit-sensitive."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    joined = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    sim = dot / (norm(F.col("embedding")) * norm(F.col("qv")))
    return (
        joined.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )


SQL_ANN_BRUTEFORCE = """
SELECT vec_id FROM (
  SELECT vec_id,
         list_cosine_similarity(embedding,
           (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS sim
  FROM embeddings WHERE vec_id <> 0
  ORDER BY sim DESC, vec_id ASC LIMIT 10
)
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "route_counts": q_route_counts,
    "extract_paths": q_extract_paths,
    "filter_entries": q_filter_entries,
    "split_path": q_split_path,
    "zip_paths": q_zip_paths,
    "dedup_exact": q_dedup_exact,
    "dedup_pointer": q_dedup_pointer,
    "boundary_hashes": q_boundary_hashes,
    "enrich_broadcast": q_enrich_broadcast,
    "sink_telemetry": q_sink_telemetry,
    "window_topk": q_window_topk,
    "tumbling_counts": q_tumbling_counts,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "ann_bruteforce": q_ann_bruteforce,
}

ORACLE: Dict[str, str] = {
    "route_counts": SQL_ROUTE_COUNTS,
    "extract_paths": SQL_EXTRACT_PATHS,
    "filter_entries": SQL_FILTER_ENTRIES,
    "split_path": SQL_SPLIT_PATH,
    "zip_paths": SQL_ZIP_PATHS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_pointer": SQL_DEDUP_POINTER,
    "boundary_hashes": SQL_BOUNDARY_HASHES,
    "enrich_broadcast": SQL_ENRICH_BROADCAST,
    "sink_telemetry": SQL_SINK_TELEMETRY,
    "window_topk": SQL_WINDOW_TOPK,
    "tumbling_counts": SQL_TUMBLING_COUNTS,
    "token_count": SQL_TOKEN_COUNT,
    "quality_score": SQL_QUALITY_SCORE,
    "lang_id": SQL_LANG_ID,
    "fingerprint": SQL_FINGERPRINT,
    "ann_bruteforce": SQL_ANN_BRUTEFORCE,
}


# ---------------------------------------------------------------------------
# Round-1 widening: joins/set-ops/rollup, near-dup, encoding, generator
# ---------------------------------------------------------------------------

def q_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join (orders |><| lineitem) — the shape AQE plans as a
    shuffled join with runtime skew handling; revenue per priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "inner")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


SQL_FACT_JOIN = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS in ONE pass: left join to the distinct key set,
    then group on the exists flag (two .count() actions would scan the
    fact twice for no reason)."""
    cust = _t(spark, sf_dir, "customer")
    okeys = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("__e", F.lit(1))
    )
    flagged = cust.select("c_custkey").join(okeys, "c_custkey", "left")
    agg = flagged.groupBy(
        F.when(F.col("__e").isNotNull(), F.lit("with_orders"))
        .otherwise(F.lit("without_orders"))
        .alias("kind")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # both kinds always present (the oracle's UNION ALL emits a 0 row
    # even when every customer has orders)
    kinds = spark.createDataFrame(
        [("with_orders",), ("without_orders",)], "kind string"
    )
    return kinds.join(agg, "kind", "left").select(
        "kind", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
    )


SQL_SEMI_ANTI = """
SELECT 'with_orders' AS kind,
       CAST(count(*) AS BIGINT) AS n FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'without_orders',
       CAST(count(*) AS BIGINT) FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping flags (subtotal rows for the telemetry
    dashboards the reference's _saved counters feed)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
    )


SQL_ROLLUP = """
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_st
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (status columns per segment)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = orders.join(F.broadcast(cust), "o_custkey")
    return j.groupBy("c_mktsegment").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).cast("bigint").alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("bigint").alias("n_filled"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).cast("bigint").alias("n_partial"),
    )


SQL_PIVOT_STATUS = """
SELECT c_mktsegment,
       CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard >= 0.5 (the planted
    near-duplicates in the documents fixture); Spark joins gram ids, the
    oracle the gram strings."""
    from grove_spark.operators.dedup_fuzzy import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, n=3)


SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(list_transform(
    range(greatest(len(string_split(text,' '))-2, 0)),
    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))) AS shingle
  FROM documents
), sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
pairs AS (
  SELECT l.doc AS a, r.doc AS b, CAST(count(*) AS BIGINT) AS common
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc < r.doc
  GROUP BY 1, 2
)
SELECT a, b, common,
       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b
FROM pairs JOIN sizes sa ON a = sa.doc JOIN sizes sb ON b = sb.doc
WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.5
"""


_SIMHASH_BITS = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash over distinct words with md5-derived bits (md5 is the
    cross-engine-identical hash; production uses xxhash64 — see
    operators/dedup_fuzzy.simhash).

    The word-hash array materializes ONCE in its own projection — Catalyst
    has no CSE across aggregate lambdas, so inlining md5 into each of the
    16 bit aggregates would hash every word 16×."""
    docs = _t(spark, sf_dir, "documents")
    words = F.array_distinct(F.split("text", " "))
    hashed = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")
    )
    pre = docs.select("doc_id", hashed.alias("__hw"))
    sig = F.lit(0).cast("bigint")
    for i in range(_SIMHASH_BITS):
        bit_sum = F.aggregate(
            F.col("__hw"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        sig = sig + F.when(bit_sum > 0, F.lit(2**i)).otherwise(F.lit(0))
    return pre.select("doc_id", sig.alias("simhash"))


def _simhash_sql() -> str:
    bits = []
    for i in range(_SIMHASH_BITS):
        bits.append(
            f"(CASE WHEN list_sum(list_transform(list_distinct(string_split(text,' ')), "
            f"w -> CASE WHEN (('0x'||substr(md5(w),1,15))::BIGINT >> {i}) & 1 = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {2**i} ELSE 0 END)"
        )
    return (
        "SELECT doc_id, CAST(" + " + ".join(bits) + " AS BIGINT) AS simhash FROM documents"
    )


SQL_SIMHASH = _simhash_sql()


def q_base64_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 base64 field decode: encode props, run the decode_base64
    processor, return the round-tripped value."""
    from grove_spark.operators.processors import decode_base64

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.base64(F.col("props").cast("binary")).alias("props_b64")
    )
    return decode_base64(ev, ["props_b64"]).select(
        "event_id", F.col("props_b64").alias("decoded")
    )


SQL_BASE64_DECODE = """
SELECT event_id, decode(from_base64(to_base64(props::BLOB))) AS decoded
FROM events
"""


def q_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 generator source (timestamps excluded: not deterministic)."""
    from grove_spark.sources.scans import heartbeat

    return heartbeat(spark, n=5).select("type", F.col("sequence").cast("bigint"))


SQL_HEARTBEAT = """
SELECT 'heartbeat' AS type, CAST(range AS BIGINT) AS sequence FROM range(5)
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, verified against exact Jaccard>=0.5.

    The xxhash64 signatures are engine-specific, so the DuckDB oracle is
    the exact-Jaccard pair set. Equality of the two sets is
    PROBABILISTIC BY DESIGN and holds because of how the fixture is
    planted: with 32 hashes / 16 bands (r = 2 rows per band) the
    banding curve gives P(candidate) = 1-(1-s^2)^16 — ~0.99 already at
    s = 0.5 and ~1-3e-20 at the planted near-dups' s ~ 0.9 — while the
    exact-Jaccard verify step removes any false candidate, so both
    sides converge on the true pair set with failure probability far
    below the gate's lifetime."""
    from grove_spark.operators.dedup_fuzzy import minhash_dedup_pairs

    # the sf-dir documents table is a single small parquet file -> one
    # input split; spread it so the signature map (the heaviest stage)
    # parallelizes — on a real corpus the many input files do this.
    # The partition count is SCALE-ADAPTIVE (guide §2): derived from the
    # input bytes (~64 KB compressed text per task keeps the shingle
    # kernel busy) and clamped to defaultParallelism — a constant
    # defaultParallelism spread paid 32 tiny tasks per stage at gate
    # scale (measured 2.35 s vs 1.66 s for the whole query).
    # localCheckpoint materializes the spread rows ONCE for the two
    # consumers (signatures + verify sets) instead of re-scanning and
    # re-shuffling per subtree; blocks are freed when the frame is GC'd
    # (a persist here would leak past return — see minhash_dedup_pairs)
    docs = _t(spark, sf_dir, "documents")
    docs = (
        docs.select("doc_id", "text")
        .repartition(_spread_partitions(docs))
        .localCheckpoint(eager=False)
    )
    return minhash_dedup_pairs(
        docs, threshold=0.5, num_hashes=32, bands=16, verify=True
    ).select("a", "b")


SQL_MINHASH_LSH = """
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(list_transform(
    range(greatest(len(string_split(text,' '))-2, 0)),
    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))) AS shingle
  FROM documents
), sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
pairs AS (
  SELECT l.doc AS a, r.doc AS b, count(*) AS common
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc < r.doc
  GROUP BY 1, 2
)
SELECT a, b
FROM pairs JOIN sizes sa ON a = sa.doc JOIN sizes sb ON b = sb.doc
WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.5
"""


QUERIES.update(
    {
        "fact_join": q_fact_join,
        "semi_anti": q_semi_anti,
        "rollup": q_rollup,
        "pivot_status": q_pivot_status,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "base64_decode": q_base64_decode,
        "heartbeat": q_heartbeat,
        "minhash_lsh": q_minhash_lsh,
    }
)

ORACLE.update(
    {
        "fact_join": SQL_FACT_JOIN,
        "semi_anti": SQL_SEMI_ANTI,
        "rollup": SQL_ROLLUP,
        "pivot_status": SQL_PIVOT_STATUS,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "simhash": SQL_SIMHASH,
        "base64_decode": SQL_BASE64_DECODE,
        "heartbeat": SQL_HEARTBEAT,
        "minhash_lsh": SQL_MINHASH_LSH,
    }
)


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/stateful.sessionize: gap-based sessions
    (30 min) per user over the events stream, via lag + running sum —
    the classic sessionization window pattern."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    gap_us = 30 * 60 * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_sess = F.when(
        ts_us - F.lag(ts_us).over(w) > gap_us, 1
    ).otherwise(0)
    sess = ev.withColumn(
        "sid", F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0))
    ).select("user_id", ts_us.alias("ts_us"), "sid")
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    ).drop("sid")


SQL_SESSIONIZE_BATCH = """
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts_us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""

QUERIES["sessionize_batch"] = q_sessionize_batch
ORACLE["sessionize_batch"] = SQL_SESSIONIZE_BATCH


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (the expensive twin of the sketch)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


SQL_DISTINCT_USERS = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct sketch (approx_count_distinct) — the scale
    path for distinct counting at 10^12 rows (no shuffle of values, fixed
    sketch memory).

    Oracle-checkable form: emit the EXACT distinct count (both engines
    compute it identically) plus a flag asserting the sketch landed
    within ±5 % of it — the oracle emits the same exact count and a
    constant 1, so a drifting sketch turns the row red."""
    ev = _t(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    return ev.groupBy("event_type").agg(
        exact.cast("bigint").alias("n_users_exact"),
        (F.abs(approx - exact) <= exact * F.lit(0.05)).cast("int").alias("within_5pct"),
    )


SQL_SKETCH_DISTINCT = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       CAST(1 AS INT) AS within_5pct
FROM events GROUP BY event_type
"""


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles per type (percentile_approx, the
    GK-sketch path). Oracle-checkable: each approx value must lie inside
    the EXACT [p-0.01, p+0.01] quantile neighborhood (the sketch's rank
    error at accuracy 10000 is 1e-4 << 0.01); the oracle emits constant
    1s, so a broken sketch turns the row red."""
    ev = _t(spark, sf_dir, "events")
    aggs = []
    for p, name in [(0.5, "q50"), (0.95, "q95"), (0.99, "q99")]:
        approx = F.percentile_approx("value", p, 10000)
        lo = F.expr(f"percentile(value, {p - 0.01})")
        hi = F.expr(f"percentile(value, {min(p + 0.01, 1.0)})")
        aggs.append(((approx >= lo) & (approx <= hi)).cast("int").alias(f"{name}_ok"))
    return ev.groupBy("event_type").agg(*aggs)


SQL_SKETCH_QUANTILES = """
SELECT event_type,
       CAST(1 AS INT) AS q50_ok, CAST(1 AS INT) AS q95_ok, CAST(1 AS INT) AS q99_ok
FROM events GROUP BY event_type
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (random hyperplanes, multi-probe radius 2 — 22 of
    64 buckets ≈ 1/3 of the corpus scanned) for the same query vector as
    ann_bruteforce.

    Oracle-checkable form: the sf0.01 embeddings have NO planted high-sim
    neighbors for vec 0 (exact top-10 sims are all ~0.25-0.37, i.e. the
    random tail), so full recall from a 1/3 scan is information-
    theoretically out of reach for ANY bucketed ANN. The deterministic
    contract instead: exactly k results come back, and recall@10 vs the
    exact top-10 stays above the theory-consistent floor (measured 6/10,
    asserted >=5; everything is seed-fixed so the value is stable)."""
    from grove_spark.operators.similarity import add_lsh_bucket, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first()["embedding"]]
    with_buckets = add_lsh_bucket(emb.where(F.col("vec_id") != 0), n_planes=6)
    lsh_ids = lsh_topk(with_buckets, qvec, k=10, n_planes=6, probe_hamming=2).select("vec_id")
    brute_ids = q_ann_bruteforce(spark, sf_dir)
    recall = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    joined = lsh_ids.join(
        brute_ids.withColumn("hit", F.lit(1)), "vec_id", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_results"),
        (recall >= 5).cast("int").alias("recall_floor_ok"),
    )


SQL_ANN_LSH = """
SELECT CAST(10 AS BIGINT) AS n_results, CAST(1 AS INT) AS recall_floor_ok
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (train on a sample, assign via batched
    matmul, probe the 8 of 16 nearest cells — half the corpus). Same
    deterministic contract as ann_lsh: k results, recall@10 above the
    floor (measured 9/10, asserted >=8; seed-fixed)."""
    from grove_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_train_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first()["embedding"]]
    cents = ivf_train_centroids(emb, n_centroids=16)
    assigned = ivf_assign(emb.where(F.col("vec_id") != 0), cents)
    ivf_ids = ivf_topk(assigned, cents, qvec, k=10, n_probe=8).select("vec_id")
    brute_ids = q_ann_bruteforce(spark, sf_dir)
    recall = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    joined = ivf_ids.join(
        brute_ids.withColumn("hit", F.lit(1)), "vec_id", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_results"),
        (recall >= 8).cast("int").alias("recall_floor_ok"),
    )


SQL_ANN_IVF = """
SELECT CAST(10 AS BIGINT) AS n_results, CAST(1 AS INT) AS recall_floor_ok
"""


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the INGEST-TIME index (operators/ann_index.py):
    write the table hive-partitioned by cell with the quantizer in
    ``_ann_meta.json``, then run the indexed query path — probe set
    derived from the STORED centroids, partition-pruned scan of the 8
    probed cells (PartitionFilters in the plan; non-probed cells' files
    never read), exact cosine re-rank inside. Same deterministic
    contract as ann_ivf, which this must reproduce exactly: the index
    is a layout, not an approximation on top of IVF."""
    import hashlib
    import os
    import tempfile

    from grove_spark.operators.ann_index import ann_query, write_ann_index
    from grove_spark.operators.similarity import ivf_train_centroids

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first()["embedding"]]
    cents = ivf_train_centroids(emb, n_centroids=16)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"grove_ann_idx_{tag}")
    write_ann_index(
        emb.where(F.col("vec_id") != 0), path,
        kind="ivf", centroids=cents, layout="partitioned",
    )
    idx_ids = ann_query(spark, path, qvec, k=10, n_probe=8).select("vec_id")
    brute_ids = q_ann_bruteforce(spark, sf_dir)
    recall = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    joined = idx_ids.join(
        brute_ids.withColumn("hit", F.lit(1)), "vec_id", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_results"),
        (recall >= 8).cast("int").alias("recall_floor_ok"),
    )


SQL_ANN_IVF_INDEXED = SQL_ANN_IVF


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) — all four grouping-set combinations
    with grouping flags (completes the rollup/cube/pivot family)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
    )


SQL_CUBE = """
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_st
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


QUERIES.update({
    "distinct_users": q_distinct_users,
    "sketch_distinct": q_sketch_distinct,
    "sketch_quantiles": q_sketch_quantiles,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_indexed": q_ann_ivf_indexed,
    "cube": q_cube,
    "dedup_pointer_seq": q_dedup_pointer_seq,
})
ORACLE.update({
    "distinct_users": SQL_DISTINCT_USERS,
    "sketch_distinct": SQL_SKETCH_DISTINCT,
    "sketch_quantiles": SQL_SKETCH_QUANTILES,
    "ann_lsh": SQL_ANN_LSH,
    "ann_ivf": SQL_ANN_IVF,
    "ann_ivf_indexed": SQL_ANN_IVF_INDEXED,
    "cube": SQL_CUBE,
    "dedup_pointer_seq": SQL_DEDUP_POINTER_SEQ,
})

def q_fleet_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet assembler end-to-end as a gate query: 10 connector
    configs over 10 sources with MIXED processor chains and per-connector
    watermarks, one routed plan, per-(connector, descriptor) telemetry.

    src0..src5 run an empty chain; src6..src9 filter n_tok > 40 on their
    processed stream; src0 and src6 resume from doc_id watermark 100."""
    from grove_spark.config import ConnectorConfig, assemble_fleet

    docs = _t(spark, sf_dir, "documents")
    seqs = docs.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("tokens"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    cfgs = []
    for i in range(10):
        doc = {"connector": f"src{i}_audit", "identity": f"id{i}", "source": f"src{i}"}
        if i >= 6:
            doc["processors"] = [
                {"processor": "filter_entries", "filters": ["sql:n_tok > 40"]}
            ]
        cfgs.append(ConnectorConfig.from_dict(doc))
    wms = {cfgs[0].reference(): "100", cfgs[6].reference(): "100"}
    routed = assemble_fleet(spark, cfgs, seqs, watermarks=wms, pointer_col="doc_id")
    return routed.groupBy("connector", "descriptor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n_tok").cast("bigint").alias("sum_n_tok"),
    )


SQL_FLEET_MIXED = """
WITH seqs AS (
  SELECT doc_id, source, source || '_audit' AS connector,
         len(string_split(text, ' ')) AS n_tok,
         CAST(substr(source, 4, 10) AS INT) AS src_num
  FROM documents
  WHERE CAST(substr(source, 4, 10) AS INT) <= 9
), wm AS (
  SELECT * FROM seqs
  WHERE NOT (source IN ('src0', 'src6') AND doc_id <= 100)
), routed AS (
  SELECT connector, 'logs' AS descriptor, n_tok FROM wm
  UNION ALL
  SELECT connector, 'processed', n_tok FROM wm
  WHERE src_num < 6 OR n_tok <= 40
)
SELECT connector, descriptor,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
FROM routed GROUP BY connector, descriptor
"""


def q_extract_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 with JMESPath-style list indexing (``params[0].name``) and a
    comparison filter (``value > 0.5``) — the reference's richer path
    surface (grove/processors/filter_entries.py:44, extract_paths.py:86)
    compiled to Catalyst."""
    from grove_spark.operators.processors import extract_paths, filter_entries

    ev = _t(spark, sf_dir, "events").withColumn(
        "params",
        F.array(
            F.struct(F.lit("k").alias("name"), F.get_json_object("props", "$.k").alias("val")),
            F.struct(F.lit("type").alias("name"), F.col("event_type").alias("val")),
        ),
    )
    kept = filter_entries(ev, ["value <= 0.5"])  # comparison filter: drop when true
    out = extract_paths(
        kept,
        [
            {"destination": "event_id", "sources": ["event_id"]},
            {"destination": "first_name", "sources": ["params[0].name"]},
            {"destination": "second_val", "sources": ["params[1].val"]},
        ],
    )
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"), "first_name", "second_val"
    )


# event_id 0 survives: sources are tried first-TRUTHY, but when none is
# truthy the LAST source's value falls through (extract_paths.py:85-88),
# so a single-source mapping always yields the value.
SQL_EXTRACT_NESTED = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       'k' AS first_name,
       event_type AS second_val
FROM events WHERE NOT coalesce(value <= 0.5, FALSE)
"""


def _stream_src_dir(sf_dir: str) -> str:
    """The file-stream source lists a DIRECTORY; expose the single
    events.parquet through a symlinked temp dir (testdata is read-only).
    One stable dir per (process, sf_dir): reruns reuse it instead of
    leaking a fresh temp dir per invocation."""
    import os
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        f"grove_stream_src_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}",
    )
    os.makedirs(d, exist_ok=True)
    link = f"{d}/events.parquet"
    if not os.path.islink(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    return d


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 Structured Streaming: file-source stream over the events
    parquet, 1-hour tumbling windows with a watermark, availableNow
    trigger draining to a memory sink. The batch twin (tumbling_counts)
    is the oracle — one availableNow pass admits every row, so the
    watermark drops nothing and the counts must match exactly."""
    import os
    import tempfile

    ev_schema = _t(spark, sf_dir, "events").schema
    name = "stream_tumbling_gate"
    try:  # rerun-safe: the memory sink registers a temp view per run
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    d = _stream_src_dir(sf_dir)
    stream = (
        spark.readStream.schema(ev_schema)
        .parquet(d)
        # parquet event time is TIMESTAMP_NTZ; watermarking requires an
        # instant type (session tz is pinned UTC in session.py, so the
        # cast matches the batch twin's date_trunc arithmetic)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_micros(F.col("window.start")).alias("hour_us"),
        "event_type",
        "n_rows",
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection through the LSH-bucketed
    operator (operators/dedup_fuzzy.embedding_near_pairs): plant exact
    copies of vec_id < 50 (id + 10000) into the corpus and require the
    bucketed path to find every (i, i+10000) pair — copies share every
    hyperplane sign, so a missed pair means broken bucketing. Ids only:
    float sims are engine-bit-specific, the planted-pair SET is not
    (the corpus' max non-identical cosine is ~0.37 << threshold)."""
    from grove_spark.operators.dedup_fuzzy import embedding_near_pairs

    emb = _t(spark, sf_dir, "embeddings")
    copies = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    pairs = embedding_near_pairs(corpus, threshold=0.999)
    return pairs.select(
        F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b")
    )


SQL_EMBEDDING_NEARDUP = """
SELECT CAST(vec_id AS BIGINT) AS a, CAST(vec_id + 10000 AS BIGINT) AS b
FROM embeddings WHERE vec_id < 50
"""


def _media_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic GSMM media blob per event: little-endian header
    built via hex/unhex arithmetic both engines can reproduce."""
    ev = _t(spark, sf_dir, "events").select("event_id")
    k = (F.col("event_id") % 3).cast("int")
    w = (F.lit(300) + F.col("event_id") % 700).cast("int")
    h = (F.lit(200) + (F.col("event_id") * 7) % 600).cast("int")
    d = ((F.col("event_id") * 13) % 100000).cast("int")

    def le(col, nbytes):  # little-endian hex of an int column
        parts = [
            F.lpad(F.hex((col / F.lit(256**i)).cast("int") % 256), 2, "0")
            for i in range(nbytes)
        ]
        return F.concat(*parts)

    hexstr = F.concat(F.lit("47534D4D"), le(k, 1), le(w, 2), le(h, 2), le(d, 4))
    return ev.withColumn("blob", F.unhex(hexstr))


def q_media_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column path end-to-end: synthesize a GSMM media
    blob per event (deterministic little-endian header built via
    hex/unhex in BOTH engines' plans), run the Catalyst header parser
    (operators/multimodal.parse_media_header — no Python), emit the typed
    metadata. The oracle computes the expected metadata arithmetically."""
    from grove_spark.operators.multimodal import parse_media_header

    out = parse_media_header(_media_blobs(spark, sf_dir), "blob")
    return out.select(
        "event_id",
        F.col("media_meta.kind").alias("kind"),
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
    )


SQL_MEDIA_HEADER = """
SELECT event_id,
       CASE event_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       'x-grove/' || CASE event_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS mime,
       CAST(300 + event_id % 700 AS INT) AS width,
       CAST(200 + (event_id * 7) % 600 AS INT) AS height,
       CAST((event_id * 13) % 100000 AS INT) AS duration_ms
FROM events
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass produces hourly
    buckets, daily subtotals and the grand total via ROLLUP over the
    derived (day, hour) hierarchy — the timescale-ish multi-granularity
    rollup as plain grouping sets."""
    ev = _t(spark, sf_dir, "events")
    day = F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
    hour = F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
    return (
        ev.select(day.alias("day_us"), hour.alias("hour_us"))
        .rollup("day_us", "hour_us")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.grouping("day_us").cast("int").alias("g_day"),
            F.grouping("hour_us").cast("int").alias("g_hour"),
        )
    )


SQL_TIME_ROLLUP = """
SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       epoch_us(date_trunc('hour', ts)) AS hour_us,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(epoch_us(date_trunc('day', ts))) AS INT) AS g_day,
       CAST(GROUPING(epoch_us(date_trunc('hour', ts))) AS INT) AS g_hour
FROM events
GROUP BY ROLLUP (epoch_us(date_trunc('day', ts)), epoch_us(date_trunc('hour', ts)))
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling fan-out (operators/multimodal.
    frame_sample_plan): synthesized GSMM video blobs explode into one row
    per sampled timestamp (every 1000 ms across the header's duration);
    per-event frame counts are arithmetic both engines can compute."""
    from grove_spark.operators.multimodal import frame_sample_plan

    blobs = _media_blobs(spark, sf_dir)
    frames = frame_sample_plan(blobs, every_ms=1000)
    return frames.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.max("frame_ms").cast("bigint").alias("last_frame_ms"),
    )


SQL_FRAME_SAMPLE = """
SELECT event_id,
       CAST((greatest((event_id * 13) % 100000 - 1, 0)) // 1000 + 1 AS BIGINT) AS n_frames,
       CAST(((greatest((event_id * 13) % 100000 - 1, 0)) // 1000) * 1000 AS BIGINT) AS last_frame_ms
FROM events WHERE event_id % 3 = 2
"""


QUERIES.update({
    "fleet_mixed": q_fleet_mixed,
    "extract_nested": q_extract_nested,
    "stream_tumbling": q_stream_tumbling,
    "embedding_neardup": q_embedding_neardup,
    "media_header": q_media_header,
    "time_rollup": q_time_rollup,
    "frame_sample": q_frame_sample,
})
ORACLE.update({
    "fleet_mixed": SQL_FLEET_MIXED,
    "extract_nested": SQL_EXTRACT_NESTED,
    "stream_tumbling": SQL_TUMBLING_COUNTS,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "media_header": SQL_MEDIA_HEADER,
    "time_rollup": SQL_TIME_ROLLUP,
    "frame_sample": SQL_FRAME_SAMPLE,
})

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward AS-OF join (operators/temporal.asof_join — the
    union-and-carry-forward plan, one shuffle): each event picks the
    latest order of its user at or before the event time. Order times
    are mapped into the event month arithmetically (o_orderkey % 40
    days) so matches genuinely vary; DuckDB's native ASOF JOIN is the
    oracle."""
    from grove_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.expr(
            "timestampadd(DAY, CAST(o_orderkey % 40 AS INT), TIMESTAMP '2024-01-01')"
        ).alias("od"),
        "o_orderkey",
    )
    right = orders.groupBy("user_id", "od").agg(F.max("o_orderkey").alias("okey"))
    out = asof_join(ev, right, on="user_id", left_time="ts", right_time="od")
    return out.select(
        "event_id", F.col("okey").cast("bigint").alias("okey")
    )


SQL_ASOF_JOIN = """
SELECT e.event_id, CAST(o.okey AS BIGINT) AS okey
FROM events e ASOF LEFT JOIN (
  SELECT o_custkey AS user_id,
         CAST('2024-01-01' AS TIMESTAMP) + (o_orderkey % 40) * INTERVAL 1 DAY AS od,
         max(o_orderkey) AS okey
  FROM orders GROUP BY 1, 2
) o ON e.user_id = o.user_id AND e.ts >= o.od
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/temporal.range_join_binned): events
    joined to overlapping value bands via bin-exploded EQUI-join instead
    of the BroadcastNestedLoop Spark would pick for the raw inequality.
    Bands 0-9 cover [i*50, i*50+30) with gaps; band 10 spans everything,
    so rows match 0..2 bands. The oracle is the plain inequality join."""
    from grove_spark.operators.temporal import range_join_binned

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.range(10).select(
        F.col("id").cast("int").alias("band"),
        (F.col("id") * 50.0).alias("lo"),
        (F.col("id") * 50.0 + 30.0).alias("hi"),
    ).unionByName(
        spark.createDataFrame([(10, 0.0, 500.0)], "band int, lo double, hi double")
    )
    joined = range_join_binned(ev, bands, "value", bin_width=50.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("first_id"),
        F.max("event_id").cast("bigint").alias("last_id"),
    )


SQL_RANGE_JOIN = """
WITH bands AS (
  SELECT CAST(i AS INT) AS band, i*50.0 AS lo, i*50.0+30.0 AS hi FROM range(10) t(i)
  UNION ALL SELECT 10, 0.0, 500.0
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS first_id,
       CAST(max(event_id) AS BIGINT) AS last_id
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING end-to-end: exact-Jaccard pairs -> connected
    components (iterative min-label propagation,
    operators/dedup_cluster.py) -> one keeper per cluster. The oracle
    computes the same components with a recursive CTE."""
    from grove_spark.operators.dedup_cluster import dedup_clusters
    from grove_spark.operators.dedup_fuzzy import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, n=3).select("a", "b")
    out = dedup_clusters(pairs, docs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
        "is_keeper",
    )


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(list_transform(
    range(greatest(len(string_split(text,' '))-2, 0)),
    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))) AS shingle
  FROM documents
), sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
cand AS (
  SELECT l.doc AS a, r.doc AS b, count(*) AS common
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc < r.doc
  GROUP BY 1, 2
), pairs AS (
  SELECT a, b FROM cand JOIN sizes sa ON a = sa.doc JOIN sizes sb ON b = sb.doc
  WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.5
), edges AS (
  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
), reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
), comp AS (
  SELECT node, min(r) AS component FROM reach GROUP BY node
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster,
       coalesce(c.component, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


def q_filter_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 filter_paths with a gate row: build a nested struct per event,
    drop one nested field and one top-level field through the processor
    (Column.dropFields under the hood), emit what survives. The
    empty-struct rule is exercised too: dropping ``extra``'s only child
    drops ``extra`` itself (Spark structs cannot be empty — documented
    deviation, functions/paths.drop_nested_field)."""
    from grove_spark.operators.processors import filter_paths

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.struct(
            F.col("event_type").alias("kind"),
            F.col("user_id").alias("uid"),
            F.col("value").alias("secret"),
        ).alias("meta"),
        F.struct(F.col("props").alias("only_child")).alias("extra"),
        F.col("value").alias("top_secret"),
    )
    out = filter_paths(ev, ["meta.secret", "extra.only_child", "top_secret"])
    assert "extra" not in out.columns and "top_secret" not in out.columns
    return out.select(
        "event_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.uid").cast("bigint").alias("uid"),
    )


SQL_FILTER_PATHS = """
SELECT event_id, event_type AS kind, CAST(user_id AS BIGINT) AS uid FROM events
"""


DELAY_CEILING_NOW = "2024-01-20 12:00:00"


def q_delay_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 time-window scan with consistency delay, deterministic via a
    pinned ``now``: end = now - delay (the reference's late-data ceiling,
    github/audit_log.py:121). Runs through the production scan."""
    import datetime as dt

    from grove_spark.sources.scans import incremental_scan

    now = dt.datetime.strptime(DELAY_CEILING_NOW, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=dt.timezone.utc
    )
    ev = incremental_scan(
        spark, f"{sf_dir}/events.parquet", "ts",
        watermark="2024-01-10 00:00:00", delay_s=3600, now=now,
    )
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("max_ts_us"),
    )


SQL_DELAY_SCAN = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       max(epoch_us(ts)) AS max_ts_us
FROM events
WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
  AND ts <= TIMESTAMP '{DELAY_CEILING_NOW}' - INTERVAL 1 HOUR
"""


def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 CSV log-file scan through the production reader: events are
    first materialized as a real CSV file (the SalesForce event-log
    delivery format), then csv_log_scan re-reads it with schema
    inference and a watermark on the numeric id column."""
    import tempfile

    from grove_spark.sources.scans import csv_log_scan

    d = tempfile.mkdtemp(prefix="grove_csv_scan_")
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    # natural task-parallel CSV files (a coalesce(1) here would serialize
    # the write through one task at scale); the scan lists the directory
    ev.write.mode("overwrite").option("header", "true").csv(d)
    scanned = csv_log_scan(
        spark, d, "event_id", watermark="499",
        schema="event_id bigint, event_type string, user_id bigint",
    )
    return scanned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("first_id"),
    )


SQL_CSV_SCAN = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS first_id
FROM events WHERE event_id > 499
GROUP BY event_type
"""


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized parse pillar with an oracle: synthesize a log line
    per event (identical arithmetic both engines), run the grok pattern
    through the production parse stage (plans/parse.py — the single-pass
    regexp_replace inside codegen), emit the extracted fields."""
    from grove_spark.plans.parse import grok_to_regex, parse_stage

    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("evt level="),
        F.upper("event_type"),
        F.lit(" user=u"),
        F.col("user_id").cast("string"),
        F.lit(" n="),
        F.col("event_id").cast("string"),
    )
    pattern = grok_to_regex("^evt level=%{WORD:level} user=%{NOTSPACE:user} n=%{INT:n}$")
    parsed = parse_stage(ev.select("event_id", line.alias("raw")), "raw", pattern)
    return parsed.select(
        "event_id",
        F.col("parsed.level").alias("level"),
        F.col("parsed.user").alias("user"),
        F.col("parsed.n").cast("bigint").alias("n"),
    )


SQL_GROK_PARSE = """
SELECT event_id,
       upper(event_type) AS level,
       'u' || CAST(user_id AS VARCHAR) AS user,
       CAST(event_id AS BIGINT) AS n
FROM events
"""


def q_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/§2.7 CSV scalar path: serialize each event to a CSV line, parse
    it back with from_csv (typed schema), emit the round-tripped fields —
    the SalesForce event-log shape (sf/event_log.py:190) as a column
    transform instead of csv.DictReader rows."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.col("user_id").cast("string"),
    )
    parsed = ev.select(
        F.from_csv(
            line, "event_id bigint, event_type string, user_id bigint"
        ).alias("c")
    )
    return parsed.select(
        F.col("c.event_id").alias("event_id"),
        F.col("c.event_type").alias("event_type"),
        F.col("c.user_id").alias("user_id"),
    )


SQL_CSV_PARSE = """
SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
       CAST(user_id AS BIGINT) AS user_id
FROM events
"""


def q_boundary_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once boundary contract as a gate row: resume with an
    INCLUSIVE watermark at an actual boundary timestamp (the max ts
    before Jan 10), with the even-event_id boundary rows already 'seen' —
    the production operators (dedup_by_pointer inclusive + dedup_by_hash
    anti-join) must keep exactly the un-seen boundary rows plus
    everything after. The oracle expresses the same contract as a pure
    predicate."""
    from grove_spark.functions.hashing import entry_hash
    from grove_spark.operators.dedup import dedup_by_hash, dedup_by_pointer

    ev = _t(spark, sf_dir, "events")
    wm_native = (
        ev.where(F.col("ts") < F.lit("2024-01-10"))
        .agg(F.max("ts"))
        .first()[0]
    )
    seen = ev.where(
        (F.col("ts") == F.lit(wm_native)) & (F.col("event_id") % 2 == 0)
    ).select(
        F.col("ts").cast("string").alias("pointer"),
        entry_hash(["event_id"]).alias("hash"),
    )
    resumed = dedup_by_pointer(ev, "ts", str(wm_native), inclusive=True)
    out = dedup_by_hash(resumed, seen, ["event_id"], "ts")
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("ts") == F.lit(wm_native), 1).otherwise(0))
        .cast("bigint")
        .alias("n_at_boundary"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("max_ts_us"),
    )


SQL_BOUNDARY_RESUME = """
WITH wm AS (SELECT max(ts) AS t FROM events WHERE ts < TIMESTAMP '2024-01-10')
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN ts = (SELECT t FROM wm) THEN 1 ELSE 0 END) AS BIGINT) AS n_at_boundary,
       max(epoch_us(ts)) AS max_ts_us
FROM events
WHERE ts >= (SELECT t FROM wm)
  AND NOT (ts = (SELECT t FROM wm) AND event_id % 2 = 0)
"""


QUERIES.update({
    "boundary_resume": q_boundary_resume,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "dedup_clusters": q_dedup_clusters,
    "grok_parse": q_grok_parse,
    "csv_parse": q_csv_parse,
    "token_bpe": q_token_bpe,
    "filter_paths": q_filter_paths,
    "delay_scan": q_delay_scan,
    "csv_scan": q_csv_scan,
    "heavy_hitters": q_heavy_hitters,
})
ORACLE.update({
    "boundary_resume": SQL_BOUNDARY_RESUME,
    "asof_join": SQL_ASOF_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "grok_parse": SQL_GROK_PARSE,
    "csv_parse": SQL_CSV_PARSE,
    "token_bpe": SQL_TOKEN_BPE,
    "filter_paths": SQL_FILTER_PATHS,
    "delay_scan": SQL_DELAY_SCAN,
    "csv_scan": SQL_CSV_SCAN,
    "heavy_hitters": SQL_HEAVY_HITTERS,
})

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 13-gram with a
    held-out benchmark split (doc_id % 10 == 0) are flagged, with exact
    per-doc overlap counts. The Spark side probes xxhash64 gram ids
    against a broadcast benchmark set (operators/decontaminate.py); the
    oracle recomputes the overlap on the raw gram strings."""
    from grove_spark.operators.decontaminate import contamination_scores

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    s = contamination_scores(corpus, bench, n=13)
    return s.select(
        "doc_id", "n_grams", "n_contaminated", "contaminated_frac",
        (F.col("n_contaminated") >= 1).alias("is_contaminated"),
    )


SQL_DECONTAMINATE = """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
bench AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
cg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS gram
       FROM cw, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 12, 0))) AS i) t),
bw AS (SELECT string_split(text, ' ') AS w FROM bench),
bg AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS gram
       FROM bw, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 12, 0))) AS i) t),
per AS (
  SELECT cg.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
  FROM cg LEFT JOIN bg USING (gram) GROUP BY cg.doc_id)
SELECT c.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.n_contaminated, 0) AS n_contaminated,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN CAST(p.n_contaminated AS DOUBLE) / p.n_grams
            ELSE 0.0 END AS contaminated_frac,
       COALESCE(p.n_contaminated, 0) >= 1 AS is_contaminated
FROM corpus c LEFT JOIN per p USING (doc_id)
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: deterministic emails/phones derived from doc_id
    are planted into each document, then masked by the compiled
    regexp_replace chain (operators/redact.py); per-row hit counts are
    computed on the pre-redaction text. Both engines construct the SAME
    dirty input, so redacted text and counts must match byte-for-byte."""
    from grove_spark.operators.redact import DEFAULT_RULES, redaction_expr

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    phone_mid = F.lpad(((F.col("doc_id") * 7) % 900 + 100).cast("string"), 3, "0")
    phone_end = F.lpad(((F.col("doc_id") * 13) % 9000 + 1000).cast("string"), 4, "0")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@example.com or 555-"),
        phone_mid, F.lit("-"), phone_end,
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" backup admin"), did, F.lit("@corp.example.org")),
        ).otherwise(F.lit("")),
    )
    rules = dict((name, pat) for name, pat, _ in DEFAULT_RULES)
    df = docs.select("doc_id", dirty.alias("__dirty"))
    return df.select(
        "doc_id",
        redaction_expr(F.col("__dirty")).alias("redacted"),
        F.regexp_count(F.col("__dirty"), F.lit(rules["email"])).cast("bigint").alias("n_email"),
        F.regexp_count(F.col("__dirty"), F.lit(rules["phone"])).cast("bigint").alias("n_phone"),
    )


def _sql_pii_redact() -> str:
    from grove_spark.operators.redact import DEFAULT_RULES

    redacted = "dirty"
    for _, pat, repl in DEFAULT_RULES:
        p = pat.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{p}', '{repl}', 'g')"
    rules = dict((name, pat) for name, pat, _ in DEFAULT_RULES)
    email = rules["email"].replace("'", "''")
    phone = rules["phone"].replace("'", "''")
    return f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
         lpad(CAST((doc_id * 7) % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST((doc_id * 13) % 9000 + 1000 AS VARCHAR), 4, '0') ||
         CASE WHEN doc_id % 3 = 0
              THEN ' backup admin' || CAST(doc_id AS VARCHAR) || '@corp.example.org'
              ELSE '' END AS dirty
  FROM documents)
SELECT doc_id,
       {redacted} AS redacted,
       CAST(len(regexp_extract_all(dirty, '{email}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(dirty, '{phone}')) AS BIGINT) AS n_phone
FROM dirty
"""


SQL_PII_REDACT = _sql_pii_redact()

def q_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-hardened two-pass AS-OF join (asof_join_bucketed) over
    the SAME fixture and oracle as asof_join: identical results, but the
    carry-forward window partitions on (key, 6h-bucket) so a hot key
    spreads across tasks instead of serializing one task's sort."""
    from grove_spark.operators.temporal import asof_join_bucketed

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.expr(
            "timestampadd(DAY, CAST(o_orderkey % 40 AS INT), TIMESTAMP '2024-01-01')"
        ).alias("od"),
        "o_orderkey",
    )
    right = orders.groupBy("user_id", "od").agg(F.max("o_orderkey").alias("okey"))
    out = asof_join_bucketed(
        ev, right, on="user_id", left_time="ts", right_time="od", bucket_s=6 * 3600
    )
    return out.select(
        "event_id", F.col("okey").cast("bigint").alias("okey")
    )


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, no stub: per doc an 8x8 grayscale BMP with pixel
    (x,y) = (x*7 + y*13 + doc_id) % 256 is ENCODED to genuine BMP bytes
    (palette, bottom-up rows, row padding) then DECODED back by the pure-
    numpy decoder (operators/multimodal.decode_bmp) inside Arrow-batched
    kernels; the oracle recomputes the integer pixel stats arithmetically
    — any header/offset/row-order bug breaks the sums."""
    import numpy as np
    import pandas as pd

    from grove_spark.operators.multimodal import decode_bmp, encode_bmp_gray8

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def enc(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                y, x = np.mgrid[0:8, 0:8]
                img = ((x * 7 + y * 13 + int(did)) % 256).astype(np.uint8)
                blobs.append(encode_bmp_gray8(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    def dec(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "w": [], "h": [],
                   "px_sum": [], "px_min": [], "px_max": []}
            for blob in pdf["blob"]:
                img = decode_bmp(bytes(blob)).astype(np.int64)
                out["h"].append(img.shape[0]); out["w"].append(img.shape[1])
                out["px_sum"].append(int(img.sum()))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    blobs = docs.mapInPandas(enc, "doc_id long, blob binary")
    return blobs.mapInPandas(
        dec, "doc_id long, w int, h int, px_sum long, px_min int, px_max int"
    )


SQL_BMP_DECODE = """
SELECT d.doc_id, 8 AS w, 8 AS h,
       CAST((SELECT sum(((i % 8) * 7 + (i // 8) * 13 + d.doc_id) % 256)
             FROM (SELECT unnest(generate_series(0, 63)) AS i) t) AS BIGINT) AS px_sum,
       CAST((SELECT min(((i % 8) * 7 + (i // 8) * 13 + d.doc_id) % 256)
             FROM (SELECT unnest(generate_series(0, 63)) AS i) t) AS INT) AS px_min,
       CAST((SELECT max(((i % 8) * 7 + (i // 8) * 13 + d.doc_id) % 256)
             FROM (SELECT unnest(generate_series(0, 63)) AS i) t) AS INT) AS px_max
FROM documents d
"""


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: per doc a PCM16 RIFF WAV with samples
    s_i = (doc_id*31 + i*17) % 65536 - 32768 (n = 64 + doc_id%16,
    rate = 8000 + doc_id%4 * 4000) round-trips through the numpy
    encoder + the chunk-walking decoder (operators/multimodal.wav_stats);
    the oracle recomputes every integer stat from the formula."""
    import numpy as np
    import pandas as pd

    from grove_spark.operators.multimodal import encode_wav_pcm16, wav_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def enc(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 64 + did % 16
                i = np.arange(n, dtype=np.int64)
                s = ((did * 31 + i * 17) % 65536 - 32768).astype(np.int16)
                blobs.append(encode_wav_pcm16(s, rate=8000 + (did % 4) * 4000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = docs.mapInPandas(enc, "doc_id long, blob binary")
    return wav_stats(blobs).drop("blob")


SQL_WAV_DECODE = """
SELECT d.doc_id,
       CAST(64 + d.doc_id % 16 AS BIGINT) AS n_samples,
       CAST(8000 + (d.doc_id % 4) * 4000 AS INT) AS sample_rate,
       CAST((SELECT sum((d.doc_id * 31 + i * 17) % 65536 - 32768)
             FROM (SELECT unnest(generate_series(0, 63 + d.doc_id % 16)) AS i) t) AS BIGINT) AS sample_sum,
       CAST((SELECT min((d.doc_id * 31 + i * 17) % 65536 - 32768)
             FROM (SELECT unnest(generate_series(0, 63 + d.doc_id % 16)) AS i) t) AS INT) AS sample_min,
       CAST((SELECT max((d.doc_id * 31 + i * 17) % 65536 - 32768)
             FROM (SELECT unnest(generate_series(0, 63 + d.doc_id % 16)) AS i) t) AS INT) AS sample_max
FROM documents d
"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment near-dup pairs (|A∩B|/|A| over 3-gram
    shingle sets): catches a doc whose text sits inside a longer one —
    the asymmetric case Jaccard misses."""
    from grove_spark.operators.dedup_fuzzy import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, threshold=0.5, n=3)


SQL_CONTAINMENT = """
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(list_transform(
    range(greatest(len(string_split(text,' '))-2, 0)),
    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))) AS shingle
  FROM documents
), sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
pairs AS (
  SELECT l.doc AS contained, r.doc AS container, CAST(count(*) AS BIGINT) AS common
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc <> r.doc
  GROUP BY 1, 2
)
SELECT contained, container, common,
       CAST(s.n_sh AS BIGINT) AS n_contained,
       CAST(common AS DOUBLE) / s.n_sh AS containment
FROM pairs JOIN sizes s ON contained = s.doc
WHERE CAST(common AS DOUBLE) / s.n_sh >= 0.5
"""


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.pack_sequences): greedy
    concat-and-chunk into 4096-unit training bins per source, ordered by
    doc_id; per-bin fill telemetry. One window shuffle on source."""
    from grove_spark.operators.packing import pack_sequences, pack_stats

    docs = _t(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, length_col="n_chars", capacity=4096, order_col="doc_id", by=["source"]
    )
    return pack_stats(packed, by=["source"], length_col="n_chars")


SQL_SEQUENCE_PACK = """
WITH c AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents)
SELECT source, CAST((cum - n_chars) // 4096 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS fill
FROM c GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source corpus sampling / data mixing
    (operators/packing.stratified_sample): hash-of-id selection so
    reruns pick identical rows; per-source rates."""
    from grove_spark.operators.packing import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs,
        {"src0": 0.10, "src1": 0.50, "src2": 0.90},
        stratum_col="source", id_col="doc_id", default_rate=0.25,
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


SQL_STRATIFIED_SAMPLE = """
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE ((doc_id % 10000) * 5761) % 10000 <
      CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 5000
                  WHEN 'src2' THEN 9000 ELSE 2500 END
GROUP BY source
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (operators/packing.repetition_signals): word-duplication fraction +
    top-bigram fraction per doc, thresholded to is_repetitive."""
    from grove_spark.operators.packing import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    return repetition_signals(docs)


SQL_REPETITION = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
base AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct, w FROM w),
bg AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
       FROM base, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i) t),
top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg
        FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) q GROUP BY doc_id)
SELECT b.doc_id,
       1.0 - CAST(n_distinct AS DOUBLE) / n_words AS dup_word_frac,
       CASE WHEN t.n_bg IS NOT NULL AND t.n_bg > 0
            THEN CAST(t.top_bg AS DOUBLE) / t.n_bg ELSE 0.0 END AS top_bigram_frac,
       (1.0 - CAST(n_distinct AS DOUBLE) / n_words) > 0.6
         OR (CASE WHEN t.n_bg IS NOT NULL AND t.n_bg > 0
                  THEN CAST(t.top_bg AS DOUBLE) / t.n_bg ELSE 0.0 END) > 0.2
         AS is_repetitive
FROM base b LEFT JOIN top t USING (doc_id)
"""


def q_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signal (the exact-arithmetic stand-in
    for unigram-LM scoring, whose log() is not bit-portable across
    engines): per document, the mean document-frequency of its distinct
    words, with the frequency table computed from the corpus itself.
    Low mean = unusual/rare text; high = boilerplate. At 100 TB the
    frequency dim is capped/broadcast (same max_df discipline as
    ngram_jaccard); here the join is the plain shuffle form."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    dfreq = w.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return (
        w.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum("df").cast("bigint").alias("sum_df"),
        )
        .select(
            "doc_id", "n_distinct", "sum_df",
            (F.col("sum_df").cast("double") / F.col("n_distinct")).alias("mean_df"),
        )
    )


SQL_RARE_TOKEN_SCORE = """
WITH w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
           FROM documents),
df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM w GROUP BY w)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(df) AS BIGINT) AS sum_df,
       CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
FROM w JOIN df USING (w) GROUP BY doc_id
"""


QUERIES.update({
    "decontaminate": q_decontaminate,
    "pii_redact": q_pii_redact,
    "asof_bucketed": q_asof_bucketed,
    "bmp_decode": q_bmp_decode,
    "wav_decode": q_wav_decode,
    "containment": q_containment,
    "sequence_pack": q_sequence_pack,
    "stratified_sample": q_stratified_sample,
    "repetition": q_repetition,
    "rare_token_score": q_rare_token_score,
})
ORACLE.update({
    "decontaminate": SQL_DECONTAMINATE,
    "pii_redact": SQL_PII_REDACT,
    "asof_bucketed": SQL_ASOF_JOIN,
    "bmp_decode": SQL_BMP_DECODE,
    "wav_decode": SQL_WAV_DECODE,
    "containment": SQL_CONTAINMENT,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "repetition": SQL_REPETITION,
    "rare_token_score": SQL_RARE_TOKEN_SCORE,
})

# queries with no SQL-expressible oracle: the driver records a weaker
# rows-only check for these by design
NO_ORACLE: set = set()

def q_jdbc_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 SQL pull scan EXECUTED end-to-end against the embedded Derby
    engine Spark ships (jars/derby-*.jar; reference parity:
    grove/connectors/snowflake/query_history.py:15-24): a slice of
    events is loaded into a real Derby table over JDBC, then
    jdbc_pull_scan re-reads it through the pushed typed-watermark
    subquery as a 4-way partitioned read and aggregates. The CAST in the
    pull query is deliberate: Spark's JDBC writer maps StringType to
    CLOB on Derby, and downstream engines expect comparable VARCHARs."""
    import tempfile

    from grove_spark.sources.scans import jdbc_pull_scan

    spark._jvm.System.setProperty("derby.stream.error.file", "/tmp/grove_derby.log")
    d = tempfile.mkdtemp(prefix="grove_jdbc_")
    url = f"jdbc:derby:{d}/db;create=true"
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "user_id")
        .where(F.col("event_id") < 2000)
    )
    (
        ev.repartition(2)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "events_t")
        .mode("overwrite")
        .save()
    )
    scanned = jdbc_pull_scan(
        spark,
        url,
        'SELECT "event_id", CAST("event_type" AS VARCHAR(64)) AS "event_type",'
        ' "user_id" FROM events_t',
        "event_id",
        watermark="499",
        pointer_kind="sequence",
        partition_col='"event_id"',
        bounds=(500, 2000),
        num_partitions=4,
    )
    return scanned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("first_id"),
        F.sum("user_id").cast("bigint").alias("sum_user"),
    )


SQL_JDBC_PULL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS first_id,
       CAST(sum(user_id) AS BIGINT) AS sum_user
FROM events WHERE event_id > 499 AND event_id < 2000
GROUP BY event_type
"""


def q_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source scan through the production reader: events are
    materialized as real ORC files (task-parallel write, zstd), then
    orc_log_scan re-reads them with a typed watermark that pushes into
    the ORC stripe stats."""
    import tempfile

    from grove_spark.sources.scans import orc_log_scan

    d = tempfile.mkdtemp(prefix="grove_orc_scan_")
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    ev.write.mode("overwrite").option("compression", "zstd").orc(d)
    scanned = orc_log_scan(spark, d, "event_id", watermark="499")
    return scanned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("first_id"),
    )


SQL_ORC_SCAN = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS first_id
FROM events WHERE event_id > 499
GROUP BY event_type
"""


QUERIES.update({
    "jdbc_pull": q_jdbc_pull,
    "orc_scan": q_orc_scan,
})
ORACLE.update({
    "jdbc_pull": SQL_JDBC_PULL,
    "orc_scan": SQL_ORC_SCAN,
})

def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus LINE-level dedup (CCNet/MassiveText boilerplate
    pass): documents are reshaped into 5-word lines, every doc_id%20==0
    doc gets the same planted boilerplate banner line, and dedup_lines
    drops every line whose exact text appears in >=2 docs corpus-wide
    (the planted banner plus any natural 5-gram collisions — both
    engines see identical text, so they agree on those too)."""
    from grove_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n = F.ceil(F.size(ws) / F.lit(5)).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda g: F.array_join(F.slice(ws, g * F.lit(5) + 1, 5), " "),
    )
    text_nl = F.array_join(lines_arr, "\n")
    text_nl = F.when(
        F.col("doc_id") % 20 == 0,
        F.concat(F.lit("all rights reserved cookie banner\n"), text_nl),
    ).otherwise(text_nl)
    shaped = docs.select("doc_id", text_nl.alias("text"))
    return dedup_lines(shaped, min_count=2, keep="none")


SQL_LINE_DEDUP = """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
nat AS (
  SELECT doc_id,
         g + CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END AS pos,
         array_to_string(ws[g*5+1 : g*5+5], ' ') AS line
  FROM base, LATERAL (SELECT unnest(generate_series(0,
       CAST(ceil(len(ws) / 5.0) AS BIGINT) - 1)) AS g) t),
boiler AS (SELECT doc_id, 0 AS pos, 'all rights reserved cookie banner' AS line
           FROM base WHERE doc_id % 20 = 0),
lines AS (SELECT * FROM nat UNION ALL SELECT * FROM boiler),
cnt AS (SELECT line, count(DISTINCT doc_id) AS c FROM lines GROUP BY line),
kept AS (SELECT l.doc_id, l.pos, l.line
         FROM lines l JOIN cnt USING (line) WHERE c < 2),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        FROM lines GROUP BY doc_id),
reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(line, chr(10) ORDER BY pos) AS text_kept
        FROM kept GROUP BY doc_id)
SELECT t.doc_id, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.text_kept, '') AS text_kept
FROM tot t LEFT JOIN reb r USING (doc_id)
"""


QUERIES.update({"line_dedup": q_line_dedup})
ORACLE.update({"line_dedup": SQL_LINE_DEDUP})

def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup canonicalization: each document gets a deterministic messy
    prefix (uppercase, accents, punctuation, whitespace runs) and
    normalize_text_expr restores a canonical form. The oracle applies
    the same lower/translate/regexp chain in DuckDB (same accent table,
    RE2 'g' flag) — text must be byte-identical."""
    from grove_spark.functions.text import normalize_text_expr

    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("  Caffé!!  NAÏVE, École-d'été;;\t"),
        F.upper(F.substring("text", 1, 60)),
        F.lit("   ñoño...  "),
    )
    norm = normalize_text_expr(messy)
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).cast("bigint").alias("n_tokens"),
    )


SQL_NORMALIZE_TEXT = """
WITH messy AS (
  SELECT doc_id,
         '  Caffé!!  NAÏVE, École-d''été;;' || chr(9) ||
         upper(substring(text, 1, 60)) || '   ñoño...  ' AS m
  FROM documents),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             translate(lower(m), 'àáâãäåèéêëìíîïòóôõöùúûüçñýÿ',
                                 'aaaaaaeeeeiiiiooooouuuucnyy'),
             '[^\\p{L}\\p{N}\\s]', ' ', 'g'),
           '\\s+', ' ', 'g')) AS norm_text
  FROM messy)
SELECT doc_id, norm_text,
       CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tokens
FROM norm
"""


QUERIES.update({"normalize_text": q_normalize_text})
ORACLE.update({"normalize_text": SQL_NORMALIZE_TEXT})

def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Catalyst session windows (the zero-Python sibling of the
    applyInPandasWithState sessionizer): per-user sessions with a
    30-minute inactivity gap. Spark merges events whose gap is < 30 min
    (window end = last event + gap, end-exclusive), so the oracle starts
    a new session when the gap is >= 30 min. One shuffle on user_id,
    sessions assembled inside the aggregate — no window-function pass."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ts").alias("_first"),
            F.max("ts").alias("_last"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("_first").cast("timestamp")).alias("first_us"),
            F.unix_micros(F.col("_last").cast("timestamp")).alias("last_us"),
            "n_events",
        )
    )


SQL_SESSION_WINDOW = """
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id,
       epoch_us(min(ts)) AS first_us,
       epoch_us(max(ts)) AS last_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


QUERIES.update({"session_window": q_session_window})
ORACLE.update({"session_window": SQL_SESSION_WINDOW})

def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming with SLIDING windows (2-hour windows sliding
    every hour): each event contributes to exactly two windows. Same
    availableNow drain as stream_tumbling; the oracle materializes both
    window starts per event arithmetically (floor-to-hour and the hour
    before) and aggregates."""
    import os
    import tempfile

    ev_schema = _t(spark, sf_dir, "events").schema
    name = "stream_sliding_gate"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    d = _stream_src_dir(sf_dir)
    stream = (
        spark.readStream.schema(ev_schema)
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_micros(F.col("window.start")).alias("win_us"),
        "event_type",
        "n_rows",
    )


SQL_STREAM_SLIDING = """
WITH w AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts) - INTERVAL (o) HOUR) AS win_us
  FROM events, LATERAL (SELECT unnest([0, 1]) AS o) t)
SELECT win_us, event_type, CAST(count(*) AS BIGINT) AS n_rows
FROM w GROUP BY win_us, event_type
"""


QUERIES.update({"stream_sliding": q_stream_sliding})
ORACLE.update({"stream_sliding": SQL_STREAM_SLIDING})

def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling to a token budget: weights 4/1/0.25/2
    over src0..src3 (src4 deliberately unweighted -> dropped), budget
    30k tokens. Sources over their share downsample, sources under it
    upsample with full epochs + a fractional hashed epoch. The oracle
    replays the identical DOUBLE arithmetic and Knuth-hash row
    selection."""
    from grove_spark.operators.packing import mixture_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    out = mixture_sample(
        docs,
        weights={"src0": 4.0, "src1": 1.0, "src2": 0.25, "src3": 2.0},
        token_budget=30_000,
    )
    return out.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )


SQL_MIXTURE = """
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
tot AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS avail
        FROM tok GROUP BY source),
dim AS (
  SELECT source,
         CAST(floor(r) AS INT) AS copies,
         CAST(floor((r - floor(r)) * 10000) AS BIGINT) AS thr
  FROM (SELECT source,
               (CASE source WHEN 'src0' THEN 4.0 WHEN 'src1' THEN 1.0
                            WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 2.0
                            ELSE 0.0 END / 7.25) * 30000.0 / avail AS r
        FROM tot) x),
ex AS (
  SELECT t.doc_id, t.source, t.n_tokens, g AS epoch, d.copies, d.thr
  FROM tok t JOIN dim d USING (source),
       LATERAL (SELECT unnest(generate_series(0, d.copies)) AS g) s),
kept AS (
  SELECT * FROM ex
  WHERE epoch < copies
     OR ((doc_id % 10000) * (2654435761 % 10000)) % 10000 < thr)
SELECT source, epoch,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM kept GROUP BY source, epoch
"""


QUERIES.update({"mixture": q_mixture})
ORACLE.update({"mixture": SQL_MIXTURE})

def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, no stub (stdlib zlib + numpy): per doc a gray8
    PNG of varying size (w = 5 + doc_id%4, h = 6 + doc_id%3) with pixel
    (x,y) = (x*11 + y*5 + doc_id) % 256, encoded with MIXED row filters
    (None/Sub/Up/Average/Paeth cycling) so every unfilter path runs,
    then decoded back inside Arrow-batched kernels; the oracle recomputes
    the integer pixel stats arithmetically."""
    import numpy as np
    import pandas as pd

    from grove_spark.operators.multimodal import decode_png, encode_png

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def enc(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 4, 6 + did % 3
                y, x = np.mgrid[0:h, 0:w]
                img = ((x * 11 + y * 5 + did) % 256).astype(np.uint8)
                blobs.append(encode_png(img, "mixed"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    def dec(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "w": [], "h": [],
                   "px_sum": [], "px_min": [], "px_max": []}
            for blob in pdf["blob"]:
                img = decode_png(bytes(blob)).astype(np.int64)
                out["h"].append(img.shape[0]); out["w"].append(img.shape[1])
                out["px_sum"].append(int(img.sum()))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    blobs = docs.mapInPandas(enc, "doc_id long, blob binary")
    return blobs.mapInPandas(
        dec, "doc_id long, w int, h int, px_sum long, px_min int, px_max int"
    )


SQL_PNG_DECODE = """
WITH dim AS (
  SELECT doc_id,
         5 + doc_id % 4 AS w,
         6 + doc_id % 3 AS h
  FROM documents),
px AS (
  SELECT d.doc_id, d.w, d.h,
         ((i % d.w) * 11 + (i // d.w) * 5 + d.doc_id) % 256 AS v
  FROM dim d, LATERAL (SELECT unnest(generate_series(0, d.w * d.h - 1)) AS i) t)
SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS INT) AS px_min,
       CAST(max(v) AS INT) AS px_max
FROM px GROUP BY doc_id, w, h
"""


QUERIES.update({"png_decode": q_png_decode})
ORACLE.update({"png_decode": SQL_PNG_DECODE})


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, no stub (pure numpy DCT + canonical
    Huffman): per doc a gray8 JPEG of varying non-multiple-of-8 size
    whose pixels are CONSTANT per 8x8 tile — tile (bx, by) of doc d has
    value (d*31 + bx*17 + by*7) % 256. With a flat quantizer of 8 a
    constant tile's DC (8*(v-128)) quantizes losslessly and all AC are
    zero, so the LOSSY codec becomes arithmetically exact on this family
    and the oracle can recompute the pixel stats directly — while the
    decoder still runs the full general path (marker walk, stream-
    carried DHT/DQT, DC diff coding, EOB, byte unstuffing, IDCT, edge
    crop)."""
    import numpy as np
    import pandas as pd

    from grove_spark.operators.multimodal import decode_jpeg, encode_jpeg_gray

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def enc(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 11 + did % 13, 9 + did % 11
                bx, by = np.mgrid[0:w, 0:h]
                img = ((did * 31 + (bx // 8) * 17 + (by // 8) * 7) % 256)
                blobs.append(encode_jpeg_gray(img.T.astype(np.uint8), q=8))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    def dec(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "w": [], "h": [],
                   "px_sum": [], "px_min": [], "px_max": []}
            for blob in pdf["blob"]:
                img = decode_jpeg(bytes(blob)).astype(np.int64)
                out["h"].append(img.shape[0]); out["w"].append(img.shape[1])
                out["px_sum"].append(int(img.sum()))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    blobs = docs.mapInPandas(enc, "doc_id long, blob binary")
    return blobs.mapInPandas(
        dec, "doc_id long, w int, h int, px_sum long, px_min int, px_max int"
    )


SQL_JPEG_DECODE = """
WITH dim AS (
  SELECT doc_id,
         11 + doc_id % 13 AS w,
         9 + doc_id % 11 AS h
  FROM documents),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id * 31 + ((i % d.w) // 8) * 17 + ((i // d.w) // 8) * 7) % 256 AS v
  FROM dim d, LATERAL (SELECT unnest(generate_series(0, d.w * d.h - 1)) AS i) t)
SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS INT) AS px_min,
       CAST(max(v) AS INT) AS px_max
FROM px GROUP BY doc_id, w, h
"""

QUERIES.update({"jpeg_decode": q_jpeg_decode})
ORACLE.update({"jpeg_decode": SQL_JPEG_DECODE})


def q_jmes_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JMESPath function library (P7 — the reference evaluates these
    per row via jmespath.search; functions/paths.py compiles them once
    into Catalyst) driven through extract_paths over a synthesized
    nested column: sort_by with a trailing path, max_by, map+sum/join,
    reverse, ceil, type, not_null. The oracle recomputes every value
    arithmetically from the flat columns."""
    from grove_spark.operators.processors import extract_paths

    ev = _t(spark, sf_dir, "events").withColumn(
        "params",
        F.array(
            F.struct(
                F.lit("a").alias("name"),
                ((F.col("event_id") * 2) % 13).cast("double").alias("rank"),
            ),
            F.struct(
                F.lit("b").alias("name"),
                ((F.col("event_id") * 2 + 1) % 13).cast("double").alias("rank"),
            ),
        ),
    )
    out = extract_paths(ev, [
        {"destination": "event_id", "sources": ["event_id"]},
        {"destination": "first_sorted", "sources": ["sort_by(params, &rank)[0].name"]},
        {"destination": "top_rank", "sources": ["max_by(params, &rank).rank"]},
        {"destination": "rank_sum", "sources": ["sum(map(&rank, params))"]},
        {"destination": "names", "sources": ["join('-', map(&name, params))"]},
        {"destination": "rev_type", "sources": ["reverse(event_type)"]},
        {"destination": "v_ceil", "sources": ["ceil(value)"]},
        {"destination": "v_type", "sources": ["type(value)"]},
        {"destination": "ntype", "sources": ["not_null(missing, event_type)"]},
    ])
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "first_sorted", "top_rank", "rank_sum", "names", "rev_type",
        F.col("v_ceil").cast("bigint").alias("v_ceil"), "v_type", "ntype",
    )


SQL_JMES_FUNCTIONS = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CASE WHEN (event_id*2)%13 < (event_id*2+1)%13 THEN 'a' ELSE 'b' END
         AS first_sorted,
       CAST(greatest((event_id*2)%13, (event_id*2+1)%13) AS DOUBLE) AS top_rank,
       CAST((event_id*2)%13 + (event_id*2+1)%13 AS DOUBLE) AS rank_sum,
       'a-b' AS names,
       reverse(event_type) AS rev_type,
       CAST(ceil(value) AS BIGINT) AS v_ceil,
       CASE WHEN value IS NULL THEN 'null' ELSE 'number' END AS v_type,
       event_type AS ntype
FROM events
"""

QUERIES.update({"jmes_functions": q_jmes_functions})
ORACLE.update({"jmes_functions": SQL_JMES_FUNCTIONS})


def q_storage_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage lifecycle END-TO-END under the correctness gate:
    two incremental batches committed to a run-state manifest (atomic
    data+stats publish), small-file compaction swapping them for ONE
    rewritten dir (T1/T8 + the rewrite-record protocol), then a
    manifest_scan read-back with manifest-resident file pruning. The
    aggregate must equal a plain predicate over the source — the whole
    write→commit→compact→prune→read path must be value-preserving —
    and two plan facts ride along as checked flags: the post-compaction
    listing is ONE directory, and the pruned scan kept a strict subset
    of files."""
    import hashlib
    import os
    import shutil
    import tempfile

    from grove_spark.operators.compaction import compact_runs
    from grove_spark.sources.scans import manifest_scan
    from grove_spark.state.runstate import RunState

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"grove_lifecycle_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    state = RunState(os.path.join(base, "state"))

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts").alias("event_time"),
        F.lit("logs").alias("descriptor"), F.lit("gate").alias("connector"),
    )
    _gate_store(state, os.path.join(base, "out"), [
        ev.where(F.col("event_time") < F.lit("2024-01-08")),
        ev.where(F.col("event_time") >= F.lit("2024-01-08")),
    ])
    res = compact_runs(
        spark, state, os.path.join(base, "out"),
        pointer_col="event_time", small_file_bytes=1 << 30,
        sort_within=["event_time"],
    )
    assert res is not None and len(state.committed_paths()) == 1
    wm = "2024-01-05 00:00:00"
    ms = manifest_scan(spark, state, pointer_col="event_time", watermark=wm)
    pr = ms._grove_prune
    agg = ms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.max(F.unix_micros(F.col("event_time").cast("timestamp"))).alias("max_ts_us"),
        F.lit(len(state.committed_paths())).cast("int").alias("n_dirs"),
        F.lit(int(0 < pr["files_kept"] < pr["files_total"])).cast("int")
        .alias("pruned_strict_subset"),
    )
    # the 1-row aggregate is evaluated EAGERLY so the temp working tree
    # (two parquet copies of events + state) can be reclaimed before
    # returning, instead of lingering under /tmp until the next gate run
    row = agg.first()
    out = spark.createDataFrame([row], agg.schema)
    shutil.rmtree(base, ignore_errors=True)
    return out


SQL_STORAGE_LIFECYCLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       max(epoch_us(ts)) AS max_ts_us,
       CAST(1 AS INT) AS n_dirs,
       CAST(1 AS INT) AS pruned_strict_subset
FROM events
WHERE ts > TIMESTAMP '2024-01-05 00:00:00'
"""

QUERIES.update({"storage_lifecycle": q_storage_lifecycle})
ORACLE.update({"storage_lifecycle": SQL_STORAGE_LIFECYCLE})

def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) codes for the file-layout operator: interleave
    the low 10 bits of (user_id % 1024, event_id % 1024) in codegen.
    The oracle recomputes the interleave arithmetically — any bit-
    position error breaks every value."""
    from grove_spark.operators.layout import zorder_value

    ev = _t(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.pmod(F.col("event_id"), F.lit(1024))
    return ev.select(
        "event_id",
        zorder_value([x, y], bits=10).cast("bigint").alias("zval"),
    )


SQL_ZORDER = """
SELECT e.event_id,
       CAST(sum(((((e.user_id % 1024) + 1024) % 1024) // (1 << i)) % 2
                  * (CAST(1 AS BIGINT) << (2 * i))
              + ((((e.event_id % 1024) + 1024) % 1024) // (1 << i)) % 2
                  * (CAST(1 AS BIGINT) << (2 * i + 1))) AS BIGINT) AS zval
FROM events e, LATERAL (SELECT unnest(generate_series(0, 9)) AS i) t
GROUP BY e.event_id
"""


QUERIES.update({"zorder": q_zorder})
ORACLE.update({"zorder": SQL_ZORDER})

def q_api_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated-cursor API connector as a Spark 4 Python DataSource
    (sources/api_source.py): events are spooled into the dir-transport
    page layout (500/page, ascending event_id, per-page max pointers),
    then read back through format('grove_paged_api') with the watermark
    predicate pushed into the source (whole-page pruning + residual row
    filter) and aggregated. Fixture synthesis collects the tiny gate
    table once; the read path is the judged artifact."""
    import os
    import tempfile

    from grove_spark.sources.api_source import PagedApiDataSource, write_pages

    spark.dataSource.register(PagedApiDataSource)
    d = os.path.join(
        tempfile.gettempdir(),
        f"grove_api_pages_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}",
    )
    if not os.path.exists(os.path.join(d, "_index.json")):
        rows = (
            _t(spark, sf_dir, "events")
            .select("event_id", "event_type", "user_id")
            .orderBy("event_id")
            .collect()
        )
        write_pages(
            [r.asDict() for r in rows], d, page_size=500, pointer_col="event_id"
        )
    df = (
        spark.read.format("grove_paged_api")
        .option("path", d)
        .option("schema", "event_id bigint, event_type string, user_id bigint")
        .option("pointer_col", "event_id")
        .load()
        .where(F.col("event_id") > 499)
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("first_id"),
        F.sum("user_id").cast("bigint").alias("sum_user"),
    )


SQL_API_SOURCE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS first_id,
       CAST(sum(user_id) AS BIGINT) AS sum_user
FROM events WHERE event_id > 499
GROUP BY event_type
"""


QUERIES.update({"api_source": q_api_source})
ORACLE.update({"api_source": SQL_API_SOURCE})

def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity filter with no external model: a bigram
    LM (add-0.5 smoothing) trained on the doc_id%10==0 reference split
    scores every remaining document by mean log2 bigram probability.
    The oracle rebuilds the identical counts and float chain; sums of
    logs agree far inside the gate's 9-significant-digit canon."""
    from grove_spark.operators.packing import ngram_lm_score

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return ngram_lm_score(corpus, ref)


SQL_LM_SCORE = """
WITH ref AS (SELECT string_split(text, ' ') AS w FROM documents
             WHERE doc_id % 10 = 0),
rbg AS (SELECT w[i] AS w1, w[i+1] AS w2
        FROM ref, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
        WHERE len(w) >= 2),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM rbg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM rbg GROUP BY w1),
v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM c1),
corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE doc_id % 10 <> 0),
cbg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM corpus, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
        WHERE len(w) >= 2),
lp AS (SELECT doc_id,
              log2((COALESCE(c12, 0) + 0.5)
                   / (COALESCE(c1, 0) + 0.5 * vocab)) AS lp
       FROM cbg LEFT JOIN c12 USING (w1, w2)
                LEFT JOIN c1 USING (w1)
                CROSS JOIN v),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               sum(lp) / count(*) AS mean_log2p
        FROM lp GROUP BY doc_id)
SELECT c.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, a.mean_log2p
FROM corpus c LEFT JOIN agg a USING (doc_id)
"""


QUERIES.update({"lm_score": q_lm_score})
ORACLE.update({"lm_score": SQL_LM_SCORE})


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained byte-level BPE over documents — the text -> tokens front
    door producing the pipeline's native (doc_id, tokens:array<int32>,
    n_tok, source) shape (operators/tokenizer.py; grove itself has no
    tokenizer — beyond-reference training-data surface).

    BPE encode is not SQL-expressible, so the gate follows the
    deterministic-flag convention (see ann_lsh): the Spark side checks
    the tokenizer's defining invariants PER DOCUMENT and emits flags
    the oracle derives trivially — roundtrip_ok (the pure-Catalyst
    decode of the encoded ids reproduces the text EXACTLY; byte-level
    BPE has no unknown-token path, so any mismatch is a real bug) and
    tok_le_bytes (merges only ever shrink the id sequence, so n_tok
    never exceeds the UTF-8 byte count). Training is deterministic
    (total-order truncation + lexicographic tie-breaks), so the flags
    are exact, not probabilistic."""
    from grove_spark.operators.tokenizer import (
        detokenize_col,
        tokenize,
        train_bpe,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = train_bpe(docs, num_merges=256)
    enc = tokenize(docs, tok)
    # total flags: the encoder maps null text to [] (same as ""), so
    # both invariants compare against coalesce(text, '') — a null text
    # row yields 1/1, matching the oracle's constants, never NULL
    text = F.coalesce(F.col("text"), F.lit(""))
    return enc.select(
        "doc_id",
        (detokenize_col(F.col("tokens"), tok) == text)
        .cast("int")
        .alias("roundtrip_ok"),
        (F.size("tokens") <= F.octet_length(text))
        .cast("int")
        .alias("tok_le_bytes"),
    )


SQL_BPE_TOKENIZE = """
SELECT doc_id, CAST(1 AS INT) AS roundtrip_ok, CAST(1 AS INT) AS tok_le_bytes
FROM documents
"""


QUERIES.update({"bpe_tokenize": q_bpe_tokenize})
ORACLE.update({"bpe_tokenize": SQL_BPE_TOKENIZE})


def q_tokenize_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenize INGEST lifecycle under the correctness gate (the
    storage_lifecycle pattern): documents land in two append-only
    batches; each `run_tokenize_ingest` tick trains-or-loads the vocab,
    file-prunes to the unseen batch, tokenizes, and commits data +
    pointer + footer stats atomically. The committed read-back must
    hold every document exactly once with token arrays that DECODE back
    to the source text byte-exactly (the pipeline's token-array
    equality invariant, applied to the front door), with plan facts as
    checked flags: run 2 listed a strict subset of source files, and
    writer stats rode in the commit."""
    import hashlib
    import os
    import shutil
    import tempfile

    from grove_spark.operators.tokenizer import (
        detokenize_col,
        run_tokenize_ingest,
    )
    from grove_spark.sources.scans import read_runs
    from grove_spark.state.runstate import RunState

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"grove_tokingest_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    state = RunState(os.path.join(base, "state"))
    src = os.path.join(base, "docs")
    out = os.path.join(base, "seq")
    vocab = os.path.join(base, "bpe.json")

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    docs.where(F.col("doc_id") <= mid).coalesce(2).write.parquet(src)
    run_tokenize_ingest(spark, src, state, out, vocab)
    docs.where(F.col("doc_id") > mid).coalesce(2).write.mode("append").parquet(src)
    r2 = run_tokenize_ingest(spark, src, state, out, vocab)

    rec2 = state.run_record(r2["run_id"])
    scan = rec2["metrics"]["scan"]
    pruned_ok = int(scan["files_kept"] < scan["files_total"])
    stats_ok = int(bool(rec2.get("file_stats")))

    seq = read_runs(spark, state.committed_paths())
    joined = seq.join(docs.select("doc_id", "text"), "doc_id")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("doc_id").cast("bigint").alias("n_distinct"),
        F.sum(
            (detokenize_col(F.col("tokens"), r2["tokenizer"])
             != F.coalesce(F.col("text"), F.lit(""))).cast("int")
        ).cast("bigint").alias("roundtrip_bad"),
        F.lit(pruned_ok).cast("int").alias("pruned_ok"),
        F.lit(stats_ok).cast("int").alias("stats_ok"),
    )
    # evaluate EAGERLY and clean the workspace (the storage_lifecycle
    # pattern): the returned frame must not depend on temp files, and
    # the gate must not leak a parquet copy of the corpus per run
    row = agg.first()
    result = spark.createDataFrame([row], agg.schema)
    shutil.rmtree(base, ignore_errors=True)
    return result


SQL_TOKENIZE_INGEST = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(0 AS BIGINT) AS roundtrip_bad,
       CAST(1 AS INT) AS pruned_ok,
       CAST(1 AS INT) AS stats_ok
FROM documents
"""


QUERIES.update({"tokenize_ingest": q_tokenize_ingest})
ORACLE.update({"tokenize_ingest": SQL_TOKENIZE_INGEST})


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO under the correctness gate
    (operators/merge.py): two committed dirs with DISJOINT event_id
    ranges, then one upsert batch that patches keys in the upper range
    and inserts brand-new (negative) keys. The read-back must equal the
    plain SQL merge (anti-join ∪ updates) value-for-value, and the
    key-range pruning fact rides along as a checked flag: only the
    overlapping dir may be rewritten."""
    import hashlib
    import os
    import shutil
    import tempfile

    from grove_spark.operators.merge import merge_into
    from grove_spark.sources.scans import manifest_scan
    from grove_spark.state.runstate import RunState

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"grove_merge_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    state = RunState(os.path.join(base, "state"))
    out = os.path.join(base, "out")

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        F.col("ts").alias("event_time"),
        F.lit("logs").alias("descriptor"), F.lit("gate").alias("connector"),
    )
    # disjoint key ranges: [0, 500) and [500, max] — the pruning prey
    _gate_store(state, out, [
        ev.where(F.col("event_id") < 500),
        ev.where(F.col("event_id") >= 500),
    ])

    updates = (
        ev.where((F.col("event_id") % 7 == 0) & (F.col("event_id") >= 500))
        .withColumn("event_type", F.lit("patched"))
        .withColumn("user_id", F.col("user_id") + F.lit(1_000_000))
    ).unionByName(
        ev.where(F.col("event_id") % 11 == 3)
        .withColumn("event_id", -(F.col("event_id") + F.lit(1)))
        .withColumn("event_type", F.lit("inserted"))
    )
    res = merge_into(spark, state, out, updates, ["event_id"])

    got = manifest_scan(spark, state, pointer_col="event_time")
    agg = got.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum((F.col("event_type") == "patched").cast("int"))
        .cast("bigint").alias("n_patched"),
        F.sum((F.col("event_type") == "inserted").cast("int"))
        .cast("bigint").alias("n_inserted"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.sum("user_id").cast("bigint").alias("user_sum"),
        F.lit(int(0 < res["dirs_rewritten"] < res["dirs_total"]))
        .cast("int").alias("pruned_strict_subset"),
    )
    row = agg.first()
    result = spark.createDataFrame([row], agg.schema)
    shutil.rmtree(base, ignore_errors=True)
    return result


SQL_MERGE_UPSERT = """
WITH upd AS (
  SELECT event_id, 'patched' AS event_type, user_id + 1000000 AS user_id
  FROM events WHERE event_id % 7 = 0 AND event_id >= 500
  UNION ALL
  SELECT -(event_id + 1), 'inserted', user_id
  FROM events WHERE event_id % 11 = 3
),
merged AS (
  SELECT event_id, event_type, user_id FROM events
  WHERE event_id NOT IN (SELECT event_id FROM upd)
  UNION ALL
  SELECT event_id, event_type, user_id FROM upd
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_type = 'patched' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_patched,
       CAST(sum(CASE WHEN event_type = 'inserted' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_inserted,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       CAST(sum(user_id) AS BIGINT) AS user_sum,
       CAST(1 AS INT) AS pruned_strict_subset
FROM merged
"""


QUERIES.update({"merge_upsert": q_merge_upsert})
ORACLE.update({"merge_upsert": SQL_MERGE_UPSERT})


def q_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan under the correctness gate
    (sources/scans.py incremental_append_scan): commit two batches,
    checkpoint the manifest version between them, and read ONLY what
    landed after the checkpoint — it must equal the plain predicate
    that defines the second batch, and the window fact (exactly one
    appended dir, no rewrites) rides along as checked flags."""
    import hashlib
    import os
    import shutil
    import tempfile

    from grove_spark.sources.scans import incremental_append_scan
    from grove_spark.state.runstate import RunState

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"grove_incr_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    state = RunState(os.path.join(base, "state"))
    out = os.path.join(base, "out")

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts").alias("event_time"),
        F.lit("logs").alias("descriptor"), F.lit("gate").alias("connector"),
    )
    # the consumer's checkpoint integer: the version after batch 0
    ckpt = _gate_store(state, out, [
        ev.where(F.col("event_id") < 500),
        ev.where(F.col("event_id") >= 500),
    ])[0]

    inc = incremental_append_scan(spark, state, since_version=ckpt)
    info = inc._grove_incremental
    agg = inc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.max(F.unix_micros(F.col("event_time").cast("timestamp"))).alias("max_ts_us"),
        F.lit(int(len(info["appended"]) == 1)).cast("int").alias("one_dir_appended"),
        F.lit(int(not info["compactions"] and not info["mutations"]))
        .cast("int").alias("no_rewrites_in_window"),
    )
    row = agg.first()
    result = spark.createDataFrame([row], agg.schema)
    shutil.rmtree(base, ignore_errors=True)
    return result


SQL_INCREMENTAL_READ = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       max(epoch_us(ts)) AS max_ts_us,
       CAST(1 AS INT) AS one_dir_appended,
       CAST(1 AS INT) AS no_rewrites_in_window
FROM events
WHERE event_id >= 500
"""


QUERIES.update({"incremental_read": q_incremental_read})
ORACLE.update({"incremental_read": SQL_INCREMENTAL_READ})


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-budget shard assignment (operators/packing.py
    global_token_shards) under the oracle: the two-pass distributed
    prefix sum over range partitions must equal DuckDB's single-stream
    window cumsum EXACTLY — every (shard, n_docs, tok_sum) row, where a
    shard is 4096 tokens of whitespace-token budget in doc_id order."""
    from grove_spark.operators.packing import global_token_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    sharded = global_token_shards(docs, budget_tokens=4096)
    agg = sharded.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_sum"),
    )
    rows = agg.collect()  # eager: unpersist the two-pass intermediate
    sharded._grove_persisted.unpersist()
    return spark.createDataFrame(rows, agg.schema)


SQL_TOKEN_SHARDS = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT CAST((cum - n_tok) // 4096 AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_sum
FROM c
GROUP BY 1
"""


QUERIES.update({"token_shards": q_token_shards})
ORACLE.update({"token_shards": SQL_TOKEN_SHARDS})


def q_stream_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read over the manifested store
    (sources/manifest_stream.py): commit the events table as THREE
    appends, open the store as a Structured Streaming source (offsets =
    manifest versions, one input partition per parquet file, rows read
    executor-side via Arrow), drain with availableNow into a memory
    sink, and aggregate. One drain admits every committed row exactly
    once, so the result must equal plain SQL over the same events —
    including the `date` column, which never exists in any footer and
    is reconstructed from the hive partition path by the reader."""
    import hashlib
    import os
    import shutil
    import tempfile

    from grove_spark.sources.manifest_stream import read_manifest_stream
    from grove_spark.state.runstate import RunState

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"grove_mstream_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    state = RunState(os.path.join(base, "state"))
    out = os.path.join(base, "out")

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts").alias("event_time"),
        F.lit("logs").alias("descriptor"), F.lit("gate").alias("connector"),
    )
    _gate_store(state, out, [
        ev.where(F.col("event_id") < 300),
        ev.where((F.col("event_id") >= 300) & (F.col("event_id") < 700)),
        ev.where(F.col("event_id") >= 700),
    ])

    name = "stream_manifest_gate"
    try:  # rerun-safe: the memory sink registers a temp view per run
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    stream = read_manifest_stream(spark, os.path.join(base, "state"))
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    agg = spark.table(name).groupBy("event_type", F.col("date").alias("date_s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )
    rows = agg.collect()  # eager: the memory sink dies with the temp view
    result = spark.createDataFrame(rows, agg.schema)
    shutil.rmtree(base, ignore_errors=True)
    return result


SQL_STREAM_MANIFEST = """
SELECT event_type,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS date_s,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events
GROUP BY 1, 2
"""


QUERIES.update({"stream_manifest": q_stream_manifest})
ORACLE.update({"stream_manifest": SQL_STREAM_MANIFEST})


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.py pq_train/pq_encode/
    pq_adc_topk + ann_index.py kind='ivf_pq'): the index stores an
    m-byte PQ code per vector instead of the vector (the 32× footprint
    cut that makes billion-vector scoring possible), queries score via
    the asymmetric-distance LUT over the probed cells only, and the
    refine-pool exact re-rank (keep_vectors=True here) restores exact
    order. Gate contract mirrors ann_ivf_indexed: top-10 against the
    brute-force truth with a recall floor of 8/10."""
    import hashlib
    import os
    import tempfile

    from grove_spark.operators.ann_index import ann_query, write_ann_index
    from grove_spark.operators.similarity import ivf_train_centroids, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.where(F.col("vec_id") != 0)
    cents = ivf_train_centroids(corpus, n_centroids=16)
    books = pq_train(corpus, m=8, ksub=256, centroids=cents)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"grove_ann_pq_{tag}")
    write_ann_index(
        corpus, path, kind="ivf_pq", centroids=cents, codebooks=books,
        keep_vectors=True,
    )
    idx_ids = ann_query(
        spark, path, qvec, k=10, n_probe=8, refine=16
    ).select("vec_id")
    brute_ids = q_ann_bruteforce(spark, sf_dir)
    recall = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    joined = idx_ids.join(
        brute_ids.withColumn("hit", F.lit(1)), "vec_id", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_results"),
        (recall >= 8).cast("int").alias("recall_floor_ok"),
    )


QUERIES.update({"ann_pq": q_ann_pq})
ORACLE.update({"ann_pq": SQL_ANN_IVF})
