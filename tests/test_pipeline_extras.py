"""Failed-row telemetry, serialize golden bytes, salted-repartition skew
balance."""

import gzip
import json

import pytest
from pyspark.sql import functions as F

from grove_spark.fixtures.generator import gen_sinks_dim, gen_sources_dim, write_fixture
from grove_spark.oracle import pyref
from grove_spark.plans.pipeline import build_pipeline

N = 400


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("extras")
    p = write_fixture(str(d), N)
    return (
        spark.read.parquet(p["sequences"]),
        spark.read.parquet(p["sources"]),
        spark.read.parquet(p["sinks"]),
    )


def test_failed_row_telemetry(spark, loaded):
    """Rows whose raw line fails the grok pattern count as failed in the
    observed metrics (per-partition processed/failed telemetry)."""
    seq, sources, sinks = loaded
    broken = seq.withColumn(
        "raw",
        F.when(F.col("n_tok") % 7 == 0, F.lit("!!corrupt line!!")).otherwise(F.col("raw")),
    )
    res = build_pipeline(broken, sources, sinks, n_partitions=4)
    res.counts.collect()
    obs = res.observed.get
    n_bad_inputs = seq.where("n_tok % 7 = 0").count()
    assert obs["failed"] > 0
    assert obs["processed"] > obs["failed"]
    # failed counts are per ROUTED row: each bad input appears once per sink
    routed_bad = res.routed.where(F.col("parsed.doc") == "").count()
    assert obs["failed"] == routed_bad


def test_gzip_ndjson_golden_bytes(spark, tmp_path):
    """O1 serialize parity: gzip NDJSON lines equal the reference-style
    compact json.dumps with nulls kept."""
    from grove_spark.operators.sinks import write_gzip_ndjson

    rows = [
        {"timestamp": "1", "event": "Example A", "extra": None},
        {"timestamp": "2", "event": "Example B", "extra": "x"},
    ]
    df = spark.createDataFrame(rows, "timestamp string, event string, extra string")
    out = str(tmp_path / "ndjson")
    write_gzip_ndjson(df.coalesce(1), out)
    import glob

    [path] = glob.glob(f"{out}/part-*.txt.gz")
    lines = gzip.open(path, "rt").read().strip().split("\n")
    want = {json.dumps(r, separators=(",", ":")) for r in rows}
    assert set(lines) == want


def test_salted_repartition_balances_zipf_skew(spark, loaded):
    """The head source carries ~30% of rows; without salt one task would
    own it all. With (descriptor, source, salt) partitioning, the largest
    partition stays within a small factor of the mean."""
    from grove_spark.operators.routing import route, salted_repartition

    seq, sources, sinks = loaded
    df = seq.join(F.broadcast(sources), "source")
    routed = route(df, sinks, connector_col="connector", raw_col="tokens")
    n_part = 16
    salted = salted_repartition(routed, n_part, n_salt=8)
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().toPandas()["count"]
    )
    total = sizes.sum()
    # unsalted baseline: partition on (descriptor, source) only
    unsalted = routed.repartition(n_part, F.col("descriptor"), F.col("source"))
    u_sizes = (
        unsalted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().toPandas()["count"]
    )
    assert sizes.max() < u_sizes.max()  # salt strictly improves the hot spot
    assert sizes.max() <= total / n_part * 3  # bounded imbalance


def test_parse_stage_multi_per_connector_patterns(spark):
    """Per-connector grok patterns in one plan: each source parses with
    its own format; the parsed struct is the union of all groups."""
    from grove_spark.plans.parse import parse_stage_multi

    df = spark.createDataFrame(
        [
            ("okta", "2024-01-01T00:00:00Z actor=alice outcome=SUCCESS"),
            ("slack", "evt=file_shared user=bob"),
            ("unknown", "whatever"),
        ],
        "source string, raw string",
    )
    out = parse_stage_multi(df, {
        "okta": "^%{NOTSPACE:ts} actor=%{WORD:actor} outcome=%{WORD:outcome}$",
        "slack": "^evt=%{WORD:evt} user=%{WORD:actor}$",
    })
    rows = {r["source"]: r["parsed"] for r in out.collect()}
    assert rows["okta"]["actor"] == "alice" and rows["okta"]["outcome"] == "SUCCESS"
    assert rows["slack"]["actor"] == "bob" and rows["slack"]["evt"] == "file_shared"
    assert rows["slack"]["outcome"] is None  # field from the other pattern
    assert rows["unknown"] is None
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan
