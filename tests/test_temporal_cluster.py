"""AS-OF join, binned range join, and connected-components clustering —
the custom operators Spark lacks as built-ins, checked on hand-built
cases (the gate checks them against DuckDB ASOF / recursive CTEs)."""

import datetime as dt

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from grove_spark.operators.dedup_cluster import connected_components, dedup_clusters
from grove_spark.operators.temporal import asof_join, range_join_binned


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("A", ts("2024-01-01T10:00:00"), 100.0),
            ("A", ts("2024-01-01T10:05:00"), 101.0),
            ("B", ts("2024-01-01T10:02:00"), 50.0),
        ],
        "sym string, qt timestamp, px double",
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            (1, "A", ts("2024-01-01T10:03:00")),   # -> px 100 (10:00)
            (2, "A", ts("2024-01-01T10:05:00")),   # tie -> px 101 (<= matches)
            (3, "B", ts("2024-01-01T10:01:00")),   # before any B quote -> null
            (4, "B", ts("2024-01-01T11:00:00")),   # -> px 50
            (5, "C", ts("2024-01-01T10:00:00")),   # no quotes at all -> null
        ],
        "tid long, sym string, tt timestamp",
    )


def test_asof_join_backward_semantics(spark, quotes, trades):
    out = asof_join(trades, quotes, on="sym", left_time="tt", right_time="qt")
    got = {r["tid"]: r["px"] for r in out.collect()}
    assert got == {1: 100.0, 2: 101.0, 3: None, 4: 50.0, 5: None}
    assert set(out.columns) == {"tid", "sym", "tt", "px"}


def test_asof_join_tolerance(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on="sym", left_time="tt", right_time="qt",
        tolerance="30 minutes",
    )
    got = {r["tid"]: r["px"] for r in out.collect()}
    assert got[4] is None  # 58 min stale quote dropped
    assert got[1] == 100.0


def test_asof_join_is_single_shuffle(spark, quotes, trades):
    out = asof_join(trades, quotes, on="sym", left_time="tt", right_time="qt")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # union + ONE window over (key, time): no join operator at all
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one per union input, same partitioning
    assert "BatchEvalPython" not in plan


def test_range_join_binned_matches_inequality(spark):
    probe = spark.range(0, 200).select(
        F.col("id").alias("pid"), (F.col("id") * 0.7).alias("value")
    )
    ranges = spark.createDataFrame(
        [(0, 5.0, 20.0), (1, 15.0, 16.0), (2, 100.0, 140.0)],
        "band int, lo double, hi double",
    )
    got = {
        (r["pid"], r["band"])
        for r in range_join_binned(probe, ranges, "value", bin_width=10.0).collect()
    }
    want = {
        (r["pid"], r["band"])
        for r in probe.join(
            ranges, (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
        ).collect()
    }
    assert got == want and got  # overlapping ranges produce multi-matches


def test_range_join_is_hash_join_not_nested_loop(spark):
    probe = spark.range(0, 100).select((F.col("id") * 1.0).alias("value"))
    ranges = spark.createDataFrame([(0, 5.0, 20.0)], "band int, lo double, hi double")
    out = range_join_binned(probe, ranges, "value", bin_width=10.0)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_connected_components_chain_and_star(spark):
    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter > 1 forces iteration) + star 10-(11,12)
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12)],
        "a long, b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_dedup_clusters_keeper_and_singletons(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    out = {r["doc_id"]: (r["cluster"], r["is_keeper"]) for r in dedup_clusters(pairs, docs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True),  # untouched docs are their own keepers
    }


def test_asof_bucketed_matches_plain_on_skewed_keys(spark):
    """Property check: the two-pass bucketed as-of join equals the plain
    window form on zipfian data — one hot key carrying 60% of rows,
    matches that cross bucket boundaries, empty buckets, a key with no
    right rows, and a tolerance cut."""
    import random

    from grove_spark.operators.temporal import asof_join, asof_join_bucketed

    rng = random.Random(7)
    keys = ["hot"] * 6 + ["warm", "cold", "never"]
    left = [
        (f"e{i}", rng.choice(keys), dt.datetime(2024, 1, 1) + dt.timedelta(
            seconds=rng.randrange(0, 86400 * 3)))
        for i in range(400)
    ]
    right = [
        (k, dt.datetime(2024, 1, 1) + dt.timedelta(
            seconds=rng.randrange(0, 86400 * 3)), rng.randrange(1000))
        for k in ("hot", "warm", "cold") for _ in range(30)
    ]
    ldf = spark.createDataFrame(left, "eid string, k string, t timestamp")
    rdf = spark.createDataFrame(right, "k string, rt timestamp, v int")
    # unique (key, time) on the right: drop dup instants deterministically
    rdf = rdf.groupBy("k", "rt").agg(F.max("v").alias("v"))

    for tol in (None, "4 hours"):
        plain = {
            r["eid"]: r["v"]
            for r in asof_join(
                ldf, rdf, on="k", left_time="t", right_time="rt", tolerance=tol
            ).collect()
        }
        bucketed = {
            r["eid"]: r["v"]
            for r in asof_join_bucketed(
                ldf, rdf, on="k", left_time="t", right_time="rt",
                tolerance=tol, bucket_s=3600,
            ).collect()
        }
        assert bucketed == plain, f"tolerance={tol}"


def test_asof_bucketed_window_partitions_on_bucket(spark):
    """The pass-1 window must partition on (key, bucket) — that IS the
    skew fix: a hot key's timeline spans many partitions, so more than
    one task can sort it."""
    from grove_spark.operators.temporal import asof_join_bucketed

    ldf = spark.createDataFrame(
        [("e1", "k", dt.datetime(2024, 1, 1))], "eid string, k string, t timestamp"
    )
    rdf = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1), 1)], "k string, rt timestamp, v int"
    )
    out = asof_join_bucketed(ldf, rdf, on="k", left_time="t", right_time="rt")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("__bkt" in s and "k#" in s for s in specs), (
        "in-bucket carry window does not partition on (key, bucket)"
    )
    assert "BatchEvalPython" not in plan


def test_small_graph_union_find_matches_distributed(spark):
    """r6 driver-side union-find must produce identical labels to the
    distributed propagation loop, including string ids, chains and pairs
    with a null id — no edge on either path (a null node must not bridge
    the components it touches)."""
    from grove_spark.operators.dedup_cluster import connected_components

    cases = [
        spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
            "a long, b long",
        ),
        spark.createDataFrame(
            [("kz", "ka"), ("ka", "km"), ("x1", "x2")], "a string, b string"
        ),
        spark.createDataFrame(
            [(1, 2), (3, None), (None, 4), (None, None), (5, None), (4, 6)],
            "a long, b long",
        ),
        spark.createDataFrame(
            [("kz", None), ("ka", "km"), (None, "x1")], "a string, b string"
        ),
    ]
    labels = []
    for pairs in cases:
        fast = {
            (r["node"], r["component"])
            for r in connected_components(pairs).collect()
        }
        slow = {
            (r["node"], r["component"])
            for r in connected_components(
                pairs, small_graph_max_edges=0
            ).collect()
        }
        assert fast == slow and fast
        labels.append(fast)
    assert labels[2] == {(1, 1), (2, 1), (4, 4), (6, 4)}
    assert labels[3] == {("ka", "ka"), ("km", "ka")}
