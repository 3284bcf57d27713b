"""Regressions locked in from the round-2 self-review: each test fails
on the pre-fix code."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from grove_spark.config import ConnectorConfig, load_configs, run_fleet
from grove_spark.state.runstate import RunState


def test_multi_identity_fleet_does_not_cross_contaminate(spark, tmp_path):
    """Two identities of the SAME connector must each commit their OWN
    max pointer and seen-hashes — keying by connector name alone
    committed identity A's (higher) watermark for identity B, silently
    skipping B's rows forever."""
    rows = [
        ("d1", [1, 2], 2, "okta_corp", dt.datetime(2024, 1, 1, 10)),
        ("d2", [3], 1, "okta_corp", dt.datetime(2024, 1, 1, 12)),
        ("d3", [4], 1, "okta_dev", dt.datetime(2024, 1, 1, 8)),
    ]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, event_time timestamp"
    )
    seq_path = str(tmp_path / "seq")
    seq.write.parquet(seq_path)
    cfgs = [
        ConnectorConfig.from_dict(
            {"connector": "okta_system_log", "identity": "corp", "source": "okta_corp"}
        ),
        ConnectorConfig.from_dict(
            {"connector": "okta_system_log", "identity": "dev", "source": "okta_dev"}
        ),
    ]
    state = RunState(str(tmp_path / "state"))
    r = run_fleet(spark, cfgs, seq_path, state, now=1000.0)
    assert r["due"] == 2
    corp_ptr = state.pointer(cfgs[0].reference())
    dev_ptr = state.pointer(cfgs[1].reference())
    assert corp_ptr == "2024-01-01 12:00:00"
    assert dev_ptr == "2024-01-01 08:00:00", "dev identity got corp's watermark"
    # seen hashes are per identity too
    assert set(state.seen_hashes(cfgs[1].reference())) == {dev_ptr}

    # a late row for dev between its own pointer and corp's must be
    # ingested on the next tick
    late = [("d4", [5], 1, "okta_dev", dt.datetime(2024, 1, 1, 9))]
    spark.createDataFrame(late, seq.schema).write.mode("append").parquet(seq_path)
    r2 = run_fleet(spark, cfgs, seq_path, state, now=2000.0)
    dev_stats = r2["per_key"].get(cfgs[1].reference())
    assert dev_stats and dev_stats["per_sink"]["logs"]["rows"] == 1, (
        "late dev row lost to cross-identity watermark"
    )


def test_range_join_edge_and_degenerate(spark):
    """A range ending a hair above a bin edge must still match values in
    its top bin; hi <= lo ranges match nothing (not a descending bin
    explosion)."""
    from grove_spark.operators.temporal import range_join_binned

    probe = spark.createDataFrame(
        [(1, 5.00000000005), (2, 4.5)], "pid int, value double"
    )
    ranges = spark.createDataFrame(
        [(0, 0.0, 5.0000000001), (1, 7.0, 7.0), (2, 9.0, 3.0)],
        "band int, lo double, hi double",
    )
    got = {(r["pid"], r["band"]) for r in range_join_binned(probe, ranges, "value", bin_width=1.0).collect()}
    assert got == {(1, 0), (2, 0)}


def test_asof_join_rejects_colliding_value_columns(spark):
    from grove_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "A", dt.datetime(2024, 1, 1), 9.0)], "tid long, sym string, tt timestamp, px double"
    )
    right = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1), 1.0)], "sym string, qt timestamp, px double"
    )
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="sym", left_time="tt", right_time="qt")
    out = asof_join(left, right, on="sym", left_time="tt", right_time="qt", suffix="_q")
    row = out.first()
    assert row["px"] == 9.0 and row["px_q"] == 1.0


def test_quoted_segment_with_brackets_is_literal(spark):
    """Quoting escapes special characters: a field literally named
    'b[0]' (or '@timestamp') must resolve as a field, not as indexing."""
    import pyspark.sql.types as T

    from grove_spark.functions.paths import path_col, resolve_type

    schema = T.StructType([
        T.StructField("a", T.StructType([
            T.StructField("b[0]", T.StringType()),
            T.StructField("@timestamp", T.LongType()),
        ])),
    ])
    df = spark.createDataFrame([({"b[0]": "x", "@timestamp": 7},)], schema=schema)
    assert df.select(path_col("a.'b[0]'").alias("v")).first()["v"] == "x"
    assert df.select(path_col("a.'@timestamp'").alias("v")).first()["v"] == 7
    assert isinstance(resolve_type(schema, "a.'b[0]'"), T.StringType)


def test_load_configs_skips_non_object_documents(tmp_path):
    (tmp_path / "bad1.json").write_text('"just-a-string"')
    (tmp_path / "bad2.json").write_text('["a", "b"]')
    (tmp_path / "good.json").write_text(
        json.dumps({"connector": "okta_system_log", "identity": "x"})
    )
    cfgs = load_configs(str(tmp_path))
    assert [c.connector for c in cfgs] == ["okta_system_log"]


def test_watermark_cast_failure_is_loud(spark):
    """A pointer that cannot cast to the column type must raise, not
    become a NULL comparison silently scanning zero rows forever."""
    from grove_spark.operators.dedup import dedup_by_pointer

    df = spark.createDataFrame([(1,), (2,)], "seq long")
    with pytest.raises(ValueError, match="does not cast"):
        dedup_by_pointer(df, "seq", "2024-01-01 00:00:00")
    ts = spark.createDataFrame([(dt.datetime(2024, 1, 2),)], "ts timestamp")
    with pytest.raises(ValueError, match="does not cast"):
        dedup_by_pointer(ts, "ts", "not-a-time")
    # valid casts still work
    assert dedup_by_pointer(df, "seq", "1").count() == 1
    assert dedup_by_pointer(ts, "ts", "2024-01-01 12:00:00").count() == 1


def test_manifest_sink_all_null_event_time_keeps_pointer(spark, tmp_path):
    from grove_spark.streaming.stream import manifest_sink

    state = RunState(str(tmp_path / "state"))
    state.commit("stream.k", "seed", pointer="2024-01-01 00:00:00")
    df = spark.createDataFrame(
        [("d1", "okta", "logs", None)],
        "doc_id string, connector string, descriptor string, event_time timestamp",
    )
    manifest_sink(state, str(tmp_path / "out"), key="stream.k")(df, 7)
    assert state.pointer("stream.k") == "2024-01-01 00:00:00"
    assert state.is_committed("stream.k-b7")


def test_heterogeneous_pointer_columns_in_one_tick(spark, tmp_path):
    """A timestamp-pointer connector and a zitadel-style numeric-sequence
    connector resume side by side in ONE fleet tick, each committing its
    own natively-typed watermark."""
    rows = [
        ("d1", [1], 1, "okta", dt.datetime(2024, 1, 1, 10), 5),
        ("d2", [2], 1, "okta", dt.datetime(2024, 1, 1, 12), 6),
        ("d3", [3], 1, "zitadel", dt.datetime(2024, 1, 1, 1), 9),
        ("d4", [4], 1, "zitadel", dt.datetime(2024, 1, 1, 2), 10),
    ]
    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "event_time timestamp, seq long")
    seq_path = str(tmp_path / "seq")
    spark.createDataFrame(rows, schema).write.parquet(seq_path)
    cfgs = [
        ConnectorConfig.from_dict({"connector": "okta_system_log", "identity": "a", "source": "okta"}),
        ConnectorConfig.from_dict({"connector": "zitadel_events", "identity": "b", "source": "zitadel"}),
    ]
    pcs = {cfgs[1].reference(): "seq"}
    state = RunState(str(tmp_path / "state"))
    run_fleet(spark, cfgs, seq_path, state, now=1000.0, pointer_cols=pcs)
    assert state.pointer(cfgs[0].reference()) == "2024-01-01 12:00:00"
    assert state.pointer(cfgs[1].reference()) == "10"  # native numeric max

    # next tick: zitadel seq 9,10 already seen; a late seq-11 row and a
    # late okta row arrive — each connector resumes from ITS OWN pointer
    late = [
        ("d5", [5], 1, "zitadel", dt.datetime(2024, 1, 1, 3), 11),
        ("d6", [6], 1, "okta", dt.datetime(2024, 1, 1, 13), 7),
    ]
    spark.createDataFrame(late, schema).write.mode("append").parquet(seq_path)
    r2 = run_fleet(spark, cfgs, seq_path, state, now=2000.0, pointer_cols=pcs)
    zk = r2["per_key"][cfgs[1].reference()]
    ok = r2["per_key"][cfgs[0].reference()]
    assert zk["per_sink"]["logs"]["rows"] == 1 and ok["per_sink"]["logs"]["rows"] == 1
    assert state.pointer(cfgs[1].reference()) == "11"
    assert state.pointer(cfgs[0].reference()) == "2024-01-01 13:00:00"


def test_shared_source_identities_with_diverged_state(spark, tmp_path):
    """Two identities of one connector sharing the SAME source (the
    from_dict default derives source from the connector prefix) with
    DIVERGED watermark/seen state — one added a tick later. The exact
    watermark + seen filtering must key on the full (connector, identity,
    operation), not on source: source-keyed seen hashes dropped boundary
    rows the late identity never ingested (data loss) and the late
    identity's empty watermark re-admitted the early identity's
    already-committed rows (duplicates)."""
    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "event_time timestamp")
    rows = [
        ("d1", [1], 1, "okta", dt.datetime(2024, 1, 1, 10)),
        ("d2", [2], 1, "okta", dt.datetime(2024, 1, 1, 12)),
    ]
    seq_path = str(tmp_path / "seq")
    spark.createDataFrame(rows, schema).write.parquet(seq_path)
    # both identities derive source="okta" from the connector prefix
    a = ConnectorConfig.from_dict({"connector": "okta_system_log", "identity": "corp"})
    b = ConnectorConfig.from_dict({"connector": "okta_system_log", "identity": "dev"})
    assert a.source == b.source == "okta"
    state = RunState(str(tmp_path / "state"))

    # tick 1: only corp exists — commits pointer 12:00 + boundary seen(d2)
    r1 = run_fleet(spark, [a], seq_path, state, now=1000.0)
    assert r1["per_key"][a.reference()]["per_sink"]["logs"]["rows"] == 2
    assert state.pointer(a.reference()) == "2024-01-01 12:00:00"

    # dev is onboarded; a late boundary row (same instant, new content)
    # and a newer row arrive
    late = [
        ("d3", [3], 1, "okta", dt.datetime(2024, 1, 1, 12)),
        ("d4", [4], 1, "okta", dt.datetime(2024, 1, 1, 13)),
    ]
    spark.createDataFrame(late, schema).write.mode("append").parquet(seq_path)
    r2 = run_fleet(spark, [a, b], seq_path, state, now=2000.0)

    # corp resumes from ITS state: boundary row d3 + d4, d1/d2 not re-read
    assert r2["per_key"][a.reference()]["per_sink"]["logs"]["rows"] == 2, (
        "corp re-ingested rows below its own watermark (dev's empty "
        "watermark leaked across the shared source)"
    )
    # dev has never ingested anything: ALL four rows, including the
    # boundary row whose hash sits in corp's seen state
    assert r2["per_key"][b.reference()]["per_sink"]["logs"]["rows"] == 4, (
        "dev lost rows to corp's seen-hash state on the shared source"
    )
    assert state.pointer(a.reference()) == "2024-01-01 13:00:00"
    assert state.pointer(b.reference()) == "2024-01-01 13:00:00"


def test_parse_with_unnamed_capturing_group(spark):
    """An unnamed capturing group in a user pattern must not shift the
    named groups' numbering (positional mapping extracted wrong fields).
    The single-pass parse, the per-group spec and the multi-pattern CASE
    must all agree."""
    from pyspark.sql import functions as F

    from grove_spark.plans.parse import parse_catalyst, parse_stage, parse_stage_multi

    pat = r"^(\d+)-(?P<level>\w+):(?P<msg>\w+)$"
    df = spark.createDataFrame(
        [("1-warn:disk", "s1")], "raw string, source string"
    )
    for form, parsed in (
        ("single-pass", parse_stage(df, "raw", pat)),
        ("per-group", df.withColumn("parsed", parse_catalyst(F.col("raw"), pat))),
    ):
        row = parsed.select("parsed").first()
        assert row["parsed"]["level"] == "warn", form
        assert row["parsed"]["msg"] == "disk", form
    row = parse_stage_multi(df, {"s1": pat}).select("parsed").first()
    assert row["parsed"]["level"] == "warn"
    assert row["parsed"]["msg"] == "disk"


def test_connected_components_nonconvergence_is_loud(spark):
    """A chain longer than max_iter rounds must raise, not return
    silently wrong labels (wrong keepers downstream)."""
    from grove_spark.operators.dedup_cluster import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a int, b int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, small_graph_max_edges=0)
    # with enough rounds the same chain converges to component 0
    labels = connected_components(chain, max_iter=10)
    assert {r["component"] for r in labels.collect()} == {0}


def test_csv_log_scan_explicit_schema(spark, tmp_path):
    """csv_log_scan(schema=) must skip inference and type the pointer
    column from the schema (inference reads the data twice)."""
    from grove_spark.sources.scans import csv_log_scan

    p = tmp_path / "log.csv"
    p.write_text("seq,msg\n1,a\n2,b\n3,c\n")
    df = csv_log_scan(
        spark, str(p), "seq", watermark="1", schema="seq long, msg string"
    )
    assert df.schema["seq"].dataType.typeName() == "long"
    assert sorted(r["seq"] for r in df.collect()) == [2, 3]
