"""End-to-end pipeline: parse -> enrich -> route -> aggregate, checked
against the pure-Python oracle for per-sink counts AND per-row
token-array equality (the BASELINE.json invariants)."""

import os

import pytest
from pyspark.sql import functions as F

from grove_spark.fixtures.generator import (
    gen_sequences,
    gen_sinks_dim,
    gen_sources_dim,
    write_fixture,
)
from grove_spark.oracle import pyref
from grove_spark.plans.parse import parse_catalyst, parse_stage
from grove_spark.plans.pipeline import build_pipeline, run_incremental
from grove_spark.state.runstate import RunState, reference

N = 500


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixture")
    return write_fixture(str(d), N)


@pytest.fixture(scope="module")
def loaded(spark, fixture_dir):
    seq = spark.read.parquet(fixture_dir["sequences"])
    sources = spark.read.parquet(fixture_dir["sources"])
    sinks = spark.read.parquet(fixture_dir["sinks"])
    return seq, sources, sinks


def test_parse_engines_agree(spark, loaded):
    """The production parse (single pass on the fixture's anchored
    pattern) equals the per-group regexp_extract spec on fixture lines."""
    seq, _, _ = loaded
    a = parse_stage(seq).select("doc_id", "parsed").collect()
    b = seq.select(
        "doc_id", parse_catalyst(F.col("raw")).alias("parsed")
    ).collect()
    assert sorted(a) == sorted(b)
    row = dict(a[0].asDict())
    p = row["parsed"].asDict()
    assert p["doc"] == row["doc_id"]
    assert p["level"] in {"INFO", "WARN", "ERROR", "DEBUG"}


def test_pipeline_counts_match_oracle(spark, loaded):
    seq, sources, sinks = loaded
    res = build_pipeline(seq, sources, sinks, n_partitions=4)
    got = {r["descriptor"]: (r["rows"], r["sum_n_tok"]) for r in res.counts.collect()}

    # oracle: route each row per the sinks dim, count per descriptor
    pdf = gen_sequences(N)
    sinks_pd = gen_sinks_dim()
    sources_pd = gen_sources_dim()
    conn_of = dict(zip(sources_pd["source"], sources_pd["connector"]))
    outs = {}
    for _, s in sinks_pd.iterrows():
        outs.setdefault(s["connector"], []).append(s["descriptor"])
    want = {}
    for _, row in pdf.iterrows():
        conn = conn_of[row["source"]]
        for desc in outs.get(conn, []):
            r, t = want.get(desc, (0, 0))
            want[desc] = (r + 1, t + int(row["n_tok"]))
    assert got == want


def test_pipeline_token_array_equality(spark, loaded):
    """BASELINE per-row invariant: every routed row's token array equals
    the reference's, element-exact."""
    seq, sources, sinks = loaded
    res = build_pipeline(seq, sources, sinks, n_partitions=4, with_metadata=False)
    got = {
        (r["doc_id"], r["descriptor"]): list(r["routed_tokens"])
        for r in res.routed.select("doc_id", "descriptor", "routed_tokens").collect()
    }
    pdf = gen_sequences(N)
    sinks_pd = gen_sinks_dim()
    sources_pd = gen_sources_dim()
    conn_of = dict(zip(sources_pd["source"], sources_pd["connector"]))
    outs = {}
    for _, s in sinks_pd.iterrows():
        outs.setdefault(s["connector"], []).append(s["descriptor"])
    n_checked = 0
    for _, row in pdf.iterrows():
        for desc in outs.get(conn_of[row["source"]], []):
            assert got[(row["doc_id"], desc)] == list(row["tokens"])
            n_checked += 1
    assert n_checked == len(got) > N  # fan-out multiplies rows


def test_observe_metrics(spark, loaded):
    seq, sources, sinks = loaded
    res = build_pipeline(seq, sources, sinks, n_partitions=4)
    res.counts.collect()
    obs = res.observed.get
    # every row routes to >=2 descriptors, so processed >= N * 2
    assert obs["processed"] >= 2 * N
    n_tok_total = seq.agg(F.sum("n_tok")).first()[0]
    rows_per_doc = res.observed.get["processed"] / N
    assert rows_per_doc >= 2


def test_metadata_envelope(spark, loaded):
    seq, sources, sinks = loaded
    res = build_pipeline(seq, sources, sinks, n_partitions=4)
    row = res.routed.select("_grove").first()["_grove"].asDict()
    assert row["connector"].endswith("_audit_events")
    assert row["version"].startswith("grove_spark-")
    assert row["pointer"] is not None


def test_incremental_resume_exactly_once(spark, fixture_dir, tmp_path):
    """T1/T2: run, then rerun — the second run sees the committed
    watermark and routes ZERO new rows (idempotent resume, no dupes —
    stronger than the reference's at-least-once window, :443-445)."""
    state = RunState(str(tmp_path / "state"))
    sources = spark.read.parquet(fixture_dir["sources"])
    sinks = spark.read.parquet(fixture_dir["sinks"])
    out = str(tmp_path / "out")

    r1 = run_incremental(
        spark, fixture_dir["sequences"], sources, sinks, state,
        out_path=out, n_partitions=4,
    )
    key = reference("fleet", "default")
    ptr1 = state.pointer(key)
    assert ptr1 is not None and state.is_committed(r1.run_id)

    r2 = run_incremental(
        spark, fixture_dir["sequences"], sources, sinks, state,
        out_path=out, n_partitions=4,
    )
    assert sum(r["rows"] for r in r2.counts.collect()) == 0
    assert state.pointer(key) == ptr1  # pointer unchanged on empty run

    # committed lineage only exposes manifested paths; the empty second
    # run publishes NO data path (empty streams skipped, like the
    # reference's process_and_write)
    assert len(state.committed_paths()) == 1
    # the first run's data is present and readable
    routed = spark.read.parquet(state.committed_paths()[0])
    assert routed.count() > 0
    assert set(routed.select("descriptor").distinct().toPandas()["descriptor"]) >= {"logs", "processed"}


def test_crash_recovery_orphan_invisible(spark, fixture_dir, tmp_path):
    """Crash between data write and manifest publish: orphan part dir is
    NOT in committed lineage; rerun re-collects the same rows (the no-loss
    guarantee of reference tests/test_connectors_base.py:138-232, with
    no duplicates thanks to the manifest)."""
    state = RunState(str(tmp_path / "state"))
    sources = spark.read.parquet(fixture_dir["sources"])
    sinks = spark.read.parquet(fixture_dir["sinks"])
    out = str(tmp_path / "out")

    # simulate the crash: write data but never commit the manifest
    from grove_spark.operators.sinks import write_partitioned_parquet
    from grove_spark.plans.pipeline import build_pipeline

    seq = spark.read.parquet(fixture_dir["sequences"])
    res = build_pipeline(seq, sources, sinks, n_partitions=4)
    write_partitioned_parquet(res.routed, f"{out}/part-deadbeef")
    assert state.committed_paths() == []  # orphan invisible

    # recovery run: full collection happens (watermark never advanced)
    r = run_incremental(
        spark, fixture_dir["sequences"], sources, sinks, state,
        out_path=out, n_partitions=4,
    )
    assert sum(x["rows"] for x in r.counts.collect()) > 0
    assert state.committed_paths() == [f"{out}/part-{r.run_id}"]
