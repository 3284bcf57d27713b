"""File-level min/max pruning (SURVEY §2.1 S6 — the Iceberg-manifest
analog, VERDICT r3 #3): footer-stats collection, the incremental stats
cache, plan-time file skipping on the incremental scan, writer-recorded
stats in the run-state manifest, and the pruned manifest read-back.

The invariant throughout: pruning changes COST (files listed/opened),
never RESULTS — every pruned frame is compared against its unpruned
twin.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from grove_spark.fixtures.generator import write_fixture
from grove_spark.plans.pipeline import run_incremental
from grove_spark.sources.file_stats import (
    FileStatsCache,
    _list_parquet,
    parquet_file_stats,
    prune_files,
)
from grove_spark.sources.scans import incremental_scan, manifest_scan
from grove_spark.state.runstate import RunState, reference


@pytest.fixture()
def ranged_parquet(spark, tmp_path):
    """A parquet dir whose files hold DISJOINT seq ranges (range
    repartition by the pointer column -> per-file min/max actually
    prune)."""
    path = str(tmp_path / "ranged")
    df = spark.range(0, 4000).select(
        F.col("id").alias("seq"),
        (F.col("id") % 7).alias("v"),
        F.to_timestamp(
            F.lit("2024-05-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("ts"),
    )
    df.repartitionByRange(8, "seq").write.parquet(path)
    return path


def test_footer_stats_and_prune_numeric(ranged_parquet):
    files = _list_parquet(ranged_parquet)
    assert len(files) == 8
    stats = parquet_file_stats(files, "seq")
    for f in files:
        assert stats[f]["min"] is not None and stats[f]["kind"] == "num"
    # watermark 3000: only files that can hold seq > 3000 survive
    kept, total = prune_files(ranged_parquet, "seq", 3000, stats=stats)
    assert total == 8 and 0 < len(kept) < 8
    assert all(float(stats[f]["max"]) > 3000 for f in kept)
    dropped = set(files) - set(kept)
    assert all(float(stats[f]["max"]) <= 3000 for f in dropped)
    # inclusive keep: boundary file with max == watermark survives
    boundary = max(float(stats[f]["max"]) for f in files if f in dropped)
    kept_inc, _ = prune_files(ranged_parquet, "seq", boundary,
                              inclusive=True, stats=stats)
    assert any(float(stats[f]["max"]) == boundary for f in kept_inc)


def test_footer_stats_timestamp_kind(ranged_parquet):
    stats = parquet_file_stats(_list_parquet(ranged_parquet), "ts")
    ent = next(iter(stats.values()))
    assert ent["kind"] == "ts" and "2024-05-01" in ent["min"]
    kept, total = prune_files(
        ranged_parquet, "ts", "2024-05-01 00:50:00", stats=stats
    )
    assert 0 < len(kept) < total


def test_pruned_scan_same_results_fewer_files(spark, ranged_parquet):
    full = incremental_scan(spark, ranged_parquet, "seq", watermark="3000")
    pruned = incremental_scan(
        spark, ranged_parquet, "seq", watermark="3000", prune=True
    )
    assert pruned._grove_prune["files_kept"] < pruned._grove_prune["files_total"]
    # the reader's listing is the pruned one
    assert set(pruned.inputFiles()) < set(full.inputFiles())
    assert len(pruned.inputFiles()) == pruned._grove_prune["files_kept"]
    # identical results
    a = sorted(r["seq"] for r in pruned.select("seq").collect())
    b = sorted(r["seq"] for r in full.select("seq").collect())
    assert a == b == list(range(3001, 4000))


def test_pruned_scan_ceiling_and_empty(spark, ranged_parquet):
    # delay ceiling prunes the HIGH end (files whose min > ceiling)
    now = dt.datetime(2024, 5, 1, 0, 20, 0, tzinfo=dt.timezone.utc)
    pruned = incremental_scan(
        spark, ranged_parquet, "ts", watermark="2024-05-01 00:05:00",
        delay_s=300, now=now, prune=True,
    )
    full = incremental_scan(
        spark, ranged_parquet, "ts", watermark="2024-05-01 00:05:00",
        delay_s=300, now=now,
    )
    assert pruned._grove_prune["files_kept"] < pruned._grove_prune["files_total"]
    assert pruned.count() == full.count() > 0
    # watermark past every file: zero files read, schema intact
    empty = incremental_scan(
        spark, ranged_parquet, "seq", watermark="99999", prune=True
    )
    assert empty._grove_prune["files_kept"] == 0
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["seq", "v", "ts"]


def test_stats_cache_only_reads_new_footers(spark, tmp_path, monkeypatch):
    import grove_spark.sources.file_stats as fs

    path = str(tmp_path / "cached")
    spark.range(0, 100).select(F.col("id").alias("seq")).coalesce(1) \
        .write.parquet(path)
    cache = FileStatsCache(str(tmp_path / "cache"))

    calls = []
    real = fs.parquet_file_stats

    def counting(files, col):
        calls.append(list(files))
        return real(files, col)

    monkeypatch.setattr(fs, "parquet_file_stats", counting)
    s1 = cache.stats_for(path, "seq")
    assert len(calls) == 1 and len(calls[0]) == 1  # first run: 1 footer
    s2 = cache.stats_for(path, "seq")
    assert len(calls) == 1, "unchanged files must not re-read footers"
    assert s2 == s1
    # append a file: only the NEW file's footer is read
    spark.range(100, 200).select(F.col("id").alias("seq")).coalesce(1) \
        .write.mode("append").parquet(path)
    s3 = cache.stats_for(path, "seq")
    assert len(calls) == 2 and len(calls[1]) == 1
    assert len(s3) == 2


def test_resumed_run_reads_strict_subset_of_files(spark, tmp_path):
    """The VERDICT's done-criterion: a resumed run_incremental lists
    only the boundary-and-later source files (counted), records the
    pruning decision in its committed metrics, and records per-file
    stats for its own outputs."""
    paths = write_fixture(str(tmp_path / "fx"), 300)
    sources = spark.read.parquet(paths["sources"])
    sinks = spark.read.parquet(paths["sinks"])
    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    key = reference("fleet", "default")
    # time-ranged file layout (what an append-only log dir looks like:
    # each ingest lands a file covering its own time window)
    seq_path = str(tmp_path / "seq_ranged")
    spark.read.parquet(paths["sequences"]) \
        .repartitionByRange(4, "event_time").write.parquet(seq_path)

    run_incremental(spark, seq_path, sources, sinks, state,
                    out_path=out, n_partitions=4)
    wm = state.pointer(key)
    assert wm is not None

    # new upstream files with strictly later event times
    seq = spark.read.parquet(seq_path)
    base = dt.datetime(2024, 6, 1)
    rows = [
        dict(r.asDict(), doc_id=f"doc_new{i}",
             event_time=base + dt.timedelta(seconds=i))
        for i, r in enumerate(seq.limit(5).collect())
    ]
    spark.createDataFrame(rows, seq.schema).coalesce(1) \
        .write.mode("append").parquet(seq_path)
    n_total = len(_list_parquet(seq_path))

    res = run_incremental(spark, seq_path, sources, sinks, state,
                          out_path=out, n_partitions=4)
    recs = [r for r in state._run_records() if r["run_id"] == res.run_id]
    scan = recs[0]["metrics"]["scan"]
    assert scan["files_total"] == n_total
    assert 0 < scan["files_kept"] < n_total, (
        "resumed run must read a strict subset of source files"
    )
    # results: exactly the 5 new docs, once each
    committed = [
        spark.read.parquet(p) for p in state.committed_paths()
    ]
    run2 = [p for p in state.committed_paths() if res.run_id in p]
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(run2[0]).select("doc_id").distinct().collect()
    )
    assert got == [f"doc_new{i}" for i in range(5)]
    assert committed

    # writer-recorded output stats landed in the manifest
    fstats = state.committed()[1]
    out_files = [f for p in state.committed_paths() for f in _list_parquet(p)]
    assert out_files and all(f in fstats for f in out_files)

    # manifest read-back prunes from the manifest alone (no footers)
    ms = manifest_scan(spark, state, pointer_col="event_time", watermark=wm)
    assert ms._grove_prune["files_kept"] < ms._grove_prune["files_total"]
    ms_ids = sorted(r["doc_id"] for r in ms.select("doc_id").collect())
    # routed rows fan out per sink descriptor — distinct docs are the 5 new
    assert sorted(set(ms_ids)) == [f"doc_new{i}" for i in range(5)]
    # partition columns reconstruct through the pruned listing
    assert "descriptor" in ms.columns
    # unpruned read-back equality on the same predicate
    all_df = None
    for d in committed:
        all_df = d if all_df is None else all_df.unionByName(
            d, allowMissingColumns=True)
    ref_ids = sorted(
        r["doc_id"]
        for r in all_df.where(F.col("event_time") > wm).select("doc_id").collect()
    )
    assert ms_ids == ref_ids

    # ALL-pruned watermark: the empty frame must have the SAME schema as
    # the kept branch (hive partition columns included) — a caller's
    # select("descriptor", ...) on a beyond-everything watermark must
    # return empty, not raise AnalysisException (ADVICE r4)
    far = dt.datetime(2030, 1, 1)
    ms_none = manifest_scan(spark, state, pointer_col="event_time",
                            watermark=far)
    assert ms_none._grove_prune["files_kept"] == 0
    assert [(f.name, f.dataType) for f in ms_none.schema.fields] == \
           [(f.name, f.dataType) for f in ms.schema.fields]
    assert ms_none.select("descriptor", "doc_id").count() == 0


def test_manifest_scan_ignores_stats_of_another_column(spark, tmp_path):
    """Committed file stats describe ONE column: a manifest_scan on a
    different pointer column keeps those files (stat-less) and equals
    the unpruned filtered read, while a scan on the stats' own column
    still prunes."""
    from grove_spark.operators.sinks import write_partitioned_parquet

    state = RunState(str(tmp_path / "state"))
    df = spark.range(0, 400).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-05-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("event_time"),
        F.lit("logs").alias("descriptor"), F.lit("c").alias("connector"),
    )
    for i, batch in enumerate([df.where("event_id < 200"), df.where("event_id >= 200")]):
        run_id = state.new_run_id()
        d = str(tmp_path / "out" / f"part-{run_id}")
        state.register_pending(d)
        write_partitioned_parquet(batch.coalesce(1), d)
        state.commit(
            "k", run_id, pointer=str(i), data_paths=[d],
            file_stats=parquet_file_stats(_list_parquet(d), "event_id"),
        )

    wm = "2024-05-01 00:05:00"  # event_id 300
    ms = manifest_scan(spark, state, pointer_col="event_time", watermark=wm)
    assert ms._grove_prune == {"files_kept": 2, "files_total": 2}
    full = None
    for p in state.committed_paths():
        d = spark.read.option("basePath", p).parquet(p)
        full = d if full is None else full.unionByName(d)
    want = sorted(r[0] for r in full.where(
        F.col("event_time") > F.lit(wm).cast("timestamp")).select("event_id").collect())
    assert want and sorted(r[0] for r in ms.select("event_id").collect()) == want

    by_id = manifest_scan(spark, state, pointer_col="event_id", watermark="300")
    assert by_id._grove_prune == {"files_kept": 1, "files_total": 2}
    assert sorted(r[0] for r in by_id.select("event_id").collect()) == want


def test_pruned_equals_full_across_boundary_watermarks(spark, ranged_parquet):
    """Result-equality sweep across watermarks sitting ON file
    boundaries, just inside, just outside, below-min and above-max —
    the invariant 'pruning changes cost, never results' at the exact
    edges where an off-by-one would hide."""
    stats = parquet_file_stats(_list_parquet(ranged_parquet), "seq")
    edges = sorted({int(float(e["max"])) for e in stats.values()}
                   | {int(float(e["min"])) for e in stats.values()})
    wms = {-1, 0, 3999, 4000, 5000}
    for e in edges:
        wms.update({e - 1, e, e + 1})
    for wm in sorted(wms):
        pruned = incremental_scan(spark, ranged_parquet, "seq",
                                  watermark=str(wm), prune=True)
        full = incremental_scan(spark, ranged_parquet, "seq",
                                watermark=str(wm))
        a = sorted(r["seq"] for r in pruned.select("seq").collect())
        b = sorted(r["seq"] for r in full.select("seq").collect())
        assert a == b, f"watermark {wm}: pruned {len(a)} vs full {len(b)}"


def test_stat_less_files_kept_conservatively(tmp_path):
    stats = {
        "/x/a.parquet": {"min": None, "max": None, "kind": "num"},
        "/x/b.parquet": {"min": 0.0, "max": 10.0, "kind": "num"},
    }
    kept, total = prune_files("/x", "seq", 100, stats=stats)
    assert kept == ["/x/a.parquet"] and total == 2


def test_schema_evolution_merge_on_incremental_scan(spark, tmp_path):
    """Append-only dirs grow columns mid-stream: merge_schema unions the
    footers (old files read the new column as null); a pruned resumed
    scan merges only the KEPT files' schemas and still sees the new
    column when only new files survive pruning."""
    path = str(tmp_path / "evolving")
    spark.range(0, 100).select(F.col("id").alias("seq"),
                               F.lit("a").alias("v1")) \
        .coalesce(1).write.parquet(path)
    spark.range(100, 200).select(F.col("id").alias("seq"),
                                 F.lit("b").alias("v1"),
                                 (F.col("id") * 2).alias("v2")) \
        .coalesce(1).write.mode("append").parquet(path)

    full = incremental_scan(spark, path, "seq", merge_schema=True)
    assert set(full.columns) == {"seq", "v1", "v2"}
    got = {r["seq"]: r["v2"] for r in full.select("seq", "v2").collect()}
    assert got[0] is None and got[150] == 300

    pruned = incremental_scan(spark, path, "seq", watermark="99",
                              prune=True, merge_schema=True)
    assert pruned._grove_prune["files_kept"] == 1
    assert "v2" in pruned.columns
    assert pruned.where(F.col("v2").isNull()).count() == 0
    assert pruned.count() == 100

    # a window spanning old+new files carries the merged schema too
    both = incremental_scan(spark, path, "seq", watermark="50",
                            prune=True, merge_schema=True)
    assert set(both.columns) == {"seq", "v1", "v2"}
    assert both.count() == 149


def test_uri_paths_raise_instead_of_listing_empty(spark, tmp_path):
    """Data files are listed with local-filesystem calls, which find
    nothing at a URI: a pruned scan and a run-dir write given a
    ``file://`` path raise instead of returning an empty listing (the
    scan would drop every row, the commit would leave the written dir
    out of the manifest)."""
    from grove_spark.operators.sinks import write_run

    src = str(tmp_path / "src")
    df = spark.range(0, 24).select(F.col("id").alias("seq"))
    df.coalesce(2).write.parquet(src)
    # the bare path and the unpruned URI read the rows
    assert incremental_scan(spark, src, "seq", watermark="-1", prune=True).count() == 24
    assert incremental_scan(spark, "file://" + src, "seq", watermark="-1").count() == 24
    with pytest.raises(ValueError, match="URI"):
        incremental_scan(spark, "file://" + src, "seq", watermark="5", prune=True)

    state = RunState(str(tmp_path / "state"))
    run_dir = "file://" + str(tmp_path / "out" / "part-b")
    with pytest.raises(ValueError, match="URI"):
        write_run(state, run_dir, df.write.parquet, "seq")
    assert state.committed_paths() == []
