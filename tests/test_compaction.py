"""Small-file compaction (rewrite_data_files analog): atomic swap
semantics over the run-state manifest — readers see old dirs XOR the
compacted dir, never both; retention is the reader barrier that
reclaims superseded dirs; pruning stats survive the rewrite.
"""

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from grove_spark.fixtures.generator import write_fixture
from grove_spark.operators.compaction import compact_runs
from grove_spark.plans.pipeline import run_incremental
from grove_spark.sources.file_stats import _list_parquet
from grove_spark.sources.scans import manifest_scan
from grove_spark.state.runstate import ConcurrentCommitError, RunState


@pytest.fixture()
def env(spark, tmp_path):
    paths = write_fixture(str(tmp_path / "fx"), 200)
    sources = spark.read.parquet(paths["sources"])
    sinks = spark.read.parquet(paths["sinks"])
    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    # two incremental runs -> two part dirs of small files
    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    seq = spark.read.parquet(paths["sequences"])
    base = dt.datetime(2024, 6, 1)
    rows = [dict(r.asDict(), doc_id=f"doc_n{i}",
                 event_time=base + dt.timedelta(seconds=i))
            for i, r in enumerate(seq.limit(4).collect())]
    spark.createDataFrame(rows, seq.schema).coalesce(1) \
        .write.mode("append").parquet(paths["sequences"])
    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    return paths, state, out


def _rows(spark, state):
    dfs = [spark.read.parquet(p) for p in state.committed_paths()]
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d, allowMissingColumns=True)
    return sorted(
        (r["doc_id"], r["descriptor"])
        for r in df.select("doc_id", "descriptor").collect()
    )


def test_compaction_swaps_atomically_and_preserves_rows(spark, env):
    paths, state, out = env
    old_dirs = state.committed_paths()
    assert len(old_dirs) == 2
    before = _rows(spark, state)

    res = compact_runs(spark, state, out, small_file_bytes=64 * 1024 * 1024)
    assert res is not None and res["files_after"] < res["files_before"]
    # readers now see ONLY the compacted dir
    assert state.committed_paths() == [res["new_dir"]]
    assert set(res["replaced"]) == {os.path.normpath(p) for p in old_dirs}
    # same rows through the swap (hive partition columns reconstructed)
    assert _rows(spark, state) == before
    # the superseded dirs are STILL on disk (in-flight readers), until
    # retention — the reader barrier — reclaims them
    assert all(os.path.isdir(d) for d in old_dirs)
    rep = state.expire_runs(keep_last=100)
    assert not any(os.path.isdir(d) for d in old_dirs)
    assert os.path.isdir(res["new_dir"])
    assert _rows(spark, state) == before

    # writer-recorded stats survive: manifest_scan prunes the compacted
    # table without reopening footers
    fstats = state.committed()[1]
    assert all(f in fstats for f in _list_parquet(res["new_dir"]))
    wm = "2024-05-31 23:59:59"
    ms = manifest_scan(spark, state, pointer_col="event_time", watermark=wm)
    got = sorted(set(r["doc_id"] for r in ms.select("doc_id").collect()))
    assert got == [f"doc_n{i}" for i in range(4)]


def test_time_travel_reads_pre_compaction_snapshot(spark, env):
    """as_of = the Iceberg snapshot-id read: the version BEFORE the
    rewrite still lists the original dirs (which is why retention, not
    the rewrite, deletes them); the version AFTER lists only the
    compacted dir; rows are identical at both snapshots."""
    paths, state, out = env
    v_before = state.version()
    old_dirs = state.committed_paths()
    before_rows = _rows(spark, state)

    res = compact_runs(spark, state, out, small_file_bytes=64 * 1024 * 1024)
    assert res is not None
    # current view: compacted only; as_of view: originals only
    assert state.committed_paths() == [res["new_dir"]]
    assert state.committed_paths(as_of=v_before) == old_dirs
    # a v_before snapshot scan reads the ORIGINAL dirs and same rows
    ms_old = manifest_scan(spark, state, as_of=v_before)
    got_old = sorted(
        (r["doc_id"], r["descriptor"])
        for r in ms_old.select("doc_id", "descriptor").collect()
    )
    assert got_old == before_rows
    scanned = {f.replace("file://", "").replace("file:", "")
               for f in ms_old.inputFiles()}
    assert scanned == {f for d in old_dirs for f in _list_parquet(d)}
    # snapshot pruning uses only stats committed at/before as_of
    wm = "2024-05-31 23:59:59"
    ms_oldp = manifest_scan(spark, state, pointer_col="event_time",
                            watermark=wm, as_of=v_before)
    got = sorted(set(r["doc_id"] for r in ms_oldp.select("doc_id").collect()))
    assert got == [f"doc_n{i}" for i in range(4)]
    # after retention reclaims the superseded dirs, the old snapshot is
    # best-effort gone — exactly the expired-snapshot contract
    state.expire_runs(keep_last=100)
    assert state.committed_paths(as_of=v_before) == old_dirs  # listing survives
    assert not any(os.path.isdir(d) for d in old_dirs)        # data does not


def test_compaction_noop_cases(spark, env):
    paths, state, out = env
    # every file already "big enough" under a tiny threshold -> no-op
    assert compact_runs(spark, state, out, small_file_bytes=10) is None
    # not enough candidate dirs -> no-op
    assert compact_runs(spark, state, out,
                        small_file_bytes=64 * 1024 * 1024, min_dirs=5) is None
    assert len(state.committed_paths()) == 2


def test_sorted_compaction_orders_rows_and_preserves_them(spark, env):
    """sort_within's DIRECT mechanism: rows inside every output file
    are ordered by the pointer column (the shuffled union would almost
    surely violate this unsorted), and the rewrite is row-identical to
    the pre-compaction state — loss through the extra range shuffle
    would be invisible to a duplicates-only check."""
    paths, state, out = env
    before = _rows(spark, state)
    res = compact_runs(spark, state, out,
                       small_file_bytes=64 * 1024 * 1024,
                       sort_within=["event_time"])
    assert res is not None
    assert _rows(spark, state) == before, "sorted rewrite lost/duped rows"
    # intra-file order: check every multi-row output file
    checked = 0
    for f in _list_parquet(res["new_dir"]):
        ts = [r["event_time"]
              for r in spark.read.parquet(f).select("event_time").collect()]
        if len(ts) > 1:
            checked += 1
            assert ts == sorted(ts), f"file not sorted by event_time: {f}"
    assert checked > 0, "no multi-row file to check — fixture too small"


def test_rewrite_record_outlives_replaced_records(tmp_path):
    """Review finding: a rewrite record's retention bucket
    (__compaction__.*) churns on its own cadence; expiring the rewrite
    while a record it REPLACES is still kept would resurrect the
    deleted original dirs and delete the only copy of the data. The
    force-keep coupling must pin the rewrite for as long as any
    replaced path is still referenced by kept history."""
    state = RunState(str(tmp_path / "state"))
    a = tmp_path / "data" / "part-orig"
    c = tmp_path / "data" / "part-compact-x"
    for d in (a, c):
        d.mkdir(parents=True)
        (d / "f.parquet").write_bytes(b"x")

    state.commit("slow", "r-slow", pointer="1", data_paths=[str(a)])
    state.commit("__compaction__.fleet", "r-rewrite",
                 data_paths=[str(c)], replaces=[str(a)])
    # churn the compaction bucket far past keep_last
    for i in range(6):
        state.commit("__compaction__.fleet", f"r-noise-{i}")

    state.expire_runs(keep_last=2)
    # the rewrite survived its bucket's window because 'slow' still
    # references the replaced dir; readers see the compacted dir only
    assert state.is_committed("r-rewrite")
    paths = state.committed_paths()
    assert str(c) in [os.path.normpath(p) for p in paths]
    assert str(a) not in [os.path.normpath(p) for p in paths]
    assert c.is_dir(), "compacted dir (only copy of the data) deleted"
    # the replaced dir is reclaimed by retention as usual
    assert not a.is_dir()


def test_compaction_scoped_to_out_path(spark, env, tmp_path):
    """A manifest shared with another sink must not have that sink's
    dirs unioned into this root's layout."""
    paths, state, out = env
    foreign = tmp_path / "elsewhere" / "part-foreign"
    foreign.mkdir(parents=True)
    (foreign / "x.parquet").write_bytes(b"tiny")
    state.commit("other_sink", "r-foreign", data_paths=[str(foreign)])

    res = compact_runs(spark, state, out, small_file_bytes=64 * 1024 * 1024)
    assert res is not None
    assert str(foreign) not in res["replaced"]
    assert str(foreign) in [os.path.normpath(p)
                            for p in state.committed_paths()]


def test_compaction_loses_conditional_race(spark, env, monkeypatch):
    """A fleet commit landing during the rewrite makes the compaction
    commit LOSE (conditional claim) — the manifest is untouched and the
    orphan dir is invisible to readers."""
    paths, state, out = env
    before = state.committed_paths()

    real_commit = RunState.commit

    def racing_commit(self, key, run_id, **kw):
        # another driver commits first, then the compaction commit runs
        # with its stale expected_version
        if key.startswith("__compaction__"):
            real_commit(self, "fleet.other", "race", pointer="x")
        return real_commit(self, key, run_id, **kw)

    monkeypatch.setattr(RunState, "commit", racing_commit)
    with pytest.raises(ConcurrentCommitError):
        compact_runs(spark, state, out, small_file_bytes=64 * 1024 * 1024)
    monkeypatch.setattr(RunState, "commit", real_commit)
    assert state.committed_paths() == before
    orphans = set(glob.glob(f"{out}/part-compact-*"))
    assert orphans and not (orphans & set(state.committed_paths()))
