"""Recovery outcome parity with the reference's hardest state test
(tests/test_connectors_base.py:138-232 — resume after a failed
mid-window collection): NO loss, bounded duplicates, correct final
pointer. The manifest model strengthens "bounded dupes" to ZERO visible
dupes: a crash between the data write and the manifest publish leaves an
orphan part directory that readers never see, and the resumed run
re-collects from the last COMMITTED pointer.

Also covers the boundary exactly-once contract (ADVICE r1): rows
arriving later with event_time EQUAL to the committed pointer are
ingested on the next run, while already-emitted boundary rows are
dropped by their content hash.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from grove_spark.fixtures.generator import write_fixture
from grove_spark.plans.pipeline import run_incremental
from grove_spark.state.runstate import RunState, reference

N = 300


@pytest.fixture()
def env(spark, tmp_path):
    paths = write_fixture(str(tmp_path / "fx"), N)
    sources = spark.read.parquet(paths["sources"])
    sinks = spark.read.parquet(paths["sinks"])
    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    return paths, sources, sinks, state, out


def _committed_rows(spark, state):
    paths = state.committed_paths()
    if not paths:
        return []
    # each committed part dir is its own partitioned root -> union reads
    dfs = [spark.read.parquet(p) for p in paths]
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d, allowMissingColumns=True)
    return df.where(F.col("descriptor") == "logs").select("doc_id").collect()


def _append_batch(spark, seq_path, template_df, start_id, times):
    """Append new rows (later event_times) to the sequences table, id'd
    doc_r{start_id}.. — simulates the upstream service producing logs
    since the failed collection, including REVERSE delivery order."""
    rows = template_df.limit(len(times)).collect()
    new = [
        dict(
            r.asDict(),
            doc_id=f"doc_r{start_id + i}",
            event_time=t,
        )
        for i, (r, t) in enumerate(zip(rows, reversed(times)))
    ]
    spark.createDataFrame(new, template_df.schema).write.mode("append").parquet(seq_path)


def test_crash_between_write_and_commit_is_exactly_once(spark, env, monkeypatch):
    paths, sources, sinks, state, out = env
    key = reference("fleet", "default")

    # run 1: clean
    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    p1 = state.pointer(key)
    rows1 = {r["doc_id"] for r in _committed_rows(spark, state)}
    assert p1 is not None and rows1

    # new upstream data arrives (strictly later event times)
    seq = spark.read.parquet(paths["sequences"])
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    times = [base + dt.timedelta(seconds=i) for i in range(6)]
    _append_batch(spark, paths["sequences"], seq, 0, times)

    # run 2 CRASHES after writing its part dir but before the manifest
    # commit (the reference's failure window, grove/connectors/
    # __init__.py:443-445 — where IT would duplicate a page). Every
    # commit goes through commit_many (commit delegates to it).
    with monkeypatch.context() as m:
        m.setattr(RunState, "commit_many", _crash)
        with pytest.raises(RuntimeError, match="crash before manifest"):
            run_incremental(spark, paths["sequences"], sources, sinks, state,
                            out_path=out, n_partitions=4)

    # the orphan part dir exists on disk but is INVISIBLE to readers
    orphans = set(glob.glob(f"{out}/part-*")) - set(state.committed_paths())
    assert orphans, "crashed run should have written an orphan part dir"
    assert state.pointer(key) == p1  # pointer untouched
    assert {r["doc_id"] for r in _committed_rows(spark, state)} == rows1

    # run 3 resumes from the COMMITTED pointer: every new row appears
    # exactly once, final pointer is the latest event time (the
    # reference's recover_from_incomplete outcome, with zero dupes)
    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    got = [r["doc_id"] for r in _committed_rows(spark, state)]
    assert sorted(got) == sorted(set(got)), "duplicate rows visible after recovery"
    new_ids = {f"doc_r{i}" for i in range(6)}
    assert new_ids <= set(got), "rows from the failed window were lost"
    assert state.pointer(key) == "2024-06-01 00:00:05"  # latest log entry


def _crash(self, *a, **kw):
    raise RuntimeError("crash before manifest publish")


def test_fleet_crash_between_write_and_commit_is_exactly_once(spark, env, monkeypatch):
    """The same crash window for a fleet tick: the tick's part dir is an
    invisible orphan, no member's pointer moves, and the next tick
    writes every new row exactly once."""
    from grove_spark.config import ConnectorConfig, run_fleet

    paths, _sources, _sinks, state, out = env
    seq = spark.read.parquet(paths["sequences"])
    cfgs = [
        ConnectorConfig(connector=f"{s}_audit", identity="a", source=s, frequency=0)
        for s in sorted(r["source"] for r in seq.select("source").distinct().collect())
    ]
    run_fleet(spark, cfgs, paths["sequences"], state, out_path=out, now=1.0)
    p1 = {c.reference(): state.pointer(c.reference()) for c in cfgs}
    rows1 = sorted(r["doc_id"] for r in _committed_rows(spark, state))
    assert all(p1.values()) and rows1

    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    _append_batch(spark, paths["sequences"], seq, 0,
                  [base + dt.timedelta(seconds=i) for i in range(6)])

    with monkeypatch.context() as m:
        m.setattr(RunState, "commit_many", _crash)
        with pytest.raises(RuntimeError, match="crash before manifest"):
            run_fleet(spark, cfgs, paths["sequences"], state, out_path=out, now=2.0)

    orphans = set(glob.glob(f"{out}/part-*")) - set(state.committed_paths())
    assert orphans, "crashed tick should have written an orphan part dir"
    assert {c.reference(): state.pointer(c.reference()) for c in cfgs} == p1
    assert sorted(r["doc_id"] for r in _committed_rows(spark, state)) == rows1

    run_fleet(spark, cfgs, paths["sequences"], state, out_path=out, now=3.0)
    got = [r["doc_id"] for r in _committed_rows(spark, state)]
    assert sorted(got) == sorted(set(got)), "duplicate rows visible after recovery"
    assert set(got) == set(rows1) | {f"doc_r{i}" for i in range(6)}


def test_boundary_equal_pointer_rows_not_lost_not_duplicated(spark, env):
    """Late rows sharing the committed boundary timestamp are ingested
    once (inclusive predicate + seen-hash anti-join)."""
    paths, sources, sinks, state, out = env
    key = reference("fleet", "default")

    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    p1 = state.pointer(key)
    seen1 = state.seen_hashes(key)
    assert p1 in seen1 and seen1[p1], "boundary hashes must be committed"

    # two late arrivals AT the boundary timestamp + one after it
    import datetime as dt

    bt = dt.datetime.strptime(p1, "%Y-%m-%d %H:%M:%S.%f" if "." in p1 else "%Y-%m-%d %H:%M:%S")
    seq = spark.read.parquet(paths["sequences"])
    _append_batch(spark, paths["sequences"], seq, 100,
                  [bt, bt, bt + dt.timedelta(seconds=1)])

    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    got = [r["doc_id"] for r in _committed_rows(spark, state)]
    assert sorted(got) == sorted(set(got)), "boundary rows duplicated"
    assert {"doc_r100", "doc_r101", "doc_r102"} <= set(got), "late boundary rows lost"

    # run again with no new data: nothing is re-ingested
    before = len(got)
    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    assert len(_committed_rows(spark, state)) == before


def test_expire_runs_retention_and_orphan_gc(spark, env):
    """Iceberg expire_snapshots analog: old history trimmed, expired-only
    data dirs and never-committed orphan dirs deleted, resume state and
    live lineage untouched."""
    import os

    paths, sources, sinks, state, out = env
    run_incremental(spark, paths["sequences"], sources, sinks, state,
                    out_path=out, n_partitions=4)
    key = reference("fleet", "default")
    p1 = state.pointer(key)
    live = set(state.committed_paths())
    assert live

    # fabricate an orphan (crashed-run residue) and stale history records
    orphan = os.path.join(out, "part-deadbeef")
    os.makedirs(orphan, exist_ok=True)
    stale_dir = os.path.join(out, "part-oldrun")
    os.makedirs(stale_dir, exist_ok=True)
    state.commit(key, "oldrun", data_paths=[stale_dir])
    for i in range(3):
        state.commit(key, f"noop{i}")

    res = state.expire_runs(keep_last=3, delete_orphans_under=out)
    assert res["expired_records"] >= 1
    assert orphan in res["orphans_deleted"] and not os.path.exists(orphan)
    # the live first run's dir was expired from history...
    assert state.pointer(key) == p1  # ...but resume state survives
    # dirs referenced only by expired records are gone
    for d in res["deleted_dirs"]:
        assert not os.path.exists(d)
    # history bounded
    assert len(state._load()["history"]) == 3
