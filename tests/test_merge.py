"""Copy-on-write MERGE INTO over the committed store (operators/merge.py):
upsert + delete semantics, dir-level key-range pruning, atomic swap,
loud source-key contracts."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from grove_spark.operators.merge import delete_by_keys, merge_into
from grove_spark.operators.sinks import write_partitioned_parquet
from grove_spark.sources.file_stats import _list_parquet, parquet_file_stats
from grove_spark.sources.scans import manifest_scan
from grove_spark.state.runstate import ConcurrentCommitError, RunState

SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("event_type", StringType()),
    StructField("event_time", TimestampType()),
    StructField("descriptor", StringType()),
    StructField("connector", StringType()),
])


def _rows(ids, typ="base"):
    t0 = dt.datetime(2024, 1, 1)
    return [
        (i, typ, t0 + dt.timedelta(hours=int(i) % 48), "logs", "gate")
        for i in ids
    ]


def _store(spark, tmp_path):
    """Two committed dirs with DISJOINT event_id ranges (0-99, 100-199),
    so key-range pruning has something to prune."""
    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    for lo, hi in [(0, 100), (100, 200)]:
        df = spark.createDataFrame(_rows(range(lo, hi)), SCHEMA)
        run_id = state.new_run_id()
        d = os.path.join(out, f"part-{run_id}")
        state.register_pending(d)
        write_partitioned_parquet(df.repartition(2), d)
        state.commit(
            "gate", run_id, pointer=str(hi), data_paths=[d],
            file_stats=parquet_file_stats(_list_parquet(d), "event_time"),
        )
    return state, out


def _read_all(spark, state):
    return manifest_scan(spark, state, pointer_col="event_time")


def test_upsert_rewrites_only_overlapping_dirs(spark, tmp_path):
    state, out = _store(spark, tmp_path)
    dirs_before = sorted(state.committed_paths())
    # patch 5 rows in the UPPER dir only + insert 3 brand-new keys
    upd = spark.createDataFrame(
        _rows([105, 119, 140, 161, 198], typ="patched")
        + _rows([1005, 1006, 1007], typ="inserted"),
        SCHEMA,
    )
    res = merge_into(spark, state, out, upd, ["event_id"])
    assert res["dirs_total"] == 2
    # the lower dir's [0, 99] range overlaps no update key: untouched
    assert res["dirs_rewritten"] == 1
    assert res["replaced"] == [dirs_before[1]] or res["replaced"] == [dirs_before[0]]
    assert (res["rows_updated"], res["rows_inserted"]) == (5, 3)

    got = _read_all(spark, state)
    assert got.count() == 203
    by_type = {
        r["event_type"]: r["n"]
        for r in got.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {"base": 195, "patched": 5, "inserted": 3}
    # replaced rows are GONE, not duplicated
    assert got.where(F.col("event_id") == 105).count() == 1
    assert (
        got.where(F.col("event_id") == 105).first()["event_type"] == "patched"
    )
    # untouched dir still listed verbatim; superseded dir still on disk
    # (reader barrier: reclaimed by expire_runs, not by the merge)
    now_dirs = set(state.committed_paths())
    assert len(now_dirs & set(dirs_before)) == 1
    assert all(os.path.exists(d) for d in dirs_before)


def test_delete_by_keys_is_targeted(spark, tmp_path):
    state, out = _store(spark, tmp_path)
    keys = spark.createDataFrame(
        [(3,), (42,), (77,)], StructType([StructField("event_id", LongType())])
    )
    res = delete_by_keys(spark, state, out, keys, ["event_id"])
    assert res["rows_deleted"] == 3 and res["dirs_rewritten"] == 1
    got = _read_all(spark, state)
    assert got.count() == 197
    assert got.where(F.col("event_id").isin(3, 42, 77)).count() == 0
    # non-matching keys in range are a rewrite no-op, not a row change
    res2 = delete_by_keys(
        spark, state, out,
        spark.createDataFrame([(55_000,)], keys.schema), ["event_id"],
    )
    assert res2 is None or res2["rows_deleted"] == 0
    assert _read_all(spark, state).count() == 197


def test_delete_outside_all_ranges_is_a_noop(spark, tmp_path):
    state, out = _store(spark, tmp_path)
    v = state.version()
    keys = spark.createDataFrame(
        [(10_000,)], StructType([StructField("event_id", LongType())])
    )
    assert delete_by_keys(spark, state, out, keys, ["event_id"]) is None
    assert state.version() == v  # no commit happened


def test_duplicate_and_null_source_keys_raise(spark, tmp_path):
    state, out = _store(spark, tmp_path)
    dup = spark.createDataFrame(_rows([5, 5]), SCHEMA)
    with pytest.raises(ValueError, match="share a merge key"):
        merge_into(spark, state, out, dup, ["event_id"])
    null = spark.createDataFrame(
        [(None, "x", dt.datetime(2024, 1, 1), "logs", "gate")], SCHEMA
    )
    with pytest.raises(ValueError, match="NULL merge key"):
        merge_into(spark, state, out, null, ["event_id"])


def test_concurrent_commit_fails_the_merge_loudly(spark, tmp_path, monkeypatch):
    """Snapshot isolation: a commit landing between the merge's snapshot
    read and its publish must surface as ConcurrentCommitError, never a
    silent merge over a stale listing."""
    import grove_spark.operators.sinks as sinks_mod

    state, out = _store(spark, tmp_path)
    real_write = sinks_mod.write_partitioned_parquet

    def write_then_race(df, path, **kw):
        real_write(df, path, **kw)
        state.commit("racer", state.new_run_id(), pointer="x", data_paths=[])

    monkeypatch.setattr(sinks_mod, "write_partitioned_parquet", write_then_race)
    upd = spark.createDataFrame(_rows([150], typ="patched"), SCHEMA)
    with pytest.raises(ConcurrentCommitError):
        merge_into(spark, state, out, upd, ["event_id"])
    # the racing commit won; the store rows are untouched
    assert _read_all(spark, state).count() == 200


def test_merge_plan_is_python_free_and_broadcast(spark, tmp_path):
    """The rewrite join must be a broadcast anti-join (updates are
    dim-sized), with no Python in the plan."""
    state, out = _store(spark, tmp_path)
    upd = spark.createDataFrame(_rows([150], typ="patched"), SCHEMA)
    plans = []
    import grove_spark.operators.sinks as sinks_mod
    real_write = sinks_mod.write_partitioned_parquet

    def capture(df, path, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        real_write(df, path, **kw)

    try:
        sinks_mod.write_partitioned_parquet = capture
        merge_into(spark, state, out, upd, ["event_id"])
    finally:
        sinks_mod.write_partitioned_parquet = real_write
    plan = plans[0]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_duplicate_target_rows_converge_with_exact_accounting(spark, tmp_path):
    """Re-delivered appends leave duplicate rows per key in the store;
    a merge collapses every copy into the single update row and the
    accounting distinguishes matched keys from superseded copies."""
    from grove_spark.sources.file_stats import _list_parquet, parquet_file_stats

    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    # the same 100 keys appended TWICE (two run dirs)
    for _ in range(2):
        df = spark.createDataFrame(_rows(range(100)), SCHEMA)
        rid = state.new_run_id()
        d = os.path.join(out, f"part-{rid}")
        state.register_pending(d)
        write_partitioned_parquet(df, d)
        state.commit("gate", rid, pointer="x", data_paths=[d],
                     file_stats=parquet_file_stats(_list_parquet(d), "event_time"))
    upd = spark.createDataFrame(_rows([7], typ="patched"), SCHEMA)
    res = merge_into(spark, state, out, upd, ["event_id"])
    assert res["rows_updated"] == 1          # one matched update key
    assert res["rows_superseded"] == 2       # both target copies removed
    assert res["duplicates_collapsed"] == 1
    assert res["rows_inserted"] == 0         # never negative
    got = _read_all(spark, state)
    assert got.where(F.col("event_id") == 7).count() == 1
    assert got.where(F.col("event_id") == 7).first()["event_type"] == "patched"


def test_full_purge_delete_leaves_store_mergeable(spark, tmp_path):
    """A delete that empties every affected dir must not publish a
    parquet-less dir (it would poison later basePath reads); the store
    stays readable and mergeable afterwards."""
    state, out = _store(spark, tmp_path)
    # purge the ENTIRE lower dir [0, 100)
    keys = spark.createDataFrame([(i,) for i in range(100)], "event_id long")
    res = delete_by_keys(spark, state, out, keys, ["event_id"])
    assert res["rows_deleted"] == 100 and res["new_dir"] is None
    got = _read_all(spark, state)
    assert got.count() == 100
    # no parquet-less dir in the manifest
    from grove_spark.sources.file_stats import _list_parquet
    assert all(_list_parquet(d) for d in state.committed_paths())
    # subsequent merges still work
    upd = spark.createDataFrame(_rows([150], typ="patched"), SCHEMA)
    res2 = merge_into(spark, state, out, upd, ["event_id"])
    assert res2["rows_updated"] == 1
    assert _read_all(spark, state).count() == 100


def test_bloom_probe_casts_probe_keys_to_store_type(spark, tmp_path):
    """xxhash64 is type-sensitive: an int-typed delete-key frame against
    a bigint store column must still hit the bloom (silent false
    negatives would skip the delete entirely)."""
    from grove_spark.sources.bloom import build_key_bloom

    state, out = _store(spark, tmp_path)
    for d in state.committed_paths():
        build_key_bloom(spark, d, "event_id", fpr=1e-6)
    keys = spark.createDataFrame([(42,)], "event_id int")  # int, store is long
    res = delete_by_keys(spark, state, out, keys, ["event_id"])
    assert res is not None and res["rows_deleted"] == 1, res
    assert _read_all(spark, state).where(F.col("event_id") == 42).count() == 0


def test_merge_commits_are_mutations_for_incremental_readers(spark, tmp_path):
    state, out = _store(spark, tmp_path)
    upd = spark.createDataFrame(_rows([150], typ="patched"), SCHEMA)
    res = merge_into(spark, state, out, upd, ["event_id"])
    rec = state.run_record(res["run_id"])
    assert rec["rewrite_kind"] == "mutation"


def test_driver_side_range_prune_matches_join_prune(spark, tmp_path):
    """r6: for int/string keys the range prune runs driver-side (sorted
    distinct keys + bisect) — it must keep exactly the dirs the
    distributed interval join kept, for hit/miss/boundary keys."""
    state, out = _store(spark, tmp_path)
    # keys at dir boundaries: 99 (dir0 max), 100 (dir1 min) -> both dirs
    upd = spark.createDataFrame(_rows([99, 100], typ="patched"), SCHEMA)
    res = merge_into(spark, state, out, upd, ["event_id"])
    assert res["dirs_rewritten"] == 2 and res["rows_updated"] == 2
    # keys beyond every range -> nothing rewritten on delete
    miss = spark.createDataFrame([(10_000,)], "event_id long")
    res2 = delete_by_keys(spark, state, out, miss, ["event_id"])
    assert res2 is None or res2["rows_deleted"] == 0
    got = _read_all(spark, state)
    assert got.count() == 200
    assert got.where("event_type = 'patched'").count() == 2


def test_string_key_driver_prune(spark, tmp_path):
    """String merge keys take the driver-side bisect path too (UTF-8
    byte order == code point order); values must replace exactly."""
    schema = StructType([
        StructField("k", StringType()),
        StructField("v", StringType()),
        StructField("event_time", TimestampType()),
        StructField("descriptor", StringType()),
        StructField("connector", StringType()),
    ])
    t0 = dt.datetime(2024, 1, 1)
    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    for tag, lo, hi in [("a", 0, 50), ("b", 50, 100)]:
        df = spark.createDataFrame(
            [(f"k{i:04d}", "base", t0, "logs", "gate") for i in range(lo, hi)],
            schema,
        )
        run_id = state.new_run_id()
        d = os.path.join(out, f"part-{run_id}")
        state.register_pending(d)
        write_partitioned_parquet(df, d)
        state.commit("gate", run_id, pointer=tag, data_paths=[d],
                     file_stats=parquet_file_stats(_list_parquet(d), "event_time"))
    upd = spark.createDataFrame(
        [("k0042", "patched", t0, "logs", "gate")], schema)
    res = merge_into(spark, state, out, upd, ["k"], pointer_col="event_time")
    assert res["dirs_rewritten"] == 1 and res["rows_updated"] == 1
    got = manifest_scan(spark, state, pointer_col="event_time")
    assert got.where("v = 'patched'").count() == 1
    assert got.count() == 100


def test_rewrite_write_is_rebalanced(spark, tmp_path):
    """r6: the rewritten dir must come out in a bounded number of files
    (the pre-rebalance write produced one near-empty file per input
    split per touched hive dir)."""
    import glob

    state, out = _store(spark, tmp_path)
    upd = spark.createDataFrame(_rows(range(0, 10), typ="patched"), SCHEMA)
    res = merge_into(spark, state, out, upd, ["event_id"])
    files = glob.glob(res["new_dir"] + "/**/*.parquet", recursive=True)
    # 110 rows in 2 hive date dirs: a handful of files, not ~dozens
    assert 0 < len(files) <= 8, files


WIDE = StructType(SCHEMA.fields + [StructField("region", StringType())])


def _evolved_store(spark, root):
    """Two committed run dirs (``part-r1`` then ``part-r2``); the second
    run added a ``region`` column the first never wrote."""
    from grove_spark.operators.sinks import write_run

    state = RunState(str(root / "state"))
    out = str(root / "out")
    frames = [
        ("r1", spark.createDataFrame(_rows(range(0, 100)), SCHEMA)),
        ("r2", spark.createDataFrame(
            [r + (f"eu{r[0] % 3}",) for r in _rows(range(100, 200))], WIDE
        )),
    ]
    for run_id, df in frames:
        data_paths, stats = write_run(
            state, os.path.join(out, f"part-{run_id}"),
            lambda d, df=df: write_partitioned_parquet(df.repartition(2), d),
            "event_time",
        )
        state.commit("gate", run_id, data_paths=data_paths, file_stats=stats)
    return state, out


def _by_id(df, cols):
    return {r["event_id"]: tuple(r) for r in df.select(*cols).collect()}


def test_readers_agree_on_schema_evolved_store(spark, tmp_path):
    """Every committed-store reader unions run dirs the same way: the
    added column is kept, null in the first run's rows. merge_into
    deletes and updates a key in each dir; the result is the store
    before the merge with those keys deleted or replaced."""
    from grove_spark.operators.compaction import compact_runs
    from grove_spark.sources.scans import incremental_append_scan

    state, out = _evolved_store(spark, tmp_path / "read")
    before = manifest_scan(spark, state)
    cols = [c for c in before.columns if c != "date"]
    assert "region" in cols
    rows = _by_id(before, cols)
    assert len(rows) == 200
    assert {rows[i][cols.index("region")] for i in range(100)} == {None}
    appended = incremental_append_scan(spark, state, 0)
    assert appended.columns == before.columns
    assert _by_id(appended, cols) == rows

    keys = [5, 150]
    state, out = _evolved_store(spark, tmp_path / "delete")
    key_df = spark.createDataFrame(
        [(k,) for k in keys], StructType([StructField("event_id", LongType())])
    )
    res = merge_into(spark, state, out, key_df, ["event_id"], when_matched="delete")
    assert res["rows_deleted"] == 2 and res["dirs_rewritten"] == 2
    want = {i: r for i, r in rows.items() if i not in keys}
    assert _by_id(manifest_scan(spark, state), cols) == want

    state, out = _evolved_store(spark, tmp_path / "update")
    upd = spark.createDataFrame(
        [r + ("patched",) for r in _rows(keys, typ="patched")], WIDE
    )
    res = merge_into(spark, state, out, upd, ["event_id"], when_matched="update")
    assert (res["rows_updated"], res["rows_inserted"]) == (2, 0)
    patched = _by_id(upd, cols)
    assert _by_id(manifest_scan(spark, state), cols) == {**rows, **patched}

    state, out = _evolved_store(spark, tmp_path / "compact")
    assert compact_runs(spark, state, out, small_file_bytes=1 << 30) is not None
    compacted = manifest_scan(spark, state)
    assert sorted(compacted.columns) == sorted(before.columns)
    assert _by_id(compacted, cols) == rows


def test_update_missing_store_column_raises_before_writing(spark, tmp_path):
    """An update frame without a column the rewritten dirs hold raises a
    ValueError naming it, before any run dir is registered or written:
    writing the column as null would drop the stored values."""
    state, out = _evolved_store(spark, tmp_path)
    version = state.version()
    paths = sorted(state.committed_paths())
    dirs = sorted(os.listdir(out))
    upd = spark.createDataFrame(_rows([5, 150], typ="patched"), SCHEMA)
    with pytest.raises(ValueError, match="region"):
        merge_into(spark, state, out, upd, ["event_id"], when_matched="update")
    assert state.version() == version
    assert sorted(state.committed_paths()) == paths
    assert sorted(os.listdir(out)) == dirs
