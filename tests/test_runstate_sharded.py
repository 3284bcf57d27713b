"""Sharded run-state manifest: commit cost O(keys touched), pending-path
orphan protection, legacy-format migration."""

import json
import os
import time

import pytest

from grove_spark.state.runstate import ConcurrentCommitError, RunState


def _entry_files(state):
    return set(os.listdir(os.path.join(state.root, "keys")))


def test_fleet_tick_commit_is_o_keys_touched(tmp_path):
    """A 1000-key fleet tick commits once; later single-key commits must
    rewrite only that key's shard + one run record + the root — never
    the other 999 keys' files or the accumulated history."""
    state = RunState(str(tmp_path / "state"))
    keys = [f"conn{i}.idhash" for i in range(1000)]
    big_seen = {"2024-01-01": [f"h{j}" for j in range(50)]}
    state.commit_many(
        [{"key": k, "pointer": "p0", "seen": big_seen} for k in keys], "tick0"
    )
    assert state.version() == 1
    assert state.pointer("conn7.idhash") == "p0"

    # snapshot every key shard's mtime, then commit ONE key repeatedly
    keys_dir = os.path.join(state.root, "keys")
    before = {f: os.path.getmtime(os.path.join(keys_dir, f))
              for f in os.listdir(keys_dir)}
    root_size_before = os.path.getsize(os.path.join(state.root, "_state.json"))
    for i in range(5):
        state.commit("conn0.idhash", f"run{i}", pointer=f"p{i+1}", seen=big_seen)
    after = {f: os.path.getmtime(os.path.join(keys_dir, f))
             for f in os.listdir(keys_dir)}
    touched = {f for f in before if f in after and after[f] != before[f]}
    assert not touched, "single-key commits rewrote other keys' shards"
    # root holds only key->generation: its size is independent of the
    # seen-hash payloads and of history length
    root_size_after = os.path.getsize(os.path.join(state.root, "_state.json"))
    assert abs(root_size_after - root_size_before) < 64
    # every run is still visible in order; other keys' state intact
    assert state.pointer("conn0.idhash") == "p5"
    assert state.pointer("conn999.idhash") == "p0"
    assert state.seen_hashes("conn999.idhash") == big_seen
    assert len(state._load()["history"]) == 1000 + 5

    # a fresh instance over the same root reads identical state
    reread = RunState(str(tmp_path / "state"))
    assert reread.pointer("conn0.idhash") == "p5"
    assert reread.version() == state.version()


def test_commit_preserves_prev_fields_and_conflicts(tmp_path):
    state = RunState(str(tmp_path / "state"))
    v0 = state.version()
    state.commit("k", "r1", pointer="5", seen={"5": ["a"]}, expected_version=v0)
    state.commit("k", "r2")  # pointer/seen default to previous
    assert state.pointer("k") == "5"
    assert state.seen_hashes("k") == {"5": ["a"]}
    assert state.get("k")["previous_pointer"] == "5"
    with pytest.raises(ConcurrentCommitError):
        state.commit("k", "r3", expected_version=v0)


def test_orphan_gc_shields_cross_host_commits_above_root(tmp_path):
    """A cross-host committer's run file above the root snapshot (its
    root replace not yet observed by the retention scan — flock is
    invisible over NFS) references data dirs the scan never saw; with
    the pending marker already cleared post-commit and the dir's mtime
    past any grace, the orphan sweep must STILL not delete them. The
    claim-file rescan (read after pending markers — order closes the
    handoff race) is the guard."""
    state = RunState(str(tmp_path / "state"))
    out = tmp_path / "out"
    committed = out / "part-remote"
    committed.mkdir(parents=True)
    old = time.time() - 3600
    os.utime(committed, (old, old))
    state.commit("k", "r0", pointer="1")  # root at v1
    # plant the remote committer's published run file at v2 (> root):
    # records present, marker cleared, exactly the post-claim state
    with open(os.path.join(state.root, "runs", f"{2:012d}.json"), "w") as f:
        json.dump({"records": [{"run_id": "remote", "key": "k2",
                                "pointer": "9", "metrics": {},
                                "data_paths": [str(committed)]}]}, f)
    res = state.expire_runs(delete_orphans_under=str(out))
    assert committed.exists(), "orphan sweep deleted a cross-host commit's data"
    assert str(committed) not in res["orphans_deleted"]
    # a genuinely unreferenced stale dir in the same root still collects
    crashed = out / "part-crashed"
    crashed.mkdir()
    os.utime(crashed, (old, old))
    res2 = state.expire_runs(delete_orphans_under=str(out))
    assert str(crashed) in res2["orphans_deleted"] and not crashed.exists()
    assert committed.exists()


def test_orphan_gc_final_recheck_catches_late_registration(tmp_path):
    """A writer that registers its pending marker AFTER the retention
    pass's first marker read (and whose dir then appears before the
    orphan glob) must still survive: the final pre-deletion re-read of
    pending markers protects it. Simulated deterministically by
    sequencing _pending_paths: empty at scan start, the marker present
    at the recheck."""
    state = RunState(str(tmp_path / "state"))
    out = tmp_path / "out"
    late = out / "part-late"
    late.mkdir(parents=True)
    old = time.time() - 3600
    os.utime(late, (old, old))  # even a stale mtime must not matter
    state.commit("k", "r0", pointer="1")

    real = state._pending_paths
    calls = {"n": 0}

    def sequenced():
        calls["n"] += 1
        if calls["n"] == 1:
            return {}  # marker not yet visible at scan start
        return {str(late): time.time()}  # registered by recheck time

    state._pending_paths = sequenced
    try:
        res = state.expire_runs(delete_orphans_under=str(out))
    finally:
        state._pending_paths = real
    assert calls["n"] >= 2, "final recheck did not re-read markers"
    assert late.exists(), "late-registered in-flight dir was GC'd"
    assert str(late) not in res["orphans_deleted"]


def test_pending_paths_protect_inflight_writes(tmp_path):
    """A data dir registered as pending must survive orphan GC even
    though no manifest references it yet; after its commit the marker
    clears and history protects it instead."""
    state = RunState(str(tmp_path / "state"))
    out = tmp_path / "out"
    inflight = out / "part-inflight"
    inflight.mkdir(parents=True)
    crashed = out / "part-crashed"
    crashed.mkdir()
    state.register_pending(str(inflight))
    state.commit("k", "r0", pointer="1")  # some history so GC runs
    res = state.expire_runs(delete_orphans_under=str(out))
    assert str(crashed) in res["orphans_deleted"] and not crashed.exists()
    assert inflight.exists(), "pending in-flight dir was GC'd"
    # writer finishes: commit references the dir, marker is cleared
    state.commit("k", "r1", data_paths=[str(inflight)])
    assert not os.listdir(os.path.join(state.root, "pending"))
    res2 = state.expire_runs(delete_orphans_under=str(out))
    assert inflight.exists() and str(inflight) not in res2["orphans_deleted"]


def test_orphan_grace_and_trailing_slash(tmp_path):
    """Fresh dirs inside the grace window survive; a trailing slash on
    the GC root must not make committed dirs look orphaned."""
    state = RunState(str(tmp_path / "state"))
    out = tmp_path / "out"
    committed = out / "part-live"
    committed.mkdir(parents=True)
    state.commit("k", "r0", data_paths=[str(out) + "/part-live"])
    fresh = out / "part-fresh"
    fresh.mkdir()
    res = state.expire_runs(
        delete_orphans_under=str(out) + "/", orphan_grace_s=3600
    )
    assert committed.exists(), "trailing slash orphaned a committed dir"
    assert fresh.exists() and not res["orphans_deleted"]
    res2 = state.expire_runs(delete_orphans_under=str(out) + "/")
    assert str(fresh) in res2["orphans_deleted"] and not fresh.exists()
    assert committed.exists()


def test_legacy_single_document_migration(tmp_path):
    """A round-2 single-file _state.json loads transparently: pointers,
    seen state, history and version all survive the shard migration."""
    root = tmp_path / "state"
    root.mkdir()
    legacy = {
        "version": 7,
        "entries": {
            "a.k": {"pointer": "p1", "previous_pointer": "p0",
                    "last_run": 123.0, "seen": {"p1": ["h1"]}, "run_id": "r9"},
            "b.k": {"pointer": "9", "previous_pointer": None,
                    "last_run": 124.0, "seen": {}, "run_id": "r9"},
        },
        "history": [
            {"run_id": "r8", "key": "a.k", "pointer": "p0",
             "metrics": {}, "data_paths": ["/data/part-r8"]},
            {"run_id": "r9", "key": "a.k", "pointer": "p1",
             "metrics": {"per_sink": {"logs": {"rows": 3}}},
             "data_paths": []},
        ],
    }
    (root / "_state.json").write_text(json.dumps(legacy))
    state = RunState(str(root))
    assert state.version() == 7
    assert state.pointer("a.k") == "p1" and state.seen_hashes("a.k") == {"p1": ["h1"]}
    assert state.pointer("b.k") == "9"
    assert state.last_run("a.k") == 123.0
    assert state.committed_paths() == ["/data/part-r8"]
    assert state.is_committed("r9") and not state.is_committed("r7")
    assert [h["run_id"] for h in state._load()["history"]] == ["r8", "r9"]
    # and the migrated root commits normally
    state.commit("a.k", "r10", pointer="p2", expected_version=7)
    assert state.pointer("a.k") == "p2" and state.version() == 8


def test_crashed_commit_generation_is_invisible(tmp_path):
    """Key/run files written without a root publish (crash mid-commit)
    must be ignored and safely overwritten by the next commit."""
    state = RunState(str(tmp_path / "state"))
    state.commit("k", "r1", pointer="1")
    # simulate a crash AFTER the run/key writes, BEFORE the root replace:
    # hand-write generation-2 files the root never references
    import hashlib
    kf = os.path.join(
        state.root, "keys", hashlib.md5(b"k").hexdigest() + "-2.json"
    )
    with open(kf, "w") as f:
        json.dump({"pointer": "GHOST", "seen": {}, "last_run": 0,
                   "previous_pointer": None, "run_id": "ghost"}, f)
    with open(os.path.join(state.root, "runs", f"{2:012d}.json"), "w") as f:
        json.dump({"records": [{"run_id": "ghost", "key": "k", "pointer": "GHOST",
                                "metrics": {}, "data_paths": []}]}, f)
    assert state.pointer("k") == "1", "uncommitted generation leaked"
    assert not state.is_committed("ghost")
    # conditional-write semantics: the crashed claim BLOCKS version 2
    # until the lease TTL passes (back-date it), then the next commit
    # reclaims it and takes version 2 cleanly
    t = os.path.getmtime(kf) - 400
    run2 = os.path.join(state.root, "runs", f"{2:012d}.json")
    os.utime(run2, (t, t))
    state.commit("k", "r2", pointer="2")
    assert state.pointer("k") == "2" and not state.is_committed("ghost")
    assert [h["run_id"] for h in state._load()["history"]] == ["r1", "r2"]


def test_expire_runs_does_not_resurrect_ghost_commits(tmp_path):
    """A crashed commit's run file at version root+1 must NOT become
    visible when expire_runs bumps the root version (that would flip
    is_committed for a run that never published — breaking the
    streaming sink's idempotence check — and expose unpublished data
    paths to readers)."""
    state = RunState(str(tmp_path / "state"))
    state.commit("k", "r1", pointer="1")
    ghost_path = os.path.join(state.root, "runs", f"{2:012d}.json")
    with open(ghost_path, "w") as f:
        json.dump({"records": [{"run_id": "ghost", "key": "k", "pointer": "G",
                                "metrics": {}, "data_paths": ["/data/ghost"]}]}, f)
    assert not state.is_committed("ghost")
    # fresh + ownerless, the file could be a LIVE cross-host claim:
    # retention must neither delete it nor bump the root past it (a
    # root at/above it would resurrect its records)
    state.expire_runs(keep_last=10)
    assert state.version() == 1
    assert os.path.exists(ghost_path)
    assert not state.is_committed("ghost"), "expire_runs resurrected a ghost"
    assert "/data/ghost" not in state.committed_paths()
    # once provably dead (lease TTL passed), it is swept and the
    # retention bump lands cleanly
    t = os.path.getmtime(ghost_path) - (state.stale_claim_ttl_s + 10)
    os.utime(ghost_path, (t, t))
    state.expire_runs(keep_last=10)
    assert state.version() == 2
    assert not state.is_committed("ghost"), "expire_runs resurrected a ghost"
    assert "/data/ghost" not in state.committed_paths()
    assert state.is_committed("r1") and state.pointer("k") == "1"


def test_expire_runs_reclaims_sub_version_ghost_generations(tmp_path):
    """ADVICE r3: once later commits advance the version counter PAST a
    crashed commit's generation file, it sits below the root version,
    referenced by nothing — and commit_many's stale pass (which only
    touches keys in the commit) never revisits a rarely-touched key.
    expire_runs must sweep by REFERENCE (keep the root generation plus
    the one-previous reader grace), not by version arithmetic."""
    import hashlib

    state = RunState(str(tmp_path / "state"))
    state.commit("cold", "r1", pointer="1")   # v1 — rarely-touched key
    # crashed commit for "cold" at v2: key gen file, no root publish
    ghost = os.path.join(
        state.root, "keys", hashlib.md5(b"cold").hexdigest() + "-2.json"
    )
    with open(ghost, "w") as f:
        json.dump({"pointer": "GHOST", "seen": {}, "last_run": 0,
                   "previous_pointer": None, "run_id": "ghost"}, f)
    # other keys advance the version PAST the ghost
    state.commit("hot", "r2", pointer="a")    # v2? no — v2 is taken ...
    state.commit("hot", "r3", pointer="b")
    assert state.version() > 2
    # a crashed FIRST commit for a key the root never references
    orphan_key = os.path.join(
        state.root, "keys", hashlib.md5(b"never").hexdigest() + "-1.json"
    )
    with open(orphan_key, "w") as f:
        json.dump({"pointer": "X", "seen": {}, "last_run": 0,
                   "previous_pointer": None, "run_id": "ghost2"}, f)

    state.expire_runs(keep_last=10)
    assert not os.path.exists(ghost), "sub-version ghost not reclaimed"
    assert not os.path.exists(orphan_key), "unreferenced key hash kept"
    # referenced generations survive and state is intact
    assert state.pointer("cold") == "1" and state.pointer("hot") == "b"
    # reader grace: "hot"'s immediately-previous generation file remains
    hot_gens = sorted(_glob(state, "hot"))
    assert len(hot_gens) == 2


def _glob(state, key):
    import glob
    import hashlib

    pat = os.path.join(
        state.root, "keys", hashlib.md5(key.encode()).hexdigest() + "-*.json"
    )
    return glob.glob(pat)


def test_pending_marker_lifecycle(tmp_path):
    """A marker registered BEFORE the data dir exists must protect the
    about-to-be-written path (not be GC'd as dead weight); a crashed
    writer's marker expires after the TTL so its residue becomes an
    ordinary orphan."""
    state = RunState(str(tmp_path / "state"))
    out = tmp_path / "out"
    out.mkdir()
    state.commit("k", "r0", pointer="1")  # some history
    inflight = out / "part-preview"
    state.register_pending(str(inflight))  # dir does NOT exist yet
    state.expire_runs(delete_orphans_under=str(out))
    # the marker must survive the dir-missing window...
    inflight.mkdir()  # writer's Spark job starts producing files now
    res = state.expire_runs(delete_orphans_under=str(out))
    assert inflight.exists() and str(inflight) not in res["orphans_deleted"], (
        "pre-write pending marker was dropped; in-flight dir got GC'd"
    )
    # ...but a crashed writer's marker expires after the TTL
    res2 = state.expire_runs(delete_orphans_under=str(out), pending_ttl_s=0.0)
    assert str(inflight) in res2["orphans_deleted"] and not inflight.exists()


def test_slow_writer_survives_marker_ttl(tmp_path):
    """A write legitimately running longer than the pending TTL keeps
    touching its directory; the GC must require the dir to have been
    QUIET for a full TTL before reclaiming a TTL-expired pending path —
    crashed residue (stale mtime) still gets collected."""
    state = RunState(str(tmp_path / "state"))
    out = tmp_path / "out"
    out.mkdir()
    state.commit("k", "r0", pointer="1")
    slow = out / "part-slow"
    slow.mkdir()
    state.register_pending(str(slow))
    # age the MARKER far past the TTL while the dir stays freshly
    # touched (an active write keeps landing task files)
    marker = state._pending_marker(str(slow))
    doc = json.loads(open(marker).read())
    doc["ts"] = time.time() - 3600
    with open(marker, "w") as f:
        json.dump(doc, f)
    (slow / "task-file").write_text("x")  # dir mtime = now
    res = state.expire_runs(delete_orphans_under=str(out), pending_ttl_s=60.0)
    assert slow.exists() and str(slow) not in res["orphans_deleted"], (
        "active slow write reclaimed at marker TTL"
    )
    # crashed residue: the dir itself goes quiet for a full TTL
    os.utime(slow, (time.time() - 3600, time.time() - 3600))
    res2 = state.expire_runs(delete_orphans_under=str(out), pending_ttl_s=60.0)
    assert str(slow) in res2["orphans_deleted"] and not slow.exists()
    assert not os.listdir(os.path.join(state.root, "pending"))


def test_file_stats_stored_once_per_run_and_legacy_records_read(tmp_path):
    """Every update's file stats land once in the run file, beside the
    records; run files written with per-record stats still read."""
    st = RunState(str(tmp_path / "s"))
    d = str(tmp_path / "out" / "part-r1")
    stats = {f"{d}/f{i}.parquet": {"min": i, "max": i, "kind": "num", "col": "seq"}
             for i in range(3)}
    st.commit_many(
        [{"key": k, "data_paths": [d], "file_stats": stats} for k in "abcd"]
        + [{"key": "e"}],
        "r1",
    )
    with open(st._run_file(st.version())) as f:
        text = f.read()
    assert all(text.count(json.dumps(p)) == 1 for p in stats)
    assert st.committed() == ([d], stats)
    assert st.run_record("r1")["file_stats"] == stats

    # a run file of the per-record shape (each record holds its stats)
    legacy_dir = str(tmp_path / "out" / "part-r0")
    legacy = {f"{legacy_dir}/f.parquet": {"min": 9, "max": 9, "kind": "num"}}
    with open(st._run_file(1)) as f:
        doc = json.load(f)
    doc = {"records": [
        {**r, "data_paths": [legacy_dir], "file_stats": legacy, "run_id": "r0"}
        for r in doc["records"]
    ]}
    with open(st._run_file(1), "w") as f:
        json.dump(doc, f)
    assert st.committed() == ([legacy_dir], legacy)
    assert st.run_record("r0")["file_stats"] == legacy
