"""Run-state / checkpoint lineage (SURVEY §2.6 T1-T5).

The reference persists per-connector state in a KV cache keyed
``(state_kind, <connector>.<md5(identity)>[.<operation>])``
(cache_key(), grove/connectors/__init__.py:573-588; kinds in
grove/constants.py:7-16: pointer, pointer_next, pointer_previous,
window_start, window_end, last, seen). Its known weakness: outputs are
written BEFORE the pointer commit (:443-445 comment), so a crash between
the two duplicates a page (at-least-once).

This module does better with a transactional SHARDED manifest, the
local-mode stand-in for an Iceberg snapshot commit (production: the same
protocol rides Iceberg's atomic snapshot + summary properties):

* state is sharded one file per key (``keys/<md5(key)>-<gen>.json``) —
  the same shape as the reference's per-cache-key DynamoDB rows
  (grove/caches/aws_dynamodb.py:24-57) — plus one append-style run
  record per commit (``runs/<version>.json``). The root pointer
  ``_state.json`` holds only {version, key → generation}: a commit
  writes the touched keys' new generation files and ONE run record,
  then atomically publishes the root (``os.replace``). Commit cost is
  O(keys touched); it never rewrites history or other keys' seen-hash
  state (the round-2 single-document design rewrote the full history
  per commit — O(total history) per fleet tick).
* generation files are immutable once written; a crash between the key/
  run writes and the root replace leaves unreferenced generations that
  the next commit at that version simply overwrites — readers only ever
  see committed generations: exactly-once effect on resume.
* data directories written BEFORE the commit register as PENDING
  (``pending/`` markers) so the orphan GC can never delete an in-flight
  run's data out from under its commit.
* per-partition processed/failed metrics ride ``df.observe()``
  (the `_saved` telemetry, :144-148) and land in the same run record —
  checkpoint lineage per partition.

Pure batch-side Python on the driver; no executor state.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import hashlib
import json
import os
import tempfile
import time
import uuid
from typing import Any, Dict, List, Optional

try:  # POSIX-only; the root os.replace is still atomic without it
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None  # type: ignore[assignment]


class ConcurrentCommitError(RuntimeError):
    """Another run committed between read and write (optimistic-lock
    conflict — the analog of the reference's ConcurrencyException)."""


class _ClaimConflict(Exception):
    """Internal: another driver holds the O_EXCL claim on the target
    version (retryable for unconditional commits)."""


def reference(connector: str, identity: str, operation: str = "all") -> str:
    """State key — parity with ConnectorConfig.reference()
    (grove/models.py:126-150): connector '.' md5(identity) ['.' operation]."""
    ident_md5 = hashlib.md5(identity.encode()).hexdigest()
    key = f"{connector}.{ident_md5}"
    if operation and operation != "all":
        key = f"{key}.{operation}"
    return key


def _atomic_write(path: str, payload: dict) -> None:
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, prefix="._w-")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


class RunState:
    """Sharded-manifest run state over a directory.

    Layout: ``<root>/_state.json`` is the atomically-replaced root
    pointer {version, entries: {key: generation}}; each key's state
    (pointer, previous_pointer, last_run, seen hashes, run_id) lives in
    its own immutable generation file under ``keys/``; each commit's
    lineage (metrics + data paths per key) is one record file under
    ``runs/``; ``pending/`` holds markers for data directories written
    ahead of their commit.
    """

    #: how long an unpublished version claim may sit before another
    #: driver treats its owner as crashed and reclaims it (the DynamoDB
    #: lease-recovery analog). A live writer publishes its root within
    #: milliseconds of claiming, so 300 s is generous. Claim age is
    #: measured in ONE clock domain — the filesystem server's — via a
    #: probe-file mtime (``_server_clock_age``), so inter-host wall
    #: clock skew does not erode the lease; the residual skew budget is
    #: the server's mtime granularity (~1 s on NFSv3, ns on v4/local),
    #: negligible against the 300 s TTL.
    stale_claim_ttl_s: float = 300.0

    def __init__(self, root: str):
        self.root = root
        self._keys_dir = os.path.join(root, "keys")
        self._runs_dir = os.path.join(root, "runs")
        self._pending_dir = os.path.join(root, "pending")
        for d in (root, self._keys_dir, self._runs_dir, self._pending_dir):
            os.makedirs(d, exist_ok=True)
        self._path = os.path.join(root, "_state.json")
        self._lock_path = os.path.join(root, "_state.lock")
        self._migrate_legacy()

    @contextlib.contextmanager
    def _exclusive(self):
        """Exclusive advisory lock across load -> replace, so two local
        committers cannot both read version N and silently lose one
        update (the reference's execution lock, grove/connectors/
        __init__.py:1067-1173, held only for the commit instant; the
        production analog is Iceberg's atomic swap on the catalog)."""
        if fcntl is None:  # pragma: no cover
            yield
            return
        with open(self._lock_path, "a+") as lk:
            fcntl.flock(lk.fileno(), fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lk.fileno(), fcntl.LOCK_UN)

    def _migrate_legacy(self) -> None:
        """Round-2 single-document manifests load transparently: shard
        entries into per-key generation files, preserve history order in
        one run record, then publish the v2 root."""
        if not os.path.exists(self._path):
            return
        with open(self._path) as f:
            doc = json.load(f)
        if doc.get("format") == 2:
            return
        with self._exclusive():
            with open(self._path) as f:
                doc = json.load(f)
            if doc.get("format") == 2:  # lost the migration race — done
                return
            v = max(int(doc.get("version", 0)), 1)
            entries = {}
            for key, entry in doc.get("entries", {}).items():
                _atomic_write(self._key_file(key, v), entry)
                entries[key] = v
            history = doc.get("history", [])
            if history:
                _atomic_write(self._run_file(v), {"records": history})
            _atomic_write(
                self._path, {"format": 2, "version": v, "entries": entries}
            )

    # -- layout ----------------------------------------------------------------

    def _key_file(self, key: str, gen: int) -> str:
        return os.path.join(
            self._keys_dir, f"{hashlib.md5(key.encode()).hexdigest()}-{gen}.json"
        )

    def _run_file(self, version: int) -> str:
        return os.path.join(self._runs_dir, f"{version:012d}.json")

    def _load_root(self) -> dict:
        if not os.path.exists(self._path):
            return {"format": 2, "version": 0, "entries": {}}
        with open(self._path) as f:
            return json.load(f)

    def _read_entry(self, key: str, root: Optional[dict] = None) -> Optional[dict]:
        root = root or self._load_root()
        gen = root["entries"].get(key)
        if gen is None:
            return None
        with open(self._key_file(key, gen)) as f:
            return json.load(f)

    def _run_files(self) -> List[tuple]:
        """(version, path) of every file under ``runs/``, in version
        order — the one walk of the run log. Foreign names are skipped;
        callers decide which versions to trust."""
        out: List[tuple] = []
        for p in _glob.glob(os.path.join(self._runs_dir, "*.json")):
            try:
                out.append((int(os.path.splitext(os.path.basename(p))[0]), p))
            except ValueError:  # pragma: no cover - foreign file
                continue
        return sorted(out)

    def _run_docs(
        self, root: Optional[dict] = None, as_of: Optional[int] = None
    ) -> List[tuple]:
        """(version, run file document) pairs in commit order. Only files
        whose version <= the root version are trusted — a crashed
        commit's run file is invisible until that version actually
        publishes. ``as_of`` caps the view at an older version (snapshot
        read)."""
        root = root or self._load_root()
        ceiling = root["version"] if as_of is None else min(as_of, root["version"])
        out: List[tuple] = []
        for v, p in self._run_files():
            if v > ceiling:
                break
            with open(p) as f:
                out.append((v, json.load(f)))
        return out

    def _run_records(
        self, root: Optional[dict] = None, as_of: Optional[int] = None
    ) -> List[dict]:
        """All committed run records in commit order."""
        return [r for _, r in self._run_records_versioned(root=root, as_of=as_of)]

    def _run_records_versioned(
        self, root: Optional[dict] = None, as_of: Optional[int] = None
    ) -> List[tuple]:
        """(version, record) pairs in commit order — the windowed view
        incremental readers need."""
        return [
            (v, r) for v, doc in self._run_docs(root=root, as_of=as_of)
            for r in doc["records"]
        ]

    def _load(self) -> dict:
        """Debug/compat view assembling the full state (the round-2
        single-document shape). O(total keys + history) — never used on
        the commit path."""
        root = self._load_root()
        return {
            "version": root["version"],
            "entries": {k: self._read_entry(k, root) for k in root["entries"]},
            "history": self._run_records(root),
        }

    # -- reads ---------------------------------------------------------------

    def version(self) -> int:
        """Snapshot version for optimistic concurrency (the Spark-era
        replacement for the reference's expiring execution lock,
        grove/connectors/__init__.py:1067-1173: instead of locking up
        front, a commit fails if another run committed in between —
        Iceberg's optimistic snapshot-commit model)."""
        return self._load_root()["version"]

    def get(self, key: str) -> dict | None:
        return self._read_entry(key)

    def pointer(self, key: str) -> Optional[str]:
        e = self.get(key)
        return e.get("pointer") if e else None

    def seen_hashes(self, key: str) -> Dict[str, list]:
        e = self.get(key)
        return (e or {}).get("seen", {})

    def last_run(self, key: str) -> Optional[float]:
        e = self.get(key)
        return e.get("last_run") if e else None

    def due(self, key: str, frequency_s: float, now: float | None = None) -> bool:
        """Scheduling check (reference due(), grove/connectors/__init__.py:160-200)."""
        last = self.last_run(key)
        now = time.time() if now is None else now
        return last is None or (now - last) >= frequency_s

    # -- pending data-path registry -------------------------------------------

    def _pending_marker(self, path: str) -> str:
        norm = os.path.normpath(path)
        return os.path.join(
            self._pending_dir, hashlib.md5(norm.encode()).hexdigest() + ".json"
        )

    def register_pending(self, path: str) -> None:
        """Declare a data directory about to be written for a future
        commit. The orphan GC skips pending paths, so a concurrent
        expire_runs can never delete an in-flight run's data between the
        write and its manifest publish (writers hold no lock during the
        write by design — the write is the long part)."""
        _atomic_write(
            self._pending_marker(path),
            {"path": os.path.normpath(path), "ts": time.time()},
        )

    def _pending_paths(self) -> Dict[str, float]:
        out: Dict[str, float] = {}
        for p in _glob.glob(os.path.join(self._pending_dir, "*.json")):
            try:
                with open(p) as f:
                    doc = json.load(f)
                out[doc["path"]] = doc.get("ts", 0.0)
            except (OSError, json.JSONDecodeError, KeyError):  # pragma: no cover
                continue
        return out

    def _clear_pending(self, paths) -> None:
        for p in paths:
            try:
                os.remove(self._pending_marker(p))
            except FileNotFoundError:
                pass

    # -- commits ---------------------------------------------------------------

    def new_run_id(self) -> str:
        return uuid.uuid4().hex[:16]

    def _claim_is_dead(self, path: str, v: int) -> bool:
        """True when an unpublished claim's owner is provably or
        presumably gone. Fast path: the claim records (host, pid) — on
        the SAME host a dead pid (or our own pid: a caught exception
        between claim and publish, now being retried) means the owner
        cannot publish, so reclaim is immediate; this restores prompt
        same-host crash-resume, which the TTL alone would stall for
        minutes. Cross-host the lease TTL is the only signal — the
        standard caveat of every TTL-lease store, including the
        reference's DynamoDB lock."""
        if self._load_root()["version"] >= v:
            return False  # published: not a claim anymore
        try:
            with open(path) as f:
                owner = json.load(f).get("claim") or {}
        except (OSError, json.JSONDecodeError):
            owner = {}  # partial write: fall through to the TTL
        import socket

        if owner.get("host") == socket.gethostname() and owner.get("pid"):
            pid = int(owner["pid"])
            if pid == os.getpid():
                return True  # our own abandoned claim
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                return True  # same host, owner process is gone
            except PermissionError:  # pragma: no cover - pid exists
                pass
            return False  # same host and alive: genuinely in flight
        try:
            age = self._server_clock_age(path)
        except OSError:
            return False  # vanished: someone else is handling it
        return age > self.stale_claim_ttl_s

    def _server_clock_age(self, path: str) -> float:
        """Age of ``path`` measured entirely in the FILESYSTEM's clock
        domain: touch a probe file next to it and compare the two
        mtimes. Comparing the claim's mtime (NFS server clock) against
        local time.time() would let inter-host clock skew silently
        erode — or extend — the lease: with skew S the effective TTL is
        ttl±S, and S > ttl reclaims a LIVE peer's claim. The probe
        costs one create+stat+unlink on the state dir per check; the
        residual error is only the server's own mtime granularity.
        Falls back to local-clock age if the probe cannot be written
        (read-only dir), preserving the old behavior there."""
        mtime = os.path.getmtime(path)  # raises OSError if vanished
        probe = os.path.join(
            self.root, f".clockprobe-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        try:
            with open(probe, "w"):
                pass
            return os.path.getmtime(probe) - mtime
        except OSError:  # pragma: no cover - unwritable state dir
            return time.time() - mtime
        finally:
            with contextlib.suppress(OSError):
                os.remove(probe)

    def _claim_version(self, v: int, payload: dict) -> None:
        """Conditionally create the run record for version ``v`` —
        O_CREAT|O_EXCL is the filesystem's native compare-and-set, so
        exactly one driver (across hosts sharing the state dir) wins.
        The record is fully written + fsync'd before the claim counts:
        readers only open run files at or below the published root
        version, so a partial write is never visible.

        Lease recovery: a claim whose owner is dead (same-host pid
        check) or older than ``stale_claim_ttl_s`` with its version
        never published is reclaimed — and the reclaim itself is
        serialized by an atomic RENAME of the stale file (exactly one
        reclaimer wins the rename; a remove-then-create pair would let
        a second reclaimer delete the first one's fresh claim)."""
        path = self._run_file(v)
        flags = os.O_CREAT | os.O_EXCL | os.O_WRONLY
        try:
            fd = os.open(path, flags, 0o644)
        except FileExistsError:
            if not self._claim_is_dead(path, v):
                raise _ClaimConflict from None
            trash = f"{path}.stale-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(path, trash)  # atomic: one reclaimer wins
            except FileNotFoundError:
                raise _ClaimConflict from None
            with contextlib.suppress(OSError):
                os.remove(trash)
            try:
                fd = os.open(path, flags, 0o644)
            except FileExistsError:  # a third driver re-claimed first
                raise _ClaimConflict from None
        import socket

        payload = dict(payload)
        payload["claim"] = {
            "host": socket.gethostname(), "pid": os.getpid(),
            "ts": time.time(),
        }
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())

    def commit(
        self,
        key: str,
        run_id: str,
        pointer: Optional[str] = None,
        seen: Optional[Dict[str, list]] = None,
        metrics: Optional[dict] = None,
        data_paths: Optional[list] = None,
        now: float | None = None,
        expected_version: Optional[int] = None,
        file_stats: Optional[Dict[str, dict]] = None,
        replaces: Optional[list] = None,
        rewrite_kind: Optional[str] = None,
    ) -> None:
        """Atomically publish a run: data paths + pointer + dedup state +
        metrics in ONE root replace. The Iceberg analog is one snapshot
        commit carrying summary properties.

        With ``expected_version`` the commit is conditional: it raises
        ConcurrentCommitError if another run committed since that
        version was read — the reference's ConcurrencyException outcome
        (tests/test_connectors_lock.py). The version check and the
        root replace happen under one exclusive file lock, so the
        check cannot be raced by another local committer."""
        self.commit_many(
            [
                {
                    "key": key,
                    "pointer": pointer,
                    "seen": seen,
                    "metrics": metrics,
                    "data_paths": data_paths,
                    "file_stats": file_stats,
                    "replaces": replaces,
                    "rewrite_kind": rewrite_kind,
                }
            ],
            run_id,
            now=now,
            expected_version=expected_version,
        )

    def commit_many(
        self,
        updates: List[dict],
        run_id: str,
        now: float | None = None,
        expected_version: Optional[int] = None,
    ) -> None:
        """Atomically publish ONE run covering many state keys (the fleet
        tick): every connector's pointer + seen + metrics land behind a
        single root replace — all-or-nothing, exactly like one Iceberg
        snapshot commit carrying the whole batch. Writes touch ONLY the
        updated keys' generation files + one run record + the root; cost
        is O(keys touched), independent of history length and of other
        keys' state size.

        Cross-DRIVER safety (the DynamoDB conditional-write analog,
        grove/caches/aws_dynamodb.py:24-57): the flock serializes
        committers on ONE host, but two drivers sharing a state dir over
        NFS/S3-fuse never see each other's advisory locks. The run
        record at the target version is therefore CLAIMED with
        O_CREAT|O_EXCL — a true conditional write on any POSIX
        filesystem — before any key generation is written; exactly one
        driver can own a version. A loser retries at the next version
        (unconditional commit) or raises ConcurrentCommitError
        (``expected_version`` set). A claim whose owner crashed before
        publishing its root is reclaimed after ``stale_claim_ttl_s``."""
        attempt = 0
        while True:
            try:
                self._commit_once(updates, run_id, now, expected_version)
                return
            except _ClaimConflict:
                if expected_version is not None:
                    raise ConcurrentCommitError(
                        "another driver claimed this version "
                        "(conditional-write conflict)"
                    ) from None
                attempt += 1
                if attempt >= 20:
                    raise ConcurrentCommitError(
                        "could not claim a version after 20 attempts"
                    ) from None
                time.sleep(0.005 * attempt)

    def _commit_once(
        self,
        updates: List[dict],
        run_id: str,
        now: float | None,
        expected_version: Optional[int],
    ) -> None:
        with self._exclusive():
            root = self._load_root()
            if expected_version is not None and root["version"] != expected_version:
                raise ConcurrentCommitError(
                    f"state moved from v{expected_version} to v{root['version']}"
                )
            v = root["version"] + 1
            records = []
            entries = []
            old_gens = []
            committed_paths = []
            # per-file pointer-column min/max collected by the WRITER
            # (one footer read per freshly-written file): downstream
            # consumers prune committed outputs from the manifest alone,
            # never re-opening footers — the Iceberg data-file stats
            # analog. Stored ONCE per run file, beside the records: a
            # fleet tick's members share one run dir and its stats
            file_stats: Dict[str, dict] = {}
            for u in updates:
                key = u["key"]
                prev = self._read_entry(key, root) or {}
                pointer = u.get("pointer")
                seen = u.get("seen")
                entries.append((key, {
                    "pointer": pointer if pointer is not None else prev.get("pointer"),
                    "previous_pointer": prev.get("pointer"),
                    "last_run": time.time() if now is None else now,
                    "seen": seen if seen is not None else prev.get("seen", {}),
                    "run_id": run_id,
                }))
                rec = {
                    "run_id": run_id,
                    "key": key,
                    "pointer": pointer,
                    "metrics": u.get("metrics") or {},
                    "data_paths": u.get("data_paths") or [],
                }
                file_stats.update(u.get("file_stats") or {})
                if u.get("replaces"):
                    # a REWRITE record (compaction/merge): the listed
                    # data dirs are superseded by this record's
                    # data_paths — readers stop seeing them the instant
                    # this commit publishes (snapshot semantics),
                    # retention reclaims them later. rewrite_kind tells
                    # incremental readers whether the rewrite changed
                    # history ("mutation") or only layout ("compaction")
                    rec["replaces"] = [os.path.normpath(p) for p in u["replaces"]]
                    rec["rewrite_kind"] = u.get("rewrite_kind") or "unspecified"
                records.append(rec)
                committed_paths += u.get("data_paths") or []
            # conditional write FIRST: only the claim winner may touch
            # key generations at this version (otherwise two cross-host
            # drivers interleave generation overwrites)
            doc: Dict[str, Any] = {"records": records}
            if file_stats:
                doc["file_stats"] = file_stats
            self._claim_version(v, doc)
            for key, entry in entries:
                _atomic_write(self._key_file(key, v), entry)
                old_gens.append((key, root["entries"].get(key)))
                root["entries"][key] = v
            root["version"] = v
            _atomic_write(self._path, root)  # the atomic "snapshot commit"
            # post-publish housekeeping: superseded generations (keep the
            # immediately-previous one for readers that raced the root
            # swap) and pending markers for now-committed data dirs
            for key, g in old_gens:
                if g is None:
                    continue
                for stale in _glob.glob(
                    self._key_file(key, 0).replace("-0.json", "-*.json")
                ):
                    try:
                        sg = int(stale.rsplit("-", 1)[1][:-5])
                    except ValueError:  # pragma: no cover
                        continue
                    if sg < g:
                        with contextlib.suppress(FileNotFoundError):
                            os.remove(stale)
            self._clear_pending(committed_paths)

    def _above_root_data_paths(self, root_version: int) -> set:
        """Data paths referenced by run files ABOVE a root snapshot —
        cross-host commits (claimed or published) this scan's snapshot
        never saw. Normpath'd for orphan comparison."""
        refs: set = set()
        for fv, p in self._run_files():
            if fv <= root_version:
                continue
            try:
                with open(p) as f:
                    for r in json.load(f).get("records", []):
                        for dp in r.get("data_paths") or []:
                            refs.add(os.path.normpath(dp))
            except (OSError, ValueError):  # raced reclaim / partial
                continue
        return refs

    def _acquire_retention_lease(self) -> bool:
        """O_CREAT|O_EXCL lease serializing retention passes ACROSS
        hosts (the flock only covers this host). Returns False when a
        live peer owns the lease; a dead owner's lease (same-host pid
        check, else server-clock TTL) is reclaimed via the same atomic
        rename used for version claims. A pass longer than
        ``stale_claim_ttl_s`` can in principle be reclaimed mid-pass —
        the standard lease caveat; the pass is file metadata only and
        finishes in seconds."""
        import socket

        path = os.path.join(self.root, "_retention.claim")
        payload = json.dumps(
            {"host": socket.gethostname(), "pid": os.getpid(), "ts": time.time()}
        )
        flags = os.O_CREAT | os.O_EXCL | os.O_WRONLY
        for _ in range(2):
            try:
                fd = os.open(path, flags, 0o644)
            except FileExistsError:
                try:
                    with open(path) as f:
                        owner = json.load(f)
                except (OSError, json.JSONDecodeError):
                    owner = {}
                dead = False
                if owner.get("host") == socket.gethostname() and owner.get("pid"):
                    try:
                        os.kill(int(owner["pid"]), 0)
                    except ProcessLookupError:
                        dead = True
                    except PermissionError:  # pragma: no cover
                        pass
                else:
                    try:
                        dead = self._server_clock_age(path) > self.stale_claim_ttl_s
                    except OSError:
                        continue  # vanished: retry the create
                if not dead:
                    return False
                trash = f"{path}.stale-{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(path, trash)  # atomic: one reclaimer wins
                except FileNotFoundError:
                    continue  # lost the reclaim race: retry the create
                with contextlib.suppress(OSError):
                    os.remove(trash)
                continue
            with os.fdopen(fd, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            return True
        return False

    def _release_retention_lease(self) -> None:
        """Remove the lease only if WE still own it. A pass that stalled
        past stale_claim_ttl_s may have had its lease reclaimed (renamed
        away + re-created) by another host; removing unconditionally
        would delete the reclaimer's LIVE lease and let a third pass run
        concurrently with it. Read-then-remove leaves a microseconds
        TOCTOU (reclaim landing between the read and the remove), vs the
        minutes-wide stall window the ownership check closes; the
        reclaim path itself stays atomic (rename)."""
        import socket

        path = os.path.join(self.root, "_retention.claim")
        with contextlib.suppress(OSError, json.JSONDecodeError):
            with open(path) as f:
                owner = json.load(f)
            if (
                owner.get("host") == socket.gethostname()
                and owner.get("pid") == os.getpid()
            ):
                os.remove(path)

    def expire_runs(
        self,
        keep_last: int = 100,
        delete_orphans_under: Optional[str] = None,
        dry_run: bool = False,
        orphan_grace_s: float = 0.0,
        pending_ttl_s: float = 86_400.0,
    ) -> dict:
        """Retention — the Iceberg ``expire_snapshots`` analog.

        Trims history to the newest ``keep_last`` records per state key
        (entries/pointers are untouched — resume state never expires) and
        deletes the DATA directories referenced ONLY by expired records.
        With ``delete_orphans_under`` it also removes ``part-*`` dirs in
        that root that no manifested run ever referenced (the residue of
        crashed runs — invisible to readers, but they hold disk), EXCEPT
        dirs registered as pending by an in-flight writer
        (register_pending) or younger than ``orphan_grace_s`` (mtime) —
        either guard closes the race where a writer's pre-commit data
        dir looked like an orphan. Paths are normpath-compared so a
        trailing slash can't make every committed dir look orphaned.

        Pending markers themselves retire when their path commits or
        after ``pending_ttl_s`` (a crashed writer's marker must not
        shield its residue forever) — but a TTL-expired path is only
        reclaimed once its directory has also been QUIET for a full TTL
        (mtime), so a legitimate write slower than the TTL, which keeps
        landing task files, stays protected while genuinely crashed
        residue goes stale and is collected. A young marker is NEVER
        dropped merely because its directory does not exist yet:
        registration happens before the write, so the dir-missing window
        is exactly when protection matters.

        Runs under the commit lock so a same-host committer can't
        publish between the read and the rewrite. Cross-HOST committers
        (invisible to the flock) are fenced three ways: their claimed /
        published run files above this scan's root snapshot shield
        their data dirs from the orphan sweep, a final
        pending-then-claims re-read immediately before deletion closes
        the windows the long scan opens (a dir in the candidate set is
        protected by its marker until its claim is visible — the
        marker→claim handoff always leaves one of the two reads
        covering it), and the version bump is conditional (O_EXCL
        claim), skipped on conflict.
        Returns {expired_records, deleted_dirs, orphans_deleted}; a
        mutating pass that finds another host's LIVE retention lease
        returns immediately with ``skipped`` set (two concurrent passes
        would rewrite the same historical run files last-write-wins —
        trims could un-apply for a cycle)."""
        import shutil

        if not dry_run and not self._acquire_retention_lease():
            return {
                "expired_records": 0,
                "deleted_dirs": [],
                "orphans_deleted": [],
                "skipped": "another retention pass holds the lease",
            }
        try:
            return self._expire_runs_locked(
                keep_last, delete_orphans_under, dry_run,
                orphan_grace_s, pending_ttl_s, shutil,
            )
        finally:
            if not dry_run:
                self._release_retention_lease()

    def _expire_runs_locked(
        self, keep_last, delete_orphans_under, dry_run,
        orphan_grace_s, pending_ttl_s, shutil,
    ) -> dict:
        with self._exclusive():
            root = self._load_root()
            per_file = self._run_records_versioned(root=root)
            per_key: Dict[str, list] = {}
            for i, (_, h) in enumerate(per_file):
                per_key.setdefault(h["key"], []).append(i)
            keep_idx = set()
            for idxs in per_key.values():
                keep_idx.update(idxs[-keep_last:])
            # retention coupling for REWRITE records: a compaction
            # record's bucket (__compaction__.*) expires on its own
            # cadence, but the snapshot invariant ("old dirs XOR the
            # compacted dir") only holds while the rewrite survives —
            # expiring it while any record it REPLACES is still kept
            # would resurrect long-deleted original dirs AND delete the
            # only surviving copy of the data. Force-keep every rewrite
            # whose replaced paths are still referenced by a kept
            # record, to a fixpoint (rewrites chain when compacted dirs
            # are re-compacted).
            norm = os.path.normpath
            while True:
                kept_data = {
                    norm(p)
                    for i, (_, h) in enumerate(per_file)
                    if i in keep_idx
                    for p in h["data_paths"]
                }
                grew = False
                for i, (_, h) in enumerate(per_file):
                    if i in keep_idx or not h.get("replaces"):
                        continue
                    if any(norm(p) in kept_data for p in h["replaces"]):
                        keep_idx.add(i)
                        grew = True
                if not grew:
                    break
            keep = [(v, h) for i, (v, h) in enumerate(per_file) if i in keep_idx]
            expired = [h for i, (_, h) in enumerate(per_file) if i not in keep_idx]
            # dirs superseded by a rewrite record are dead for readers
            # regardless of their original record's retention bucket —
            # retention is the reader barrier that finally reclaims them
            # (Iceberg: compacted files linger until expire_snapshots)
            replaced = {
                norm(p) for _, h in per_file for p in (h.get("replaces") or [])
            }
            kept_paths = {
                norm(p) for _, h in keep for p in h["data_paths"]
            } - replaced
            dead_norm = (
                {norm(p) for h in expired for p in h["data_paths"]} | replaced
            ) - kept_paths
            all_referenced = {
                norm(p) for _, h in per_file for p in h["data_paths"]
            }
            now = time.time()
            pending = self._pending_paths()
            live_pending = {
                p for p, ts in pending.items() if now - ts < pending_ttl_s
            }
            expired_pending = set(pending) - live_pending
            # cross-host guard: a committer that claimed or published a
            # version ABOVE the root snapshot this scan loaded has run
            # records the scan never saw — its data dirs must not look
            # like orphans. Read ORDER closes the race: pending markers
            # were read first (above), claims second (here); a committer
            # clears its marker only after its claim file is visible, so
            # every committed dir is covered by at least one of the two
            # reads. Dead claims' dirs get one cycle of shelter; the
            # claim itself is swept below, so the NEXT retention pass
            # collects them as ordinary orphans.
            above_root_refs = self._above_root_data_paths(root["version"])
            orphans = set()
            deletable_markers = set()
            if delete_orphans_under:
                cutoff = now - orphan_grace_s
                for d in _glob.glob(os.path.join(delete_orphans_under, "part-*")):
                    nd = norm(d)
                    if (nd in all_referenced or nd in live_pending
                            or nd in above_root_refs):
                        continue
                    # a TTL-expired marker usually means a crashed writer
                    # — but a write can legitimately run longer than the
                    # TTL, and an ACTIVE Spark write keeps touching the
                    # directory (task files land continuously). Require
                    # the dir itself to have been quiet for a full TTL
                    # before reclaiming: crashed residue goes stale,
                    # slow-but-alive writes stay protected.
                    min_quiet = (
                        max(orphan_grace_s, pending_ttl_s)
                        if nd in expired_pending else orphan_grace_s
                    )
                    try:
                        if os.path.getmtime(d) > now - min_quiet:
                            continue
                    except OSError:  # pragma: no cover - raced deletion
                        continue
                    orphans.add(nd)
                    if nd in expired_pending:
                        deletable_markers.add(nd)
            if not dry_run:
                # FINAL recheck before anything is destroyed: re-read
                # pending markers, then above-root claims (same order —
                # the ordering argument repeats). This closes the
                # pre-claim window too: a candidate dir existed at glob
                # time, so its writer registered BEFORE the glob; if the
                # marker is gone by this re-read the writer must have
                # cleared it post-commit, and its claim file is
                # therefore visible to the second read. A marker
                # TTL-expired at the first read stays expired here
                # (crashed-writer path, quiet-mtime rule already
                # applied), so residue collection is unaffected.
                if orphans:
                    fresh_pending = self._pending_paths()
                    fresh_protect = {
                        p for p, ts in fresh_pending.items()
                        if time.time() - ts < pending_ttl_s
                    } | self._above_root_data_paths(root["version"])
                    orphans -= fresh_protect
                    deletable_markers &= orphans
                # marker housekeeping: committed paths are protected by
                # history; an expired marker is dropped only once its
                # directory is reclaimed (or never existed AND the TTL
                # passed — a registration whose write never started).
                # A young marker with a missing dir is an in-flight
                # writer BEFORE its write — keep it.
                for pp, ts in pending.items():
                    if pp in all_referenced or pp in deletable_markers or (
                        pp in expired_pending and not os.path.exists(pp)
                    ):
                        self._clear_pending([pp])
                # ghost run/key files at versions ABOVE the committed root
                # are crashed commits' residue. The version bump below
                # must not make them visible (a resurrected run record
                # breaks is_committed idempotence and exposes
                # never-published data paths) — delete them first. BUT
                # under the cross-driver claim protocol an above-root run
                # file may be another LIVE driver's just-claimed version
                # (the flock is invisible over NFS): only dead claims
                # (same-host pid check / lease TTL) are swept; a live
                # claim also blocks the version bump below from landing
                # on it.
                live_claims = set()
                for v, p in self._run_files():
                    if v > root["version"]:
                        if self._claim_is_dead(p, v):
                            with contextlib.suppress(FileNotFoundError):
                                os.remove(p)
                        else:
                            live_claims.add(v)
                # key-generation sweep (ADVICE r3): ghosts are not only
                # files ABOVE the root version — once later commits
                # advance the counter past a crashed commit's generation,
                # that file sits below the version yet referenced by
                # nothing, and commit_many's stale pass (sg < previous
                # gen of a TOUCHED key) never revisits rarely-touched
                # keys. Authoritative rule: for every key hash keep the
                # root-referenced generation plus the single
                # immediately-previous one (reader grace across the root
                # swap, same as commit_many); everything else — ghosts
                # above, ghosts below, hashes the root never references
                # (a crashed FIRST commit) — is residue. Safe under the
                # exclusive lock: no commit can be mid-flight.
                ref_by_hash = {
                    hashlib.md5(k.encode()).hexdigest(): g
                    for k, g in root["entries"].items()
                }
                gens_by_hash: Dict[str, list] = {}
                for p in _glob.glob(os.path.join(self._keys_dir, "*-*.json")):
                    name = os.path.basename(p)[:-5]
                    h, _, gs = name.rpartition("-")
                    try:
                        g = int(gs)
                    except ValueError:  # pragma: no cover
                        continue
                    gens_by_hash.setdefault(h, []).append((g, p))
                # cross-host guard (same ordering argument as the data-
                # dir sweep): a committer claims its version BEFORE
                # writing key generation files, so a claims re-read
                # taken AFTER the keys glob covers every in-flight
                # generation the glob saw. The `live_claims` snapshot
                # above predates the glob — a commit claimed in between
                # would have its generations deleted and its published
                # root would then reference missing files. Protect every
                # above-root version visible NOW; dead ones get one
                # cycle of shelter and are collected next pass.
                live_claims.update(
                    fv for fv, _ in self._run_files() if fv > root["version"]
                )
                for h, lst in gens_by_hash.items():
                    r = ref_by_hash.get(h)
                    prev = (
                        max((g for g, _ in lst if g < r), default=None)
                        if r is not None else None
                    )
                    for g, p in lst:
                        if r is not None and (g == r or g == prev):
                            continue
                        if g in live_claims:
                            # a live cross-host writer's in-flight
                            # generation — its claim survived the sweep
                            continue
                        with contextlib.suppress(FileNotFoundError):
                            os.remove(p)
                for p in sorted(dead_norm | orphans):
                    shutil.rmtree(p, ignore_errors=True)
                # rewrite only run files that lost records; drop empties
                by_version: Dict[int, list] = {}
                for v, h in keep:
                    by_version.setdefault(v, []).append(h)
                for v, p in self._run_files():
                    if v > root["version"]:
                        continue
                    new_records = by_version.get(v, [])
                    with open(p) as f:
                        doc = json.load(f)
                    if doc["records"] == new_records:
                        continue
                    if new_records:
                        kept_doc = {"records": new_records}
                        if "file_stats" in doc:
                            # the run's file stats stay while any of
                            # its records survives
                            kept_doc["file_stats"] = doc["file_stats"]
                        _atomic_write(p, kept_doc)
                    else:
                        os.remove(p)
                # the retention pass consumes a version, CLAIMED like
                # any commit. It must never bump PAST a live in-flight
                # claim (publishing a root at/above that version would
                # make the claimant's still-unpublished records visible
                # — resurrection), so on conflict the bump is simply
                # skipped: retention already removed the dead residue,
                # and the fencing the bump provides is unnecessary while
                # a live writer owns the next version. The claim protocol
                # serializes the root writes themselves (the bump lands
                # only when retention owns stale_version+1, which proves
                # no commit published since the snapshot; committers can
                # only claim read_version+1, so they wait behind a
                # published root). Concurrent retention passes from
                # DIFFERENT hosts are serialized by the O_EXCL
                # _retention.claim lease (expire_runs returns `skipped`
                # when a live peer owns it), so historical run files are
                # rewritten by at most one pass at a time.
                v = root["version"] + 1
                try:
                    self._claim_version(v, {"records": []})
                except _ClaimConflict:
                    pass
                else:
                    root["version"] = v
                    _atomic_write(self._path, root)
        return {
            "expired_records": len(expired),
            "deleted_dirs": sorted(dead_norm),
            "orphans_deleted": sorted(orphans),
        }

    def committed(self, as_of: Optional[int] = None) -> tuple:
        """``(paths, file_stats)`` of the manifest, from one pass over
        the run log.

        ``paths`` is every data path any manifested run published — what
        a reader may consume. Orphan part-dirs from crashed runs are
        invisible, and dirs SUPERSEDED by a later rewrite record
        (compaction) drop out the instant the rewrite publishes.
        ``file_stats`` is the writer-recorded per-file pointer stats of
        every run (later runs win on a rewritten path).

        ``as_of`` is the TIME-TRAVEL read (Iceberg snapshot-id scan):
        the manifest as of that root version — a rewrite committed after
        it does not hide the original dirs, which is why retention (not
        the rewrite) deletes them. Versions older than what
        ``expire_runs`` has already trimmed are a best-effort view, the
        same contract as expired Iceberg snapshots."""
        published: Dict[str, None] = {}  # ordered set
        replaced = set()
        file_stats: Dict[str, dict] = {}
        for _, doc in self._run_docs(as_of=as_of):
            for h in doc["records"]:
                replaced.update(os.path.normpath(p) for p in h.get("replaces") or [])
                # fleet runs share one dir across connectors
                published.update(dict.fromkeys(h["data_paths"]))
                # manifests written before the run file held the
                # stats once keep them per record
                file_stats.update(h.get("file_stats") or {})
            file_stats.update(doc.get("file_stats") or {})
        paths = [p for p in published if os.path.normpath(p) not in replaced]
        return paths, file_stats

    def committed_paths(self, as_of: Optional[int] = None) -> list:
        """The data paths of ``committed``."""
        return self.committed(as_of=as_of)[0]

    def incremental_paths(
        self, since_version: int, as_of: Optional[int] = None
    ) -> dict:
        """Iceberg incremental-append-scan analog: what landed in
        versions (``since_version``, ``as_of``] — the contract a
        downstream consumer ("train only on data I haven't seen") needs.

        Returns ``{"appended": [...], "compactions": [...],
        "mutations": [...], "version": ceiling}``:

        * ``appended`` — data dirs published by APPEND commits in the
          window, in commit order. Dirs a rewrite later replaced are
          still listed: the bytes were new in the window, and replaced
          dirs linger on disk until ``expire_runs`` (the reader
          barrier) — consume incrementals before retention runs.
        * ``compactions`` — run ids of data-NEUTRAL rewrites
          (compact_runs) in the window; safe for an incremental
          consumer to skip entirely (same rows, new layout).
        * ``mutations`` — run ids of history-CHANGING rewrites
          (merge_into upserts/deletes) in the window. An incremental
          consumer cannot express these as appends; readers should
          refuse or explicitly acknowledge them
          (sources/scans.py incremental_append_scan).
        """
        # ONE root load feeds both the record window and the returned
        # checkpoint: reading the version separately would let a commit
        # landing in between yield a checkpoint HIGHER than the records
        # enumerated — the consumer would skip that commit's rows forever
        root = self._load_root()
        records = self._run_records_versioned(root=root, as_of=as_of)
        ceiling = (
            root["version"] if as_of is None else min(as_of, root["version"])
        )
        appended: list = []
        compactions: list = []
        mutations: list = []
        for v, rec in records:
            if v <= since_version:
                continue
            if rec.get("replaces"):
                # explicit kind field on the record; anything else —
                # including legacy records without one — is treated as
                # history-changing (conservative: loud refusal over a
                # silently skipped rewrite)
                kind = rec.get("rewrite_kind")
                (compactions if kind == "compaction" else mutations).append(
                    rec["run_id"]
                )
                continue
            for p in rec.get("data_paths") or []:
                if p not in appended:
                    appended.append(p)
        return {
            "appended": appended,
            "compactions": compactions,
            "mutations": mutations,
            "version": ceiling,
        }

    def is_committed(self, run_id: str) -> bool:
        return any(h["run_id"] == run_id for h in self._run_records())

    def run_record(self, run_id: str) -> Optional[dict]:
        """The manifested run record for ``run_id`` (pointer, metrics,
        data_paths, file_stats) — the public surface for reading a
        run's telemetry; consumers never touch the manifest layout."""
        for _, doc in self._run_docs():
            for h in doc["records"]:
                if h["run_id"] == run_id:
                    if h["data_paths"] and doc.get("file_stats"):
                        return {**h, "file_stats": doc["file_stats"]}
                    return h
        return None
