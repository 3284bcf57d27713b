"""File-level min/max pruning for incremental scans (SURVEY §2.1 S6).

The reference pages through an API with a cursor, so "skip what we
already ingested" is free. A lake-resident source makes that a FILE
LISTING problem: at 100 TB a watermark that only reaches the parquet
reader's row-group PushedFilters still has to LIST and OPEN every file
to look at its footer — per-file min/max pruning at PLAN time is the
difference between touching the boundary few files and touching all of
them. Iceberg solves this with manifest-resident column stats; no
Iceberg jar ships in this sandbox, so this module is the same idea
built from scratch:

* ``parquet_file_stats`` — one footer read per file (metadata only,
  never data pages) aggregating row-group min/max for a column.
* ``FileStatsCache`` — a JSON sidecar keyed by (path, mtime, size):
  only NEW or REWRITTEN files pay a footer read on the next run, which
  is exactly the incremental cost profile of an Iceberg snapshot scan.
* ``prune_files`` — the planner: keep a file iff its [min, max] range
  can intersect ``(watermark, ceiling]``; files lacking stats are kept
  conservatively.

The row-level predicate stays on the scan regardless — file pruning is
coarse (a kept file still contains pre-watermark rows) and the pruned
listing must never change query RESULTS, only query COST.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import tempfile
import urllib.parse
from typing import Dict, List, Optional, Tuple


def _to_comparable(v, kind: str):
    """Normalize a stats/watermark value into the column's native
    ordering (the same contract as dedup.watermark_literal: numeric
    pointers order numerically, never as strings)."""
    if v is None:
        return None
    if kind == "num":
        return float(v)
    if kind == "ts":
        if isinstance(v, dt.datetime):
            return v.replace(tzinfo=None)
        if isinstance(v, dt.date):
            return dt.datetime(v.year, v.month, v.day)
        s = str(v).replace("T", " ").removesuffix("Z")
        return dt.datetime.fromisoformat(s)
    return str(v)


def _stat_kind(pa_type) -> str:
    import pyarrow as pa

    if pa.types.is_timestamp(pa_type) or pa.types.is_date(pa_type):
        return "ts"
    if pa.types.is_integer(pa_type) or pa.types.is_floating(pa_type) or (
        hasattr(pa.types, "is_decimal") and pa.types.is_decimal(pa_type)
    ):
        return "num"
    return "str"


def _ser(v, kind: str):
    """JSON-safe form of a comparable value (ISO for timestamps)."""
    if v is None:
        return None
    if kind == "ts":
        return v.isoformat(sep=" ")
    if kind == "num":
        return float(v)
    return str(v)


def parquet_file_stats(files: List[str], col: str) -> Dict[str, dict]:
    """Per-file {min, max, kind, rows, col} for ``col`` from parquet
    FOOTERS (pyarrow metadata — no data pages are read). ``col`` tags
    the column the range describes: a reader pruning on another column
    must treat the entry as stat-less. A file whose footer lacks
    statistics for the column maps to {min: None, max: None}: the
    pruner must keep it."""
    import pyarrow.parquet as pq

    out: Dict[str, dict] = {}
    for path in files:
        md = pq.ParquetFile(path).metadata
        idx = None
        kind = "str"
        schema = md.schema.to_arrow_schema()
        for i, name in enumerate(schema.names):
            if name == col:
                idx = i
                kind = _stat_kind(schema.types[i])
                break
        lo = hi = None
        if idx is not None:
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                mn = _to_comparable(st.min, kind)
                mx = _to_comparable(st.max, kind)
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        out[path] = {
            "min": _ser(lo, kind),
            "max": _ser(hi, kind),
            "kind": kind,
            "rows": md.num_rows,
            "col": col,
        }
    return out


def _list_parquet(path: str) -> List[str]:
    """Data files under a LOCAL path. A URI (``file://``, ``s3a://``)
    raises: listing it with os calls would find nothing, and an empty
    listing silently drops data from pruned scans and commits."""
    if urllib.parse.urlparse(path).scheme:
        raise ValueError(
            f"{path!r} is a URI; data files are listed from local paths only"
        )
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                out.append(os.path.join(root, n))
    return sorted(out)


class FileStatsCache:
    """Incremental footer-stats store — one JSON document per (source
    dir, column), entries keyed by file path and invalidated by
    (mtime, size). Only files NOT seen by a previous run pay a footer
    read: the steady-state cost of a resumed scan over an append-only
    lake directory is O(new files), the Iceberg-manifest cost model."""

    def __init__(self, cache_dir: str):
        self.dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def _doc_path(self, source: str, col: str) -> str:
        h = hashlib.md5(f"{os.path.normpath(source)}::{col}".encode()).hexdigest()
        return os.path.join(self.dir, f"stats-{h}.json")

    def stats_for(self, source: str, col: str) -> Dict[str, dict]:
        """Footer stats for every parquet file under ``source``,
        refreshing only new/changed entries, then persisting the doc."""
        doc_path = self._doc_path(source, col)
        cached: Dict[str, dict] = {}
        if os.path.exists(doc_path):
            try:
                with open(doc_path) as f:
                    cached = json.load(f)
            except (OSError, json.JSONDecodeError):  # pragma: no cover
                cached = {}
        files = _list_parquet(source)
        fresh: Dict[str, dict] = {}
        missing: List[str] = []
        for p in files:
            st = os.stat(p)
            ent = cached.get(p)
            if ent and ent.get("mtime") == st.st_mtime and ent.get("size") == st.st_size:
                fresh[p] = ent
            else:
                missing.append(p)
        if missing:
            for p, stats in parquet_file_stats(missing, col).items():
                st = os.stat(p)
                fresh[p] = {**stats, "mtime": st.st_mtime, "size": st.st_size}
        if fresh != cached:
            fd, tmp = tempfile.mkstemp(dir=self.dir, prefix="._w-")
            with os.fdopen(fd, "w") as f:
                json.dump(fresh, f)
            os.replace(tmp, doc_path)
        return fresh


def prune_files(
    source: str,
    col: str,
    watermark,
    inclusive: bool = False,
    ceiling=None,
    cache: Optional[FileStatsCache] = None,
    stats: Optional[Dict[str, dict]] = None,
) -> Tuple[List[str], int]:
    """(files whose [min, max] can contain rows past the watermark and
    at/below the ceiling, total file count). ``stats`` short-circuits
    listing+footers (manifest-recorded stats from the writer);
    otherwise ``cache`` keeps footer reads incremental. Stat-less files
    are kept — pruning is an optimization, never a filter."""
    if stats is None:
        if cache is not None:
            stats = cache.stats_for(source, col)
        else:
            files = _list_parquet(source)
            stats = parquet_file_stats(files, col)
    kept = []
    for path in sorted(stats):
        ent = stats[path]
        hi, lo, kind = ent.get("max"), ent.get("min"), ent.get("kind", "str")
        if hi is None or lo is None:
            kept.append(path)
            continue
        hi_c, lo_c = _to_comparable(hi, kind), _to_comparable(lo, kind)
        if watermark is not None:
            wm = _to_comparable(watermark, kind)
            if (hi_c < wm) if inclusive else (hi_c <= wm):
                continue
        if ceiling is not None and lo_c > _to_comparable(ceiling, kind):
            continue
        kept.append(path)
    return kept, len(stats)
