"""Small-file compaction over committed run outputs — the Iceberg
``rewrite_data_files`` analog for the run-state manifest.

Every incremental run writes its own ``part-<run_id>`` directory; at a
5-minute fleet cadence that is ~100k directories/year of mostly-small
files, and at 100 TB the *file count* — not the bytes — becomes the
scan bottleneck (one task + one open per file; driver-side listing
cost; footer reads). Compaction rewrites a set of committed run dirs
into one well-sized dir and commits the swap ATOMICALLY as a rewrite
record: ``data_paths`` carries the new dir, ``replaces`` the old ones.

Reader contract (snapshot semantics, all enforced by RunState):

* before the commit publishes, readers see only the old dirs (the new
  dir is registered pending — the orphan GC cannot reap it mid-write);
* the instant the commit publishes, ``committed_paths``/``manifest_scan``
  see only the new dir — never both, never neither;
* the old dirs stay on disk (a reader that listed before the swap may
  still be scanning them) until the next ``expire_runs``, which is the
  reader barrier that reclaims superseded dirs — exactly Iceberg's
  "compacted files linger until expire_snapshots".

The rewrite itself preserves the hive partition layout
(descriptor/connector/date) and re-collects per-file pointer stats into
the manifest, so file-level pruning keeps working over the compacted
output.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

from grove_spark.state.runstate import RunState


def compact_runs(
    spark: SparkSession,
    state: RunState,
    out_path: str,
    pointer_col: str = "event_time",
    small_file_bytes: int = 8 * 1024 * 1024,
    min_dirs: int = 2,
    max_records_per_file: int = 1_000_000,
    connector_key: str = "fleet",
    sort_within: Optional[list] = None,
) -> Optional[dict]:
    """Rewrite committed run dirs whose files are all small into ONE
    partitioned dir, committed as an atomic rewrite record.

    A dir is a candidate when every data file in it is under
    ``small_file_bytes`` (a dir with even one right-sized file is
    already fine — rewriting it would churn bytes for nothing). Needs
    at least ``min_dirs`` candidates to be worth a rewrite. The
    candidates are read like every other committed-store reader
    (``sources/scans.read_runs``): a column only later runs wrote is
    kept, null in the rows of earlier runs. Returns the compaction
    metrics, or None when there is nothing to do.

    ``sort_within`` (e.g. ``["event_time"]``) range-clusters the
    rewrite by those columns. The hive ``date`` partitioning already
    bounds each file to one day; what the sort adds is (a) FEWER,
    larger files — one range task writes each date instead of every
    shuffled task opening every date's directory — and (b) tighter
    intra-day min/max under ``maxRecordsPerFile`` splits, since a
    sorted task stream cuts into consecutive sub-day ranges. One extra
    shuffle, paid once at rewrite."""
    from grove_spark.operators.sinks import write_partitioned_parquet, write_run
    from grove_spark.sources.file_stats import _list_parquet
    from grove_spark.sources.scans import read_runs

    base_version = state.version()
    candidates = []
    files_before = 0
    bytes_before = 0
    root = os.path.normpath(out_path)
    for d in state.committed_paths():
        # scope: only dirs under THIS output root — a manifest shared
        # with other sinks must not have their (differently-shaped)
        # outputs unioned into this root's hive layout
        if not os.path.normpath(d).startswith(root + os.sep):
            continue
        files = _list_parquet(d)
        if not files:
            continue
        sizes = [os.path.getsize(f) for f in files]
        if max(sizes) >= small_file_bytes:
            continue
        candidates.append(d)
        files_before += len(files)
        bytes_before += sum(sizes)
    if len(candidates) < min_dirs:
        return None

    df = read_runs(spark, sorted(candidates))
    # the partitioned writer re-derives `date` from event_time; the read
    # materialized it as a partition column — drop to avoid a duplicate
    if "date" in df.columns:
        df = df.drop("date")

    if sort_within:
        # range-cluster ACROSS tasks; the writer does the intra-task
        # sort (with the hive partition columns prefixed, so its
        # dynamic-partition sort requirement doesn't re-shuffle the
        # order away) — see the docstring for what this buys beyond
        # the hive date bounds
        n = max(2, spark.sparkContext.defaultParallelism)
        df = df.repartitionByRange(n, *sort_within)

    run_id = state.new_run_id()
    new_dir = os.path.normpath(f"{out_path}/part-compact-{run_id}")
    data_paths, out_stats = write_run(
        state, new_dir,
        lambda d: write_partitioned_parquet(
            df, d, max_records_per_file=max_records_per_file,
            sort_within=sort_within,
        ),
        pointer_col,
    )

    # bloom coverage never silently decays through a rewrite: any key
    # column that had a sidecar on a replaced dir gets one on the
    # compacted dir (same rule as merge_into's rebuild)
    import glob as _glob
    import re as _re

    bloom_cols = sorted({
        m.group(1)
        for d in candidates
        for f in _glob.glob(os.path.join(d, "_key_bloom_*.bin"))
        if (m := _re.match(r"_key_bloom_(.+)\.bin$", os.path.basename(f)))
    })
    for col in bloom_cols:
        from grove_spark.sources.bloom import build_key_bloom

        build_key_bloom(spark, new_dir, col, fpr=1e-6)

    state.commit(
        f"__compaction__.{connector_key}", run_id,
        metrics={
            "compaction": {
                "dirs_replaced": len(candidates),
                "files_before": files_before,
                "files_after": len(out_stats),
                "bytes_before": bytes_before,
                "bytes_after": sum(os.path.getsize(f) for f in out_stats),
            }
        },
        data_paths=data_paths,
        file_stats=out_stats,
        replaces=sorted(candidates),
        rewrite_kind="compaction",  # data-neutral: incremental readers skip it
        expected_version=base_version,
    )
    return {
        "run_id": run_id,
        "new_dir": new_dir,
        "replaced": sorted(candidates),
        "files_before": files_before,
        "files_after": len(out_stats),
    }
