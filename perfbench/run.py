"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from the
seed (before the set-up clock starts), starts one Spark session at
``local[<cpus>]``, runs a fixed number of warm-up ops, then times closed-loop
ops (one client: this process) until ``--seconds`` have passed and at least
two ops completed. Every op's outputs are checked without Spark.

With ``--trace 0`` the last stdout line is one JSON object holding the
end-to-end metrics. With ``--trace 1`` Spark's event log is on, ops alternate
untraced and traced, first and last untraced (traced: spans around calls
into grove_spark, see trace.py), and the JSON holds the per-layer metrics; a
traced fleet_tail run also runs one traced curate op for the curation
layers. All outputs, state, Spark local dirs
and event logs live under ``.perfbench_work/`` in the checkout and are
deleted on exit. The exit code is non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# each run pays ~25 s of cold JVM before its first timed op; two timed ops
# keep 4 + 22 x 2 runs well inside the time the whole benchmark may take
MIN_OPS = 2

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_row": "B",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "spark.jobs": "count",
    "spark.driver_only_s": "s",
    "spark.core_busy_frac": "1",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "sources.rows_read": "count",
    "sources.bytes_read_mb": "MB",
    "sources.file_stats_s": "s",
    "operators.dedup.self_s": "s",
    "plans.parse.self_s": "s",
    "operators.enrich.self_s": "s",
    "operators.routing.self_s": "s",
    "operators.routing.repartition_s": "s",
    "operators.routing.fanout": "1",
    "operators.sinks.write_s": "s",
    "operators.sinks.files_written": "count",
    "operators.sinks.bytes_written_mb": "MB",
    "config.assemble_s": "s",
    "config.plan_union_arms": "count",
    "state.runstate.commit_s": "s",
    "state.runstate.read_s": "s",
    "plans.pipeline.self_s": "s",
    "config.run_fleet.self_s": "s",
    "operators.dedup_fuzzy.pairs_s": "s",
    "operators.dedup_fuzzy.candidates": "count",
    "operators.dedup_fuzzy.verified_frac": "1",
    "operators.dedup_cluster.cluster_s": "s",
    "operators.decontaminate.decon_s": "s",
    "trace.op_p50_s": "s",
    "trace.overhead": "1",
    "trace.attributed_frac": "1",
}

# (module or class, attribute, span name): every name a caller resolves
SPANNED = [
    ("grove_spark.plans.pipeline", "run_incremental", "plans.pipeline"),
    ("grove_spark.config", "run_fleet", "config.run_fleet"),
    ("grove_spark.config", "assemble_fleet", "config.assemble_fleet"),
    ("grove_spark.plans.pipeline", "build_pipeline", "plans.pipeline.build"),
    ("grove_spark.plans.pipeline", "write_partitioned_parquet", "operators.sinks.write"),
    ("grove_spark.operators.sinks", "write_partitioned_parquet", "operators.sinks.write"),
    ("grove_spark.sources.file_stats", "parquet_file_stats", "sources.file_stats"),
    ("grove_spark.operators.dedup", "boundary_hashes", "operators.dedup"),
    ("grove_spark.operators.dedup", "watermark_literal", "operators.dedup"),
    ("grove_spark.plans.pipeline", "dedup_by_pointer", "operators.dedup"),
    ("grove_spark.plans.pipeline", "parse_stage", "plans.parse"),
    ("grove_spark.plans.pipeline", "enrich", "operators.enrich"),
    ("grove_spark.operators.enrich", "enrich", "operators.enrich"),
    ("grove_spark.plans.pipeline", "grove_metadata", "operators.enrich"),
    ("grove_spark.plans.pipeline", "route", "operators.routing"),
    ("grove_spark.operators.routing", "route", "operators.routing"),
    ("grove_spark.plans.pipeline", "salted_repartition", "operators.routing.repartition"),
] + [
    ("grove_spark.state.runstate:RunState", m, "state.runstate.read")
    for m in ("version", "pointer", "seen_hashes", "due")
] + [
    ("grove_spark.state.runstate:RunState", m, "state.runstate.commit")
    for m in ("register_pending", "commit", "commit_many")
]


def _resolve(target: str):
    mod, _, cls = target.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


# ---- process tree memory ----------------------------------------------------

def _children() -> dict:
    kids: dict = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(stat.split("/")[2]))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every descendant (the JVM and
    its Python workers)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# ---- one run -----------------------------------------------------------------

def _env(work: str, cores: int) -> None:
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the inputs are MBs: a 2 GB driver heap keeps the run's footprint small
    os.environ["GROVE_SPARK_DRIVER_MEM"] = "2g"
    # Arrow-kernel UDF workers import grove_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    pids = [p for p in tree_pids() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in pids:
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> int:
    import grove_spark

    if os.path.dirname(os.path.abspath(grove_spark.__file__)) != os.path.join(ROOT, "grove_spark"):
        print("grove_spark must come from this checkout", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _env(work, cores)
    try:
        return _measure(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


class Runner:
    """Runs, checks and cleans up ops; counts attempts and failures, and
    samples the process tree's peak memory after each."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.ops: list = []  # (op id, Op) of timed ops; op id "" = untraced
        self.peak = tree_peak_rss_mb()

    def op(self, wl, warm=False, op_id=""):
        """One op; returns its latency, or None if it raised."""
        op = wl.prepare(warm)
        dt, errs = None, []
        traced = bool(op_id)
        try:
            if traced:
                self.tracer.op = op_id
                for target, attr, name in SPANNED:
                    self.tracer.wrap(_resolve(target), attr, name)
                wl.stage = self.tracer.span
            t0 = time.perf_counter()
            with self.tracer.span("op") if traced else contextlib.nullcontext():
                wl.run(self.spark, op)
            dt = time.perf_counter() - t0
        except Exception as err:  # noqa: BLE001 - a failed op is counted, not fatal
            errs = [f"{wl.name} op raised {type(err).__name__}: {err}"]
        finally:
            self.tracer.unwrap_all()
            wl.stage = contextlib.nullcontext
        if dt is not None:
            errs = wl.check(op)
            if not warm:
                self.ops.append((op_id, op))
        if not warm:
            self.attempted += 1
            self.failed += bool(errs)
        self.errors += errs
        self.peak = max(self.peak, tree_peak_rss_mb())
        wl.cleanup(op)
        return dt


def _measure(args, work, cores) -> int:
    from grove_spark import get_spark

    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](os.path.join(work, "wl"))
    # the curation layers have no workload of their own in BENCHMARK.json:
    # a traced fleet_tail run (the shorter of the two) also runs one traced
    # curate op
    extra = None
    if args.trace and args.workload == "fleet_tail":
        extra = WORKLOADS["curate"](os.path.join(work, "curate"))
    t = time.perf_counter()
    for w in (wl, extra):
        if w is not None:
            w.gen(args.seed)
    gen_s = time.perf_counter() - t

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t_setup = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    try:
        session_s = time.perf_counter() - t_setup
        r = Runner(spark, tr.Tracer(spark.sparkContext.setJobDescription))
        wl.setup(spark)
        t_warm = time.perf_counter()
        for _ in range(wl.warmups):
            r.op(wl, warm=True)
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        lat, traced_lat = [], []
        t_loop = time.perf_counter()
        # traced runs alternate untraced and traced ops, starting and ending
        # untraced, so a warming trend does not bias trace.overhead
        min_ops = 3 if args.trace else MIN_OPS
        while (
            r.attempted < min_ops or time.perf_counter() - t_loop < args.seconds
            or (args.trace and r.attempted % 2 == 0)
        ):
            op_id = f"op{r.attempted}" if args.trace and r.attempted % 2 == 1 else ""
            dt = r.op(wl, op_id=op_id)
            if dt is not None:
                (traced_lat if op_id else lat).append(dt)
        probes = {}
        if args.trace:
            probes = wl.probe(spark)
            if extra is not None:
                extra.setup(spark)
                for _ in range(extra.warmups):
                    r.op(extra, warm=True)
                r.op(extra, op_id="curate")
                probes.update(extra.probe(spark))
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        _stop(spark)

    plain = [op for op_id, op in r.ops if not op_id]
    rows = sum(op.rows for op in plain)
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": cores, **versions,
        "attempted": r.attempted, "failed": r.failed,
        "error_rate": r.failed / r.attempted,
        "samples": len(lat), "latencies_s": [round(x, 4) for x in lat],
        "gen_s": gen_s, "session_start_s": session_s, "warmup_s": warmup_s,
        "errors": r.errors[:5],
    }
    if args.trace:
        events = tr.read_event_log(_event_log(work))
        metrics = _per_layer(
            r.tracer, tr.fold(r.tracer.spans, events), r.ops, probes, cores,
            session_s, warmup_s, lat, traced_lat,
        )
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": rows / sum(lat) if lat else 0.0,
            "op_p50_s": _median(lat),
            "peak_rss_mb": r.peak,
            "out_bytes_per_row": sum(op.out_bytes for op in plain) / rows if rows else 0.0,
        }
        units = END_TO_END
    for name, value in metrics.items():
        print(f"{args.workload:>10}  {name:<38} {value:>14.4f} {units[name]}")
    print("INFO " + json.dumps(info))
    print(json.dumps({
        "correct": not r.errors,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    if r.errors:
        print("\n".join(r.errors), file=sys.stderr)
    return 1 if r.errors else 0


def _event_log(work: str) -> str:
    logs = [p for p in glob.glob(os.path.join(work, "events", "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    return logs[0]


def _per_layer(tracer, fold, ops, probes, cores, session_s, warmup_s, lat, traced_lat) -> dict:
    """Per-layer metrics, each the mean over the traced ops of this run's
    workload; the curation layers come from the traced curate op."""
    from perfbench.trace import self_times, union_length

    selfs = self_times(tracer.spans)
    main = sorted({i for i, _ in ops if i and i != "curate"})
    cur_ids = ["curate"] if any(i == "curate" for i, _ in ops) else main
    main_ops = [op for i, op in ops if i in main]
    cur_ops = [op for i, op in ops if i in cur_ids]

    def layer(name, ids=main):
        """Wall covered by one layer's spans, per op."""
        return sum(
            union_length((s.start, s.end) for s in tracer.spans if s.op == o and s.name == name)
            for o in ids
        ) / max(len(ids), 1)

    def self_of(name):
        return sum(
            v for sid, v in selfs.items()
            if tracer.spans[sid].name == name and tracer.spans[sid].op in main
        ) / max(len(main), 1)

    def spark_mean(attr, scale=1.0):
        return sum(getattr(fold.per_op[o], attr) for o in main) / max(len(main), 1) / scale

    wall = sum(s.wall for s in tracer.spans if s.op in main and s.parent is None)
    task = sum(fold.per_op[o].task_s for o in main)
    unattributed = sum(fold.per_op[o].unattributed_s for o in main)
    in_layer = task - sum(fold.per_op[o].root_s for o in main)
    rows = sum(op.rows for op in main_ops) or 1
    m = {
        "session.start_s": session_s,
        "session.warmup_s": warmup_s,
        "spark.jobs": spark_mean("jobs"),
        "spark.driver_only_s": spark_mean("driver_only_s"),
        "spark.core_busy_frac": task / (wall * cores) if wall else 0.0,
        "spark.shuffle_write_mb": spark_mean("shuffle_write_bytes", 1e6),
        "spark.spill_mb": spark_mean("spill_bytes", 1e6),
        "sources.rows_read": spark_mean("rows_read"),
        "sources.bytes_read_mb": spark_mean("bytes_read", 1e6),
        "sources.file_stats_s": layer("sources.file_stats"),
        "operators.dedup.self_s": layer("operators.dedup"),
        "plans.parse.self_s": layer("plans.parse"),
        "operators.enrich.self_s": layer("operators.enrich"),
        "operators.routing.self_s": layer("operators.routing"),
        "operators.routing.repartition_s": layer("operators.routing.repartition"),
        "operators.routing.fanout": sum(op.routed for op in main_ops) / rows,
        "operators.sinks.write_s": layer("operators.sinks.write"),
        "operators.sinks.files_written": sum(op.files for op in main_ops) / max(len(main), 1),
        "operators.sinks.bytes_written_mb": sum(op.out_bytes for op in main_ops) / max(len(main), 1) / 1e6,
        "config.assemble_s": layer("config.assemble_fleet"),
        "config.plan_union_arms": 0.0,
        "state.runstate.commit_s": layer("state.runstate.commit"),
        "state.runstate.read_s": layer("state.runstate.read"),
        "plans.pipeline.self_s": self_of("plans.pipeline"),
        "config.run_fleet.self_s": self_of("config.run_fleet"),
        "operators.dedup_fuzzy.pairs_s": layer("operators.dedup_fuzzy.pairs", cur_ids),
        "operators.dedup_fuzzy.candidates": 0.0,
        "operators.dedup_fuzzy.verified_frac": 0.0,
        "operators.dedup_cluster.cluster_s": layer("operators.dedup_cluster.cluster", cur_ids),
        "operators.decontaminate.decon_s": layer("operators.decontaminate.decon", cur_ids),
        "trace.op_p50_s": _median(traced_lat),
        # the first timed op is still warming: leave it out of the baseline
        # (the traced op then runs before the untraced one it is compared to)
        "trace.overhead": _median(traced_lat) / _median(lat[1:] or lat) if lat and traced_lat else 0.0,
        "trace.attributed_frac": in_layer / (task + unattributed) if task else 0.0,
    }
    m.update(probes)
    cands = m["operators.dedup_fuzzy.candidates"]
    if cands and cur_ops:
        m["operators.dedup_fuzzy.verified_frac"] = (
            sum(op.n_pairs for op in cur_ops) / len(cur_ops) / cands
        )
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "fleet_tail", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("grove_spark")
    except ImportError as err:
        print(f"cannot import grove_spark from {ROOT}: {err}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
