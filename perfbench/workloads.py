"""The workloads: input generation, set-up, one op, and the checks.

Each workload object owns a work directory. ``gen`` writes its inputs from
the seed and computes the expected outputs with numpy/pyarrow (no Spark);
``setup`` builds what every op reuses; ``prepare`` readies one op's inputs
(untimed); ``run`` is the timed call into grove_spark; ``check`` compares the
op's committed outputs with the expectation and returns a list of failures;
``cleanup`` removes the op's outputs. ``probe`` (traced runs only) measures
what the op does not expose. ``warmups`` is the fixed number of warm-up ops
inside set-up.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from grove_spark.fixtures import generator as fx

# sizes: see perfbench/README.md for how they were chosen
BACKFILL_ROWS = 80_000
BACKFILL_WARM_ROWS = 20_000
FLEET_HISTORY_ROWS = 5_000
FLEET_SOURCES = 11  # members: one per source, plus a second identity on the head
FLEET_BATCH_ROWS = 2_000
CURATE_DOCS = 10_000
CURATE_WARM_DOCS = 2_000
BOILER_EVERY = 500
BENCH_EVERY = 200  # decontaminate against every 200th doc (doc_id % 200 == 7)
PREFIX_PASSES = 2  # a layer is a difference of two walls: take each wall's minimum


def _dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def _read_out(path: str, columns: list[str]) -> pd.DataFrame:
    dset = ds.dataset(path, format="parquet", partitioning="hive")
    return dset.to_table(columns=columns).to_pandas()


class Op:
    """What one op produced: input rows, routed rows, output bytes/files."""

    def __init__(self, rows: int):
        self.rows = rows
        self.routed = 0
        self.files = 0
        self.out_bytes = 0
        self.result = None
        self.out_dir = ""


class Backfill:
    """First-run ingest: ``run_incremental`` over the whole history into a
    fresh RunState and output directory (no watermark)."""

    name = "backfill"
    warmups = 1

    def __init__(self, work: str):
        self.work = work

    def gen(self, seed: int) -> None:
        self.paths = fx.write_fixture(os.path.join(self.work, "in"), BACKFILL_ROWS, seed)
        warm = fx.write_fixture(os.path.join(self.work, "warm"), BACKFILL_WARM_ROWS, seed + 1)
        self.inputs = {False: self._expect(self.paths["sequences"]), True: self._expect(warm["sequences"])}
        self.rows = self.inputs[False]["rows"]

    @staticmethod
    def _expect(seq: str) -> dict:
        t = pq.read_table(seq, columns=["source", "n_tok", "event_time"])
        src = t.column("source").to_numpy(zero_copy_only=False)
        n_tok = t.column("n_tok").to_numpy().astype(np.int64)
        # default sinks dim: every connector -> logs + processed, every
        # third source also -> archive
        archive = {s for i, s in enumerate(fx.SOURCE_NAMES) if i % 3 == 0}
        in_archive = np.isin(src, list(archive))
        total = int(n_tok.sum())
        return {
            "seq": seq,
            "rows": len(src),
            "max_ptr": pd.Timestamp(t.column("event_time").to_numpy().max()),
            "per_sink": {
                "logs": (len(src), total),
                "processed": (len(src), total),
                "archive": (int(in_archive.sum()), int(n_tok[in_archive].sum())),
            },
        }

    def setup(self, spark) -> None:
        # the dims are a few rows: every op reads them, as a one-shot run would
        self.src = spark.read.parquet(self.paths["sources"])
        self.snk = spark.read.parquet(self.paths["sinks"])
        self.n = 0

    def prepare(self, warm: bool) -> Op:
        """The warm-up op reads its own, smaller history: the cold JVM's
        cost barely depends on the rows, so a full-size warm-up op would
        mostly add run time."""
        from grove_spark.state.runstate import RunState

        self.n += 1
        inp = self.inputs[warm]
        op = Op(inp["rows"])
        op.seq = inp["seq"]
        op.expected = inp["per_sink"]
        op.max_ptr = inp["max_ptr"]
        op.state = RunState(os.path.join(self.work, f"state-{self.n}"))
        op.out_dir = os.path.join(self.work, f"out-{self.n}")
        return op

    def run(self, spark, op: Op) -> None:
        from grove_spark.plans import pipeline

        op.result = pipeline.run_incremental(
            spark, op.seq, self.src, self.snk, op.state, out_path=op.out_dir,
            n_partitions=spark.sparkContext.defaultParallelism,
        )

    def check(self, op: Op) -> list[str]:
        from grove_spark.state.runstate import reference

        errs = []
        rec = op.state.run_record(op.result.run_id)
        if rec is None:
            return ["no committed run record"]
        m = rec["metrics"]
        op.files, op.out_bytes = _dir_bytes(op.out_dir)
        got = {d: (v["rows"], v["sum_n_tok"]) for d, v in m["per_sink"].items()}
        if got != op.expected:
            errs.append(f"per-sink counts {got} != expected {op.expected}")
        if m["observed"]["failed"] != 0:
            errs.append(f"observed.failed = {m['observed']['failed']}")
        ptr = op.state.pointer(reference("fleet", "default"))
        if ptr is None or pd.Timestamp(ptr) != op.max_ptr:
            errs.append(f"pointer {ptr} != input max {op.max_ptr}")
        out = _read_out(op.out_dir, ["descriptor", "n_tok"])
        written = {
            d: (len(g), int(g["n_tok"].sum())) for d, g in out.groupby("descriptor")
        }
        if written != op.expected:
            errs.append(f"written per-sink {written} != expected {op.expected}")
        op.routed = len(out)
        return errs

    def cleanup(self, op: Op) -> None:
        shutil.rmtree(op.state.root, ignore_errors=True)
        shutil.rmtree(op.out_dir, ignore_errors=True)

    def probe(self, spark) -> dict:
        """Split the lazy layers: materialize successive plan prefixes into
        the noop sink and difference neighbours."""
        from pyspark.sql import functions as F

        from grove_spark.operators.dedup import boundary_hashes
        from grove_spark.operators.enrich import enrich
        from grove_spark.operators.routing import route, salted_repartition
        from grove_spark.plans.metadata import grove_metadata
        from grove_spark.plans.parse import parse_stage

        def timed(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        scan = spark.read.parquet(self.paths["sequences"])
        parsed = parse_stage(scan, "raw")
        enriched = grove_metadata(
            enrich(parsed, self.src, on="source"),
            pointer=F.col("event_time").cast("string"),
            collection_time="2024-01-01T00:00:00Z",
        )
        routed = route(enriched, self.snk, connector_col="connector", raw_col="tokens")
        prefixes = [
            ("scan", scan),
            ("dedup", boundary_hashes(scan, ["doc_id", "tokens"], "event_time")),
            ("parse", parsed),
            ("enrich", enriched),
            ("route", routed),
            ("repartition", salted_repartition(routed, spark.sparkContext.defaultParallelism)),
        ]
        for _name, df in prefixes:
            timed(df)  # one untimed pass: each prefix is a plan of its own to compile
        # timed passes go round the prefixes, so a slow spell of the host
        # lands on all of them rather than on both passes of one
        walls: dict = {name: [] for name, _ in prefixes}
        for _ in range(PREFIX_PASSES):
            for name, df in prefixes:
                walls[name].append(timed(df))
        t = {name: min(w) for name, w in walls.items()}
        return {
            "operators.dedup.self_s": t["dedup"] - t["scan"],
            "plans.parse.self_s": t["parse"] - t["scan"],
            "operators.enrich.self_s": t["enrich"] - t["parse"],
            "operators.routing.self_s": t["route"] - t["enrich"],
            "operators.routing.repartition_s": t["repartition"] - t["route"],
        }


def fleet_configs():
    """12 members, one per source of the first ``FLEET_SOURCES``: most
    chainless, every fourth with a filter-only chain (the predicate form),
    two with a reshaping ``filter_paths`` chain (the union-arm form), plus a
    second identity on the head source."""
    from grove_spark.config import ConnectorConfig

    cfgs = []
    for i, s in enumerate(fx.SOURCE_NAMES[:FLEET_SOURCES]):
        if i % 4 == 1:
            procs = [{"processor": "filter_entries", "filters": ["sql:n_tok < 20"]}]
        elif i in (2, FLEET_SOURCES - 1):
            procs = [{"processor": "filter_paths", "paths": ["raw"]}]
        else:
            procs = []
        cfgs.append(ConnectorConfig(
            connector=f"{s}_audit_events", identity=f"{s}.example.org",
            source=s, frequency=0, processors=procs,
        ))
    head = fx.SOURCE_NAMES[0]
    cfgs.append(ConnectorConfig(
        connector=f"{head}_audit_events", identity=f"{head}2.example.org",
        source=head, frequency=0,
    ))
    return cfgs


def fleet_expected(cfgs, source: np.ndarray, n_tok: np.ndarray) -> dict:
    """(connector, identity, descriptor) -> rows one tick should commit."""
    out = {}
    for c in cfgs:
        mine = source == c.source
        filtered = bool(c.processors) and c.processors[0]["processor"] == "filter_entries"
        out[(c.connector, c.identity, "logs")] = int(mine.sum())
        kept = mine & (n_tok >= 20) if filtered else mine
        out[(c.connector, c.identity, "processed")] = int(kept.sum())
    return {k: v for k, v in out.items() if v}


class FleetTail:
    """The daemon's steady state: one ``run_fleet`` tick over a committed
    history plus one freshly appended batch."""

    name = "fleet_tail"
    warmups = 0  # the catch-up tick in set-up warms the JVM

    def __init__(self, work: str):
        self.work = work

    def gen(self, seed: int) -> None:
        self.seed = seed
        self.paths = fx.write_fixture(os.path.join(self.work, "in"), FLEET_HISTORY_ROWS, seed)
        self.seq = self.paths["sequences"]
        self.schema = pq.read_schema(os.path.join(self.seq, "part-00000.parquet"))
        self.cfgs = fleet_configs()
        t = pq.read_table(self.seq, columns=["source", "n_tok", "event_time"])
        self.hist_expected = fleet_expected(
            self.cfgs, t.column("source").to_numpy(zero_copy_only=False),
            t.column("n_tok").to_numpy(),
        )
        self.tick = 0

    def setup(self, spark) -> None:
        from grove_spark.config import run_fleet
        from grove_spark.state.runstate import RunState

        self.state = RunState(os.path.join(self.work, "state"))
        self.out = os.path.join(self.work, "out")
        r = run_fleet(spark, self.cfgs, self.seq, self.state, out_path=self.out, now=1.0)
        got = self._per_key(r)
        if got != self.hist_expected:
            raise RuntimeError(f"history catch-up committed {got}, expected {self.hist_expected}")

    def _per_key(self, r) -> dict:
        by_ref = {c.reference(): c for c in self.cfgs}
        return {
            (by_ref[ref].connector, by_ref[ref].identity, d): v["rows"]
            for ref, kd in r["per_key"].items() for d, v in kd["per_sink"].items()
        }

    def prepare(self, warm: bool) -> Op:
        """Append one batch later than every committed pointer."""
        k = self.tick
        self.tick += 1
        df = fx.gen_sequences(FLEET_BATCH_ROWS, seed=self.seed * 1000 + k + 1)
        df["event_time"] = df["event_time"] + pd.Timedelta(days=k + 1)
        df["doc_id"] = f"t{k:05d}-" + df["doc_id"]
        tbl = pa.Table.from_pandas(df, preserve_index=False).cast(self.schema)
        pq.write_table(tbl, os.path.join(self.seq, f"tick-{k:05d}.parquet"))
        op = Op(FLEET_BATCH_ROWS)
        op.prefix = f"t{k:05d}-"
        src = df["source"].to_numpy()
        op.expected = fleet_expected(self.cfgs, src, df["n_tok"].to_numpy())
        op.max_ptr = {
            s: pd.Timestamp(df.loc[src == s, "event_time"].max()) for s in np.unique(src)
        }
        return op

    def run(self, spark, op: Op) -> None:
        from grove_spark import config

        op.result = config.run_fleet(
            spark, self.cfgs, self.seq, self.state, out_path=self.out,
            now=1.0 + self.tick,
        )

    def check(self, op: Op) -> list[str]:
        errs = []
        got = self._per_key(op.result)
        if got != op.expected:
            errs.append(f"tick committed {got}, expected {op.expected}")
        for c in self.cfgs:
            want = op.max_ptr.get(c.source)
            ptr = self.state.pointer(c.reference())
            if want is not None and (ptr is None or pd.Timestamp(ptr) != want):
                errs.append(f"{c.reference()} pointer {ptr} != batch max {want}")
        op.out_dir = os.path.join(self.out, f"part-{op.result['run_id']}")
        op.files, op.out_bytes = _dir_bytes(op.out_dir)
        out = _read_out(op.out_dir, ["doc_id", "connector", "identity", "descriptor"])
        op.routed = len(out)
        if not out["doc_id"].str.startswith(op.prefix).all():
            errs.append("tick re-committed rows from the history or an earlier tick")
        if out.duplicated().any():
            errs.append("tick committed a row twice")
        written = out.groupby(["connector", "identity", "descriptor"]).size()
        if {k: int(v) for k, v in written.items()} != op.expected:
            errs.append("written rows per (connector, identity, descriptor) differ")
        return errs

    def cleanup(self, op: Op) -> None:
        pass  # the daemon keeps its outputs; the run's work dir goes at exit

    def probe(self, spark) -> dict:
        """Union arms of the fleet plan at the current state."""
        from grove_spark.config import assemble_fleet

        refs = [c.reference() for c in self.cfgs]
        routed = assemble_fleet(
            spark, self.cfgs, spark.read.parquet(self.seq),
            {r: self.state.pointer(r) for r in refs}, "event_time",
            seen_states={r: self.state.seen_hashes(r) for r in refs},
        )
        leaves = routed._jdf.queryExecution().optimizedPlan().collectLeaves()
        scans = sum(
            1 for i in range(leaves.size())
            if leaves.apply(i).nodeName() in ("Relation", "LogicalRelation")
        )
        return {"config.plan_union_arms": scans}


def curate_docs(n: int, seed: int) -> tuple[pd.DataFrame, set, set]:
    """50-word docs over a 2k vocabulary; every ``doc_id % 20 == 19`` is its
    predecessor with one word changed; every ``doc_id % 500 == 0`` is one
    identical boilerplate doc. Returns (docs, planted pairs, ids a correct
    curate op keeps)."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(2000)])
    words = vocab[rng.integers(0, len(vocab), (n, 50))]
    texts = [" ".join(r) for r in words]
    planted = set()
    for i in range(19, n, 20):
        w = texts[i - 1].split()
        w[3] = "mutated"
        texts[i] = " ".join(w)
        planted.add((i - 1, i))
    boiler = " ".join(f"tos{j % 7}" for j in range(50))
    boiler_ids = list(range(0, n, BOILER_EVERY))
    for i in boiler_ids:
        texts[i] = boiler
    ids = np.arange(n, dtype=np.int64)
    keep = set(ids.tolist()) - {b for _, b in planted} - set(boiler_ids[1:])
    keep -= set(range(7, n, BENCH_EVERY))
    return pd.DataFrame({"doc_id": ids, "text": texts}), planted, keep


class Curate:
    """MinHash-LSH pairs -> cluster keepers -> decontaminate the keepers
    against every 200th doc -> write the curated corpus."""

    name = "curate"
    warmups = 1

    def __init__(self, work: str):
        self.work = work
        # the traced run swaps in Tracer.span to time each stage
        self.stage = contextlib.nullcontext

    def gen(self, seed: int) -> None:
        os.makedirs(self.work, exist_ok=True)
        self.path = os.path.join(self.work, "docs.parquet")
        self.warm_path = os.path.join(self.work, "warm.parquet")
        docs, self.planted, self.keep = curate_docs(CURATE_DOCS, seed)
        docs.to_parquet(self.path, index=False)
        curate_docs(CURATE_WARM_DOCS, seed + 1)[0].to_parquet(self.warm_path, index=False)
        self.rows = CURATE_DOCS

    def setup(self, spark) -> None:
        parallelism = spark.sparkContext.defaultParallelism
        self.docs = spark.read.parquet(self.path).repartition(parallelism).persist()
        self.warm = spark.read.parquet(self.warm_path).repartition(parallelism).persist()
        self.docs.count()
        self.warm.count()
        self.n = 0

    def prepare(self, warm: bool) -> Op:
        self.n += 1
        op = Op(CURATE_WARM_DOCS if warm else self.rows)
        op.docs = self.warm if warm else self.docs
        op.out_dir = os.path.join(self.work, f"out-{self.n}")
        return op

    def run(self, spark, op: Op) -> None:
        from pyspark.sql import functions as F

        from grove_spark.operators.decontaminate import decontaminate
        from grove_spark.operators.dedup_cluster import dedup_clusters
        from grove_spark.operators.dedup_fuzzy import minhash_dedup_pairs

        docs = op.docs
        with self.stage("operators.dedup_fuzzy.pairs"):
            op.pairs = minhash_dedup_pairs(docs, threshold=0.7).persist()
            op.n_pairs = op.pairs.count()
        with self.stage("operators.dedup_cluster.cluster"):
            keepers = dedup_clusters(op.pairs, docs).where("is_keeper").select("doc_id")
            op.kept = docs.join(keepers, "doc_id", "left_semi").persist()
            op.n_kept = op.kept.count()
        with self.stage("operators.decontaminate.decon"):
            bench = docs.where(F.col("doc_id") % BENCH_EVERY == 7).select("text")
            (
                decontaminate(op.kept, bench).write.mode("overwrite")
                .option("compression", "zstd").parquet(op.out_dir)
            )

    def check(self, op: Op) -> list[str]:
        pairs = {(r["a"], r["b"]) for r in op.pairs.collect()}
        op.files, op.out_bytes = _dir_bytes(op.out_dir)
        op.routed = op.n_pairs
        if op.rows != self.rows:
            return []
        errs = []
        missed = self.planted - pairs
        if missed:
            errs.append(f"{len(missed)} planted pairs not found")
        want_keepers = len(self.keep) + len(range(7, self.rows, BENCH_EVERY))
        if op.n_kept != want_keepers:
            errs.append(f"{op.n_kept} keepers, expected {want_keepers}")
        kept = set(pq.read_table(op.out_dir, columns=["doc_id"]).column("doc_id").to_pylist())
        if kept != self.keep:
            errs.append(
                f"curated corpus has {len(kept)} docs, expected {len(self.keep)} "
                f"({len(kept - self.keep)} extra, {len(self.keep - kept)} missing)"
            )
        return errs

    def cleanup(self, op: Op) -> None:
        for df in (getattr(op, "pairs", None), getattr(op, "kept", None)):
            if df is not None:
                df.unpersist()
        shutil.rmtree(op.out_dir, ignore_errors=True)

    def probe(self, spark) -> dict:
        """LSH candidate pairs before verification, for the wasted-verify
        ratio."""
        from grove_spark.operators.dedup_fuzzy import lsh_candidate_pairs, minhash_signatures

        sigs = minhash_signatures(self.docs, 64, 3, "doc_id", "text").persist()
        try:
            cands = lsh_candidate_pairs(sigs, 16, 4, "doc_id").count()
        finally:
            sigs.unpersist()
        return {"operators.dedup_fuzzy.candidates": cands}


WORKLOADS = {w.name: w for w in (Backfill, FleetTail, Curate)}
