"""Plan hygiene — the 100 TB survival checks (SURVEY §7 hard part (e)).

These assert properties of the *physical plan*, not results:
* no row-at-a-time Python (``BatchEvalPython``) anywhere; Arrow kernels
  only where an operator's one production form is a kernel;
* one production form per operator: no caller-selected ``engine``;
* watermark predicates reach the parquet scan (PushedFilters);
* dim joins broadcast (no SortMergeJoin for sources/sinks);
* the processor chain stays inside whole-stage codegen;
* driver-side frames are LocalRelations, never Python-RDD leaves.
"""

import pytest

from grove_spark.fixtures.generator import write_fixture
from grove_spark.plans.pipeline import build_pipeline


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hygiene")
    paths = write_fixture(str(d), 200)
    return (
        spark.read.parquet(paths["sequences"]),
        spark.read.parquet(paths["sources"]),
        spark.read.parquet(paths["sinks"]),
    )


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_no_per_row_python_in_pipeline(spark, loaded):
    seq, sources, sinks = loaded
    res = build_pipeline(seq, sources, sinks, n_partitions=4)
    plan = plan_of(res.routed)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # the parse stage has no Python at all


def _pushed_filters(plan: str) -> str:
    """Concatenated PushedFilters lines of a formatted plan."""
    return " ".join(ln for ln in plan.splitlines() if "PushedFilters:" in ln)


def test_watermark_filter_pushed_to_scan(spark, loaded):
    """The GreaterThan must be INSIDE PushedFilters — an IsNotNull-only
    pushdown means every incremental run re-reads the full table. (The
    round-1 version of this test accepted IsNotNull alone, which let the
    cast-the-column watermark bug ship.)"""
    seq, sources, sinks = loaded
    res = build_pipeline(
        seq, sources, sinks, watermark="2024-01-01 00:00:30", n_partitions=4
    )
    pushed = _pushed_filters(plan_of(res.routed))
    assert "GreaterThan(event_time" in pushed, pushed


def test_numeric_pointer_watermark_pushes_and_orders(spark):
    """Zitadel-style monotonic sequence pointers (grove/connectors/
    zitadel/events.py:22): pointer '9' must keep seq 10 (numeric order,
    not string order where '10' < '9'), and the GreaterThan must push."""
    from grove_spark.operators.dedup import dedup_by_pointer

    df = spark.createDataFrame([(9,), (10,), (100,)], "seq long")
    out = dedup_by_pointer(df, "seq", "9")
    assert sorted(r["seq"] for r in out.collect()) == [10, 100]

    # pushdown check needs a file scan
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/t")
        scan = dedup_by_pointer(spark.read.parquet(f"{d}/t"), "seq", "9")
        pushed = _pushed_filters(plan_of(scan))
        assert "GreaterThan(seq,9)" in pushed, pushed


def test_dim_joins_broadcast(spark, loaded):
    seq, sources, sinks = loaded
    res = build_pipeline(seq, sources, sinks, n_partitions=4)
    plan = plan_of(res.routed)
    assert plan.count("BroadcastHashJoin") >= 2  # sources + sinks dims
    assert "SortMergeJoin" not in plan


def test_column_pruning_reaches_scan(spark, loaded):
    seq, _, _ = loaded
    narrow = seq.select("doc_id", "n_tok")
    plan = plan_of(narrow)
    # ReadSchema must not include tokens/raw for a 2-column projection
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "tokens" not in read_schema[0] and "raw" not in read_schema[0]


def test_chain_single_codegen_stage(spark):
    """A 3-processor chain compiles into one codegen span (no exchange,
    no Python boundary)."""
    import pyspark.sql.types as T

    from grove_spark.operators import apply_chain

    schema = T.StructType([
        T.StructField("a", T.StringType()),
        T.StructField("vals", T.ArrayType(T.StringType())),
    ])
    df = spark.createDataFrame([("x", ["1", "2"])], schema=schema)
    out = apply_chain(df, [
        {"processor": "split_path", "source": "vals"},
        {"processor": "filter_entries", "filters": ["sql:vals = '1'"]},
        {"processor": "extract_paths", "fields": [
            {"destination": "v", "sources": ["vals"]}]},
    ])
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_minhash_verify_has_no_allpairs_shingle_join(spark):
    """LSH verification must be O(candidates): the plan may group shingles
    per candidate doc, but must never self-join the shingle column (the
    all-pairs inverted-index cost LSH exists to avoid)."""
    import re

    from grove_spark.operators.dedup_fuzzy import minhash_dedup_pairs

    docs = spark.createDataFrame(
        [("d1", "a b c d e f"), ("d2", "a b c d e g")], "doc_id string, text string"
    )
    plan = plan_of(minhash_dedup_pairs(docs, verify=True))
    joins = re.findall(r"(?:Join|BroadcastHashJoin|SortMergeJoin).*", plan)
    assert not any(re.search(r"shingle#\d+ = shingle#", j) for j in joins), joins
    assert "array_intersect" in plan  # per-candidate exact verify


def test_fleet_watermark_pushes_numeric_and_timestamp(spark, loaded):
    """assemble_fleet's per-connector predicates must reach the scan as
    typed GreaterThans (not post-scan string casts)."""
    from grove_spark.config import ConnectorConfig, assemble_fleet

    seq, _, _ = loaded
    cfgs = [
        ConnectorConfig.from_dict({"connector": "okta_system_log", "identity": "a", "source": "okta"}),
    ]
    wm = {cfgs[0].reference(): "2024-01-01 00:00:30"}
    routed = assemble_fleet(spark, cfgs, seq, watermarks=wm)
    pushed = _pushed_filters(plan_of(routed))
    assert "GreaterThan(event_time" in pushed, pushed


def test_every_gate_query_is_python_free(spark):
    """Blanket sweep: NO gate query's plan may contain row-at-a-time
    Python (BatchEvalPython). Arrow kernels (MapInPandas — the batched
    matmul in ann_ivf) are the only sanctioned Python, and only there."""
    from grove_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    # batched numpy kernels, by design: ann_ivf's matmul and the real
    # media codecs (encode/decode is inherently per-blob Python — Arrow
    # batched, never row-at-a-time)
    allowed_arrow = {"ann_ivf", "ann_ivf_indexed", "bmp_decode",
                     "wav_decode", "png_decode", "jpeg_decode",
                     # BPE encode: iterative merge walk, Arrow-batched
                     # with per-executor piece memo (decode IS Catalyst)
                     "bpe_tokenize",
                     # gram hashing + the MinHash seed family: the
                     # vectorized xxh64 Arrow kernels are these
                     # operators' only form (bit-identical to the
                     # expression specs in test_dedup_fuzzy.py; 8x+ on
                     # the 1M-doc legs)
                     "minhash_lsh", "decontaminate",
                     "ngram_jaccard", "containment", "dedup_clusters"}
    for name, fn in QUERIES.items():
        if name == "stream_tumbling":
            continue  # executes a streaming query; covered by its own test
        df = fn(spark, sf)
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan, f"{name} has per-row Python"
        if name not in allowed_arrow:
            assert (
                "MapInPandas" not in plan
                and "MapInArrow" not in plan
                and "ArrowEvalPython" not in plan
            ), f"{name} uses Python unexpectedly"


def _leaf_kinds(df) -> set:
    """Kinds of the optimized plan's leaves: ``parquet`` for a parquet
    file relation, else the node name (``LocalRelation``, ``LogicalRDD``
    — the latter is a Python RDD from ``createDataFrame(list)``)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    kinds = set()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        name = leaf.nodeName()
        if name == "LogicalRelation" and leaf.toString().rstrip().endswith("parquet"):
            name = "parquet"
        kinds.add(name)
    return kinds


def _exprs_named(df, name: str) -> list:
    """Every projected ``<expr> AS <name>#id`` of the optimized plan."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    exprs = []
    for line in plan.splitlines():
        at = line.find("Project [")
        if at < 0:
            continue
        depth, item = 0, ""
        for ch in line[at + len("Project ["):]:
            if ch in ")]" and depth == 0:
                break
            depth += (ch in "([") - (ch in ")]")
            if ch == "," and depth == 0:
                exprs.append(item.strip())
                item = ""
            else:
                item += ch
        exprs.append(item.strip())
    return [e for e in exprs if re.search(rf" AS {name}#\d+L?$", e)]


def test_fleet_plan_hygiene(spark, loaded):
    """assemble_fleet over mixed chains: all-broadcast, no Python,
    per-branch source sets pushed to the scan, and every driver-side
    frame (member dim, sinks dims, seen hashes) a LocalRelation — a
    Python-RDD leaf would run a Python-worker job per broadcast.

    The md5 gate reads each row's pointer once: the ``__h`` expression
    holds exactly one CASE WHEN (its own), with one pointer column and
    with mixed ones. The per-member pointer CASE inlined into the gate
    (once, or once per member in a keyed gate) would be evaluated again
    for every row."""
    from grove_spark.config import ConnectorConfig, assemble_fleet

    seq, _, _ = loaded
    cfgs = [
        ConnectorConfig.from_dict({"connector": "okta_system_log", "identity": "a", "source": "okta"}),
        ConnectorConfig.from_dict({
            "connector": "gsuite_activities", "identity": "c", "source": "gsuite",
            "processors": [{"processor": "filter_entries", "filters": ["sql:n_tok < 20"]}],
        }),
        ConnectorConfig.from_dict({
            "connector": "slack_audit_logs", "identity": "d", "source": "slack",
            "processors": [{"processor": "filter_paths", "paths": ["raw"]}],
        }),
    ]
    wm = "2024-01-01 00:00:30"
    routed = assemble_fleet(
        spark, cfgs, seq,
        watermarks={c.reference(): wm for c in cfgs},
        seen_states={c.reference(): {wm: ["0" * 32]} for c in cfgs[:2]},
    )
    plan = plan_of(routed)
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "In(source" in plan or "EqualTo(source" in plan  # pushed source filter
    assert _leaf_kinds(routed) == {"parquet", "LocalRelation"}

    mixed = assemble_fleet(
        spark, cfgs, seq,
        watermarks={**{c.reference(): wm for c in cfgs[:2]}, cfgs[2].reference(): "10"},
        seen_states={cfgs[0].reference(): {wm: ["0" * 32]},
                     cfgs[2].reference(): {"10": ["1" * 32]}},
        pointer_cols={cfgs[2].reference(): "n_tok"},
    )
    for fleet in (routed, mixed):
        hs = _exprs_named(fleet, "__h")
        assert hs and all(h.count("CASE WHEN") == 1 for h in hs), hs


def _filter_predicates(df) -> int:
    """Predicate nodes (And, Or, Not, comparisons, In/InSet, IsNull ...)
    in the conditions of the optimized plan's Filters. Literals and
    column references are not predicates: an IN list's length does not
    count, a per-member OR branch does."""
    jvm = df._sc._jvm
    pred = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.Predicate"
    )

    def walk(node, expr):
        n = (1 if pred.isInstance(node) else 0) if expr else (
            walk(node.condition(), True) if node.nodeName() == "Filter" else 0
        )
        ch = node.children()
        return n + sum(walk(ch.apply(i), expr) for i in range(ch.size()))

    return walk(df._jdf.queryExecution().optimizedPlan(), False)


def test_fleet_plan_size_independent_of_member_count(spark, loaded):
    """Member state is member-dim data: a 12-member and a 48-member fleet
    with the same chain mix (chainless, filter-only, reshaping) and the
    same pointer-column mix have equally many predicate nodes in their
    Filters, with one pointer column and with mixed ones. The source set
    still reaches the scan as a PushedFilter."""
    from grove_spark.config import ConnectorConfig, assemble_fleet
    from grove_spark.fixtures.generator import SOURCE_NAMES

    seq, _, _ = loaded

    def fleet(n, mixed):
        cfgs, wms, seen, pcs = [], {}, {}, {}
        for i in range(n):
            if i % 4 == 1:
                procs = [{"processor": "filter_entries", "filters": ["sql:n_tok < 20"]}]
            elif i in (2, 3):
                procs = [{"processor": "filter_paths", "paths": ["raw"]}]
            else:
                procs = []
            cfg = ConnectorConfig(
                connector=f"c{i}_audit", identity=f"id{i}",
                source=SOURCE_NAMES[i % len(SOURCE_NAMES)], processors=procs,
            )
            ref = cfg.reference()
            cfgs.append(cfg)
            if mixed and i % 5 == 0:
                pcs[ref], wms[ref] = "n_tok", str(i % 7)
            else:
                wms[ref] = f"2024-01-01 00:00:{i % 50:02d}"
            if i % 3 == 0:
                seen[ref] = {wms[ref]: [f"{i:032d}"]}
        return assemble_fleet(
            spark, cfgs, seq, wms, seen_states=seen, pointer_cols=pcs
        )

    for mixed in (False, True):
        small, big = fleet(12, mixed), fleet(48, mixed)
        assert _filter_predicates(small) == _filter_predicates(big), mixed
        assert "In(source" in _pushed_filters(plan_of(big)), mixed


def test_resume_protocol_has_one_implementation():
    """The resume protocol (pruned watermark scan, seen-hash anti-join,
    boundary hashes) lives in sources/ and operators/dedup.py; the
    drivers call it rather than carrying their own copy."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "grove_spark"
    pruning = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if p.relative_to(pkg).parts[0] != "sources" and "prune_files(" in p.read_text()
    )
    assert pruning == []
    for rel in ("config.py", "plans/pipeline.py"):
        assert "entry_hash" not in (pkg / rel).read_text(), rel


def test_commit_protocol_has_one_implementation():
    """The write-and-commit half of the resume protocol has one
    implementation: operators/sinks.write_run is the only code that
    registers (and so writes) a run dir, and plans/pipeline.commit_keyed
    is the one keyed commit tail run_incremental and run_fleet call."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "grove_spark"

    def callers(rel, name):
        """Top-level functions (or classes) of ``rel`` calling ``name``."""
        out = set()
        for top in ast.parse((pkg / rel).read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and name == getattr(
                    node.func, "attr", getattr(node.func, "id", None)
                ):
                    out.add(getattr(top, "name", "<module>"))
        return out

    registering = {
        (str(p.relative_to(pkg)), f)
        for p in pkg.rglob("*.py") if p.name != "runstate.py"
        for f in callers(p.relative_to(pkg), "register_pending")
    }
    assert registering == {("operators/sinks.py", "write_run")}
    for rel in ("config.py", "plans/pipeline.py"):
        for name in ("boundary_hashes", "advance_seen", "commit_many"):
            assert callers(rel, name) <= {"commit_keyed"}, (rel, name)


def test_committed_store_has_one_reader():
    """The read half of the manifest has one implementation:
    sources/scans.read_runs is the only code that turns committed run
    dirs into a frame (ann_index's basePath reads are index cells, and
    incremental_scan reads a source dir, not run dirs), and RunState
    walks its run log in one method."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "grove_spark"

    def holders(rel, text):
        """(file, function) pairs whose source holds ``text``; methods
        count under their own name."""
        src = (pkg / rel).read_text()
        out = set()
        for top in ast.parse(src).body:
            for node in top.body if isinstance(top, ast.ClassDef) else [top]:
                if text in (ast.get_source_segment(src, node) or ""):
                    out.add((rel, getattr(node, "name", "<module>")))
        return out

    base_path = {
        h for p in pkg.rglob("*.py")
        for h in holders(str(p.relative_to(pkg)), 'option("basePath"')
        if h[0] != "operators/ann_index.py"
    }
    assert base_path == {
        ("sources/scans.py", "read_runs"),
        ("sources/scans.py", "incremental_scan"),
    }
    unions = {
        h for rel in ("sources/scans.py", "operators/compaction.py",
                      "operators/merge.py")
        for h in holders(rel, "unionByName")
    }
    assert unions == {
        ("sources/scans.py", "read_runs"),
        ("operators/merge.py", "_merge_run"),  # the upsert union
    }
    assert holders(
        "state/runstate.py", "glob(os.path.join(self._runs_dir"
    ) == {("state/runstate.py", "_run_files")}


def test_perfbench_spanned_names_resolve():
    """Every (owner, attr) the benchmark's tracer wraps still exists: a
    name that no longer resolves fails every traced op."""
    import pathlib
    import sys

    root = str(pathlib.Path(__file__).parent.parent)
    sys.path.insert(0, root)
    try:
        from perfbench import run
    finally:
        sys.path.remove(root)
    missing = [
        (owner, attr) for owner, attr, _span in run.SPANNED
        if not callable(getattr(run._resolve(owner), attr, None))
    ]
    assert run.SPANNED and missing == []


def test_one_form_per_operator():
    """Each operator has ONE production form; an alternative form lives
    under tests/ as its spec, never behind a caller's ``engine`` switch.
    The parse stage is Java regex end to end (a pandas UDF would parse
    with Python ``re`` semantics)."""
    import importlib
    import inspect
    import pkgutil

    import grove_spark
    import grove_spark.plans.parse as parse

    def public(ns, owner):
        for name, obj in vars(ns).items():
            if name.startswith("_"):
                continue
            if inspect.isfunction(obj) and obj.__module__ == owner:
                yield name, obj
            elif inspect.isclass(obj) and obj.__module__ == owner:
                for mname, meth in public(obj, owner):
                    yield f"{name}.{mname}", meth

    switched = []
    for info in pkgutil.walk_packages(grove_spark.__path__, "grove_spark."):
        mod = importlib.import_module(info.name)
        for name, fn in public(mod, mod.__name__):
            if "engine" in inspect.signature(fn).parameters:
                switched.append(f"{info.name}.{name}")
    assert switched == []
    assert "pandas_udf" not in inspect.getsource(parse)

    # n-gram operators read the one gram-set kernel: only the Arrow
    # kernels hash grams (off the string buffer), and every F.xxhash64
    # call site in the package hashes something other than a gram string
    import ast
    import pathlib

    pkg = pathlib.Path(grove_spark.__file__).parent

    def callers(name):
        out = set()
        for p in pkg.rglob("*.py"):
            for top in ast.parse(p.read_text()).body:
                for node in ast.walk(top):
                    if isinstance(node, ast.Call) and name == getattr(
                        node.func, "attr", getattr(node.func, "id", None)
                    ):
                        out.add((str(p.relative_to(pkg)), getattr(top, "name", "<module>")))
        return out

    assert callers("_gram_hashes_of_batch") == {
        ("operators/dedup_fuzzy.py", "hashed_shingle_sets"),
        ("operators/dedup_fuzzy.py", "minhash_signatures"),
    }
    assert callers("xxhash64") == {
        ("operators/dedup.py", "dedup_within_batch"),  # entry columns
        ("operators/dedup.py", "dedup_lines"),  # whole lines
        ("operators/dedup_fuzzy.py", "lsh_candidate_pairs"),  # band slices
        ("operators/dedup_fuzzy.py", "simhash"),  # single words
        ("operators/routing.py", "salted_repartition"),  # salt column
        ("sources/bloom.py", "_hash_cols"),  # merge keys
    }


def test_resumed_run_and_registry_frames_are_local(spark, tmp_path):
    """A resumed run_incremental's seen-hash frame and the registry dim
    are LocalRelations too, and dedup_by_hash reads the seen pointers
    without starting a Spark job."""
    from grove_spark.operators.dedup import dedup_by_hash
    from grove_spark.plans.pipeline import run_incremental
    from grove_spark.registry import registry_dim
    from grove_spark.session import local_frame
    from grove_spark.state.runstate import RunState, reference

    paths = write_fixture(str(tmp_path / "fx"), 200)
    sources = spark.read.parquet(paths["sources"])
    sinks = spark.read.parquet(paths["sinks"])
    state = RunState(str(tmp_path / "state"))
    for _ in range(2):
        res = run_incremental(
            spark, paths["sequences"], sources, sinks, state, n_partitions=4
        )
    assert state.seen_hashes(reference("fleet", "default"))  # resumed
    assert "LocalRelation" in _leaf_kinds(res.deduped)
    assert _leaf_kinds(res.routed) <= {"parquet", "LocalRelation"}
    assert _leaf_kinds(registry_dim(spark)) == {"LocalRelation"}

    seen = local_frame(spark, [("7", "h")], "pointer string, hash string")
    df = spark.createDataFrame([(7, "d")], "event_time long, doc_id string")
    sc = spark.sparkContext
    sc.setJobGroup("hygiene-seen-pointers", "dedup_by_hash plan build")
    try:
        out = dedup_by_hash(df, seen, ["doc_id"], "event_time")
        jobs = sc.statusTracker().getJobIdsForGroup("hygiene-seen-pointers")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert "__h" in plan_of(out)  # the seen pointer gated the hash


def test_lsh_candidates_plan_shape(spark):
    """Lock the shuffle-optimal candidate plan (r5): the collect_list
    aggregate must sit DIRECTLY on the cap join's output — both share
    the (band, bucket) partitioning, so an exchange between them means
    a regression re-shuffling the 16M-row band stream; and the pair
    expansion must be the in-bucket transform, not a band-stream
    self-join."""
    from grove_spark.operators.dedup_fuzzy import (
        lsh_candidate_pairs, minhash_signatures)

    docs = spark.createDataFrame(
        [(i, f"a b c d e f g h i{i}") for i in range(100)],
        "doc_id: long, text: string",
    )
    sigs = minhash_signatures(docs, 64, 3)
    pairs = lsh_candidate_pairs(sigs, 16, 4, max_bucket_size=1000)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # find the final collect_list aggregate; walk down past its partial
    # twin — the next plan node must be the join, NOT an Exchange
    idx = [i for i, ln in enumerate(lines)
           if "collect_list" in ln and "partial" not in ln]
    assert idx, "collect_list aggregate missing — expansion path not taken"
    below = "\n".join(lines[idx[0]:idx[0] + 3])
    assert "partial_collect_list" in below, "map-side combine missing"
    assert "Exchange" not in below, (
        "exchange between the cap join and the collect aggregate — "
        "partitioning reuse regressed:\n" + below
    )
    assert "BatchEvalPython" not in plan
