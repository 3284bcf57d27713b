"""Grove-style config documents driving the fleet: load -> secrets ->
assemble -> scheduled run -> resume; optimistic commit conflicts."""

import base64
import json
import os

import pytest

from grove_spark.config import (
    ConnectorConfig,
    assemble_fleet,
    hydrate_secrets,
    load_configs,
    run_fleet,
)
from grove_spark.fixtures.generator import write_fixture
from grove_spark.state.runstate import ConcurrentCommitError, RunState

CONFIGS = [
    {
        # the canonical chained config (gsuite flattened_drive_activities
        # shape, templates/configuration/gsuite/...json) adapted to the
        # sequences table
        "connector": "gsuite_activities",
        "identity": "svc@example.org",
        "name": "gsuite-example",
        "operation": "drive",
        "source": "gsuite",
        "processors": [
            {"name": "drop short", "processor": "filter_entries",
             "filters": ["sql:n_tok < 20"]},
        ],
        "outputs": {"logs": "raw", "processed": "processed"},
    },
    {
        "connector": "okta_system_log",
        "identity": "example.okta.com",
        "key": base64.b64encode(b"supersecret").decode(),
        "encoding": {"key": "base64"},
        "source": "okta",
        "outputs": {"logs": "raw"},
        "frequency": 60,
    },
    {
        "connector": "disabled_thing",
        "identity": "x",
        "disabled": True,
    },
]


@pytest.fixture(scope="module")
def config_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("configs")
    for i, doc in enumerate(CONFIGS):
        (d / f"{i:03d}.json").write_text(json.dumps(doc))
    return str(d)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    return write_fixture(str(tmp_path_factory.mktemp("fleet_fix")), 600)


def test_load_configs_drops_disabled(config_dir):
    cfgs = load_configs(config_dir)
    assert {c.connector for c in cfgs} == {"gsuite_activities", "okta_system_log"}
    gs = next(c for c in cfgs if c.connector == "gsuite_activities")
    assert gs.source == "gsuite" and gs.operation == "drive"
    assert gs.outputs == {"logs": "raw", "processed": "processed"}


def test_secrets_and_base64_field_decode(config_dir):
    cfgs = load_configs(config_dir)
    os.environ["GROVE_TEST_TOKEN"] = "tok-123"
    for c in cfgs:
        c.secrets = {"api_token": "GROVE_TEST_TOKEN"}
    hydrate_secrets(cfgs, lambda p: os.environ.get(p, ""))
    okta = next(c for c in cfgs if c.connector == "okta_system_log")
    assert okta.key == "supersecret"  # base64 config-field decode
    assert okta.extras["api_token"] == "tok-123"


def test_assemble_fleet_routes_per_config(spark, config_dir, fixture_dir):
    cfgs = load_configs(config_dir)
    seq = spark.read.parquet(fixture_dir["sequences"])
    routed = assemble_fleet(spark, cfgs, seq)
    counts = {
        (r["connector"], r["descriptor"]): r["count"]
        for r in routed.groupBy("connector", "descriptor").count().collect()
    }
    n_gsuite = seq.where("source = 'gsuite'").count()
    n_gsuite_kept = seq.where("source = 'gsuite' AND NOT n_tok < 20").count()
    n_okta = seq.where("source = 'okta'").count()
    assert counts[("gsuite_activities", "logs")] == n_gsuite
    assert counts[("gsuite_activities", "processed")] == n_gsuite_kept
    assert counts[("okta_system_log", "logs")] == n_okta
    assert ("okta_system_log", "processed") not in counts  # not subscribed


def test_run_fleet_schedule_and_resume(spark, config_dir, fixture_dir, tmp_path):
    cfgs = load_configs(config_dir)
    state = RunState(str(tmp_path / "state"))
    out = str(tmp_path / "out")

    r1 = run_fleet(spark, cfgs, fixture_dir["sequences"], state, out_path=out, now=1000.0)
    assert r1["due"] == 2
    assert set(r1["per_connector"]) == {"gsuite_activities", "okta_system_log"}

    # immediately after: nothing due (gsuite freq 600, okta 60)
    r2 = run_fleet(spark, cfgs, fixture_dir["sequences"], state, out_path=out, now=1030.0)
    assert r2["due"] == 0

    # 90s later: only okta due; no new data -> empty run, pointer stable
    okta_ref = next(c for c in cfgs if c.connector == "okta_system_log").reference()
    ptr = state.pointer(okta_ref)
    r3 = run_fleet(spark, cfgs, fixture_dir["sequences"], state, out_path=out, now=1090.0)
    assert r3["due"] == 1 and r3["per_connector"] == {}
    assert state.pointer(okta_ref) == ptr

    # committed lineage is deduplicated across connectors sharing a run
    assert len(state.committed_paths()) == 1
    assert spark.read.parquet(state.committed_paths()[0]).count() > 0


def test_optimistic_commit_conflict(tmp_path):
    state = RunState(str(tmp_path / "state"))
    v = state.version()
    state.commit("k", "run-a", pointer="1", expected_version=v)
    with pytest.raises(ConcurrentCommitError):
        state.commit("k", "run-b", pointer="2", expected_version=v)
    assert state.pointer("k") == "1"
    # retry with the fresh version succeeds (the reference's retry path)
    state.commit("k", "run-b", pointer="2", expected_version=state.version())
    assert state.pointer("k") == "2"


def test_run_daemon_refresh_and_schedule(spark, tmp_path):
    """The groved-loop analog: a fake clock drives three ticks; the
    config tree is refreshed mid-loop and the newly-dropped config runs
    on the next tick; frequency keeps already-run connectors idle."""
    import datetime as dt

    from grove_spark.config import run_daemon
    from grove_spark.state.runstate import RunState

    rows = [
        ("d1", [1], 1, "okta", dt.datetime(2024, 1, 1, 10)),
        ("d2", [2], 1, "slack", dt.datetime(2024, 1, 1, 11)),
    ]
    seq_path = str(tmp_path / "seq")
    spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, event_time timestamp",
    ).write.parquet(seq_path)
    cfg_dir = tmp_path / "cfgs"
    cfg_dir.mkdir()
    (cfg_dir / "okta.json").write_text(json.dumps(
        {"connector": "okta_system_log", "identity": "a", "frequency": 600}
    ))

    clock = {"t": 1000.0}
    slept = []

    def now_fn():
        return clock["t"]

    def sleep_fn(s):
        slept.append(s)
        clock["t"] += 200.0  # 200 s pass per tick
        if len(slept) == 1:
            # new connector lands between tick 1 and 2; refresh_s=300
            # means tick 2 (t=1200, 200s since refresh) does NOT see it
            # yet, tick 3 (t=1400, 400s) does
            (cfg_dir / "slack.json").write_text(json.dumps(
                {"connector": "slack_audit", "identity": "b", "source": "slack",
                 "frequency": 600}
            ))

    state = RunState(str(tmp_path / "state"))
    reports = run_daemon(
        spark, str(cfg_dir), seq_path, state,
        refresh_s=300.0, tick_s=0.25, max_ticks=3,
        now_fn=now_fn, sleep_fn=sleep_fn,
    )
    assert len(reports) == 3 and slept == [0.25] * 3
    # tick1: okta runs; tick2: okta not due yet (200s < 600s), slack not
    # visible yet; tick3: refresh picked slack up, it runs
    assert reports[0]["due"] == 1 and "okta_system_log" in reports[0]["per_connector"]
    assert reports[1]["due"] == 0
    assert reports[2]["due"] == 1 and "slack_audit" in reports[2]["per_connector"]


def test_run_daemon_maintenance_compaction(spark, tmp_path):
    """The daemon's maintenance tick: per-tick part dirs from two fleet
    runs are compacted into one on the compaction cadence, atomically,
    with the reader view intact."""
    import datetime as dt

    from grove_spark.config import run_daemon
    from grove_spark.state.runstate import RunState

    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "event_time timestamp")
    seq_path = str(tmp_path / "seq")
    spark.createDataFrame(
        [("d1", [1], 1, "okta", dt.datetime(2024, 1, 1, 10))], schema
    ).write.parquet(seq_path)
    cfg_dir = tmp_path / "cfgs"
    cfg_dir.mkdir()
    (cfg_dir / "okta.json").write_text(json.dumps(
        {"connector": "okta_system_log", "identity": "a", "frequency": 100}
    ))
    out = str(tmp_path / "out")
    clock = {"t": 1000.0}

    def now_fn():
        return clock["t"]

    def sleep_fn(s):
        clock["t"] += 200.0
        if clock["t"] == 1200.0:  # new data between tick 1 and 2
            spark.createDataFrame(
                [("d2", [2], 1, "okta", dt.datetime(2024, 1, 1, 11))], schema
            ).write.mode("append").parquet(seq_path)

    state = RunState(str(tmp_path / "state"))
    reports = run_daemon(
        spark, str(cfg_dir), seq_path, state, out_path=out,
        refresh_s=10_000.0, tick_s=0.25, max_ticks=3,
        now_fn=now_fn, sleep_fn=sleep_fn,
        compact_every_s=350.0,
        compact_kw={"small_file_bytes": 64 * 1024 * 1024, "min_dirs": 2},
    )
    # ticks 1+2 each committed a part dir; tick 3's maintenance pass
    # compacted them into one
    assert isinstance(reports[2]["compaction"], dict)
    assert reports[2]["compaction"]["files_before"] >= 2
    paths = state.committed_paths()
    assert len(paths) == 1 and "part-compact-" in paths[0]
    got = sorted(
        (r["doc_id"], r["descriptor"])
        for r in spark.read.parquet(paths[0])
        .select("doc_id", "descriptor").collect()
    )
    # no (doc, sink) duplicated through the rewrite; both docs present
    assert got == sorted(set(got))
    assert {d for d, _ in got} >= {"d1", "d2"}


def test_run_daemon_survives_maintenance_failure(spark, tmp_path, monkeypatch):
    """The optional maintenance tick must never kill the ingest loop: a
    failing compaction (corrupt part file, FS hiccup) is reported and
    retried next interval while fleet ticks keep running."""
    import datetime as dt

    import grove_spark.operators.compaction as comp
    from grove_spark.config import run_daemon
    from grove_spark.state.runstate import RunState

    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "event_time timestamp")
    seq_path = str(tmp_path / "seq")
    spark.createDataFrame(
        [("d1", [1], 1, "okta", dt.datetime(2024, 1, 1, 10))], schema
    ).write.parquet(seq_path)
    cfg_dir = tmp_path / "cfgs"
    cfg_dir.mkdir()
    (cfg_dir / "okta.json").write_text(json.dumps(
        {"connector": "okta_system_log", "identity": "a", "frequency": 100}
    ))

    def boom(*a, **k):
        raise OSError("truncated part file")

    monkeypatch.setattr(comp, "compact_runs", boom)
    clock = {"t": 1000.0}

    def sleep_fn(s):
        clock["t"] += 200.0

    state = RunState(str(tmp_path / "state"))
    reports = run_daemon(
        spark, str(cfg_dir), seq_path, state, out_path=str(tmp_path / "out"),
        refresh_s=1e5, max_ticks=3, now_fn=lambda: clock["t"],
        sleep_fn=sleep_fn, compact_every_s=150.0,
    )
    assert reports.ticks == 3
    assert any(str(r.get("compaction", "")).startswith("failed:")
               for r in reports)


def test_redact_chain_processor(spark):
    """redact plugs into the Grove-style processor chain."""
    from grove_spark.operators.processors import apply_chain

    df = spark.createDataFrame(
        [("a@b.io call 555-123-4567",)], "text string"
    )
    out = apply_chain(df, [
        {"processor": "redact", "source": "text", "destination": "clean"},
    ]).first()
    assert out["clean"] == "<EMAIL> call <PHONE>"
    assert out["text"] == "a@b.io call 555-123-4567"


def test_scheme_secrets_provider(tmp_path):
    from grove_spark.config import scheme_secrets_provider

    os.environ["GROVE_T1"] = "env-secret"
    f = tmp_path / "raw.txt"
    f.write_text("file-secret\n")
    store = tmp_path / "store.json"
    store.write_text(json.dumps({"grove": {"token": "json-secret"}}))
    p = scheme_secrets_provider(extra={"static": lambda ref: f"S:{ref}"})
    assert p("env:GROVE_T1") == "env-secret"
    assert p(f"file:{f}") == "file-secret"
    assert p(f"json:{store}#grove/token") == "json-secret"
    assert p("static:abc") == "S:abc"
    assert p("GROVE_T1") == "env-secret"  # schemeless -> env fallback
    assert p("file:/nonexistent") == "" and p("nope:x") == ""


def test_vault_backend_hydrates_reference_parity_config(tmp_path):
    """VERDICT r3 #8: a Vault-shaped NETWORK backend registered through
    scheme_secrets_provider's registry carries a reference-parity config
    end-to-end — the CLI ``?field=`` path convention, KVv2 data.data
    unwrap, X-Vault-Token header from a token FILE, and hydration (with
    base64 decode ordering) before the fleet would tick
    (grove/secrets/hashicorp_vault.py, grove/secrets/__init__.py:28-85)."""
    import base64

    from grove_spark.config import (
        ConnectorConfig,
        hydrate_secrets,
        scheme_secrets_provider,
        vault_secrets_provider,
    )

    tf = tmp_path / "vault-token"
    tf.write_text("s.root-token\nnever-read-line-2\n")
    calls = []
    vault_data = {
        # KVv2 engine: payload nests under data.data
        "v1/secret/data/example/demo": {
            "data": {"data": {"password": "hunter2",
                              "token": base64.b64encode(b"tok-77").decode()}}
        },
        # KVv1 engine: payload directly under data
        "v1/kv/legacy/demo": {"data": {"password": "legacy-pw"}},
    }

    def transport(url, headers):
        calls.append((url, dict(headers)))
        assert headers["X-Vault-Token"] == "s.root-token"
        assert headers["X-Vault-Request"] == "true"
        assert headers["X-Vault-Namespace"] == "corp"
        ref = url.removeprefix("https://vault.local/")
        return vault_data.get(ref, {})

    vault = vault_secrets_provider(
        "https://vault.local/", token_file=str(tf), namespace="corp",
        transport=transport,
    )
    provider = scheme_secrets_provider(extra={"vault": vault})

    cfg = ConnectorConfig.from_dict({
        "connector": "okta_system_log", "identity": "corp",
        "secrets": {
            "key": "vault:secret/data/example/demo?field=password",
            "api_token": "vault:secret/data/example/demo?field=token",
            "legacy": "vault:kv/legacy/demo?field=password",
        },
        "encoding": {"api_token": "base64"},
    })
    hydrate_secrets([cfg], provider)
    assert cfg.key == "hunter2"                 # KVv2 unwrap + field pick
    assert cfg.extras["api_token"] == "tok-77"  # hydrate THEN b64 decode
    assert cfg.extras["legacy"] == "legacy-pw"  # KVv1 unwrap
    # the ?field= parameter is stripped from the request URL
    assert all("field=" not in u for u, _ in calls)
    assert {u for u, _ in calls} == {
        "https://vault.local/v1/secret/data/example/demo",
        "https://vault.local/v1/kv/legacy/demo",
    }

    with pytest.raises(ValueError, match="field"):
        vault("secret/data/example/demo")  # no ?field= -> loud
    with pytest.raises(ValueError, match="transport"):
        vault_secrets_provider("https://vault.local")

    # the 'vault://...' URI spelling: scheme_secrets_provider hands the
    # provider '//secret/...' — the leading segment (urlparse netloc)
    # must reach the request path, not be silently dropped
    assert provider(
        "vault://secret/data/example/demo?field=password"
    ) == "hunter2"


def test_ssm_backend_configs_and_secrets_before_fleet_tick(spark, fixture_dir):
    """VERDICT r4 #7: the SSM-shaped backend family
    (grove/configs/aws_ssm.py, grove/secrets/aws_ssm.py) through an
    injected transport — paginated recursive config enumeration under a
    prefix, one-bad-document-never-fatal, assume-role credential dance,
    get_parameter secret hydration — all BEFORE the fleet ticks over
    real sequences."""
    from grove_spark.config import (
        assemble_fleet,
        hydrate_secrets,
        scheme_secrets_provider,
        ssm_config_provider,
        ssm_secrets_provider,
    )

    calls = []
    param_store = {
        "/grove/connectors/prod/okta": json.dumps({
            "connector": "okta_system_log", "identity": "corp",
            "outputs": {"logs": "raw"}, "frequency": 60,
            "secrets": {"api_token": "ssm:/grove/secrets/okta/token"},
        }),
        "/grove/connectors/prod/gsuite": json.dumps({
            "connector": "gsuite_activities", "identity": "corp",
            "operation": "drive", "outputs": {"logs": "raw"},
        }),
        "/grove/connectors/prod/broken": "{not json",       # skipped, logged
        "/grove/connectors/prod/list": "[1, 2]",  # valid JSON, non-object: skipped
        "/grove/connectors/prod/off": json.dumps(
            {"connector": "old_thing", "identity": "x", "disabled": True}
        ),
        "/grove/secrets/okta/token": "tok-ssm-99",
    }

    def transport(action, params):
        calls.append((action, dict(params)))
        if action == "sts.assume_role":
            assert params["RoleArn"] == "arn:aws:iam::123:role/grove"
            return {"Credentials": {"AccessKeyId": "AK", "SessionToken": "ST"}}
        if action == "get_parameters_by_path":
            assert params["Recursive"] and params["WithDecryption"]
            # every post-assume call must carry the assumed credentials
            assert params["Credentials"]["AccessKeyId"] == "AK"
            names = sorted(
                n for n in param_store
                if n.startswith(params["Path"].rstrip("/") + "/")
            )
            # two pages: pagination must be walked, not just page one
            page = 0 if "NextToken" not in params else int(params["NextToken"])
            chunk = names[page * 2:(page + 1) * 2]
            out = {"Parameters": [
                {"Name": n, "Value": param_store[n]} for n in chunk
            ] + ([{"Name": "/grove/connectors/prod/novalue"}] if page == 0 else [])}
            if len(names) > (page + 1) * 2:
                out["NextToken"] = str(page + 1)
            return out
        if action == "get_parameter":
            assert params["WithDecryption"]
            return {"Parameter": {"Value": param_store[params["Name"]]}}
        raise AssertionError(f"unexpected action {action}")

    get_configs = ssm_config_provider(
        transport, prefix="/grove/connectors/",
        assume_role_arn="arn:aws:iam::123:role/grove",
    )
    cfgs = get_configs("prod")
    # bad JSON + valueless + disabled all dropped, never fatal
    assert {c.connector for c in cfgs} == {"gsuite_activities", "okta_system_log"}

    ssm = ssm_secrets_provider(transport)
    provider = scheme_secrets_provider(extra={"ssm": ssm})
    hydrate_secrets(cfgs, provider)
    okta = next(c for c in cfgs if c.connector == "okta_system_log")
    assert okta.extras["api_token"] == "tok-ssm-99"

    # hydrated configs drive a real fleet tick
    seq = spark.read.parquet(fixture_dir["sequences"])
    routed = assemble_fleet(spark, cfgs, seq)
    counts = {
        (r["connector"], r["descriptor"]): r["count"]
        for r in routed.groupBy("connector", "descriptor").count().collect()
    }
    assert counts[("okta_system_log", "logs")] == seq.where("source='okta'").count()

    # wire-shape audit: one assume_role, paginated config pages, one
    # decrypted get_parameter for the secret
    actions = [a for a, _ in calls]
    assert actions.count("sts.assume_role") == 1
    assert actions.count("get_parameters_by_path") >= 2
    assert actions.count("get_parameter") == 1

    # transport failure surfaces as the reference's loud access error
    def down(action, params):
        raise ConnectionError("ssm unreachable")

    with pytest.raises(RuntimeError, match="failed to read secret"):
        ssm_secrets_provider(down)("/grove/secrets/okta/token")
    with pytest.raises(RuntimeError, match="failed to read value"):
        ssm_config_provider(down)("prod")
    with pytest.raises(RuntimeError, match="unable to access"):
        ssm_secrets_provider(down, assume_role_arn="arn:aws:iam::1:role/x")


def test_unknown_state_keys_fail_loudly(spark):
    """A watermark/seen-state key matching no member used to be silently
    ignored — i.e. a misspelled reference caused a full re-ingest. Now a
    ValueError names the unknown keys and the known references."""
    import pytest

    from grove_spark.config import ConnectorConfig, assemble_fleet

    seq = spark.createDataFrame(
        [("d1", [1], 1, "okta", 5)],
        "doc_id string, tokens array<int>, n_tok int, source string, event_time bigint",
    )
    cfgs = [ConnectorConfig.from_dict(
        {"connector": "okta_system_log", "identity": "corp", "source": "okta"}
    )]
    with pytest.raises(ValueError, match="match no fleet member"):
        assemble_fleet(spark, cfgs, seq, watermarks={"oops": "1"},
                       pointer_col="event_time")


def test_filter_only_chain_compiles_to_predicate(spark, fixture_dir):
    """r6: a chain made only of filter_entries must NOT create a union
    arm — it rides the shared routing join as a row predicate — and the
    row multiset must equal the branch form's."""
    from grove_spark.config import ConnectorConfig, assemble_fleet
    from grove_spark.operators import processors as procmod

    seq = spark.read.parquet(fixture_dir["sequences"])
    cfgs = [
        ConnectorConfig.from_dict({
            "connector": "a_audit", "identity": "a", "source": "okta",
            "processors": [
                {"processor": "filter_entries", "filters": ["sql:n_tok < 20"]}
            ],
        }),
        ConnectorConfig.from_dict(
            {"connector": "b_audit", "identity": "b", "source": "gsuite"}
        ),
    ]
    routed = assemble_fleet(spark, cfgs, seq)
    plan = routed._sc._jvm.PythonSQLUtils.explainString(
        routed._jdf.queryExecution(), "formatted"
    )
    assert "Union" not in plan  # single branch: predicate, not an arm
    counts = {
        (r["connector"], r["descriptor"]): r["count"]
        for r in routed.groupBy("connector", "descriptor").count().collect()
    }
    n_okta = seq.where("source = 'okta'").count()
    n_okta_kept = seq.where("source = 'okta' AND NOT n_tok < 20").count()
    assert counts[("a_audit", "logs")] == n_okta
    assert counts[("a_audit", "processed")] == n_okta_kept
    n_gsuite = seq.where("source = 'gsuite'").count()
    assert counts[("b_audit", "processed")] == n_gsuite

    # a non-filter processor still branches (filter_paths reshapes the row)
    cfgs2 = [
        ConnectorConfig.from_dict({
            "connector": "c_audit", "identity": "c", "source": "okta",
            "processors": [{"processor": "filter_paths", "paths": ["raw"]}],
        }),
    ]
    routed2 = assemble_fleet(spark, cfgs2, seq)
    plan2 = routed2._sc._jvm.PythonSQLUtils.explainString(
        routed2._jdf.queryExecution(), "formatted"
    )
    assert "Union" in plan2

    # a registered override of filter_entries disables the fast path
    orig = procmod._PROCESSORS["filter_entries"]
    try:
        procmod._PROCESSORS["filter_entries"] = (
            lambda df, cfg: df.where("n_tok % 2 = 0")
        )
        routed3 = assemble_fleet(spark, [cfgs[0]], seq)
        plan3 = routed3._sc._jvm.PythonSQLUtils.explainString(
            routed3._jdf.queryExecution(), "formatted"
        )
        assert "Union" in plan3  # branch path, override honored
        n_even = seq.where("source = 'okta' AND n_tok % 2 = 0").count()
        assert routed3.where("descriptor = 'processed'").count() == n_even
    finally:
        procmod._PROCESSORS["filter_entries"] = orig

    # a filter naming a routing-dim column keeps the branch form too
    cfgs4 = [
        ConnectorConfig.from_dict({
            "connector": "d_audit", "identity": "d", "source": "okta",
            "processors": [
                {"processor": "filter_entries", "filters": ["sql:n_tok < 20 OR 'x' = 'stream'"]}
            ],
        }),
    ]
    routed4 = assemble_fleet(spark, cfgs4, seq)
    plan4 = routed4._sc._jvm.PythonSQLUtils.explainString(
        routed4._jdf.queryExecution(), "formatted"
    )
    assert "Union" in plan4

    # SQL identifiers are case-insensitive and may be back-quoted: these
    # name routing-dim columns too, so they take the branch form, where
    # the pre-route frame has no such column and the filter fails loudly
    # (the predicate form would silently filter on the joined dim column)
    from pyspark.errors import AnalysisException

    from grove_spark.config import _filter_only_drop

    for f in ["sql:STREAM = 'x'", "sql:`Sink_Kind` = 'x'"]:
        chain = [{"processor": "filter_entries", "filters": [f]}]
        assert _filter_only_drop(seq, chain) is None, f
        cfg = ConnectorConfig.from_dict({
            "connector": "e_audit", "identity": "e", "source": "okta",
            "processors": chain,
        })
        with pytest.raises(AnalysisException):
            assemble_fleet(spark, [cfg], seq)


# ---- the fleet tick's pruned scan ------------------------------------------


def _history(tmp_path, n=300):
    """A private copy of the fixture history (the tests append to it)."""
    return write_fixture(str(tmp_path / "fx"), n)["sequences"]


def _append_batch(seq, k, n=300):
    """Batch k: fresh doc ids, event times k days past the history."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grove_spark.fixtures.generator import gen_sequences

    schema = pq.read_schema(os.path.join(seq, "part-00000.parquet"))
    df = gen_sequences(n, seed=100 + k)
    df["event_time"] = df["event_time"] + pd.Timedelta(days=k)
    df["doc_id"] = f"b{k}-" + df["doc_id"]
    tbl = pa.Table.from_pandas(df, preserve_index=False).cast(schema)
    pq.write_table(tbl, os.path.join(seq, f"batch-{k:03d}.parquet"))
    return df


def _fleet(*specs):
    """(connector, identity, source, frequency) -> configs."""
    return [
        ConnectorConfig(connector=c, identity=i, source=s, frequency=f)
        for c, i, s, f in specs
    ]


def _scan_metrics(state, run_id):
    """Committed metrics["scan"] per member key of one run (manifest)."""
    return {
        rec["key"]: rec["metrics"].get("scan")
        for rec in state._run_records() if rec["run_id"] == run_id
    }


def _logs(r, cfg):
    return r["per_key"].get(cfg.reference(), {}).get("per_sink", {}).get("logs", {}).get("rows", 0)


def test_run_fleet_pruned_tick_equals_unpruned(spark, tmp_path, monkeypatch):
    """Once every member has a pointer, a tick reads only the files past
    the lowest watermark (the boundary file and the new batch) and
    commits exactly what an unpruned tick commits: per-key counts,
    pointers, seen hashes and written rows. The pruning decision is in
    the tick report and in each member's committed metrics."""
    import shutil

    from grove_spark.sources import scans

    seq = _history(tmp_path)
    cfgs = _fleet(
        ("okta_system_log", "a", "okta", 0),
        ("github_audit", "a", "github", 0),
        ("github_audit", "b", "github", 0),  # two identities on one source
    )
    state = RunState(str(tmp_path / "state"))
    r = run_fleet(spark, cfgs, seq, state, out_path=str(tmp_path / "out"), now=1.0)
    assert r["scan"] is None  # no pointers yet: the whole history
    _append_batch(seq, 1)
    run_fleet(spark, cfgs, seq, state, out_path=str(tmp_path / "out"), now=2.0)
    _append_batch(seq, 2)
    shutil.copytree(tmp_path / "state", tmp_path / "state_unpruned")

    pruned = run_fleet(spark, cfgs, seq, state, out_path=str(tmp_path / "out"), now=3.0)
    assert pruned["scan"] == {"files_kept": 2, "files_total": 3}
    assert _scan_metrics(state, pruned["run_id"]) == {
        c.reference(): pruned["scan"] for c in cfgs
    }

    real_scan = scans.incremental_scan

    def unpruned_scan(*a, **kw):
        return real_scan(*a, **{**kw, "prune": False})

    monkeypatch.setattr(scans, "incremental_scan", unpruned_scan)
    state_u = RunState(str(tmp_path / "state_unpruned"))
    full = run_fleet(spark, cfgs, seq, state_u, out_path=str(tmp_path / "out_u"), now=3.0)
    assert full["scan"] is None
    assert pruned["per_key"] == full["per_key"] and pruned["per_key"]
    for c in cfgs:
        ref = c.reference()
        assert state.pointer(ref) == state_u.pointer(ref)
        assert state.seen_hashes(ref) == state_u.seen_hashes(ref)

    def written(out, run_id):
        df = spark.read.parquet(f"{out}/part-{run_id}")
        return sorted(
            tuple(r) for r in df.select("doc_id", "connector", "identity", "descriptor").collect()
        )

    rows = written(tmp_path / "out", pruned["run_id"])
    assert rows == written(tmp_path / "out_u", full["run_id"])
    assert rows and all(d.startswith("b2-") for d, *_ in rows)


def test_run_fleet_new_member_reads_whole_history(spark, tmp_path):
    """A member added with no pointer forces an unpruned scan and
    catches up the whole history; the resumed member still commits only
    the new batch."""
    seq = _history(tmp_path)
    old = _fleet(("okta_system_log", "a", "okta", 0))
    state = RunState(str(tmp_path / "state"))
    run_fleet(spark, old, seq, state, now=1.0)
    b1 = _append_batch(seq, 1)
    assert run_fleet(spark, old, seq, state, now=2.0)["scan"] is not None
    b2 = _append_batch(seq, 2)
    new = _fleet(("github_audit", "a", "github", 0))
    r = run_fleet(spark, old + new, seq, state, now=3.0)
    assert r["scan"] is None
    hist = spark.read.parquet(os.path.join(seq, "part-00000.parquet"))
    n_github = (
        hist.where("source = 'github'").count()
        + int((b1["source"] == "github").sum()) + int((b2["source"] == "github").sum())
    )
    assert _logs(r, new[0]) == n_github
    assert _logs(r, old[0]) == int((b2["source"] == "okta").sum())
    assert _scan_metrics(state, r["run_id"]) == {
        c.reference(): None for c in old + new
    }


def test_run_fleet_lagging_member_keeps_older_files(spark, tmp_path):
    """The scan is pruned at the LOWEST due watermark: a member that was
    not due for a while keeps the older files it still needs, and both
    members commit exactly their own new rows."""
    seq = _history(tmp_path)
    fast, slow = _fleet(
        ("okta_system_log", "a", "okta", 0),
        ("github_audit", "a", "github", 100),
    )
    state = RunState(str(tmp_path / "state"))
    run_fleet(spark, [fast, slow], seq, state, now=1.0)
    _append_batch(seq, 1)
    run_fleet(spark, [fast, slow], seq, state, now=200.0)
    b2 = _append_batch(seq, 2)
    r = run_fleet(spark, [fast, slow], seq, state, now=201.0)  # slow not due
    assert r["due"] == 1 and r["scan"] == {"files_kept": 2, "files_total": 3}
    b3 = _append_batch(seq, 3)
    r = run_fleet(spark, [fast, slow], seq, state, now=400.0)
    # the slow member resumes from batch 1: batch 1 (its boundary), 2 and
    # 3 are read, the history is skipped
    assert r["scan"] == {"files_kept": 3, "files_total": 4}
    assert _logs(r, slow) == int((b2["source"] == "github").sum()) + int(
        (b3["source"] == "github").sum()
    )
    assert _logs(r, fast) == int((b3["source"] == "okta").sum())


def test_run_fleet_mixed_pointer_columns_stay_unpruned(spark, tmp_path):
    """Members resuming on different pointer columns share no bound: the
    tick reads unpruned and each member still resumes from its own
    pointer."""
    seq = _history(tmp_path)
    ts_m, num_m = _fleet(
        ("okta_system_log", "a", "okta", 0),
        ("github_audit", "a", "github", 0),
    )
    pcs = {num_m.reference(): "n_tok"}
    state = RunState(str(tmp_path / "state"))
    run_fleet(spark, [ts_m, num_m], seq, state, now=1.0, pointer_cols=pcs)
    b1 = _append_batch(seq, 1)
    r = run_fleet(spark, [ts_m, num_m], seq, state, now=2.0, pointer_cols=pcs)
    assert r["scan"] is None
    assert _logs(r, ts_m) == int((b1["source"] == "okta").sum())
    assert set(_scan_metrics(state, r["run_id"]).values()) == {None}


def test_member_names_with_quotes_route(spark, fixture_dir):
    """Member keys reach the plan as quoted SQL literals (one parsed IN
    per list): identities holding quotes and backslashes still route
    through the raw, filter-only and reshaping branches."""
    seq = spark.read.parquet(fixture_dir["sequences"])
    odd = ["o'brien", "back\\slash", "both\\'"]
    cfgs = [
        ConnectorConfig(connector="okta_system_log", identity=odd[0], source="okta"),
        ConnectorConfig(
            connector="okta_system_log", identity=odd[1], source="okta",
            processors=[{"processor": "filter_entries", "filters": ["sql:n_tok < 20"]}],
        ),
        ConnectorConfig(
            connector="okta_system_log", identity=odd[2], source="okta",
            processors=[{"processor": "filter_paths", "paths": ["raw"]}],
        ),
    ]
    routed = assemble_fleet(spark, cfgs, seq)
    counts = {
        (r["identity"], r["descriptor"]): r["count"]
        for r in routed.groupBy("identity", "descriptor").count().collect()
    }
    n = seq.where("source = 'okta'").count()
    kept = seq.where("source = 'okta' AND NOT n_tok < 20").count()
    assert counts == {
        (odd[0], "logs"): n, (odd[0], "processed"): n,
        (odd[1], "logs"): n, (odd[1], "processed"): kept,
        (odd[2], "logs"): n, (odd[2], "processed"): n,
    }
