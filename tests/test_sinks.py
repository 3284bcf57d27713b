"""HTTP sink retry semantics (O5) — poster injected, no network.

The poster runs on EXECUTORS (foreachPartition), so the test seam spools
attempts to disk instead of mutating driver-side lists: Python workers
are separate processes even in local mode.
"""

import glob
import os
import uuid

import pytest

from grove_spark.operators.sinks import http_sink, stdout_sink


def _df(spark):
    return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(1)


def _spool_poster(spool: str, fail_first: int = 0):
    """A picklable poster that records each attempt as a file and fails
    the first ``fail_first`` attempts (per worker-visible spool dir)."""

    def poster(payload: bytes) -> None:
        n_before = len(glob.glob(os.path.join(spool, "attempt-*")))
        with open(os.path.join(spool, f"attempt-{uuid.uuid4().hex}"), "wb") as f:
            f.write(payload)
        if n_before < fail_first:
            raise IOError("503")

    return poster


def test_http_sink_posts_ndjson(spark, tmp_path):
    spool = str(tmp_path)
    sink = http_sink(_spool_poster(spool))
    sink(_df(spark))
    posts = glob.glob(os.path.join(spool, "attempt-*"))
    assert len(posts) == 1  # one partition -> one post, from the executor
    lines = open(posts[0], "rb").read().decode().split("\r\n")
    assert len(lines) == 2 and '"id":1' in lines[0]


def test_http_sink_retries_then_succeeds(spark, tmp_path):
    spool = str(tmp_path)
    sink = http_sink(_spool_poster(spool, fail_first=2), retries=5, backoff_s=0.001)
    sink(_df(spark))
    assert len(glob.glob(os.path.join(spool, "attempt-*"))) == 3


def test_http_sink_exhausts_retries(spark, tmp_path):
    spool = str(tmp_path)
    sink = http_sink(_spool_poster(spool, fail_first=99), retries=4, backoff_s=0.001)
    with pytest.raises(Exception, match="after 4 retries"):
        sink(_df(spark))
    assert len(glob.glob(os.path.join(spool, "attempt-*"))) == 4


def test_http_sink_never_collects():
    """The 100 TB guard: no driver-side collect in the sink module."""
    import inspect

    import grove_spark.operators.sinks as sinks

    src = inspect.getsource(sinks)
    assert ".collect()" not in src


def test_stdout_envelope(spark):
    """O4 envelope parity with grove/outputs/local_stdout.py:41-58."""
    import io
    import json

    buf = io.StringIO()
    n = stdout_sink(
        _df(spark), connector="okta_system_log", identity="corp",
        operation="all", descriptor="logs", datestamp="2024-01-01T00:00:00Z",
        stream=buf,
    )
    lines = [json.loads(l) for l in buf.getvalue().splitlines()]
    assert n == 2 and len(lines) == 2
    env = lines[0]
    assert set(env) == {
        "part", "kind", "descriptor", "connector", "identity",
        "operation", "datestamp", "message",
    }
    assert env["connector"] == "okta_system_log"
    assert env["datestamp"].endswith("Z")
    assert env["message"] == {"id": 1, "v": "a"}


class _ClientErr(Exception):
    """boto ClientError shape: .response['Error']['Code']."""

    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


def _s3_transport(spool, fail_codes=()):
    """SSM-provider-wire-shaped fake: assume_role mints rotating creds,
    put_object writes key->body under spool (executor-safe: local FS),
    failing the first len(fail_codes) puts with the given error codes."""
    import json as _json
    import os as _os

    def transport(action, params):
        if action == "sts.assume_role":
            assert params["RoleSessionName"] == "GroveOutputWriter"
            n = len(glob.glob(_os.path.join(spool, "_assume-*")))
            with open(_os.path.join(spool, f"_assume-{n}"), "w") as f:
                f.write(params["RoleArn"])
            return {"Credentials": {"AccessKeyId": f"AK{n}",
                                    "SessionToken": f"ST{n}"}}
        if action == "put_object":
            n_fail = len(glob.glob(_os.path.join(spool, "_fail-*")))
            if n_fail < len(fail_codes):
                with open(_os.path.join(spool, f"_fail-{n_fail}"), "w"):
                    pass
                raise _ClientErr(fail_codes[n_fail])
            dest = _os.path.join(spool, params["Key"].replace("/", "__"))
            with open(dest, "wb") as f:
                f.write(params["Body"])
            with open(dest + ".creds", "w") as f:
                _json.dump(params["Credentials"], f)
            return {}
        raise AssertionError(action)

    return transport


def test_s3_output_assume_role_and_key_template(tmp_path):
    """Reference parity grove/outputs/aws_s3.py:18-21,60-117: STS
    assume-role at setup, exact OBJECT_KEY layout on submit."""
    import datetime as dt

    from grove_spark.operators.sinks import S3ObjectOutput

    spool = str(tmp_path)
    out = S3ObjectOutput(_s3_transport(spool), bucket="logs",
                         assume_role_arn="arn:aws:iam::1:role/w")
    key = out.submit(b"data", "okta_system_log", "corp", "all", part=3,
                     now=dt.datetime(2024, 5, 6, 7, 8, 9))
    assert key == ("logs/okta_system_log/corp/2024/05/06/"
                   "all-2024-05-06T07:08:09Z.3.json.gz")
    assert (tmp_path / key.replace("/", "__")).read_bytes() == b"data"
    # the assumed credentials rode the put
    import json as _json
    creds = _json.loads((tmp_path / (key.replace("/", "__") + ".creds")).read_text())
    assert creds["AccessKeyId"] == "AK0"


def test_s3_output_expired_token_renews_once(tmp_path):
    """aws_s3.py:155-186: an ExpiredToken put triggers exactly one
    re-setup (fresh STS creds) and a retry; the retried put carries the
    ROTATED credentials."""
    import datetime as dt
    import json as _json

    from grove_spark.operators.sinks import S3ObjectOutput

    spool = str(tmp_path)
    out = S3ObjectOutput(_s3_transport(spool, fail_codes=("ExpiredToken",)),
                         bucket="b", assume_role_arn="arn:aws:iam::1:role/w")
    assert out.setup_count == 1
    key = out.submit(b"x", "c", "i", "all", now=dt.datetime(2024, 1, 1))
    assert out.setup_count == 2
    creds = _json.loads((tmp_path / (key.replace("/", "__") + ".creds")).read_text())
    assert creds["AccessKeyId"] == "AK1"  # renewed session, not the original


def test_s3_output_other_errors_and_double_expiry_are_loud(tmp_path):
    import datetime as dt

    import pytest as _pytest

    from grove_spark.operators.sinks import S3ObjectOutput

    out = S3ObjectOutput(_s3_transport(str(tmp_path), fail_codes=("AccessDenied",)),
                         bucket="b")
    with _pytest.raises(RuntimeError, match="Unable to write object"):
        out.submit(b"x", "c", "i", "all", now=dt.datetime(2024, 1, 1))

    out2 = S3ObjectOutput(
        _s3_transport(str(tmp_path / "t2"),
                      fail_codes=("ExpiredToken", "ExpiredToken")),
        bucket="b")
    (tmp_path / "t2").mkdir()
    # second consecutive expiry: loud, specific, CHAINED (not "unknown")
    with _pytest.raises(RuntimeError, match="Unable to write object") as ei:
        out2.submit(b"x", "c", "i", "all", now=dt.datetime(2024, 1, 1))
    assert ei.value.__cause__ is not None


def test_s3_object_sink_puts_gzip_ndjson_per_partition(spark, tmp_path):
    """The Spark composition: executor-side foreachPartition gzip-NDJSON
    puts, partition id as the reference's part counter (O8), driver
    never touches the bytes."""
    import datetime as dt
    import gzip
    import json as _json

    from grove_spark.operators.sinks import S3ObjectOutput, s3_object_sink

    spool = str(tmp_path)

    # self-contained transport: closures ship to executors by value, so
    # no references to this test module's globals are allowed
    def transport(action, params):
        import os as _os

        assert action == "put_object"
        dest = _os.path.join(spool, params["Key"].replace("/", "__"))
        with open(dest, "wb") as f:
            f.write(params["Body"])
        return {}

    out = S3ObjectOutput(transport, bucket="logs")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "id int, v string"
    ).repartition(2)
    sink = s3_object_sink(out, "okta_system_log", "corp", "all",
                          now=dt.datetime(2024, 2, 3))
    sink(df)
    objs = [p for p in glob.glob(os.path.join(spool, "*.json.gz"))
            if not p.endswith(".creds")]
    assert len(objs) == 2  # one object per non-empty partition
    rows = []
    parts = set()
    for p in objs:
        parts.add(int(p.rsplit(".", 3)[1]))
        for line in gzip.decompress(open(p, "rb").read()).decode().splitlines():
            rows.append(_json.loads(line))
    assert sorted(r["id"] for r in rows) == list(range(8))
    assert parts == {0, 1}


def test_write_run_drops_a_dir_without_parquet(tmp_path):
    """A run-dir write that produced no parquet file is removed and its
    pending marker cleared: nothing for the commit to publish."""
    from grove_spark.operators.sinks import write_run
    from grove_spark.state.runstate import RunState

    state = RunState(str(tmp_path / "state"))
    run_dir = str(tmp_path / "out" / "part-x")
    pending = []

    def write(path):
        pending.append(set(state._pending_paths()))
        os.makedirs(os.path.join(path, "descriptor=logs"))

    assert write_run(state, run_dir, write, "event_time") == ([], {})
    assert pending == [{os.path.normpath(run_dir)}]  # registered first
    assert not os.path.exists(run_dir) and state._pending_paths() == {}
