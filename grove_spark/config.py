"""Grove-style connector configuration -> Spark plan assembly.

A user of the reference drives everything with JSON config documents
(grove/models.py:73-124 ``ConnectorConfig``; templates/configuration/**):

    {"connector": "gsuite_activities", "identity": "...", "key": "...",
     "encoding": {"key": "base64"}, "operation": "drive", "delay": 60,
     "processors": [{"processor": "split_path", "source": "events"}, ...],
     "outputs": {"logs": "processed"}}

This module accepts those same documents and assembles the fleet plan:

* ``load_configs``    — S10 config scan (grove/configs/local_file.py:55-78),
  disabled docs dropped (entrypoints/base.py:61-64);
* ``hydrate_secrets`` — secrets-backend field fill
  (grove/secrets/__init__.py:28-85) with pluggable provider + the
  base64 config-field decode (grove/models.py:165-202);
* ``assemble_fleet``  — ONE DataFrame plan for the whole fleet: configs
  sharing a processor chain become one branch over a shared scan
  (the reference dispatches 50 threads; here branches of one plan);
* ``run_fleet``       — due() scheduling (T4) + per-connector pointer
  resume + manifest commit via RunState.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import re
import time
from base64 import b64decode
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grove_spark.session import in_list, local_frame
from grove_spark.state.runstate import RunState, reference

DEFAULT_FREQUENCY = 600  # grove/constants.py:63
DEFAULT_OPERATION = "all"  # grove/constants.py:57
# default output streams (grove/models.py:119-124)
DEFAULT_OUTPUTS = {"logs": "raw", "processed": "processed"}
# a fleet member's routing key as SQL: its (connector, identity,
# operation), the full config identity, joined by \x01
MEMBER_KEY = "concat_ws('\x01', connector, identity, operation)"


@dataclass
class ConnectorConfig:
    """Behavioral twin of the reference's Pydantic ConnectorConfig —
    unknown keys are kept in ``extras`` (extra=Extra.allow)."""

    connector: str
    identity: str
    name: str = ""
    key: str = ""
    operation: str = DEFAULT_OPERATION
    frequency: int = DEFAULT_FREQUENCY
    delay: int = 0
    disabled: bool = False
    processors: List[dict] = field(default_factory=list)
    outputs: Dict[str, str] = field(default_factory=lambda: dict(DEFAULT_OUTPUTS))
    encoding: Dict[str, str] = field(default_factory=dict)
    secrets: Dict[str, str] = field(default_factory=dict)
    source: str = ""  # which `source` value in the sequences table this feeds from
    extras: Dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, doc: dict) -> "ConnectorConfig":
        known = {f for f in cls.__dataclass_fields__ if f != "extras"}
        kw = {k: v for k, v in doc.items() if k in known}
        extras = {k: v for k, v in doc.items() if k not in known}
        cfg = cls(**kw, extras=extras)
        if not cfg.source:
            # convention: sequences.source is the vendor prefix of the
            # connector name (okta_system_log -> okta)
            cfg.source = cfg.connector.split("_")[0]
        return cfg

    def reference(self) -> str:
        return reference(self.connector, self.identity, self.operation)

    def chain_key(self) -> str:
        return json.dumps(self.processors, sort_keys=True)


def load_configs(path: str) -> List[ConnectorConfig]:
    """S10: read every ``**/*.json`` config document; drop disabled.

    A malformed document (bad JSON, missing required fields) is logged
    and SKIPPED, never fatal — one broken config must not stop the whole
    fleet's collection (grove/configs/local_file.py:68-76)."""
    import logging

    docs: List[dict] = []
    for p in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        try:
            with open(p) as f:
                loaded = json.load(f)
        except (json.JSONDecodeError, OSError) as err:
            logging.getLogger(__name__).error("skipping config %s: %s", p, err)
            continue
        docs.extend(loaded if isinstance(loaded, list) else [loaded])
    out: List[ConnectorConfig] = []
    for doc in docs:
        if not isinstance(doc, dict):
            logging.getLogger(__name__).error(
                "skipping non-object config document: %r", doc
            )
            continue
        try:
            cfg = ConnectorConfig.from_dict(doc)
        except (TypeError, ValueError) as err:
            logging.getLogger(__name__).error("skipping invalid config: %s", err)
            continue
        if not cfg.disabled:
            out.append(cfg)
    return out


def hydrate_secrets(
    configs: List[ConnectorConfig],
    provider: Callable[[str], str],
) -> List[ConnectorConfig]:
    """Fill fields listed under ``secrets`` from the provider, then apply
    the base64 config-field decode — same order as the reference
    (secrets load grove/secrets/__init__.py:48-85, then root validator
    decode grove/models.py:165-202)."""
    for cfg in configs:
        for fld, path in cfg.secrets.items():
            value = provider(path)
            if fld in cfg.__dataclass_fields__:
                setattr(cfg, fld, value)
            else:
                cfg.extras[fld] = value
        for fld, enc in cfg.encoding.items():
            if enc != "base64":
                continue
            if fld in cfg.__dataclass_fields__:
                setattr(cfg, fld, b64decode(getattr(cfg, fld) or "").decode())
            elif fld in cfg.extras:
                cfg.extras[fld] = b64decode(cfg.extras[fld] or "").decode()
    return configs


def env_secrets_provider(path: str) -> str:
    """Default sandbox provider: secret 'paths' resolve from env vars
    (production: SSM/Vault plugins, grove/secrets/aws_ssm.py)."""
    return os.environ.get(path, "")


def file_secrets_provider(store_path: str) -> Callable[[str], str]:
    """Local-file secrets backend (the Vault/SSM stand-in the reference
    registers as a plugin, grove/secrets/aws_ssm.py:35-86): a JSON
    document mapping secret paths to values. Values may be nested —
    ``a/b/c`` walks dicts, exactly like an SSM parameter hierarchy."""
    with open(store_path) as f:
        store = json.load(f)

    def provider(path: str) -> str:
        node: Any = store
        for seg in path.strip("/").split("/"):
            if not isinstance(node, dict) or seg not in node:
                return ""
            node = node[seg]
        return node if isinstance(node, str) else json.dumps(node)

    return provider


def vault_secrets_provider(
    addr: str,
    token: Optional[str] = None,
    token_file: Optional[str] = None,
    namespace: Optional[str] = None,
    api_version: str = "v1",
    transport: Optional[Callable[[str, Dict[str, str]], dict]] = None,
) -> Callable[[str], str]:
    """Vault-shaped network secrets backend — reference parity with
    grove/secrets/hashicorp_vault.py:

    * secret paths use the CLI ``-field`` convention:
      ``secret/data/example/demo?field=password`` selects one key of the
      stored credential (get_field_and_path, :116-140); a path without a
      ``field`` parameter is a loud ValueError;
    * KVv2 responses nest the payload under ``data.data`` (a KVv1 engine
      returns it under ``data``) — both unwrap transparently;
    * auth rides the ``X-Vault-Token`` header (token_file, when set,
      overrides token — :77-81), plus ``X-Vault-Namespace`` when given;
    * requests go to ``{addr}/{api_version}/{path}``.

    ``transport(url, headers) -> parsed JSON`` is injected: there is no
    egress in this sandbox, and in production it decouples the path/
    unwrap semantics from the HTTP client exactly like the HTTP sink's
    injected poster (operators/sinks.py). Register the result under a
    scheme: ``scheme_secrets_provider(extra={"vault": provider})``."""
    import urllib.parse

    if transport is None:
        raise ValueError(
            "vault_secrets_provider needs an injected transport "
            "(callable(url, headers) -> dict)"
        )
    if token_file:
        with open(token_file) as f:
            token = f.readline().strip()
    headers = {
        k: v
        for k, v in {
            "X-Vault-Token": token,
            "X-Vault-Request": "true",
            "X-Vault-Namespace": namespace,
        }.items()
        if v is not None
    }
    base = addr.rstrip("/") + "/" + api_version

    def provider(path: str) -> str:
        url = urllib.parse.urlparse(path)
        qs = urllib.parse.parse_qs(url.query)
        try:
            field = qs.pop("field", [])[0]
        except IndexError:
            raise ValueError(
                "No 'field' parameter was found in the secret path."
            ) from None
        # keep the netloc: a scheme-registry spelling like
        # 'vault://secret/data/x?field=y' parses its first segment as
        # netloc, and erasing it (the reference only ever sees
        # schemeless paths) would silently drop 'secret/' from the
        # request and hydrate an empty value
        clean = url._replace(
            scheme="", params="",
            query=urllib.parse.urlencode(qs, doseq=True),
        )
        ref = urllib.parse.urlunparse(clean).lstrip("/")
        doc = transport(f"{base}/{ref}", headers) or {}
        data = doc.get("data") or {}
        if isinstance(data.get("data"), dict):  # KVv2 nests under data.data
            data = data["data"]
        value = data.get(field, "")
        return value if isinstance(value, str) else json.dumps(value)

    return provider


def ssm_secrets_provider(
    transport: Callable[[str, dict], dict],
    region: Optional[str] = None,
    assume_role_arn: Optional[str] = None,
) -> Callable[[str], str]:
    """SSM-parameter-store-shaped secrets backend — reference parity
    with grove/secrets/aws_ssm.py:97-111 via an injected transport (no
    AWS in this sandbox; in production the transport wraps boto3, the
    same decoupling as vault_secrets_provider / the HTTP sink's poster).

    ``transport(action, params) -> dict`` speaks the SSM/STS wire shape:

    * ``get_parameter`` with ``{"Name": path, "WithDecryption": True}``
      -> ``{"Parameter": {"Value": ...}}`` (the provider returns
      ``Parameter.Value``, '' when absent — the reference's
      ``jmespath.search("Parameter.Value", ...)``);
    * when ``assume_role_arn`` is set, ONE up-front
      ``sts.assume_role`` call (RoleArn + RoleSessionName, reference
      :80-84) whose ``Credentials`` ride every later params dict — the
      cross-account pattern without real STS.

    Transport errors propagate wrapped, matching the reference's
    AccessException contract (:92-95): a missing parameter is a loud
    error from the transport, not a silent ''. Register under a scheme:
    ``scheme_secrets_provider(extra={"ssm": provider})``."""
    creds: Dict[str, Any] = {}
    if region:
        creds["_region"] = region
    if assume_role_arn:
        try:
            role = transport(
                "sts.assume_role",
                {"RoleArn": assume_role_arn,
                 "RoleSessionName": "GroveSecretHandler", **creds},
            )
            creds["Credentials"] = role["Credentials"]
        except Exception as err:
            raise RuntimeError(
                f"Secrets handler was unable to access AWS SSM: {err}"
            ) from err

    def provider(path: str) -> str:
        try:
            doc = transport(
                "get_parameter",
                {"Name": path, "WithDecryption": True, **creds},
            )
        except Exception as err:
            raise RuntimeError(
                "Secrets handler failed to read secret from AWS SSM "
                f"path {path}: {err}"
            ) from err
        value = (doc or {}).get("Parameter", {}).get("Value")
        return value if isinstance(value, str) else (
            json.dumps(value) if value is not None else ""
        )

    return provider


def ssm_config_provider(
    transport: Callable[[str, dict], dict],
    prefix: str = "/grove/connectors/",
    region: Optional[str] = None,
    assume_role_arn: Optional[str] = None,
) -> Callable[..., List[ConnectorConfig]]:
    """SSM-shaped CONFIG backend — reference parity with
    grove/configs/aws_ssm.py:100-170: connector config documents are
    enumerated by path under a common prefix, one bad document can
    never take the fleet down.

    The returned ``get(id="/")`` joins ``prefix`` with ``id``, then
    pages ``get_parameters_by_path`` (Recursive + WithDecryption,
    ``NextToken`` continuation — the boto3 paginator's wire shape) and:

    * skips parameters missing Name or Value (logged, :131-134);
    * parses each Value as a JSON connector document; invalid JSON or a
      document the model rejects is logged and SKIPPED (:158-166) —
      "failure to load a single configuration should NEVER cause Grove
      to fail";
    * drops disabled documents, same as the local loader
      (load_configs / grove/connectors/base.py:61-64).

    Assume-role works exactly as in ssm_secrets_provider."""
    import logging

    log = logging.getLogger(__name__)
    creds: Dict[str, Any] = {}
    if region:
        creds["_region"] = region
    if assume_role_arn:
        try:
            role = transport(
                "sts.assume_role",
                {"RoleArn": assume_role_arn,
                 "RoleSessionName": "GroveConfigurationHandler", **creds},
            )
            creds["Credentials"] = role["Credentials"]
        except Exception as err:
            raise RuntimeError(
                f"Config handler failed to access AWS SSM: {err}"
            ) from err

    def get(id: str = "/") -> List[ConnectorConfig]:
        path = f"{prefix.rstrip('/')}/{id.lstrip('/')}"
        candidates: Dict[str, str] = {}
        token: Optional[str] = None
        while True:
            params: Dict[str, Any] = {
                "Path": path, "Recursive": True,
                "WithDecryption": True, **creds,
            }
            if token:
                params["NextToken"] = token
            try:
                page = transport("get_parameters_by_path", params) or {}
            except Exception as err:
                raise RuntimeError(
                    "Config handler failed to read value from SSM path "
                    f"'{path}': {err}"
                ) from err
            for parameter in page.get("Parameters", ()):
                name = parameter.get("Name")
                value = parameter.get("Value")
                if name and value:
                    candidates[name] = value
                    continue
                log.error(
                    "Config handler failed to fetch a connector "
                    "configuration: path=%s key=%s", path, name,
                )
            token = page.get("NextToken")
            if not token:
                break
        connectors: List[ConnectorConfig] = []
        for name, value in candidates.items():
            try:
                doc = json.loads(value)
                if not isinstance(doc, dict):
                    raise ValueError(
                        f"expected a JSON object, got {type(doc).__name__}"
                    )
                cfg = ConnectorConfig.from_dict(doc)
            except (json.JSONDecodeError, TypeError, ValueError) as err:
                log.error(
                    "Unable to load connector configuration: "
                    "document=%s: %s", name, err,
                )
                continue
            if not cfg.disabled:
                connectors.append(cfg)
        return connectors

    return get


def scheme_secrets_provider(
    extra: Optional[Dict[str, Callable[[str], str]]] = None,
) -> Callable[[str], str]:
    """Scheme-dispatched secrets resolution — the pluggable-backend
    analog of the reference's secrets plugins (grove/secrets/aws_ssm.py,
    hashicorp_vault.py register via entry points; grove/secrets/
    __init__.py:28-85 routes each config's secret refs to its backend):

    * ``env:NAME``           — environment variable;
    * ``file:/path``         — file contents, stripped;
    * ``json:/store.json#a/b`` — JSON document walk (the SSM parameter-
      hierarchy stand-in, see file_secrets_provider);
    * anything without a scheme falls back to ``env`` (back-compat with
      env_secrets_provider paths).

    ``extra`` registers additional backends by scheme — e.g.
    ``{"vault": my_vault_reader}`` — without touching this module."""
    backends: Dict[str, Callable[[str], str]] = {}

    def _env(ref: str) -> str:
        return os.environ.get(ref, "")

    def _file(ref: str) -> str:
        try:
            with open(ref) as f:
                return f.read().strip()
        except OSError:
            return ""

    def _json_store(ref: str) -> str:
        store_path, _, frag = ref.partition("#")
        try:
            return file_secrets_provider(store_path)(frag)
        except (OSError, json.JSONDecodeError):
            return ""

    backends.update({"env": _env, "file": _file, "json": _json_store})
    backends.update(extra or {})

    def provider(path: str) -> str:
        scheme, sep, ref = path.partition(":")
        if not sep or scheme not in backends:
            return _env(path)
        return backends[scheme](ref)

    return provider


def sinks_dim_from_configs(spark: SparkSession, configs: List[ConnectorConfig]) -> DataFrame:
    """Routing dim keyed by the FULL config identity (connector,
    identity, operation): two identities of the same connector each
    route only their own rows — keying by connector name alone would
    join every row to every identity's outputs (row multiplication)."""
    rows = []
    for cfg in configs:
        for descriptor, stream in cfg.outputs.items():
            rows.append(
                (cfg.connector, cfg.identity, cfg.operation, descriptor, stream, "s3")
            )
    return local_frame(
        spark,
        rows,
        "connector string, identity string, operation string, "
        "descriptor string, stream string, sink_kind string",
    )


# A filter naming a routing-dim column. Spark SQL identifiers are
# case-insensitive (``STREAM`` binds to ``stream``), and ``\b`` also
# matches a back-quoted name (`` `stream` ``).
_ROUTING_DIM_REF = re.compile(
    r"\b(descriptor|stream|sink_kind|routed_tokens)\b", re.IGNORECASE
)


def _filter_only_drop(df, chain):
    """Compile a chain made ONLY of built-in ``filter_entries`` steps to
    its combined drop condition (rows survive iff no step drops them —
    sequential filters compose as OR of drops). Returns None when the
    chain needs a real plan branch: any non-filter processor, a
    processor override registered under the same name, a step without
    ``filters`` (apply_chain's KeyError contract must surface there),
    or a filter that could bind to a routing-dim column after the join
    (``descriptor``/``stream``/``sink_kind``/``routed_tokens`` —
    pre-route those names resolve differently, so the predicate form
    would not be equivalent)."""
    from grove_spark.operators.processors import (
        _BUILTIN_FILTER_ENTRIES,
        _PROCESSORS,
        filter_drop_condition,
    )

    if _PROCESSORS.get("filter_entries") is not _BUILTIN_FILTER_ENTRIES:
        return None  # replaced via register_processor: semantics unknown
    drop = None
    for cfg in chain:
        if cfg.get("processor") != "filter_entries":
            return None
        filters = cfg.get("filters")
        if filters is None:
            return None
        if any(_ROUTING_DIM_REF.search(f) for f in filters):
            return None
        d = filter_drop_condition(df.schema, filters)
        drop = d if drop is None else (drop | d)
    return drop


def assemble_fleet(
    spark: SparkSession,
    configs: List[ConnectorConfig],
    sequences: DataFrame,
    watermarks: Optional[Dict[str, str]] = None,
    pointer_col: str = "event_time",
    seen_states: Optional[Dict[str, Dict[str, list]]] = None,
    return_deduped: bool = False,
    pointer_cols: Optional[Dict[str, str]] = None,
):
    """One routed DataFrame for the whole fleet.

    ``pointer_cols`` (reference -> column) lets connectors resume from
    DIFFERENT pointer columns in one tick — the reference's registry
    mixes timestamp, numeric-sequence and cursor pointers
    (registry.py pointer_kind); each member's watermark predicate and
    seen-hash pointer use its own column, typed natively.

    Member state is data, not plan: each member's resume state rides the
    member dim (a LocalRelation joined on ``source``) as columns — the
    index of its pointer column (``__pc``), its watermark validated
    driver-side (dedup.watermark_value, the "does not cast" error) and
    cast once, inside the dim, to that column's native type (``__wm<i>``,
    one column per distinct pointer column), and ``__incl``, set when the
    member has seen hashes (rows AT its watermark are re-read for the
    anti-join, grove/connectors/__init__.py:627-671). ONE deduped stream
    then feeds the whole fleet through expressions whose size is set by
    the distinct pointer columns, never by the member count:

    * the coarse scan predicate ``source IN (<sources>) AND pc >= <lowest
      watermark>`` (``>`` when no inclusive member sits at the lowest
      one), pushed to the parquet scan; the bound is added only when
      every member has a watermark on one shared pointer column;
    * the member-dim join fans a row out to every member reading its
      source, one row per (connector, identity, operation);
    * the exact filter ``wm IS NULL OR pc > wm OR (incl AND pc = wm)``
      over the joined columns (one such term per pointer column, gated
      on ``__pc``, when the fleet mixes pointer columns);
    * the seen-hash anti-join keyed by the FULL identity; its pointer is
      the shared column, or a CASE over the distinct pointer columns.

    Two identities sharing one source therefore each filter by their OWN
    state: keying on ``source`` alone would let one identity's seen
    hashes drop boundary rows the other has not ingested (data loss) and
    the lower watermark re-admit rows the other already committed
    (duplicates). The helper columns are dropped before the anti-join
    (``__pc`` right after it, which the pointer CASE reads), so the
    routed rows, their schema and the written files equal those of the
    per-member predicate form, kept as the spec in
    tests/test_property_fleet.py.

    Trade-off: the pushed bound is the LOWEST watermark, so one lagging
    member lowers it for every source. Rows of caught-up sources between
    that bound and their own watermark are read and then dropped by the
    exact filter — still exact per member, only the scan's row-group
    skipping is coarser than a per-source OR of bounds would be.

    Routing branches over the shared stream: one raw branch for every
    member, plus one processed branch per distinct reshaping processor
    chain (chainless members share a single pass-through branch, and a
    chain of filter_entries steps only is a predicate on that branch) —
    every branch derives from ONE scan subtree (persist the shared frame,
    as run_fleet does, and the source is read once per tick).

    Plan shape (verified in tests/test_plan_hygiene.py): every join is a
    BroadcastHashJoin, zero Python, the fleet's ``In(source, [...])``
    predicate reaches the parquet scan as a PushedFilter, every plan
    leaf is that scan or a LocalRelation (the member dim, sinks dim and
    seen hashes are built with ``session.local_frame``), and the Filters'
    predicate count does not grow with the member count.
    """
    from grove_spark.operators.dedup import (
        ENTRY_HASH_COLS,
        dedup_by_hash,
        pointer_kind,
        watermark_literal,
        watermark_value,
    )
    from grove_spark.operators.enrich import enrich
    from grove_spark.operators.processors import apply_chain
    from grove_spark.operators.routing import route

    watermarks = watermarks or {}
    seen_states = seen_states or {}
    pointer_cols = pointer_cols or {}

    # a state key that matches NO member would be silently ignored —
    # and an ignored watermark means a full re-ingest (duplicates), an
    # ignored seen-state means boundary re-admission. Misspelled
    # references fail loudly instead.
    refs = {m.reference() for m in configs}
    for label, d in (("watermarks", watermarks), ("seen_states", seen_states),
                     ("pointer_cols", pointer_cols)):
        unknown = set(d) - refs
        if unknown:
            raise ValueError(
                f"{label} keys match no fleet member: {sorted(unknown)} "
                f"(known references: {sorted(refs)})"
            )

    # ---- member state as member-dim columns -------------------------------
    pcs = sorted({pointer_cols.get(m.reference(), pointer_col) for m in configs})
    schema = sequences.schema
    dtypes = {pc: schema[pc].dataType for pc in pcs}
    wm_cols = [f"__wm{i}" for i in range(len(pcs))]
    dim_rows, seen_rows, resumed = [], [], []
    for m in configs:
        ref = m.reference()
        pc = pointer_cols.get(ref, pointer_col)
        wm = watermarks.get(ref)
        seen = seen_states.get(ref) or {}
        wms = [None] * len(pcs)
        if wm:
            wms[pcs.index(pc)] = str(wm)
            value = watermark_value(
                wm, pointer_kind(dtypes[pc]), f"{pc}'s type {dtypes[pc]}"
            )
            resumed.append((value, str(wm), bool(seen)))
        dim_rows.append((
            m.source, m.connector, m.identity, m.operation, m.frequency,
            m.delay, pcs.index(pc), bool(wm) and bool(seen), *wms,
        ))
        seen_rows += [
            (m.connector, m.identity, m.operation, ptr, h)
            for ptr, hs in seen.items() for h in hs
        ]
    dim = local_frame(
        spark,
        dim_rows,
        "source string, connector string, identity string, operation string, "
        "frequency int, delay int, __pc int, __incl boolean"
        + "".join(f", {c} string" for c in wm_cols),
    )
    dim = dim.withColumns(
        {c: F.col(c).cast(dtypes[pc]) for c, pc in zip(wm_cols, pcs)}
    )

    # ---- ONE deduped stream for the whole fleet ---------------------------
    # coarse, pushdown-able superset: the members' sources, and on one
    # shared pointer column with every member resumed, the lowest
    # watermark (native order; the literal is cast to the column's type
    # so the comparison lands in PushedFilters)
    coarse = in_list("source", sorted({m.source for m in configs}))
    if len(pcs) == 1 and len(resumed) == len(configs):
        low = min(v for v, _, _ in resumed)
        low_wm = next(w for v, w, _ in resumed if v == low)
        lit_low = watermark_literal(sequences, pcs[0], low_wm)
        inclusive = any(incl for v, _, incl in resumed if v == low)
        col = F.col(pcs[0])
        coarse = coarse & (col >= lit_low if inclusive else col > lit_low)
    ded = enrich(sequences.where(coarse), dim, on="source", how="inner")

    # exact per-member resume (D2/D3), one term per pointer column
    def since(i, pc):
        wm, col = F.col(wm_cols[i]), F.col(pc)
        return wm.isNull() | (col > wm) | (F.col("__incl") & (col == wm))

    if len(pcs) == 1:
        exact = since(0, pcs[0])
    else:
        exact = None
        for i, pc in enumerate(pcs):
            term = (F.col("__pc") == i) & since(i, pc)
            exact = term if exact is None else exact | term
    ded = ded.where(exact).drop("__incl", *wm_cols)
    if seen_rows:
        # seen state keyed by the full member identity; the md5 gate
        # reads each member's own seen pointers (operators/dedup). Every
        # row left is some member's, so with ONE pointer column the
        # member's pointer is just that column.
        seen_df = local_frame(
            spark,
            seen_rows,
            "connector string, identity string, operation string, "
            "pointer string, hash string",
        )
        ptr = pcs[0]
        if len(pcs) > 1:
            ptr = F.when(F.col("__pc") == 0, F.col(pcs[0]).cast("string"))
            for i, pc in enumerate(pcs[1:], 1):
                ptr = ptr.when(F.col("__pc") == i, F.col(pc).cast("string"))
        ded = dedup_by_hash(
            ded, seen_df, ENTRY_HASH_COLS, ptr,
            key_cols=["connector", "identity", "operation"],
        )
    ded = ded.drop("__pc")

    # ---- routing branches over the SHARED deduped stream ------------------
    # The sinks dim is keyed by the FULL config identity so same-named
    # connectors don't cross-route, and route()'s inner join doubles as
    # the membership filter. Branch count = 1 + one per distinct
    # reshaping chain (r6): a chainless member's "processed" stream is the
    # deduped rows UNCHANGED, so its processed sinks ride the same
    # broadcast routing join as every member's raw sinks — one fewer
    # union arm, one fewer scan+enrich+anti-join subtree and broadcast
    # build per tick, with a row multiset identical by construction.
    route_keys = ["connector", "identity", "operation"]

    def keys_of(members):
        return ["\x01".join([m.connector, m.identity, m.operation]) for m in members]

    groups: Dict[str, List[ConnectorConfig]] = {}
    for cfg in configs:
        groups.setdefault(cfg.chain_key(), []).append(cfg)
    chained: List[tuple] = []
    chainless: List[ConnectorConfig] = []
    pred_groups: List[tuple] = []  # (drop_cond, member keys)
    for chain_json, members in groups.items():
        chain = json.loads(chain_json)
        if not chain:
            chainless += members
            continue
        drop = _filter_only_drop(ded, chain)
        if drop is not None:
            # a chain made ONLY of filter_entries steps never reshapes
            # rows — it compiles to one boolean predicate. Applying it
            # AFTER the shared routing join (gated to the group's
            # processed rows) removes the group's union arm entirely:
            # same rows, one fewer scan+enrich+anti-join subtree and
            # broadcast build per tick (r6).
            pred_groups.append((drop, keys_of(members)))
            chainless += members  # processed sinks join the shared dim
        else:
            chained.append((chain, members))
    # one sinks dim per tick; each routing join takes its filtered view
    # (a Filter over a LocalRelation, folded into it by the optimizer)
    all_sinks = sinks_dim_from_configs(spark, configs)
    chainless_keys = keys_of(chainless)
    base_dim = all_sinks.where(
        (F.col("stream") != "processed")
        | in_list(MEMBER_KEY, chainless_keys)
    )
    base = route(ded, base_dim, connector_col=route_keys, raw_col="tokens")
    if pred_groups:
        gate = None
        for drop, keys in pred_groups:
            g = (
                in_list(MEMBER_KEY, keys)
                & (F.col("stream") == "processed")
                & F.coalesce(drop, F.lit(False))
            )
            gate = g if gate is None else (gate | g)
        base = base.where(~gate)
    branches = [base]
    for chain, members in chained:
        keys = keys_of(members)
        proc_sinks = all_sinks.where(
            (F.col("stream") == "processed") & in_list(MEMBER_KEY, keys)
        )
        # pre-filter to the group's members BEFORE the chain: fan-out
        # processors (split_path) must not run over foreign rows that
        # the routing join would drop anyway
        processed = apply_chain(ded.where(in_list(MEMBER_KEY, keys)), chain)
        branches.append(
            route(processed, proc_sinks, connector_col=route_keys, raw_col="tokens")
        )

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    if return_deduped:
        return out, ded
    return out


def run_daemon(
    spark: SparkSession,
    config_path: str,
    sequences_path: str,
    state: RunState,
    out_path: Optional[str] = None,
    refresh_s: float = 300.0,
    tick_s: float = 0.25,
    max_ticks: Optional[int] = None,
    now_fn: Callable[[], float] = time.time,
    sleep_fn: Callable[[float], None] = time.sleep,
    pointer_cols: Optional[Dict[str, str]] = None,
    keep_reports: int = 1000,
    compact_every_s: Optional[float] = None,
    compact_kw: Optional[dict] = None,
) -> List[dict]:
    """The ``groved`` daemon loop (grove/entrypoints/local_daemon.py:49-197):
    an endless scheduler that re-reads the config tree every ``refresh_s``
    (GROVE_CONFIG_REFRESH, constants.py:60) and runs the due connectors
    each ``tick_s`` (the 0.25 s scheduler tick, local_daemon.py:197).
    Where the reference harvests a thread-pool's futures, each tick here
    is ONE fleet plan + ONE atomic state commit.

    ``max_ticks`` bounds the loop (None = run forever); ``now_fn``/
    ``sleep_fn`` are injectable for tests and for external schedulers.
    A ConcurrentCommitError from a racing committer skips the tick —
    the work is retried on the next one (the reference's lock-conflict
    outcome, connectors/__init__.py:1067-1173). Returns the per-tick
    reports, capped at the newest ``keep_reports`` so the run-forever
    mode (4 ticks/s for days) cannot grow driver memory without bound —
    durable per-run telemetry lives in the run-state manifest, not here.
    The returned list carries the TRUE tick count as a ``ticks``
    attribute (len() only counts the retained tail).

    ``compact_every_s`` adds the maintenance tick: small-file compaction
    (operators/compaction.py) over the committed outputs on its own
    cadence — at fleet cadence the per-run part dirs are exactly the
    small-file pattern compaction exists for. A compaction that loses
    its conditional commit to a racing tick simply retries on the next
    maintenance interval.
    """
    from collections import deque

    from grove_spark.state.runstate import ConcurrentCommitError

    configs = load_configs(config_path)
    last_refresh = now_fn()
    last_compact = now_fn()
    reports: deque = deque(maxlen=keep_reports)
    ticks = 0
    while max_ticks is None or ticks < max_ticks:
        now = now_fn()
        if now - last_refresh >= refresh_s:
            configs = load_configs(config_path)
            last_refresh = now
        try:
            r = run_fleet(
                spark, configs, sequences_path, state,
                out_path=out_path, now=now, pointer_cols=pointer_cols,
            )
        except ConcurrentCommitError:
            r = {"due": 0, "skipped": "concurrent commit; retried next tick"}
        if (
            compact_every_s is not None
            and out_path
            and now - last_compact >= compact_every_s
        ):
            from grove_spark.operators.compaction import compact_runs

            last_compact = now
            try:
                c = compact_runs(spark, state, out_path, **(compact_kw or {}))
                r["compaction"] = c or "no-op"
            except ConcurrentCommitError:
                r["compaction"] = "lost conditional commit; retried next interval"
            except Exception as err:  # noqa: BLE001 - maintenance must
                # never kill the ingest loop (a corrupt part file or FS
                # hiccup in the OPTIONAL tick would otherwise take down
                # the daemon, and a restart re-selects the same
                # candidate and dies again)
                logging.getLogger(__name__).error(
                    "maintenance compaction failed; retrying next "
                    "interval: %s", err,
                )
                r["compaction"] = f"failed: {err}"
        reports.append(r)
        ticks += 1
        sleep_fn(tick_s)

    class _Reports(list):
        pass

    out = _Reports(reports)
    out.ticks = ticks
    return out


def run_fleet(
    spark: SparkSession,
    configs: List[ConnectorConfig],
    sequences_path: str,
    state: RunState,
    out_path: Optional[str] = None,
    pointer_col: str = "event_time",
    now: Optional[float] = None,
    pointer_cols: Optional[Dict[str, str]] = None,
) -> dict:
    """The daemon tick (T4, grove/entrypoints/local_daemon.py:104-147):
    pick configs that are due, build ONE fleet plan with their
    watermarks, write, then commit each connector's new pointer +
    metrics in the shared manifest. ``pointer_cols`` (reference ->
    column) supports heterogeneous pointer columns — timestamp and
    numeric-sequence connectors resume side by side in one tick.

    The tick reads the source ONCE, through
    ``sources/scans.incremental_scan``. When every due member has a
    committed pointer and all share one pointer column, that scan is
    pruned (``prune=True, inclusive=True``, footer stats cached under
    ``<state>/filestats``) at the LOWEST due watermark, compared in the
    column's native order: the files it reads stop growing with the
    history. A member with no pointer yet (a new connector) needs the
    whole history, and mixed pointer columns share no bound, so either
    reads unpruned. The pruning decision, ``{files_kept, files_total}``,
    is the report's ``scan`` (None when unpruned) and is committed in
    each due member's ``metrics["scan"]``, as run_incremental does."""
    from grove_spark.sources.scans import incremental_scan

    now = time.time() if now is None else now
    base_version = state.version()
    due = [c for c in configs if state.due(c.reference(), c.frequency, now)]
    if not due:
        return {"due": 0, "per_connector": {}}

    pointer_cols = pointer_cols or {}
    pc_of = {c.reference(): pointer_cols.get(c.reference(), pointer_col) for c in due}
    watermarks = {c.reference(): state.pointer(c.reference()) for c in due}
    seen_states = {c.reference(): state.seen_hashes(c.reference()) for c in due}
    # ONE scan per tick, pruned to the files that can hold rows at or
    # past the LOWEST due watermark when every due member resumes on one
    # shared pointer column; the exact per-member predicates live in
    # assemble_fleet. A member with no pointer yet needs the whole
    # history, and mixed pointer columns share no bound: unpruned.
    pcs = set(pc_of.values())
    scan_pc = next(iter(pcs)) if len(pcs) == 1 else pointer_col
    low = stats_cache = None
    if len(pcs) == 1 and all(watermarks.values()):
        from grove_spark.operators.dedup import watermark_value
        from grove_spark.sources.file_stats import FileStatsCache

        stats_cache = FileStatsCache(os.path.join(state.root, "filestats"))
        stats = stats_cache.stats_for(sequences_path, scan_pc)
        # the footer stats' kind orders the watermarks natively, as the
        # pruner compares them (numeric "10" > "9")
        kind = next((e.get("kind") for e in stats.values()), "str")
        low = min(
            watermarks.values(),
            key=lambda w: watermark_value(w, kind, f"{scan_pc}'s {kind} stats"),
        )
    sequences = incremental_scan(
        spark, sequences_path, scan_pc, low,
        prune=low is not None, inclusive=True, stats_cache=stats_cache,
    )
    scan = getattr(sequences, "_grove_prune", None)
    routed, deduped = assemble_fleet(
        spark, due, sequences, watermarks, pointer_col,
        seen_states=seen_states, return_deduped=True,
        # restrict to due members: assemble_fleet rejects unknown state
        # keys loudly, and a pointer_cols entry for a not-currently-due
        # connector is legitimate caller config, not a typo
        pointer_cols={k: v for k, v in pointer_cols.items() if k in pc_of},
    )
    # deduped FIRST: persist() captures a frame's plan with the cache
    # entries registered at that moment, so routed persisted second reads
    # deduped's in-memory relation instead of re-deriving the stream. The
    # stats action materialises both; the write reads routed's cache and
    # the boundary-hash job reads deduped's — ONE source scan per tick.
    # Persisted the other way round, routed's cache would re-derive the
    # deduped stream from the fact table and the boundary job would scan
    # it once more.
    deduped.persist()
    routed.persist()

    run_id = state.new_run_id()
    data_paths = []
    # State keys are (connector, identity, operation) — cfg.reference().
    # Grouping on connector alone would cross-contaminate multi-identity
    # fleets of the same connector: one identity's max pointer would be
    # committed as the other's watermark (silent data loss). The identity
    # and operation columns ride the member-dim join, so every
    # aggregate below groups on the full key. Max pointer is computed on
    # the NATIVE column type, stringified only at the manifest boundary —
    # max(cast-to-string) mis-orders numeric sequence pointers.
    key_cols = ["connector", "identity", "operation"]
    # one aggregation PER DISTINCT POINTER COLUMN (usually one): a mixed
    # fleet cannot take max over a single shared column without casting
    # to string, which mis-orders numeric pointers

    def keys_for(pc):
        return [
            "\x01".join([c.connector, c.identity, c.operation])
            for c in due if pc_of[c.reference()] == pc
        ]

    distinct_pcs = sorted(pcs)
    stats = []
    for pc in distinct_pcs:
        sub = routed if len(distinct_pcs) == 1 else routed.where(
            in_list(MEMBER_KEY, keys_for(pc))
        )
        stats += (
            sub.groupBy(*key_cols, "descriptor")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_tok").alias("sum_n_tok"),
                F.max(F.col(pc)).alias("new_pointer"),
            )
            .collect()
        )
    if out_path and stats:
        from grove_spark.operators.sinks import write_partitioned_parquet

        run_dir = f"{out_path}/part-{run_id}"
        state.register_pending(run_dir)  # orphan GC must not race the write
        write_partitioned_parquet(routed, run_dir)
        data_paths.append(run_dir)

    def row_key(r):
        return reference(r["connector"], r["identity"], r["operation"])

    per_key: Dict[str, dict] = {}
    for r in stats:
        d = per_key.setdefault(row_key(r), {"per_sink": {}, "new_pointer": None})
        d["per_sink"][r["descriptor"]] = {"rows": r["rows"], "sum_n_tok": r["sum_n_tok"]}
        # native-type comparison across this key's descriptors
        if d["new_pointer"] is None or (
            r["new_pointer"] is not None and r["new_pointer"] > d["new_pointer"]
        ):
            d["new_pointer"] = r["new_pointer"]

    # per-key boundary seen-hashes: rows AT each key's max pointer,
    # hashed like the next run's anti-join input. One small job over the
    # persisted pruned batch per pointer column.
    from grove_spark.operators.dedup import (
        ENTRY_HASH_COLS,
        advance_seen,
        boundary_hashes,
    )

    brows: Dict[str, list] = {}
    for pc in distinct_pcs if stats else []:
        sub = deduped if len(distinct_pcs) == 1 else deduped.where(
            in_list(MEMBER_KEY, keys_for(pc))
        )
        for r in boundary_hashes(sub, ENTRY_HASH_COLS, pc, key_cols).collect():
            brows.setdefault(row_key(r), []).append(r)

    updates = []
    for cfg in due:
        ref = cfg.reference()
        got = per_key.get(ref)
        # the boundary rows' own (Spark-cast) pointer string, so
        # watermark and seen keys stringify identically
        ptr, seen = advance_seen(brows.get(ref), watermarks.get(ref), seen_states.get(ref))
        updates.append(
            {
                "key": ref,
                "pointer": ptr,
                "seen": seen,
                "metrics": {
                    "per_sink": (got or {}).get("per_sink", {}),
                    **({"scan": scan} if scan is not None else {}),
                },
                "data_paths": data_paths if got else [],
            }
        )
    # ONE atomic manifest replace for the whole fleet tick; conditional on
    # the version observed before planning (optimistic concurrency).
    state.commit_many(updates, run_id, now=now, expected_version=base_version)
    routed.unpersist()
    deduped.unpersist()
    # report keyed by connector name for single-identity fleets (back-
    # compat), full reference keys alongside
    per_connector = {
        cfg.connector: per_key[cfg.reference()]
        for cfg in due if cfg.reference() in per_key
    }
    return {
        "due": len(due), "run_id": run_id, "scan": scan,
        "per_connector": per_connector, "per_key": per_key,
    }
