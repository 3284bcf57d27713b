"""The full connector registry as a DATA dimension.

The reference ships 44 connectors as Python classes registered through
setuptools entry points (pyproject.toml:67-111), each contributing only
three behavioral facts to the collection loop: its name, where the
incremental pointer lives in the payload (``POINTER_PATH``, e.g.
okta/system_log.py:21, zitadel/events.py:22), and whether the upstream
API pages forward or backward (``LOG_ORDER``). Everything else — paging,
retries, auth — is transport plumbing a set-oriented engine replaces
with predicate-pushdown scans (sources/scans.py).

So in grove_spark the registry is a 44-row broadcast DIMENSION, not 44
classes: the fleet assembler joins it to decide each branch's pointer
column and watermark direction. ``pointer_kind`` classifies the pointer
value so run-state comparisons use the right type (the reference's
zitadel sequence pointer is numeric; okta's is an ISO timestamp; the
1Password cursors are opaque strings).

Facts transcribed from /root/reference (file:line cited per entry group);
no reference code is used.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession

from grove_spark.session import local_frame

CHRONOLOGICAL = "CHRONOLOGICAL"
REVERSE = "REVERSE_CHRONOLOGICAL"


@dataclass(frozen=True)
class ConnectorSpec:
    connector: str
    pointer_path: str
    log_order: str
    pointer_kind: str  # timestamp | sequence | cursor | date


# One row per reference connector (pyproject.toml:67-111); POINTER_PATH /
# LOG_ORDER transcribed from each connector module's class constants,
# e.g. okta/system_log.py:20-21, zitadel/events.py:21-22,
# github/audit_log.py:21-22, slack/audit_logs.py, stripe/events.py.
CONNECTORS: List[ConnectorSpec] = [
    ConnectorSpec("quay_organization_logs", "datetime", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("fleetdm_host_logs", "software_updated_at", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("atlassian_audit_events", "attributes.time", REVERSE, "timestamp"),
    ConnectorSpec("atlassian_site_audit_events", "created", CHRONOLOGICAL, "timestamp"),
    # bigquery's pointer path is config-supplied (bigquery_query.py:39);
    # the engine treats it as a per-config override of this default
    ConnectorSpec("google_bigquery_query", "timestamp", CHRONOLOGICAL, "sequence"),
    ConnectorSpec("dropbox_team_events", "timestamp", CHRONOLOGICAL, "timestamp"),
    # quoted segment: the pointer key literally contains '@'
    ConnectorSpec("github_audit_log", "'@timestamp'", CHRONOLOGICAL, "sequence"),
    ConnectorSpec("github_rulesets", "pushed_at", REVERSE, "timestamp"),
    ConnectorSpec("gsuite_activities", "id.time", REVERSE, "timestamp"),
    ConnectorSpec("gsuite_usage", "date", CHRONOLOGICAL, "date"),
    ConnectorSpec("local_heartbeat", "timestamp", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("gsuite_alerts", "createTime", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("launchdarkly_audit_records", "date", REVERSE, "sequence"),
    ConnectorSpec("okta_system_log", "published", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("okta_users", "id", CHRONOLOGICAL, "cursor"),
    ConnectorSpec("onepassword_events_itemusages", "cursor", CHRONOLOGICAL, "cursor"),
    ConnectorSpec("onepassword_events_signinattempts", "cursor", CHRONOLOGICAL, "cursor"),
    ConnectorSpec("onepassword_events_audit", "cursor", CHRONOLOGICAL, "cursor"),
    ConnectorSpec("pagerduty_audit_records", "execution_time", REVERSE, "timestamp"),
    ConnectorSpec("sf_event_log", "TIMESTAMP_DERIVED", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("sf_field_audit_trail", "CreatedDate", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("sf_setup_audit_trail", "CreatedDate", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("sf_threat_detection", "EventDate", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("sfmc_audit_events", "createdDate", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("sfmc_security_events", "createdDate", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("slack_audit_logs", "date_create", REVERSE, "sequence"),
    ConnectorSpec("snowflake_login_history", "EVENT_TIMESTAMP", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("snowflake_query_history", "START_TIME", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("snowflake_session_history", "CREATED_ON", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("stripe_events", "created", REVERSE, "sequence"),
    ConnectorSpec("tines_audit_logs", "created_at", REVERSE, "timestamp"),
    ConnectorSpec("tfc_audit_trails", "timestamp", REVERSE, "timestamp"),
    ConnectorSpec("torq_activity_logs", "event.timestamp", REVERSE, "timestamp"),
    ConnectorSpec("torq_audit_logs", "timestamp", REVERSE, "timestamp"),
    ConnectorSpec("twilio_monitor_events", "event_date", REVERSE, "timestamp"),
    ConnectorSpec("twilio_messages", "date_sent", REVERSE, "timestamp"),
    ConnectorSpec("workday_activity_logging", "requestTime", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("zendesk_tickets", "updated_at", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("zendesk_search", "updated_at", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("zendesk_audit_logs", "created_at", CHRONOLOGICAL, "timestamp"),
    ConnectorSpec("zoom_activities", "time", REVERSE, "timestamp"),
    ConnectorSpec("zoom_operationlogs", "time", REVERSE, "timestamp"),
    ConnectorSpec("oomnitza_activities", "timestamp", REVERSE, "timestamp"),
    # monotonic numeric sequence — THE pointer that breaks string-ordered
    # watermarks (zitadel/events.py:21-22); see operators/dedup.
    ConnectorSpec("zitadel_events", "sequence", CHRONOLOGICAL, "sequence"),
]

BY_NAME: Dict[str, ConnectorSpec] = {c.connector: c for c in CONNECTORS}


def registry_dim(spark: SparkSession) -> DataFrame:
    """The registry as a broadcastable dimension DataFrame."""
    return local_frame(
        spark,
        [(c.connector, c.pointer_path, c.log_order, c.pointer_kind) for c in CONNECTORS],
        "connector string, pointer_path string, log_order string, pointer_kind string",
    )


def default_config_doc(connector: str, identity: str = "corp") -> dict:
    """A minimal ConnectorConfig document for a registry connector (the
    shape templates/configuration/** ship)."""
    spec = BY_NAME[connector]
    return {
        "connector": connector,
        "identity": identity,
        "name": f"{connector}-{identity}",
        "operation": "all",
        "extras": {"pointer_path": spec.pointer_path, "log_order": spec.log_order},
    }
