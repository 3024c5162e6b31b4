"""Opt-in structured audit log + engine metrics counters.

Reference parity: audit.py (one JSON record per query, off by default,
activated by env var; parameter *values* never logged) and
shared/metrics.py counters, surfaced here through the existing
HealthServer /metrics endpoint.

Spark note: `execute()` is lazy, so the engine emits a `compile` event
(parse + plan build + any eager mutation actions) and `run()`/collect
paths emit a `run` event with the row count — together they cover what
the reference's eager executor logged in one record.

Enable with SPARK_GRAFT_AUDIT_LOG=1 (or programmatically via
enable_audit_log()); records go to the `pycypher_nmetl_spark.audit`
logger as single-line JSON.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
import uuid
from typing import Any

AUDIT_LOGGER = logging.getLogger("pycypher_nmetl_spark.audit")

_MAX_QUERY_LENGTH = 2048
_enabled: bool | None = None


def is_audit_enabled() -> bool:
    if _enabled is not None:
        return _enabled
    return os.environ.get("SPARK_GRAFT_AUDIT_LOG", "").lower() in ("1", "true", "yes")


def enable_audit_log(handler: logging.Handler | None = None) -> None:
    """Turn on audit records for this process (overrides the env var)."""
    global _enabled
    _enabled = True
    AUDIT_LOGGER.setLevel(logging.INFO)
    if handler is None and not AUDIT_LOGGER.handlers:
        handler = logging.StreamHandler()
        handler.setFormatter(logging.Formatter("%(message)s"))
    if handler is not None:
        AUDIT_LOGGER.addHandler(handler)


def disable_audit_log() -> None:
    global _enabled
    _enabled = False


def audit_event(
    event: str,
    query: str,
    *,
    status: str,
    elapsed_ms: float,
    rows: int | None = None,
    error: BaseException | None = None,
    parameters: dict[str, Any] | None = None,
    query_id: str | None = None,
) -> str | None:
    """Emit one audit record; returns the query correlation id.

    Parameter VALUES and result data are never logged — only names.
    """
    if not is_audit_enabled():
        return None
    qid = query_id or uuid.uuid4().hex[:16]
    record = {
        "query_id": qid,
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
        "event": event,
        "query": query[:_MAX_QUERY_LENGTH],
        "status": status,
        "elapsed_ms": round(elapsed_ms, 3),
    }
    if rows is not None:
        record["rows"] = rows
    if error is not None:
        record["error_type"] = type(error).__name__
    if parameters:
        record["parameter_keys"] = sorted(parameters)
    AUDIT_LOGGER.info(json.dumps(record))
    return qid


class EngineMetrics:
    """Monotonic counters (OTel-counter shaped; shared/metrics.py parity).

    Exposed through HealthServer /metrics alongside the cache counters.
    """

    def __init__(self) -> None:
        self.counters: dict[str, int] = {
            "queries_compiled": 0,
            "queries_failed": 0,
            "mutations_committed": 0,
            "query_timeouts": 0,
        }
        # engines serve concurrent threads; += is a read-modify-write
        self._lock = threading.Lock()

    def inc(self, name: str, by: int = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + by

    def as_lines(self) -> list[str]:
        with self._lock:
            return [f"{k} {v}" for k, v in sorted(self.counters.items())]
