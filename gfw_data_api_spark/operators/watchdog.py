"""Query watchdog: the reference's 58 s interactive timeout.

Reference: read-engine ``command_timeout`` 58 s (app/settings/
globals.py:143, application.py:101-106), surfaced as HTTP 524
(app/main.py:53-64). On Spark the analog is a job group that gets
cancelled when the deadline passes — ``interruptOnCancel`` interrupts
executor task threads, so the cluster stops burning on an abandoned
query (SURVEY.md §4.2).
"""

from __future__ import annotations

import threading
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gfw_data_api_spark.operators.downloads import _guard_collect

DEFAULT_QUERY_TIMEOUT_S = 58.0


class QueryTimeoutError(Exception):
    status_code = 524

    def __init__(self, timeout: float):
        super().__init__(f"Query exceeded the {timeout:.0f}s execution limit.")
        self.timeout = timeout


def collect_with_timeout(
    spark: SparkSession,
    df: DataFrame,
    timeout_s: float = DEFAULT_QUERY_TIMEOUT_S,
) -> list[Any]:
    """Collect ``df``, cancelling its jobs if the deadline passes."""
    sc = spark.sparkContext
    group = f"gfw-watchdog-{uuid.uuid4().hex}"
    outcome: dict[str, Any] = {}

    def target() -> None:
        # job group is thread-local: set it in the collecting thread
        sc.setJobGroup(group, "guarded query (watchdog)", interruptOnCancel=True)
        try:
            # API response path: capped like every in-memory response
            outcome["rows"] = _guard_collect(
                df, "collect_with_timeout", "write_csv / export_ndjson_features"
            )
        except Exception as exc:  # noqa: BLE001 — surfaced to caller below
            outcome["error"] = exc
        finally:
            sc.setJobGroup("", "")

    worker = threading.Thread(target=target, daemon=True)
    worker.start()
    worker.join(timeout_s)
    if worker.is_alive():
        sc.cancelJobGroup(group)
        worker.join(10.0)
        raise QueryTimeoutError(timeout_s)
    if "error" in outcome:
        raise outcome["error"]
    return outcome["rows"]
