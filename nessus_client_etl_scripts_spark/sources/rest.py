"""REST JSON source — SURVEY.md §2.1 S1/S2.

The reference fetches six endpoint shapes over HTTPS with an
``X-ApiKeys`` header (request(), export.py:111-115; URL templates
export.py:42-51) and iterates the payloads in Python. Here the
transport is INJECTABLE (any ``url -> dict`` callable): production
wires an HTTP client, tests wire a fixture dict — the source logic
(endpoint templating, typed wrappers, payload → DataFrame with a
declared schema) is identical either way and fully testable offline.

Driver-side fetch → ``spark.createDataFrame`` is the right shape for
this API: the entity lists are small (folders/scans/runs). The deep
fan-out the reference does per host/vuln over HTTP (export.py:182-183)
is exactly what the lake removes — documents land once, Spark reads
them in parallel forever after.

Unlike the reference, TLS verification is NOT disabled by default
(export.py:14,114 turns it off globally — a misfeature; pass an
appropriately-configured transport if a lab scanner needs it).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .nessus_schemas import FOLDER_DOC_SCHEMA, SCAN_DOC_SCHEMA

Transport = Callable[[str], dict]

# endpoint templates (export.py:42-51)
ENDPOINTS = {
    "folders": "/folders",
    "scans": "/scans",
    "scan": "/scans/{scan_id}",
    "scan_run": "/scans/{scan_id}?history_id={history_id}",
    "host_vuln": "/scans/{scan_id}/hosts/{host_id}?history_id={history_id}",
    "plugin_output": (
        "/scans/{scan_id}/hosts/{host_id}/plugins/{plugin_id}"
        "?history_id={history_id}"
    ),
}


class NessusRestSource:
    """Typed endpoint wrappers (S2) over an injected transport."""

    def __init__(self, spark: SparkSession, transport: Transport):
        self.spark = spark
        self.fetch = transport

    # --- raw typed fetches (export.py:117-133) ---

    def get_folders(self) -> list[dict]:
        return self.fetch(ENDPOINTS["folders"]).get("folders") or []

    def get_scans(self) -> list[dict]:
        return self.fetch(ENDPOINTS["scans"]).get("scans") or []

    def get_scan(self, scan_id: int) -> dict:
        return self.fetch(ENDPOINTS["scan"].format(scan_id=scan_id))

    def get_scan_run(self, scan_id: int, history_id: int) -> dict:
        return self.fetch(
            ENDPOINTS["scan_run"].format(scan_id=scan_id, history_id=history_id)
        )

    def get_host_vuln(self, scan_id: int, host_id: int, history_id: int) -> dict:
        return self.fetch(
            ENDPOINTS["host_vuln"].format(
                scan_id=scan_id, host_id=host_id, history_id=history_id
            )
        )

    def get_plugin_output(
        self, scan_id: int, host_id: int, plugin_id: int, history_id: int
    ) -> dict:
        return self.fetch(
            ENDPOINTS["plugin_output"].format(
                scan_id=scan_id,
                host_id=host_id,
                plugin_id=plugin_id,
                history_id=history_id,
            )
        )

    # --- DataFrame views (S2's "six logical source tables") ---

    def folders_df(self) -> DataFrame:
        return self.spark.createDataFrame(self.get_folders(), FOLDER_DOC_SCHEMA)

    def scans_df(self) -> DataFrame:
        """Scan listing with per-scan history attached (the shape
        export.py:229-231 consumes: scan detail's history array joined
        onto the listing)."""
        scans = self.get_scans()
        for s in scans:
            detail = self.get_scan(s["id"])
            s["history"] = detail.get("history")
        return self.spark.createDataFrame(scans, SCAN_DOC_SCHEMA)

    def rows_df(self, rows: Sequence[dict], schema: T.StructType) -> DataFrame:
        return self.spark.createDataFrame(list(rows), schema)
