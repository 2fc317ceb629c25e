"""Untimed output checks, one per operation.

- Declared queries: the query's ``oracle_sql()`` run in DuckDB over the
  same generated parquet files, compared with the canonical row
  comparison of ``tools/compare_oracle.py`` (columns by name, cells
  stringified, rows sorted; DuckDB results fetched through Arrow, as
  the oracle harness does).
- Nessus stored procedures: an independent DuckDB walk of the
  generated documents' parquet twin (the style of the engine's
  ``_q36_oracle``): it never touches the silver tables the engine
  wrote, so a join-key bug in the engine cannot cancel out.
- Export and normalize: counts against what the generator knows it
  produced.

A check raises ``CheckFailed``; the runner counts that operation as
failed. No check is ever skipped.
"""

from __future__ import annotations

import datetime as dt

import duckdb

from tools.compare_oracle import _canon_rows

SEVERITY_COLS = ("critical_count", "high_count", "medium_count", "low_count", "info_count")
# Surrogate ids depend on partitioning, so the procedures' outputs are
# compared without them (as the engine's q36 oracle does).
SURROGATES = ("host_vuln_id", "host_id", "vuln_output_id")


class CheckFailed(Exception):
    pass


def compare(name: str, cols: list[str], rows: list[tuple], o_cols: list[str], o_rows: list[tuple]) -> None:
    if sorted(cols) != sorted(o_cols):
        raise CheckFailed(f"{name}: columns {sorted(cols)} != oracle {sorted(o_cols)}")
    if len(rows) != len(o_rows):
        raise CheckFailed(f"{name}: {len(rows)} rows != oracle {len(o_rows)}")
    if _canon_rows(cols, rows) != _canon_rows(o_cols, o_rows):
        raise CheckFailed(f"{name}: values differ from oracle")


def fetch(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    tbl = con.execute(sql).fetch_arrow_table()
    cols = list(tbl.column_names)
    return cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()]


def tables_connection(table_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


class NessusOracle:
    """DuckDB walk of the day-1 documents, filtered the way a day-1
    backfill export selects runs (completed runs of scans that have a
    history, modified on or after the lookback floor)."""

    def __init__(self, twin_dir: str, floor: dt.date):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(f"""
CREATE VIEW scans AS SELECT * FROM '{twin_dir}/scan_docs.parquet';
CREATE VIEW fresh AS
  SELECT id AS scan_id, h.history_id AS history_id FROM (
    SELECT id, unnest(history) AS h FROM scans WHERE history IS NOT NULL)
  WHERE h.status = 'completed'
    AND CAST(to_timestamp(h.last_modification_date) AS DATE) >= DATE '{floor.isoformat()}';
CREATE VIEW runs AS
  SELECT d.* FROM '{twin_dir}/scan_run_docs.parquet' d
  SEMI JOIN fresh f ON d.scan_id = f.scan_id AND d.history_id = f.history_id;
""")

    def _latest(self, offset: int, scan_id: int | None = None, folder_id: int | None = None) -> str:
        where = f"s.id = {scan_id}" if scan_id is not None else f"s.folder_id = {folder_id}"
        return f"""
latest AS (
  SELECT * FROM (
    SELECT r.*, s.folder_id, s.type AS scan_type, s.name AS scan_name,
           row_number() OVER (PARTITION BY r.scan_id
                              ORDER BY r.scanner_start DESC, r.history_id DESC) AS rn
    FROM runs r JOIN scans s ON s.id = r.scan_id WHERE {where})
  WHERE rn = {offset + 1})"""

    def stats_sql(self, offset: int, scan_id: int | None = None, folder_id: int | None = None) -> str:
        sev = ", ".join(SEVERITY_COLS)
        return f"""WITH {self._latest(offset, scan_id, folder_id)}
SELECT scan_id, history_id AS scan_run_id, scanner_start AS scan_start,
       scanner_end AS scan_end,
       CAST(to_json(list_transform(targets, t -> t.host_id)) AS VARCHAR) AS targets,
       host_count, {sev}, folder_id, scan_type AS type, scan_name AS name
FROM latest"""

    def results_sql(self, offset: int, scan_id: int | None = None, folder_id: int | None = None,
                    plugin_id: int | None = None) -> str:
        sev = ", ".join(f"t.{c} AS {c}" for c in SEVERITY_COLS)
        ri = "v.plugin.pluginattributes.risk_information"
        pa = "v.plugin.pluginattributes"
        plugin = "" if plugin_id is None else f"WHERE v.plugin.plugin_id = {plugin_id}"
        return f"""WITH {self._latest(offset, scan_id, folder_id)},
tgt AS (SELECT unnest(targets) AS t FROM latest),
vuln AS (SELECT t, unnest(t.vulnerabilities) AS v FROM tgt),
outp AS (SELECT t, v, unnest(v.outputs) AS o FROM vuln)
SELECT v.plugin.plugin_id AS plugin_id, v.host_vuln.nessus_host_id AS nessus_host_id,
       v.host_vuln.scan_run_id AS scan_run_id, t.scan_id AS scan_id,
       t.host_ip AS host_ip, t.host_fqdn AS host_fqdn, t.host_start AS host_start,
       t.host_end AS host_end, t.os AS os, {sev},
       v.plugin.severity AS severity, v.plugin.name AS name, v.plugin.family AS family,
       {pa}.synopsis AS synopsis, {pa}.description AS description, {pa}.solution AS solution,
       CAST({ri}.cvss_base_score AS DOUBLE) AS cvss_base_score,
       CAST({ri}.cvss3_base_score AS DOUBLE) AS cvss3_base_score,
       {ri}.cvss_vector AS cvss_vector, {ri}.cvss3_vector AS cvss3_vector,
       array_to_string({pa}.see_also, chr(10)) AS ref,
       {pa}.plugin_publication_date AS pub_date, {pa}.plugin_modification_date AS mod_date,
       o.port AS port, o.output AS output
FROM outp {plugin}"""

    def silver_counts(self) -> dict[str, int]:
        """Row counts the day-1 silver tables must have."""
        q = self.con.execute("""
WITH tgt AS (SELECT unnest(targets) AS t FROM runs),
vuln AS (SELECT unnest(t.vulnerabilities) AS v FROM tgt)
SELECT (SELECT count(*) FROM runs), (SELECT count(*) FROM tgt), (SELECT count(*) FROM vuln),
       (SELECT count(DISTINCT v.plugin.plugin_id) FROM vuln),
       (SELECT coalesce(sum(len(v.outputs)), 0) FROM vuln)""").fetchone()
        return dict(zip(("scan_run", "host", "host_vuln", "plugin", "vuln_output"), map(int, q)))

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        return fetch(self.con, sql)


def silver_counts_on_disk(silver_root: str, names) -> dict[str, int]:
    con = duckdb.connect()
    return {
        n: int(con.execute(f"SELECT count(*) FROM read_parquet('{silver_root}/{n}/*.parquet')").fetchone()[0])
        for n in names
    }
