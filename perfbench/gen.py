"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (NumPy's PCG64 stream
and Python's ``random.Random``), so the same seed gives byte-identical
inputs and another seed gives other inputs of the same size and shape.
Nothing here starts Spark: the inputs are written before any timing
starts and the program only ever reads the files.

Two input families:

- ``write_tables``: the star-schema and corpus tables the declared
  queries read (``documents``, ``events``, ``part``, ``supplier``,
  ``lineitem``), one parquet file each, in the same physical types as
  the engine's test data (int64 keys, int32 small ints, timestamp[us]).
- ``write_estate``: a Nessus estate. One multi-line JSON document per
  scan run under the S3 key shape
  ``{deployment}/{yyyymmdd}/scan_run_{scan_id}_{history_id}.json``,
  the scan listing (``SCAN_DOC_SCHEMA``) for day 1 and day 2, the
  folder listing, and a nested-parquet twin of the documents that the
  DuckDB output check walks independently of the engine.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "shiny")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

# One scale unit matches the engine's sf=1 test data row counts.
ROWS_PER_SF = {
    "documents": 50_000,
    "events": 1_000_000,
    "part": 200_000,
    "supplier": 10_000,
    "orders": 1_500_000,
}


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; 5 % are an earlier document plus a
    ``dup`` marker, which gives the dedup operators near-duplicate
    pairs and a few exact duplicate groups to find."""
    texts: list[str] = []
    n_words = rng.integers(10, 101, n)
    dup = rng.random(n) < 0.05
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(n_words[i]))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[x] for x in langs],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(1, n * 3 // 200)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": [EVENT_TYPES[x] for x in rng.integers(0, 5, n)],
            "value": np.round(rng.gamma(2.0, 20.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _part(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )


def _supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        }
    )


def _lineitem(rng: np.random.Generator, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    n = 4 * n_orders
    ship0 = np.datetime64("1995-01-02T00:00:00", "us")
    days = rng.integers(0, 2498, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[x] for x in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[x] for x in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(ship0 + days, pa.timestamp("us")),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, docs_sf: float) -> dict[str, int]:
    """Write the query input tables at scale ``sf`` (``documents`` at
    ``docs_sf``); returns bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    tables = {
        "documents": _documents(rng, max(1, int(ROWS_PER_SF["documents"] * docs_sf))),
        "events": _events(rng, n["events"]),
        "part": _part(rng, n["part"]),
        "supplier": _supplier(rng, n["supplier"]),
        "lineitem": _lineitem(rng, n["orders"], n["part"], n["supplier"]),
    }
    return {
        name: _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    }


# ---------------------------------------------------------------------------
# Nessus estate
# ---------------------------------------------------------------------------

DEPLOYMENT = "bench"
DAY1 = dt.date(2024, 3, 1)
DAY2 = DAY1 + dt.timedelta(days=1)
_DAY = 86_400
_DAY1_EPOCH = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp())
_SEV_COLS = {4: "critical_count", 3: "high_count", 2: "medium_count", 1: "low_count", 0: "info_count"}


def _plugin(r: random.Random, pid: int) -> dict:
    sev = pid % 5  # uniform over 0-4, severity 0 included
    return {
        "plugin_id": pid,
        "severity": sev,
        "name": f"plugin-{pid}",
        "family": f"family-{pid % 7}",
        "pluginattributes": {
            "see_also": None if pid % 4 == 0 else [f"https://ex.test/{pid}/{k}" for k in range(1 + pid % 3)],
            "synopsis": f"synopsis of plugin {pid}",
            "description": " ".join(r.choice(VOCAB) for _ in range(24)),
            "solution": f"apply fix {pid}",
            "plugin_publication_date": "2023/01/02",
            "plugin_modification_date": "2023/06/07",
            "risk_information": {
                "cvss_base_score": f"{sev * 2}.1" if sev else None,
                "cvss3_base_score": f"{sev * 2}.3" if sev else None,
                "cvss_vector": f"AV:N/sev{sev}",
                "cvss3_vector": f"CVSS:3.0/sev{sev}",
            },
        },
        "ref": None,
    }


@dataclasses.dataclass(frozen=True)
class EstateSpec:
    """Size of a generated estate. A host gets ``randint(1,
    max_vulns_per_host)`` distinct findings, except one host in eight
    that gets none."""

    n_folders: int
    n_scans: int
    runs_per_scan: int
    hosts_per_run: int
    max_vulns_per_host: int
    n_plugins: int
    day2_scans: int


def _scan_run_doc(r: random.Random, plugins: list[dict], spec: EstateSpec,
                  scan_id: int, history_id: int, start: int) -> dict:
    targets = []
    for h in sorted(r.sample(range(spec.hosts_per_run * 2), spec.hosts_per_run)):
        host_id = scan_id * 1000 + h
        # about one host in eight has no findings
        n_vulns = 0 if r.random() < 0.125 else r.randint(1, spec.max_vulns_per_host)
        vulns = []
        sev = dict.fromkeys(_SEV_COLS.values(), 0)
        # distinct plugins per host, skewed so low plugin ids recur on many hosts
        picked: set[int] = set()
        while len(picked) < n_vulns:
            picked.add(min(int(r.paretovariate(1.2)) - 1, spec.n_plugins - 1) if r.random() < 0.5
                       else r.randrange(spec.n_plugins))
        for pid in sorted(picked):
            p = plugins[pid]
            count = r.randint(1, 3)
            if p["severity"]:
                # the reference's counters skip severity 0 (export.py:60-65)
                sev[_SEV_COLS[p["severity"]]] += count
            vulns.append({
                "plugin": p,
                "host_vuln": {"nessus_host_id": host_id, "scan_run_id": history_id, "plugin_id": pid},
                "outputs": [
                    {"port": str(r.choice((22, 80, 443, 3389, 8080))), "output": f"seen {history_id}/{host_id}/{pid}/{k}"}
                    for k in range(r.randint(0, 2))
                ],
                "severity": p["severity"],
                "count": count,
            })
        targets.append({
            "host_id": host_id,
            "history_id": history_id,
            "scan_id": scan_id,
            "host_ip": f"10.{scan_id // 250}.{scan_id % 250}.{h}",
            "host_fqdn": f"host-{host_id}.example.test",
            "host_start": "Fri Mar  1 00:00:00 2024",
            "host_end": "Fri Mar  1 01:00:00 2024",
            "os": None if h % 3 == 0 else f"Linux Kernel 6.{h % 7}",
            **sev,
            "vulnerabilities": vulns,
        })
    return {
        "history_id": history_id,
        "scan_id": scan_id,
        "scanner_start": start,
        "scanner_end": start + 3600,
        "host_count": len(targets),
        **{c: sum(t[c] for t in targets) for c in _SEV_COLS.values()},
        "targets": targets,
    }


def _doc_text(doc: dict) -> str:
    """A scan-run document as multi-line JSON, one target per line."""
    head = json.dumps({k: v for k, v in doc.items() if k != "targets"})
    targets = ",\n".join(json.dumps(t) for t in doc["targets"])
    return f'{head[:-1]}, "targets": [\n{targets}\n]}}\n'


def write_estate(out_dir: str, seed: int, spec: EstateSpec) -> dict:
    """Write a day-1 estate and its day-2 increment; return a manifest
    with paths and the counts the export checks expect.

    FIXTURES.md section A constraints, all placed by the seed: one scan
    with a null ``history``, one scan whose latest day-1 run is still
    ``running``, one scan whose two latest runs tie on ``scan_start``,
    plugins of severity 0, hosts with zero findings. Day-1 runs are
    modified strictly before day 1, so the day-2 watermark export
    writes exactly the day-2 completed runs."""
    r = random.Random(seed)
    plugins = [_plugin(r, pid) for pid in range(spec.n_plugins)]
    null_scan, running_scan, tie_scan = r.sample(range(spec.n_scans), 3)
    src = os.path.join(out_dir, "source")
    folders = [{"id": f, "type": "main" if f == 0 else "custom", "name": f"folder-{f}"}
               for f in range(spec.n_folders)]
    history: dict[int, list[dict]] = {s: [] for s in range(spec.n_scans)}
    input_bytes = 0
    day1_fresh = 0
    run_files = {1: [], 2: []}

    def land(day: int, doc: dict) -> None:
        nonlocal input_bytes
        date = (DAY1 if day == 1 else DAY2).strftime("%Y%m%d")
        d = os.path.join(src, DEPLOYMENT, date)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"scan_run_{doc['scan_id']}_{doc['history_id']}.json")
        with open(path, "w") as f:
            f.write(_doc_text(doc))
        input_bytes += os.path.getsize(path)
        run_files[day].append(doc)

    for s in range(spec.n_scans):
        # distinct starts, days apart, all within the 60 days before day 1
        base = _DAY1_EPOCH - 60 * _DAY + s * 600
        days = sorted(r.sample(range(1, 55), spec.runs_per_scan))
        for k, d in enumerate(days):
            hid = s * 100 + k
            start = base + d * _DAY
            if s == tie_scan and k == spec.runs_per_scan - 1:
                start = base + days[k - 1] * _DAY  # equal-scan_start tie
            status = "running" if (s == running_scan and k == spec.runs_per_scan - 1) else "completed"
            land(1, _scan_run_doc(r, plugins, spec, s, hid, start))
            history[s].append({"history_id": hid, "status": status,
                               "last_modification_date": start + 7200})
            if status == "completed" and s != null_scan:
                day1_fresh += 1

    def scans_doc() -> list[dict]:
        return [{
            "id": s,
            "folder_id": s % spec.n_folders,
            "type": "local",
            "name": f"scan-{s}",
            "status": "completed",
            "last_modification_date": history[s][-1]["last_modification_date"],
            "history": None if s == null_scan else list(history[s]),
        } for s in range(spec.n_scans)]

    day1_scans = scans_doc()
    # day 2: new runs on some scans; the first of them is still running
    day2_fresh = 0
    grown = sorted(r.sample([s for s in range(spec.n_scans) if s != null_scan], spec.day2_scans))
    for i, s in enumerate(grown):
        hid = s * 100 + spec.runs_per_scan
        start = _DAY1_EPOCH + 3600 + s * 60
        land(2, _scan_run_doc(r, plugins, spec, s, hid, start))
        status = "running" if i == 0 else "completed"
        history[s].append({"history_id": hid, "status": status,
                           "last_modification_date": start + 7200})
        day2_fresh += status == "completed"
    day2_scans = scans_doc()

    paths = {
        "runs_day1": [os.path.join(src, DEPLOYMENT, DAY1.strftime("%Y%m%d"))],
        "runs_day2": [os.path.join(src, DEPLOYMENT, d.strftime("%Y%m%d")) for d in (DAY1, DAY2)],
        "scans_day1": os.path.join(src, "scans_day1.json"),
        "scans_day2": os.path.join(src, "scans_day2.json"),
        "folders": os.path.join(src, "folders.json"),
        "twin": os.path.join(out_dir, "twin"),
    }
    for key, rows in (("scans_day1", day1_scans), ("scans_day2", day2_scans), ("folders", folders)):
        with open(paths[key], "w") as f:
            json.dump(rows, f, indent=1)
    _write_twin(paths["twin"], run_files[1], day1_scans, folders)
    return {
        "paths": paths,
        "input_bytes": input_bytes,
        "day1_runs_offered": len(run_files[1]),
        "day1_fresh_runs": day1_fresh,
        "day2_runs_offered": len(run_files[1]) + len(run_files[2]),
        "day2_fresh_runs": day2_fresh,
        "n_scans": spec.n_scans,
        "n_folders": spec.n_folders,
        "null_scan": null_scan,
        "running_scan": running_scan,
        "tie_scan": tie_scan,
    }


def _write_twin(root: str, run_docs: list[dict], scan_docs: list[dict], folder_docs: list[dict]) -> None:
    """Nested-parquet twin of the day-1 documents for the DuckDB walk.
    Types mirror the engine's bronze schemas (int32 where Spark declares
    IntegerType)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nessus_client_etl_scripts_spark.sources.nessus_schemas import (
        FOLDER_DOC_SCHEMA,
        SCAN_DOC_SCHEMA,
        SCAN_RUN_DOC_SCHEMA,
    )

    os.makedirs(root, exist_ok=True)
    for name, rows, schema in (
        ("scan_run_docs", run_docs, SCAN_RUN_DOC_SCHEMA),
        ("scan_docs", scan_docs, SCAN_DOC_SCHEMA),
        ("folder_docs", folder_docs, FOLDER_DOC_SCHEMA),
    ):
        pq.write_table(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)),
                       os.path.join(root, f"{name}.parquet"))
