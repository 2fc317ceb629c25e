"""The benchmark's workloads: each is a list of operations run as one
pass, in order, on one long-lived session (a closed loop with one
client, the way the daily cron job and a batch pipeline run).

An operation is ``build`` (driver-side plan construction, including
the jobs eager pins and driver collects run), then ``action`` (the job
that produces the result), then an untimed ``check`` of the result.

Sizes are chosen so a whole run (three fresh JVMs for set-up, inputs,
a cold pass, two warm passes and every check) takes about a minute on
a 4-core machine.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
import random
import shutil
from collections.abc import Callable
from typing import Any

import gen
from checks import SURROGATES, CheckFailed, NessusOracle, compare, fetch, silver_counts_on_disk, tables_connection

# Declared queries of corpus_kernels (short ids): exact dedup and SimHash
# near-duplicate pairs over a pinned signature frame (operators.dedup),
# PageRank (operators.graph) and BPE train + encode (operators.lm). The
# iterative ones run a fixed number of rounds, so every seed gives the
# same job count.
KERNEL_QUERIES = ("q20", "q103", "q124", "q206")

# Input sizes, in units of the engine's test-data scale factor.
TABLES_SF, DOCUMENTS_SF = 0.01, 0.005
# Per run, the issue's estate shape: about 130 findings and 100 KB of
# JSON (its 1.2k runs, 160k findings, 120 MB). Fewer runs than the
# issue's, so a run fits the time budget. The split into 12 hosts of up
# to 24 findings, the 400 plugins and their skew, and the 4 folders
# are not taken from any measured estate.
NESSUS_SPEC = gen.EstateSpec(
    n_folders=4, n_scans=16, runs_per_scan=4, hosts_per_run=12,
    max_vulns_per_host=24, n_plugins=400, day2_scans=4,
)
PROCS = ("get_scan_stats", "get_scan_results", "get_folder_stats", "get_folder_results")
LOOKBACK_DAYS = 90


@dataclasses.dataclass
class Op:
    name: str
    kind: str  # query | export | normalize | export_incremental | proc
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], dict]  # raises CheckFailed; returns facts for metrics


@dataclasses.dataclass
class Workload:
    ops: list[Op]
    before_pass: Callable[[], None] = lambda: None
    input_bytes: int = 0
    output_roots: tuple[str, ...] = ()


def _collect(df) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]


def _resolve(names, queries) -> dict[str, str]:
    full = {}
    for short in names:
        hits = [n for n in queries if n.split("_")[0] == short]
        if len(hits) != 1:
            raise KeyError(f"declared query {short!r} not found")
        full[short] = hits[0]
    return full


def kernels_workload(spark, work: str, seed: int) -> Workload:
    """Declared queries over generated tables, each checked against its
    DuckDB oracle (evaluated once, before any pass)."""
    import __spark_entry__ as entry

    table_dir = os.path.join(work, "tables")
    sizes = gen.write_tables(table_dir, seed, TABLES_SF, DOCUMENTS_SF)
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = tables_connection(table_dir, sizes)
    ops = []
    for short, full in _resolve(KERNEL_QUERIES, queries).items():
        expected = fetch(con, oracles[full])

        def check(res, full=full, expected=expected):
            compare(full, *res, *expected)
            return {"rows": len(res[1])}

        ops.append(Op(short, "query", lambda fn=queries[full]: fn(spark, table_dir), _collect, check))
    return Workload(ops, input_bytes=sum(sizes.values()))


def nessus_workload(spark, work: str, seed: int) -> Workload:
    """The reference's daily job: day-1 backfill export, bronze→silver
    normalize, day-2 watermark export, then stored-procedure calls."""
    from nessus_client_etl_scripts_spark.pipeline.export_pipeline import run_export
    from nessus_client_etl_scripts_spark.pipeline.normalize import normalize_scan_runs, read_silver, write_silver
    from nessus_client_etl_scripts_spark.plans import nessus_api as api
    from nessus_client_etl_scripts_spark.sources.lake import read_scan_run_documents
    from nessus_client_etl_scripts_spark.sources.nessus_schemas import (
        FOLDER_DOC_SCHEMA,
        SCAN_DOC_SCHEMA,
        SCAN_RUN_DOC_SCHEMA,
        SILVER_TABLES,
    )

    m = gen.write_estate(os.path.join(work, "estate"), seed, NESSUS_SPEC)
    p = m["paths"]
    lake, silver = os.path.join(work, "lake"), os.path.join(work, "silver")
    oracle = NessusOracle(p["twin"], gen.DAY1 - datetime.timedelta(days=LOOKBACK_DAYS))

    def docs(path, schema):
        return spark.read.schema(schema).option("multiLine", "true").json(path)

    def lake_files() -> tuple[int, int]:
        n = size = 0
        for d, _, files in os.walk(os.path.join(lake, "scan_run")):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        return n, size

    def check_export(want: int, offered: int):
        def check(written):
            if written["scan_run"] != want:
                raise CheckFailed(f"export wrote {written['scan_run']} runs, generator made {want} fresh")
            files, size = lake_files()
            return {"runs_written": written["scan_run"], "runs_offered": offered,
                    "files": files, "bytes": size}
        return check

    expect_counts = oracle.silver_counts()

    def check_normalize(_):
        got = silver_counts_on_disk(silver, SILVER_TABLES)
        want = dict(expect_counts, folder=m["n_folders"], scan=m["n_scans"])
        if got != want:
            raise CheckFailed(f"silver row counts {got} != {want}")
        return {"rows_written": sum(got.values())}

    ops = [
        Op("export_day1", "export",
           lambda: (docs(p["scans_day1"], SCAN_DOC_SCHEMA), docs(p["runs_day1"], SCAN_RUN_DOC_SCHEMA)),
           lambda b: run_export(spark, b[0], b[1], lake, gen.DEPLOYMENT, mode="lookback",
                                lookback_days=LOOKBACK_DAYS, today=gen.DAY1),
           check_export(m["day1_fresh_runs"], m["day1_runs_offered"])),
        Op("normalize", "normalize",
           lambda: normalize_scan_runs(read_scan_run_documents(spark, lake, gen.DEPLOYMENT),
                                       folder_docs=docs(p["folders"], FOLDER_DOC_SCHEMA),
                                       scan_docs=docs(p["scans_day1"], SCAN_DOC_SCHEMA)),
           lambda tables: write_silver(tables, silver),
           check_normalize),
        Op("export_day2", "export_incremental",
           lambda: (docs(p["scans_day2"], SCAN_DOC_SCHEMA), docs(p["runs_day2"], SCAN_RUN_DOC_SCHEMA)),
           lambda b: run_export(spark, b[0], b[1], lake, gen.DEPLOYMENT, mode="watermark", today=gen.DAY2),
           check_export(m["day2_fresh_runs"], m["day2_runs_offered"])),
    ]
    for i, (proc, kwargs) in enumerate(proc_calls(seed, m)):
        scope = {k: v for k, v in kwargs.items() if k in ("scan_id", "folder_id")}
        if proc.endswith("_stats"):
            sql = oracle.stats_sql(kwargs["offset"], **scope)
        else:
            sql = oracle.results_sql(kwargs["offset"], plugin_id=kwargs.get("plugin_id"), **scope)
        expected = oracle.run(sql)

        def check(res, proc=proc, expected=expected):
            cols, rows = res
            keep = [j for j, c in enumerate(cols) if c not in SURROGATES]
            compare(proc, [cols[j] for j in keep], [tuple(r[j] for j in keep) for r in rows], *expected)
            return {"rows": len(rows)}

        ops.append(Op(f"{proc}#{i}", "proc",
                      lambda fn=getattr(api, proc), kw=kwargs: fn(read_silver(spark, silver), **kw),
                      _collect, check))

    def reset():
        for d in (lake, silver):
            shutil.rmtree(d, ignore_errors=True)

    return Workload(ops, before_pass=reset, input_bytes=m["input_bytes"],
                    output_roots=(lake, silver))


def proc_calls(seed: int, m: dict) -> list[tuple[str, dict]]:
    """One seeded call per stored procedure, in a fixed shape so every
    seed asks for the same amount of work: the scan whose latest runs
    tie on ``scan_start`` at offset 0, a random scan at offset 1, a
    random folder at offset 2, and a random folder's latest results
    filtered to one plugin (low plugin ids recur on many hosts)."""
    r = random.Random(seed * 7919 + 1)
    scans = [s for s in range(m["n_scans"]) if s != m["null_scan"]]
    return [
        ("get_scan_stats", {"scan_id": m["tie_scan"], "offset": 0}),
        ("get_scan_results", {"scan_id": r.choice(scans), "offset": 1}),
        ("get_folder_stats", {"folder_id": r.randrange(m["n_folders"]), "offset": 2}),
        ("get_folder_results", {"folder_id": r.randrange(m["n_folders"]), "plugin_id": r.randrange(8),
                                "offset": 0}),
    ]


WORKLOADS = {"nessus_daily": nessus_workload, "corpus_kernels": kernels_workload}
