"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts one long-lived session, runs one cold pass, then warm
passes until ``--seconds`` have elapsed, checks every operation's
output (untimed), and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are BENCHMARK.json's ``end_to_end`` list; with ``--trace
1`` its ``per_layer`` list, measured on traced warm passes that
alternate with untraced ones so the tracing overhead is stated. Exits
nonzero when any output check fails.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import env  # noqa: E402
from counters import CounterReader  # noqa: E402
from tracing import Tracer  # noqa: E402

SETUP_SAMPLES = 3  # fresh JVMs per run: two probe processes and the run's own
# Bursts of host load slowed whole ~8 s passes by 20-40 % in a quarter of
# the runs on a shared VM; with two warm passes the faster one stands.
MIN_WARM_PASSES = 2


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def run_op(spark, op, op_id: str, tracer, reader, pins) -> dict:
    """Build, act and drain one operation (timed), then check its
    output and read its counters (untimed)."""
    sc = spark.sparkContext
    gc.collect()
    if reader:
        reader.mark()
    sc.setJobGroup(op_id, op.name)
    rec = {"op": op.name, "kind": op.kind, "error": None, "facts": {}}
    result = None
    with tracer.span("op", op_id, name=op.name):
        w0, t0 = time.time(), time.perf_counter()
        t1 = None
        try:
            with tracer.span("build", op_id):
                built = op.build()
            t1 = time.perf_counter()
            with tracer.span("action", op_id):
                result = op.action(built)
        except Exception as e:  # noqa: BLE001 — a failing op is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        t2, w2 = time.perf_counter(), time.time()
        with tracer.span("drain", op_id):
            rec["drained"] = pins.drain()
        t3 = time.perf_counter()
        rec.update(build_s=(t1 or t2) - t0, action_s=t2 - (t1 or t2), wall_s=t2 - t0, drain_s=t3 - t2)
        if reader:
            with tracer.span("status-read", op_id):
                rec["counters"] = reader.read(op_id, w0, w2)
    if rec["error"] is None:
        try:
            rec["facts"] = op.check(result) or {}
        except Exception as e:  # noqa: BLE001 — any check error fails the op
            rec["error"] = f"check: {type(e).__name__}: {e}"[:300]
    return rec


def run_pass(spark, wl, idx: int, traced: bool, tracer, reader, pins) -> dict:
    wl.before_pass()
    recs = []
    with tracer.span("pass", idx=idx, traced=traced):
        for i, op in enumerate(wl.ops):
            recs.append(run_op(spark, op, f"p{idx}.{i}.{op.name}", tracer, reader if traced else None, pins))
    out_bytes = 0
    for root in wl.output_roots:
        for d, _, files in os.walk(root):
            out_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return {"traced": traced, "ops": recs, "out_bytes": out_bytes,
            "wall_s": sum(r["wall_s"] + r["drain_s"] for r in recs)}


def end_to_end(setups, cold, warm) -> dict:
    """Warm figures take each operation's and each pass's fastest warm
    sample: interference from other tenants of a shared host only ever
    slows a sample down (bench.py's min-of-2 rests on the same
    observation)."""
    op_best = [min(r["wall_s"] for r in same_op) for same_op in zip(*(p["ops"] for p in warm))]
    return {
        "setup_s": _median(setups),
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": min(p["wall_s"] for p in warm),
        "op_p50_s": _median(op_best),
    }


def per_layer(wl, queries, procs, setup_main, warm, rss_mb, attempted, failed) -> dict:
    """Per-warm-pass layer metrics, each the median over traced passes."""
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]

    def per_pass(fn):
        return _median(fn(p) for p in traced)

    def ctr(key):
        return per_pass(lambda p: sum(r["counters"][key] for r in p["ops"]))

    def op_sum(key, kinds=None, name=None):
        return per_pass(lambda p: sum(r[key] for r in p["ops"]
                                      if (kinds is None or r["kind"] in kinds) and (name is None or r["op"] == name)))

    def fact(kind, key):
        return per_pass(lambda p: sum(r["facts"].get(key, 0) for r in p["ops"] if r["kind"] == kind))

    build_s, action_s = op_sum("build_s"), op_sum("action_s")
    wall = per_pass(lambda p: p["wall_s"])
    op_walls = sorted(r["wall_s"] for p in warm for r in p["ops"])
    m = {
        "session.start_s": setup_main,
        "peak_rss_mb": rss_mb,
        "plans.build_s": build_s,
        "plans.action_s": action_s,
        "plans.build_share": build_s / (build_s + action_s) if build_s + action_s else 0.0,
        "spark.jobs": ctr("jobs"),
        "spark.job_gap_s": ctr("job_gap_s"),
        "spark.stages": ctr("stages"),
        "spark.tasks": ctr("tasks"),
        "spark.failed_tasks": ctr("failed_tasks"),
        "spark.task_run_s": ctr("task_run_s"),
        "spark.task_cpu_s": ctr("task_cpu_s"),
        "spark.core_busy_ratio": per_pass(
            lambda p: sum(r["counters"]["task_run_s"] for r in p["ops"]) / (p["wall_s"] * env.CORES)),
        "spark.input_bytes": ctr("input_bytes"),
        "spark.output_bytes": ctr("output_bytes"),
        "spark.shuffle_read_bytes": ctr("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": ctr("shuffle_write_bytes"),
        "spark.spill_bytes": per_pass(lambda p: sum(r["counters"]["memory_spill_bytes"]
                                                    + r["counters"]["disk_spill_bytes"] for r in p["ops"])),
        "sql.exchanges": ctr("exchanges"),
        "sql.scan_rows": ctr("scan_rows"),
        "pins.drained": op_sum("drained"),
        "pins.drain_s": op_sum("drain_s"),
        "counters.read_s": ctr("read_s"),
        "trace.warm_pass_s": wall,
        "trace.overhead_ratio": wall / min(p["wall_s"] for p in plain) - 1.0,
        "op.samples": float(len(op_walls)),
        "op_p90_s": statistics.quantiles(op_walls, n=10)[-1] if len(op_walls) >= 2 else op_walls[0],
        "ops_failed_ratio": failed / attempted,
        "pipeline.export.s": op_sum("wall_s", ("export",)),
        "pipeline.export.runs_written": fact("export", "runs_written"),
        "pipeline.export.bytes_written": fact("export", "bytes"),
        "pipeline.export.files_written": fact("export", "files"),
        "pipeline.export.incremental_s": op_sum("wall_s", ("export_incremental",)),
        "pipeline.export.incremental_ratio": per_pass(lambda p: sum(
            r["facts"].get("runs_written", 0) / r["facts"].get("runs_offered", 1)
            for r in p["ops"] if r["kind"] == "export_incremental")),
        "pipeline.normalize.s": op_sum("wall_s", ("normalize",)),
        "pipeline.normalize.rows_written": fact("normalize", "rows_written"),
        "pipeline.normalize.bytes_written": per_pass(
            lambda p: sum(r["counters"]["output_bytes"] for r in p["ops"] if r["kind"] == "normalize")),
        "plans.nessus_api.rows": fact("proc", "rows"),
        "lake_bytes_per_input_byte": per_pass(lambda p: p["out_bytes"]) / wl.input_bytes
        if wl.output_roots else 0.0,
    }
    for proc in procs:
        m[f"plans.nessus_api.{proc}.p50_s"] = _median(
            r["wall_s"] for p in traced for r in p["ops"] if r["op"].split("#")[0] == proc)
    for op in queries:
        m[f"op.{op}.s"] = op_sum("wall_s", name=op)
        m[f"op.{op}.jobs"] = per_pass(lambda p, op=op: sum(r["counters"]["jobs"] for r in p["ops"] if r["op"] == op))
    return m


def setup_probe(work: str) -> float:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "setup_probe.py"), work],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["setup_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    # The engine must be importable from the checkout; in a directory
    # without it the run exits nonzero without a result.
    if importlib.util.find_spec("nessus_client_etl_scripts_spark") is None:
        sys.exit("perfbench: the engine package is not in this checkout")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env.pin(work)
    from nessus_client_etl_scripts_spark import pins

    import workloads

    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 2)
        mark = now

    try:
        setups = [] if args.trace else [setup_probe(work) for _ in range(SETUP_SAMPLES - 1)]
        phase("setup_probes")
        spark, setup_main = env.start_session("perfbench")
        setups.append(setup_main)
        phase("session")
        try:
            wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
            phase("inputs_and_oracles")
            tracer = Tracer(bool(args.trace))
            reader = CounterReader(spark) if args.trace else None
            with tracer.span("workload", name=args.workload, seed=args.seed):
                cold = run_pass(spark, wl, 0, False, tracer, reader, pins)
                phase("cold_pass")
                warm = []
                t0 = time.perf_counter()
                # traced runs alternate untraced/traced/untraced passes, so the
                # tracing overhead is measured against passes on either side
                min_passes = 3 if args.trace else MIN_WARM_PASSES
                while time.perf_counter() - t0 < args.seconds or len(warm) < min_passes:
                    traced = bool(args.trace) and len(warm) % 2 == 1
                    warm.append(run_pass(spark, wl, len(warm) + 1, traced, tracer, reader, pins))
                phase("warm_passes")
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0
        finally:
            env.stop_session(spark)
            phase("stop")
            print(f"phases (s): {json.dumps(phases)}", file=sys.stderr)
        recs = [r for p in [cold, *warm] for r in p["ops"]]
        attempted, failed = len(recs), sum(r["error"] is not None for r in recs)
        for r in recs:
            if r["error"]:
                print(f"FAILED {r['op']}: {r['error']}", file=sys.stderr)
        op_s = {op.name: round(_median(r["wall_s"] for p in warm for r in p["ops"] if r["op"] == op.name), 3)
                for op in wl.ops}
        print(f"warm op medians (s): {json.dumps(op_s)}", file=sys.stderr)
        print(f"pass walls (s): {[round(p['wall_s'], 3) for p in [cold, *warm]]}", file=sys.stderr)
        if args.trace:
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
            metrics = per_layer(wl, workloads.KERNEL_QUERIES, workloads.PROCS, setup_main, warm, rss_mb,
                                attempted, failed)
        else:
            metrics = end_to_end(setups, cold, warm)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    for m in wanted:
        print(f"{m['name']:<44} {metrics[m['name']]:>16.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
