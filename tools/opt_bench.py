"""Per-query measurement harness (guide §1): for each named query,
capture `.explain("formatted")` into plans/<round>/<name>_<tag>.txt
and time it isolated with the noop sink (1 warmup + min of N timed
passes, the bench.py protocol), labelling jobs for UI readability and
draining pins after every pass.

With several ``--sf`` values every query is timed at each scale, and
a marginal-cost row (first vs last scale, BASELINE.md's 10x-data
table) is printed per query at the end. Plans are captured at the
first scale only.

Usage: python tools/opt_bench.py [--tag before|after] [--sf sf_dir ...]
                                 [--passes N] query [query ...]
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nessus_client_etl_scripts_spark import pins
from nessus_client_etl_scripts_spark.session import get_spark


def explain_formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument(
        "--sf", action="append", help="sf dir; repeat for a marginal-cost row"
    )
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--round", default="r13", help="plans/<round>/ output dir")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    sfs = args.sf or ["/root/testdata/sf0.1"]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("opt_bench", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)

    best: dict[tuple[str, str], float] = {}
    for sf in sfs:
        for name in args.queries:
            fn = qs[name]
            if not args.no_plan and sf == sfs[0]:
                df = fn(spark, sf)
                with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as f:
                    f.write(explain_formatted(df))
                pins.drain()
            n_jobs = 0
            tracker = spark.sparkContext.statusTracker()
            for i in range(args.passes + 1):  # pass 0 = warmup
                gc.collect()
                group = f"{name}-{args.tag}-{os.path.basename(sf)}-{i}"
                spark.sparkContext.setJobGroup(group, f"{name} [{args.tag} pass {i}]")
                t0 = time.perf_counter()
                fn(spark, sf).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                pins.drain()
                if i > 0:
                    best[name, sf] = min(dt, best.get((name, sf), dt))
                    # the status store is filled by the listener bus,
                    # asynchronously: wait, or the last jobs go uncounted
                    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                    n_jobs = len(tracker.getJobIdsForGroup(group) or [])
            print(
                f"{name}  {args.tag}  {os.path.basename(sf)}  "
                f"{best[name, sf]:.3f}s  jobs/pass={n_jobs}",
                flush=True,
            )
    if len(sfs) > 1:
        for name in args.queries:
            a, b = best[name, sfs[0]], best[name, sfs[-1]]
            print(f"| {name} | {a:.2f} s | {b:.2f} s | {b - a:+.2f} s |")


if __name__ == "__main__":
    main()
