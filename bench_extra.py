"""Round-6 profiling harness (bench.py is FROZEN for measurement; this
file exists so optimization work can time single queries, capture
plans, and compare before/after without touching the driver contract).

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 --runs 1 q1 q2 ...
  python bench_extra.py --sf ... --explain-dir plans/r06 --suffix before q1
  python bench_extra.py --list

Timings use the same methodology as bench.py (`df.count()` on the
queries() callable, local[$SPARK_GRAFT_CPUS]); `--noop` switches to a
noop-sink write (guide §1.4) for diagnosing column-pruning effects.
Prints one JSON line: {"queries": {...}, "jobs": {...}, "sf": ...,
"runs": N}; "jobs" is the Spark job count of each query's last run,
read from the status store by job group, so a check that starts a job
while the plan is being built shows up in every A/B.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from osmquadtreepostgis_spark.session import get_spark

    qs = entrymod.queries()
    if args.list:
        print("\n".join(qs))
        return

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "bench_extra",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for name in args.names:
        fn = qs[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"# wrote {path}", file=sys.stderr)
        if args.plan_only:
            continue
        best = float("inf")
        n = 0
        for i in range(args.runs):
            group = f"bench_extra:{name}:{i}"
            sc.setJobGroup(group, f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                n = df.count()
            best = min(best, time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        timings[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s rows={n} jobs={jobs[name]}", file=sys.stderr)

    print(json.dumps({"queries": timings, "jobs": jobs, "sf": args.sf, "runs": args.runs}))
    spark.stop()


if __name__ == "__main__":
    main()
