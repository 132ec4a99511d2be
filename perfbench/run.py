"""Benchmark of the engine's three production entry points.

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one Spark session at
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use),
one client in a closed loop: the next job starts only after the
previous one finished and its output was collected.

Set-up (session start, input staging, discarded warm-up jobs) is timed
as ``setup_s``; staging runs three times and counts once, at its median.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` spends half
the window on untraced jobs and half on traced ones and prints the
per-layer metrics (spans written to ``.bench_work/trace-*.json``);
tiles_stream has no traced job, its phase times come from a
StreamingQueryListener that is registered in every run.
Every job's output is checked; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from probes import CPU_KINDS, ProcTree, Tracer, host_steal_s  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SETUP_REPEATS = 3

TILE_LAYERS = (
    "sources.read",
    "operators.mine",
    "operators.pip",
    "plans.pipeline.aggregate",
    "plans.checkpoint",
)
CURATE_LAYERS = (
    "operators.corpus.rules",
    "operators.dedup.against",
    "operators.dedup.pairs",
    "operators.cluster",
    "plans.curation",
)
LAYER_FIELDS = (
    "wall_s",
    "self_s",
    "rows_out",
    "tasks",
    "jobs",
    "exec_run_s",
    "jvm_cpu_s",
    "pyworker_cpu_s",
    "shuffle_write_mb",
    "fetch_wait_s",
    "spill_mb",
)
STREAM_PHASES = (
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "getBatch",
    "latestOffset",
)


def layer_unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MiB"
    return "count"


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def host_calibration() -> dict:
    """bench.py's two host-calibration kernels (same loops, same
    sizes): single-core interpreter speed and memory-stream speed."""
    import numpy as np

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(8_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    a = np.random.default_rng(0).integers(0, 255, 200_000_000, dtype=np.uint8)
    t0 = time.perf_counter()
    s = 0
    for _ in range(6):
        b = a.copy()
        s += int(b[::4096].sum())
    stream = time.perf_counter() - t0
    return {"compute_kernel_sec_1core_min3": best, "stream_kernel_sec_1core": stream}


def preflight() -> None:
    """Fail fast, before starting Spark, outside a full checkout."""
    if not (ROOT / "osmquadtreepostgis_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no osmquadtreepostgis_spark package under {ROOT}")


def host_env(work: Path) -> dict:
    """Session settings that keep the run inside the checkout and fit
    the host: workers import the package from the checkout, all
    scratch space lives under the run's work dir."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # python workers inherit the JVM's environment, which inherits ours
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)]
        + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    # a fixed, pre-touched heap (initial = max, every page resident from
    # JVM start): peak memory then moves with what the program adds
    # beyond the heap (python workers, off-heap, driver) rather than with
    # G1's heap resizing, which swung the tree's peak by +-20 % between
    # identical runs, or with how much of the heap the warm-up jobs
    # happened to touch (+-10 % with one warm-up job)
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }


class Run:
    """Attempted and failed jobs, batches and output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One named output check."""
        self.attempt(bool(ok), f"check {name}: {detail}")


def guarded(run, what: str, fn):
    """``fn()``, or None with one failed item if it raises."""
    try:
        return fn()
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        run.attempt(False, f"{what}: {e!r}"[:300])
        return None


def timed_job(run, wl, proc, fn) -> dict | None:
    """One job, then its output read back for the checks. The record
    carries the CPU time the hypervisor gave other guests meanwhile
    (``steal``), to tell host noise from the program's own variance.
    A job that raises is one failed item and leaves no record; an
    output that cannot be read back is one failed item and leaves the
    record with ``output`` None."""
    c0 = proc.sample()
    s0 = host_steal_s()
    t0 = time.perf_counter()
    try:
        items, result = fn()
    except Exception as e:  # one failed job is a measured outcome
        traceback.print_exc(file=sys.stderr)
        run.attempt(False, f"job: {e!r}"[:300])
        return None
    wall = time.perf_counter() - t0
    steal = host_steal_s() - s0
    c1 = proc.sample()
    run.attempt(True, "job")
    return {
        "wall_s": wall,
        "steal_s": steal,
        "items": items,
        "cpu_s": sum(c1[k] - c0[k] for k in CPU_KINDS),
        "output": guarded(run, "read output", lambda: wl.read_output(result)),
    }


def run_loop(run, wl, proc, seconds: float, traced_fn=None) -> list[dict]:
    """Closed loop: jobs back to back for about ``seconds``. Another job
    starts only while at least half of the last one's time is left, so
    the loop ends within half a job of the deadline rather than up to a
    whole job past it (at least one job)."""
    jobs = []
    deadline = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        j = timed_job(run, wl, proc, traced_fn or wl.job)
        if j is not None:
            jobs.append(j)
        now = time.perf_counter()
        if deadline - now < (now - t0) / 2:
            return jobs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["tiles", "curate", "tiles_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    preflight()

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    conf = host_env(work)
    sys.path.insert(0, str(ROOT))

    from workloads import WORKLOADS

    from osmquadtreepostgis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    proc = ProcTree(jvm.pid)
    proc.start()
    run = Run()
    wl = None
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        stage_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.stage()
            stage_s.append(time.perf_counter() - t0)
        # discarded warm-up jobs; their outputs are checked all the same
        t0 = time.perf_counter()
        warm, warm_s = [], []
        for job in wl.warmup_jobs():
            t1 = time.perf_counter()
            w = timed_job(run, wl, proc, job)
            warm_s.append(time.perf_counter() - t1)
            if w is not None:
                warm.append(w["output"])
        # set-up as one pass pays it: process start up to the session,
        # the median staging pass and the warm-up jobs
        setup_s = (t0 - T_PROCESS) - sum(stage_s) + statistics.median(stage_s) + sum(warm_s)
        proc.reset_peak()

        traces = bool(args.trace and wl.traced_job is not None)
        window = args.seconds / 2 if traces else args.seconds
        jobs = run_loop(run, wl, proc, window)
        peak_rss = proc.peak_rss_mb
        tracer = traced = None
        if traces:
            tracer = Tracer(spark, proc, f"{args.workload}-{args.seed}")

            def traced_fn():
                tracer.new_trace()
                return wl.traced_job(tracer)

            traced = run_loop(run, wl, proc, window, traced_fn)

        # reference answers and checks: after the timed loops
        ref = guarded(run, "reference", wl.reference)
        check = run.check
        outputs = [(f"warmup{i}", w) for i, w in enumerate(warm)]
        outputs += [(f"job{i}", j["output"]) for i, j in enumerate(jobs)]
        outputs += [(f"traced{i}", j["output"]) for i, j in enumerate(traced or [])]
        for tag, out in outputs:
            if out is None:  # already counted as failed
                continue
            if ref is not None:
                guarded(run, f"check {tag}", lambda: wl.check(check, out, ref, tag))
            if tag.startswith("traced"):
                same = f"{tag}.equals_untraced"
                guarded(
                    run,
                    f"check {same}",
                    lambda: check(same, bool(jobs) and wl.same_output(out, jobs[0]["output"])),
                )

        if not jobs:
            raise RuntimeError("no job completed")
        if wl.batches_per_job:
            for j in jobs:
                got = len(wl.batches(j["output"]))
                for _ in range(wl.batches_per_job):
                    run.attempt(got == wl.batches_per_job, f"batch: {got} reported")
        n = f"n={len(jobs)} jobs"
        stream_batches = [b for j in jobs for b in wl.batches(j["output"])]
        walls = [j["wall_s"] for j in jobs]
        batch_s = [b["duration_ms"]["triggerExecution"] / 1e3 for b in stream_batches]
        batch_n = f"n={len(batch_s)} batches"
        if not batch_s:
            # a batch job commits its whole input at once: one batch per job
            # (also the fallback when no micro-batch was reported)
            batch_s = walls
            batch_n = f"n={len(batch_s)} jobs, one batch each"
        job_s = statistics.median(walls)
        e2e = {
            "setup_s": (
                setup_s,
                "s",
                f"session + median of {SETUP_REPEATS} stagings + {len(warm_s)} warm-up jobs",
            ),
            "job_s_p50": (job_s, "s", n),
            "items_per_s": (
                sum(j["items"] for j in jobs) / sum(walls),
                "1/s",
                f"{wl.unit}_per_s, {n}",
            ),
            "batch_s_p50": (statistics.median(batch_s), "s", batch_n),
            "batch_s_p90": (percentile(batch_s, 90), "s", batch_n),
            "cpu_s_per_job": (
                statistics.median(j["cpu_s"] for j in jobs),
                "s",
                f"driver + JVM + python workers, {n}",
            ),
            "peak_rss_mb": (peak_rss, "MiB", "process tree PSS during the timed jobs"),
        }
        print(
            f"# workload={args.workload} seed={args.seed} cores="
            f"{os.environ['SPARK_GRAFT_CPUS']} heap={os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        )
        print(
            f"# setup: session {session_s:.3f} s, stagings "
            f"{[round(x, 3) for x in stage_s]}, warm-up {[round(x, 3) for x in warm_s]}"
        )
        print(
            "# jobs (wall s, host steal cpu-s): "
            f"{[(round(j['wall_s'], 3), round(j['steal_s'], 2)) for j in jobs]}"
        )
        for name, (v, u, note) in e2e.items():
            print(f"{name} = {v:.6g} {u}  ({note})")
        fail_frac = run.failed / max(run.attempted, 1)
        print(f"fail_frac = {fail_frac:.6g}  (n={run.attempted} jobs, batches and checks)")
        for e in run.errors:
            print(f"# FAILED {e}")

        if not args.trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        else:
            metrics = per_layer(args, spark, stream_batches, traced, tracer, job_s)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        proc.stop()
        if wl is not None:
            wl.close()
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def per_layer(args, spark, stream_batches, traced, tracer, job_s) -> dict:
    from probes import StageReader

    reader = StageReader(spark)
    metrics = {}
    layer_vals = {}
    if tracer is not None:
        tracer.collect_stages(reader)
        by_layer: dict[str, list[dict]] = {}
        for s in tracer.spans:
            by_layer.setdefault(s.name, []).append(tracer.layer_fields(s))
        for layer, rows in by_layer.items():
            layer_vals[layer] = {f: statistics.median(r[f] for r in rows) for f in LAYER_FIELDS}
        roots = [s for s in tracer.spans if s.parent is None]
        for r in roots:
            own = [s for s in tracer.spans if s.trace_id == r.trace_id]
            total_self = sum(tracer.self_s(s) for s in own)
            print(
                f"# trace {r.trace_id}: job wall {r.wall_s:.4f} s, sum of layer "
                f"self times {total_self:.4f} s"
            )
        overhead = statistics.median(j["wall_s"] for j in traced) - job_s if traced else 0.0
    else:
        # tiles_stream's only trace is the listener, on in every run
        overhead = 0.0
    for layer in TILE_LAYERS + CURATE_LAYERS:
        vals = layer_vals.get(layer, {})
        for f in LAYER_FIELDS:
            metrics[f"{layer}.{f}"] = {"value": vals.get(f, 0), "unit": layer_unit(f)}
    for ph in STREAM_PHASES:
        v = [b["duration_ms"].get(ph, 0) for b in stream_batches]
        metrics[f"streaming.{ph}_ms"] = {
            "value": statistics.median(v) if v else 0,
            "unit": "ms",
        }
    totals = reader.totals()
    metrics["spark.failed_tasks"] = {"value": totals["failed_tasks"], "unit": "count"}
    metrics["spark.stage_retries"] = {"value": totals["stage_retries"], "unit": "count"}
    metrics["trace_overhead_s"] = {"value": overhead, "unit": "s"}
    calib = host_calibration()
    print(f"# host_calibration {json.dumps(calib)}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    out = ROOT / ".bench_work" / f"trace-{args.workload}-{args.seed}.json"
    out.write_text(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "host_calibration": calib,
                "untraced_job_s_p50": job_s,
                "spans": tracer.to_json() if tracer else [],
                "stream_batches": stream_batches,
            },
            indent=1,
        )
    )
    print(f"# spans written to {out.relative_to(ROOT)}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
