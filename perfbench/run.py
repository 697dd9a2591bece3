"""Benchmark for geoglue_spark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload points_hotspot --seed 1 --seconds 10 --trace 0
    for w in points_hotspot image_tiles raster_monthly; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 10; done

Run from the root of a source checkout. BENCHMARK.json times three of the
four workloads; ``points_border`` runs by hand (with the JIT warm-up each
needs, four do not fit the benchmark's time budget). The program is the package in
that checkout, driven through its public functions from one driver
process on ``local[<cores>]``. Inputs and an independent reference are
made from ``--seed`` before anything is timed; every job's output is
checked against the reference. The next job starts when the previous one
has finished.

``--trace 0`` prints the end-to-end metrics: set-up time (median of
several set-ups), input rows per second of job wall time, median and tail
job time, and peak resident memory of the driver JVM with its Python
workers. ``--trace 1`` runs traced jobs instead and prints the per-layer
metrics (see :mod:`instruments`). The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Scratch files go under ``.perfbench_work/`` in the checkout; the images
fixture is cached there between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("points_hotspot", "points_border", "image_tiles", "raster_monthly")

SETUP_REPS = 3
# warm-up: JIT compilation keeps shortening jobs for 10-30 jobs; warm when
# the median of the last WARMUP_WINDOW jobs is within WARMUP_GAIN of the
# window before it
WARMUP_WINDOW = 4
WARMUP_GAIN = 0.03
WARMUP_MAX_S = 16.0
TRACE_UNTRACED_JOBS = 5
TRACE_MIN_REPS = 3
DRIVER_MEM = "2g"
# Point ids start at seed * rows and the layouts multiply ids by ~5e4 in
# 64-bit integers (Spark, DuckDB, NumPy alike), so any seed is first
# folded into [0, SEED_SPACE): 1e6 * 2M rows * 48271 stays below 2**63.
SEED_SPACE = 1_000_000


def fold_seed(seed: int) -> int:
    return seed % SEED_SPACE


END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "job_s_p50": "s",
    "job_s_tail": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "cover.build_s": "s",
    "cover.cell_rows": "count",
    "cover.block_rows": "count",
    "cover.broadcast_bytes": "bytes",
    "cover.broadcast_ms": "ms",
    "scan.rows": "count",
    "scan.bytes": "bytes",
    "scan.spread_shuffle_bytes": "bytes",
    "assign.plan_s": "s",
    "assign.plan_jobs": "count",
    "assign.candidate_rows": "count",
    "assign.boundary_rows": "count",
    "assign.python_rows": "count",
    "assign.python_bytes": "bytes",
    "assign.python_s": "s",
    "assign.useful_ratio": "ratio",
    "assign.kept_rows": "count",
    "assign.self_s": "s",
    "pip.points_per_s": "1/s",
    "zonal.partial_rows": "count",
    "zonal.shuffle_bytes": "bytes",
    "zonal.agg_ms": "ms",
    "zonal.peak_mem_bytes": "bytes",
    "zonal.self_s": "s",
    "codec.python_rows": "count",
    "codec.python_bytes": "bytes",
    "codec.python_s": "s",
    "codec.null_rows": "count",
    "codec.phash_mismatch": "count",
    "codec.self_s": "s",
    "dedup.plan_jobs": "count",
    "dedup.band_rows": "count",
    "dedup.pairs": "count",
    "dedup.self_s": "s",
    "timeagg.in_rows": "count",
    "timeagg.out_rows": "count",
    "timeagg.shuffle_bytes": "bytes",
    "timeagg.self_s": "s",
    "resample.out_rows": "count",
    "resample.shuffle_bytes": "bytes",
    "resample.self_s": "s",
    "incremental.write_s": "s",
    "incremental.bytes_written": "bytes",
    "incremental.files_written": "count",
    "incremental.jobs_per_commit": "count",
    "incremental.manifest_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument(
        "--wrong-reference", action="store_true",
        help="perturb the reference (self-test: every job must then fail)",
    )
    return p.parse_args(argv)


# ---- processes ----------------------------------------------------------------
def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the driver JVM and its descendants (the Python
    worker daemon and workers)."""
    kb = []
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += [int(line.split()[1]) for line in f if line.startswith("VmHWM:")]
        except OSError:
            pass
    return sum(kb) / 1024.0


def stop_everything() -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# ---- session --------------------------------------------------------------------
def configure_environment(work: str) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # driver and executors talk over loopback only
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    sys.path.insert(0, ROOT)


def start_session(work: str, cores: int):
    from geoglue_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            # a fixed-size heap: peak RSS then does not depend on when the
            # collector decided to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


# ---- measurement -------------------------------------------------------------------
class Loop:
    """Closed loop, one client: attempt jobs one after another, check each."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0

    def attempt(self) -> float | None:
        """One checked job; its wall time, or None when it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = self.wl.job()
            dt = time.perf_counter() - t0
            err = self.wl.check(got)
        except Exception:
            dt, err = None, traceback.format_exc()
        self.wl.after_job()
        if err:
            self.failed += 1
            print(f"job {self.attempted} failed: {err}", file=sys.stderr)
            return None
        return dt

    def warm_up(self) -> list[float]:
        """Jobs until times level off (or WARMUP_MAX_S has passed)."""
        t0 = time.perf_counter()
        times: list[float] = []
        w = WARMUP_WINDOW
        while time.perf_counter() - t0 < WARMUP_MAX_S:
            dt = self.attempt()
            if dt is not None:
                times.append(dt)
            if len(times) >= 2 * w and statistics.median(times[-w:]) >= (
                1 - WARMUP_GAIN
            ) * statistics.median(times[-2 * w : -w]):
                break
        return times

    def measure(self, seconds: float) -> list[float]:
        t0 = time.perf_counter()
        times = []
        while time.perf_counter() - t0 < seconds:
            dt = self.attempt()
            if dt is not None:
                times.append(dt)
        return times


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    s = sorted(times)
    k = len(s) - 11 if len(s) >= 11 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def setup_reps(wl, work: str, cores: int, spans):
    """Set up SETUP_REPS times (session + program set-up), keep the last."""
    secs = []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            wl.release()
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        wl.setup(spark, spans)
        secs.append(time.perf_counter() - t0)
    return spark, secs


def run(args, work: str, cache: str) -> dict:
    import instruments
    import reference
    import workloads

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    con = reference.duckdb_connect(os.path.join(work, "tmp"))
    size = workloads.SIZES[args.size][args.workload]
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](fold_seed(args.seed), size, work, cache, con)
    con.close()
    print(f"inputs + reference: {time.perf_counter() - t0:.1f} s, {wl.rows} rows/job, "
          f"size {size}, cores {cores}", flush=True)
    if args.wrong_reference:
        wl.perturb_reference()

    spans = instruments.Spans()
    loop = Loop(wl)
    try:
        spark, setup_secs = setup_reps(wl, work, cores, spans)
        warm = loop.warm_up()
        print(f"warm-up: {len(warm)} jobs {[round(t, 3) for t in warm]}", flush=True)
        if args.trace == 0:
            times = loop.measure(args.seconds)
            metrics = end_to_end(wl, times, setup_secs, spark)
        else:
            metrics = per_layer(wl, loop, spans, args.seconds)
    finally:
        stop_everything()
    fail_ratio = loop.failed / max(1, loop.attempted)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} fail_ratio = {fail_ratio:.6g} ({loop.failed}/{loop.attempted})")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }


def end_to_end(wl, times: list[float], setup_secs: list[float], spark) -> dict:
    if not times:
        return {k: {"value": 0.0, "unit": u} for k, u in END_TO_END.items()}
    tail_s, tail_pct = tail(times)
    jvm = spark._jvm.ProcessHandle.current().pid()
    print(f"jobs measured: {len(times)}; job_s_tail is p{tail_pct:.0f}; "
          f"set-ups {[round(s, 3) for s in setup_secs]}; "
          f"jobs {[round(t, 3) for t in times]}", flush=True)
    values = {
        "setup_s": statistics.median(setup_secs),
        "rows_per_s": wl.rows * len(times) / sum(times),
        "job_s_p50": statistics.median(times),
        "job_s_tail": tail_s,
        "peak_rss_mb": peak_rss_mb(jvm),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(wl, loop: Loop, spans, seconds: float) -> dict:
    """Untraced jobs for the overhead baseline, then traced jobs (each with
    its prefix runs) until ``seconds`` have passed; medians per metric."""
    untraced = [t for t in (loop.attempt() for _ in range(TRACE_UNTRACED_JOBS)) if t]
    reps: list[dict] = []
    job_secs = []
    t0 = time.perf_counter()
    while len(reps) < TRACE_MIN_REPS or time.perf_counter() - t0 < seconds:
        loop.attempted += 1
        try:
            job_s, m = wl.trace(spans)
        except Exception:
            loop.failed += 1
            print(f"traced job failed: {traceback.format_exc()}", file=sys.stderr)
            if loop.failed > 3:
                break
            continue
        finally:
            wl.after_job()
        job_secs.append(job_s)
        reps.append(m)
    values = {k: 0.0 for k in PER_LAYER}
    for k in {k for m in reps for k in m}:
        values[k] = statistics.median(m.get(k, 0.0) for m in reps)
    values["cover.build_s"] = statistics.median(
        e - s for n, s, e, _ in spans.spans if n == "cover"
    )
    values["cover.cell_rows"] = wl.cover_rows
    values["cover.block_rows"] = getattr(wl, "block_rows", 0)
    values["pip.points_per_s"] = wl.pip_rate()
    if job_secs:
        values["trace.job_s"] = statistics.median(job_secs)
        values["trace.overhead_s"] = values["trace.job_s"] - statistics.median(untraced or [0])
    print(f"traced jobs: {len(reps)}", flush=True)
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geoglue_spark", "__init__.py")):
        print(f"perfbench: no geoglue_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    configure_environment(work)
    try:
        result = run(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
