"""Event-log engine benchmark: one command, two workloads.

Run from the repository root::

    python3 eventlog_bench/run.py --workload replay --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans are then also written to ``.bench_out/``). Info lines
(session settings, sample counts, failures, ``failed_ratio``) come
first; the last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. NOTES.md
says what each workload and metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

UNITS = {"setup_s": "s", "wall_s": "s", "events_per_s": "events/s"}


def info(**kw) -> None:
    print(json.dumps({"info": kw}, default=str), flush=True)


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_per_s"):
        return "events/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("task_skew", "_per_row_in", "_per_input_row")):
        return "ratio"
    return "count"


def fit_session_env(tmp: str) -> dict:
    """Size the engine session to this machine through its env knobs,
    and keep every scratch file of the run under ``tmp``."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_mb = max(512, min(1024, mem_kb // 1024 // 8))
    env = {
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "py-tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm-tmp')}",
    }
    for k, v in env.items():
        os.environ[k] = v
    for d in ("warehouse", "spark-local", "py-tmp", "jvm-tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    from bench_trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def end_to_end(out, setup_s: float) -> dict:
    """Every end-to-end metric; None where a failed run left nothing
    to measure."""
    from bench_math import median

    wall = median(out.walls) if out.walls else None
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "events_per_s": out.events_per_pass / wall if wall else None,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["replay", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="how long the batch workloads repeat passes (at least one); "
                         "the stream's schedule is fixed")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "play_with_pulsar_spark", "__init__.py")):
        print(f"engine package play_with_pulsar_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{run_id}")
    os.makedirs(tmp)
    try:
        env = fit_session_env(tmp)
        from bench_math import median, percentile, supported_percentile
        from bench_trace import MemorySampler, Tracer
        from bench_workloads import PER_LAYER, WORKLOADS, Ctx, Outcome

        from play_with_pulsar_spark.session import get_spark

        with MemorySampler() as mem:
            t = time.perf_counter()
            spark = get_spark(app_name=f"eventlog-bench-{args.workload}")
            session_start_s = time.perf_counter() - t
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            try:
                info(env=env, master=sc.master, default_parallelism=sc.defaultParallelism,
                     workload=args.workload, seed=args.seed, seconds=args.seconds,
                     trace=args.trace, run_id=run_id)
                tracer = Tracer(sc, args.workload, run_id, enabled=False)
                ctx = Ctx(spark, tracer, tmp, args.seed, bool(args.trace))
                wl = WORKLOADS[args.workload](ctx)
                t = time.perf_counter()
                wl.stage()
                stage_s = time.perf_counter() - t
                out = Outcome()
                t = time.perf_counter()
                wl.warm(out)
                warm_s = time.perf_counter() - t
                setup_s = time.perf_counter() - T_PROCESS
                wl.measure(args.seconds, out)
                if args.trace:
                    tracer.dump(os.path.join(ROOT, ".bench_out",
                                             f"spans-{args.workload}-{args.seed}-{run_id}.json"))
            finally:
                t = time.perf_counter()
                stop_session(spark)
                stop_s = time.perf_counter() - t
        peak_jvm_mb, peak_python_mb = mem.peak_jvm_kb / 1024.0, mem.peak_python_kb / 1024.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass

    n = len(out.latencies)
    q = supported_percentile(n)
    info(failed_ratio=out.failed / max(out.attempted, 1), attempted=out.attempted,
         failed=out.failed, failures=out.notes, passes=len(out.walls), pass_walls_s=out.walls,
         latency_samples=n, latency_supported_percentile=q,
         latency_at_supported_percentile_s=percentile(out.latencies, q) if q else None,
         session_start_s=session_start_s, stage_s=stage_s, warm_s=warm_s, phase_s=out.phase_s,
         stop_s=stop_s, total_s=time.perf_counter() - T_PROCESS,
         op_median_s={k: median(v) for k, v in out.op_times.items()})
    if args.trace:
        layer = {"session.start_s": session_start_s, "session.jvm_peak_rss_mb": peak_jvm_mb,
                 "session.python_peak_mb": peak_python_mb, **out.layer}
        metrics = {k: layer.get(k, 0.0) for k in PER_LAYER}
    else:
        metrics = end_to_end(out, setup_s)
    print(json.dumps({
        "correct": out.failed == 0 and None not in metrics.values(),
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
