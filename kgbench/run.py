"""KG-construction benchmark: one workload per run, one JSON result line.

    python3 kgbench/run.py --workload build_web --seed 1 --seconds 1 --trace 0

Run from the repository root. The run generates its inputs from --seed,
starts one Spark session at local[<cpus>], runs the workload's job twice
to warm the fresh JVM up, then repeats timed warm jobs for --seconds (at
least one), checking every job's output. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1 (see kgbench/METRICS.md). The line before it records the box
probe, the raw samples and the session settings. Everything the run
writes goes under .kgbench_work/ in the working directory and is removed
on exit, and every process it starts (the JVM, the Python workers, the
probe's spinners) has ended before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREP_REPEATS = 3  # set-up is prepared this many times; setup_s uses the median
SPIN_STEPS = 3_000_000  # box probe size
STOP_GRACE_S = 20.0  # SIGTERM to SIGKILL for processes left at exit


def process_start_age() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def box_settings(work: str) -> dict[str, str]:
    """Environment for the driver, the JVM and the Python workers: every
    core, a driver heap sized to this box, one BLAS thread per worker,
    scratch space inside the work dir, and the repo on the workers' path."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    }


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the engine's own option plus a JVM temp dir inside the work dir
        "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(line for line in f if line.startswith("VmHWM")).split()[1]
    return int(kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _spin(n: int) -> float:
    """Seconds for n steps of a register-only LCG (bench.py's probe kernel)."""
    t0 = time.perf_counter()
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0


def box_probe() -> dict:
    """bench.py's spin probe at a smaller size: one-process spin seconds
    (per-core speed), and t1 over the slowest of one spin per core run at
    once (contention; 1.0 means no slowdown). Each process times its own
    spin, so process start-up is not counted; every process is waited for."""
    procs = len(os.sched_getaffinity(0))
    t1 = _spin(SPIN_STEPS)
    code = f"import sys; sys.path.insert(0, {ROOT!r}); from kgbench.run import _spin; print(_spin({SPIN_STEPS}))"
    spinners = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    tn = max(float(p.communicate()[0]) for p in spinners)
    return {"spin_1p_s": t1, f"spin_eff_1to{procs}": t1 / tn}


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so a Python worker that outlives the JVM that
    started it is re-parented here and end_children() can wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return kids


def end_children() -> None:
    """Terminate every process still under this one and wait until each has
    ended (SIGTERM, then SIGKILL after STOP_GRACE_S)."""
    sig, deadline = signal.SIGTERM, time.monotonic() + STOP_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def run_workload(
    spark, name: str, seed: int, seconds: float, trace: bool, work: str,
    size: str = "full", session_s: float = 0.0,
) -> tuple[dict, dict]:
    """Run one workload in an existing session. Returns the job tally
    ({attempted, failed}) and the detail record, which carries the
    end-to-end metrics, or for a traced run the tracer. A traced run needs
    the event log enabled on the session.

    The first job runs in the fresh JVM (the cold job) and a second,
    untimed one finishes warming it up. Then, untraced, warm jobs repeat
    until ``seconds`` have passed (at least one; at the benchmark's run
    length exactly one); traced, pairs of an untraced and a traced warm
    job repeat the same way."""
    from kgbench.trace import Tracer
    from kgbench.workloads import SIZES, WORKLOADS, parquet_stats

    w = WORKLOADS[name](spark, work, seed, SIZES[size][name])
    prep = []
    for _ in range(PREP_REPEATS):
        t0 = time.perf_counter()
        w.prepare()
        prep.append(time.perf_counter() - t0)
    tally = {"attempted": 0, "failed": 0}
    tracer = Tracer(spark, name) if trace else None

    def job(k: int, traced: bool = False):
        tally["attempted"] += 1
        try:
            wall = w.job(k, tracer if traced else None)
            problems = w.check(k)
        except Exception:
            traceback.print_exc()
            tally["failed"] += 1
            return None
        if problems:
            print(f"{name} job {k}: " + "; ".join(problems), file=sys.stderr)
            tally["failed"] += 1
        return wall

    cold = job(0)
    job(1)  # untimed: the JVM is still compiling during the second job
    warm, traced_walls = [], []
    t_start = time.perf_counter()
    k = 2
    while not warm or time.perf_counter() - t_start < seconds:
        warm.append(job(k))
        if len(warm) == 1:
            table = parquet_stats(*w.table_dirs(k))
        k += 1
        if trace:
            traced_walls.append(job(k, traced=True))
            k += 1
    detail = {
        "workload": name, "seed": seed, "size": SIZES[size][name],
        "session_s": session_s, "prepare_s": prep, "cold_job_s": cold,
        "warm_job_s": warm, "traced_job_s": traced_walls,
        "peak_rss_mb": jvm_peak_rss_mb(spark), "input_rows": w.input_rows,
        "table": table,
    }
    ok = [x for x in warm if x is not None]
    if cold is None or not ok or (trace and not tracer.parent_walls()):
        raise RuntimeError(f"{name}: no job completed to measure ({tally})")
    job_s = statistics.median(ok)
    if trace:
        return tally, detail | {"tracer": tracer, "job_s": job_s}
    metrics = {
        "setup_s": (session_s + statistics.median(prep), "s"),
        "rows_per_s": (w.input_rows / job_s, "1/s"),
    }
    return tally, detail | {"metrics": metrics}


def trace_metrics(detail: dict, event_dir: str) -> dict:
    """Per-layer metrics of a traced run (the event log must be closed)."""
    from kgbench.trace import FIELDS, LAYERS

    tracer = detail.pop("tracer")
    files, nbytes, rows = detail["table"]
    untraced = detail["job_s"]
    layers = tracer.layer_metrics(event_dir)
    units = {f: u for f, u, _ in FIELDS}
    metrics = {
        f"{layer}.{f}": (layers[f"{layer}.{f}"], units[f])
        for layer in LAYERS for f, _u, _b in FIELDS
    }
    traced = statistics.median(tracer.parent_walls())
    linked = tracer.linked_frac or [0.0]
    metrics.update({
        "session.wall_s": (detail["session_s"], "s"),
        "session.cold_job_s": (detail["cold_job_s"], "s"),
        "session.peak_rss_mb": (detail["peak_rss_mb"], "MB"),
        "table.files": (files, "count"),
        "table.bytes_per_row": (nbytes / rows if rows else float(nbytes), "bytes"),
        "corpus.wall_s": (statistics.median(detail["prepare_s"]), "s"),
        "ner.linked_mention_frac": (statistics.median(linked), "ratio"),
        "trace.warm_job_s": (untraced, "s"),
        "trace.coverage": (traced / untraced, "ratio"),
        "trace.overhead_s": (traced - untraced, "s"),
    })
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bioner_spark")):
        print(f"bioner_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".kgbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    # a terminated run still stops its JVM and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    try:
        # before numpy loads anywhere: BLAS reads its thread count at import
        settings = box_settings(work)
        os.environ.update(settings)
        sys.path.insert(0, ROOT)
        from bioner_spark.session import get_spark
        from kgbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2

        spark = get_spark(app_name="kgbench", extra_conf=spark_conf(work, bool(args.trace)))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = process_start_age()
        tally, detail = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
            session_s=session_s,
        )
        stop_spark(spark)
        spark = None
        if args.trace:
            metrics = trace_metrics(detail, os.path.join(work, "events"))
        else:
            metrics = detail.pop("metrics")
        detail["box"] = box_probe()
        detail["settings"] = settings
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": tally["failed"] == 0,
            "attempted": tally["attempted"],
            "failed": tally["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            end_children()
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
