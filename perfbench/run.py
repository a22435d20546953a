"""Benchmark entry point: one workload, one fresh Spark JVM, one JSON result.

    python3 perfbench/run.py --workload analyze_raw --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. A run

1. waits until the JVM and Python workers of any earlier run have exited;
2. generates the workload's inputs from ``--seed`` (untimed, not set-up);
3. sets up several times -- session start plus the workload's own set-up
   -- and reports the median as ``setup_s`` (the first repetition also
   launches the JVM; later ones start a new session in it);
4. takes a fixed-work calibration reading (reported, never applied);
5. runs untimed warm-up ops, then timed ops in a closed loop until
   ``--seconds`` have passed and at least the workload's minimum op count
   (in whole rounds of its op cycle) has run;
6. checks every answer against the generator's reference.

With ``--trace 0`` the result holds the end-to-end metrics. With
``--trace 1`` odd-numbered ops run traced (spans, status-store counters,
Catalyst phases) and even ones untraced; the result holds the per-layer
metrics, and ``trace.overhead_ms`` is the traced minus the untraced op
median. The last line of stdout is the result; the line before it records
the run's steadiness controls, and the full record (every op and set-up
repetition) is written to ``.perfbench/out/``. All scratch files live in
``.perfbench/`` inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_OPS = 400
MAX_RUN_S = 150.0  # stop starting ops so the run ends well within 180 s
STALE_WAIT_S = 60.0
MARKER = "PERFBENCH_RUN"  # in the environment of every process a run starts
MB = 1024.0 * 1024.0

END_TO_END = {
    "op_p50_ms": "ms",
    "rows_per_s": "1/s",
    "answer_ok": "share",
    "recall_at_10": "share",
    "setup_s": "s",
    "peak_exec_mem_mb": "MB",
}
A = "op_p50_ms on analyze_raw"
S = "op_p50_ms and rows_per_s on refresh_stream"
N = "op_p50_ms on ann_probe"
X = "op_p50_ms and peak_exec_mem_mb on every workload"
# name -> (unit, better, the end-to-end metric it should move, and where)
PER_LAYER = {
    "session.start_ms": ("ms", "lower", "setup_s on every workload"),
    "sources.dbt_parse_ms": ("ms", "lower", "setup_s on analyze_raw"),
    "sources.scan_rows_per_op": ("rows", "lower", "op_p50_ms and rows_per_s on analyze_raw"),
    "sources.scan_passes_per_op": ("ratio", "lower", "op_p50_ms and rows_per_s on analyze_raw"),
    "functions.sqlextract_ms": ("ms", "lower", A + "; no change on the others"),
    "functions.normalize_ms": ("ms", "lower", A + "; no change on the others"),
    "analyze.construct_ms": ("ms", "lower", A),
    "analyze.jobs_per_op": ("count", "lower", A),
    "analyze.stages_per_op": ("count", "lower", A),
    "analyze.tasks_per_op": ("count", "lower", A),
    "plans.patterns_ms": ("ms", "lower", A),
    "plans.patterns_shuffle_bytes": ("bytes", "lower", A),
    "plans.coverage_ms": ("ms", "lower", A),
    "plans.coverage_jobs": ("count", "lower", A),
    "plans.recommend_ms": ("ms", "lower", A),
    "plans.recommend_jobs": ("count", "lower", A),
    "plans.report_ms": ("ms", "lower", "op_p50_ms on analyze_raw and refresh_stream"),
    "streaming.batch_ms": ("ms", "lower", S),
    "streaming.read_state_ms": ("ms", "lower", S),
    "streaming.compact_ms": ("ms", "lower", S),
    "streaming.state_files": ("count", "lower", S),
    "streaming.state_bytes": ("bytes", "lower", S),
    "streaming.jobs_per_op": ("count", "lower", S),
    "similarity.construct_ms": ("ms", "lower", N),
    "similarity.catalyst_ms": ("ms", "lower", N),
    "similarity.exec_ms": ("ms", "lower", N),
    "similarity.jobs_per_probe": ("count", "lower", N),
    "similarity.scan_rows_per_probe": ("rows", "lower", N),
    "similarity.index_build_s": ("s", "lower", "setup_s on ann_probe"),
    "spark.shuffle_write_bytes_per_op": ("bytes", "lower", X),
    "spark.spill_bytes_per_op": ("bytes", "lower", X),
    "spark.executor_run_ms_per_op": ("ms", "lower", X),
    "spark.executor_cpu_ms_per_op": ("ms", "lower", X),
    "spark.gc_ms_per_op": ("ms", "lower", X),
    "spark.slot_busy_share": ("share", "higher", X + "; low means driver-bound"),
    "spark.calibration_ms": ("ms", "lower", "none: host speed, for diagnosis only"),
    "driver.py_hwm_mb": ("MB", "lower", "none: informational"),
    "driver.jvm_hwm_mb": ("MB", "lower", "none: informational"),
    "trace.overhead_ms": ("ms", "lower", "none: traced minus untraced op_p50_ms"),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def task_slots() -> int:
    """Task threads: ``SPARK_GRAFT_CPUS`` if set, never more than the CPUs
    this process may run on."""
    n = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS")
    return max(1, min(n, int(want))) if want else n


def marked_processes() -> list[int]:
    """Pids, other than this one, whose environment carries ``MARKER``:
    the JVMs and Python workers of benchmark runs."""
    me = os.getpid()
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if (MARKER + "=").encode() in f.read():
                    out.append(int(pid))
        except OSError:  # exited meanwhile, or not ours to read
            continue
    return out


def wait_for_exit(timeout: float) -> tuple[float, int]:
    """Wait until no marked process is left; (seconds waited, pids left)."""
    t0 = time.perf_counter()
    left = marked_processes()
    while left and time.perf_counter() - t0 < timeout:
        time.sleep(0.2)
        left = marked_processes()
    return time.perf_counter() - t0, len(left)


def start_session(work: str, slots: int):
    from querysight_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=2 * slots,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibrate(spark, slots: int) -> float:
    """Fixed-work host-speed reading: best of three sums over 2^24 rows of
    codegen arithmetic. It moves with the machine, not with the code."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 1 << 24, 1, 2 * slots).selectExpr(
            "sum((id * 2654435761) % 1000003) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # do not leave it behind
            proc.kill()
            proc.wait()


def jvm_hwm_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run_ops(spark, wl, args, t_run0: float) -> list[dict]:
    from spans import SparkCounters, Tracer

    counters = SparkCounters(spark)
    ops: list[dict] = []
    n_timed = 0
    t_loop = time.perf_counter()
    for i in range(MAX_OPS):
        warm = i < wl.warmup_ops
        if not warm:
            done = (n_timed >= wl.min_ops and n_timed % wl.op_cycle == 0
                    and time.perf_counter() - t_loop >= args.seconds)
            if done or (n_timed and time.perf_counter() - t_run0 > MAX_RUN_S):
                break
        tr = Tracer(spark, bool(args.trace) and i % 2 == 1)
        rows = wl.prepare()
        lo = counters.next_job_id()
        t0 = time.perf_counter()
        try:
            check = wl.op(tr)
            ms = (time.perf_counter() - t0) * 1000.0
            ok, recall = check()
        except Exception:  # an op that raises counts as failed; keep going
            ms = (time.perf_counter() - t0) * 1000.0
            ok, recall = False, 0.0
            log(traceback.format_exc())
        op = {"i": i, "warmup": warm, "traced": tr.enabled, "ms": ms, "rows": rows,
              "ok": bool(ok), "recall": recall,
              "spark": counters.jobs(lo, counters.next_job_id())}
        if tr.enabled:
            op["spans"] = tr.resolve()
        ops.append(op)
        log(f"op {i}{' warm-up' if warm else ''}{' traced' if tr.enabled else ''}: "
            f"{ms:.0f} ms ok={ok} recall={recall:.2f}")
        if warm:
            t_loop = time.perf_counter()
        else:
            n_timed += 1
    return ops


def end_to_end(wl, ops, setups) -> dict:
    timed = [o for o in ops if not o["warmup"]]
    plain = [o for o in timed if not o["traced"]]
    n_recall = getattr(wl, "recall_probes", None)
    recall_ops = [o for o in ops if o["i"] < n_recall] if n_recall else timed
    return {
        "op_p50_ms": median(o["ms"] for o in plain),
        "rows_per_s": sum(o["rows"] for o in plain) / (sum(o["ms"] for o in plain) / 1000.0),
        "answer_ok": sum(o["ok"] for o in timed) / len(timed),
        "recall_at_10": sum(o["recall"] for o in recall_ops) / len(recall_ops),
        "setup_s": median(s["setup_s"] for s in setups),
        "peak_exec_mem_mb": max(o["spark"]["peakExecutionMemory"] for o in timed) / MB,
    }


def per_layer(wl, ops, setups, extra: dict) -> dict:
    timed = [o for o in ops if not o["warmup"]]
    traced = [o for o in timed if o["traced"]]

    def span_sum(op, name, key="ms"):
        vals = [s[key] if key in s else s["spark"][key]
                for s in op.get("spans", []) if s["name"] == name]
        return sum(vals) if vals else None

    def span_med(name, key="ms"):
        return median(v for v in (span_sum(o, name, key) for o in traced) if v is not None)

    def op_med(key, scale=1.0):
        return median(o["spark"][key] * scale for o in timed)

    def setup_med(key):
        return median(s[key] for s in setups if key in s)

    def only(workload, value):
        return value if wl.name == workload else 0.0

    m = {
        "session.start_ms": setups[0]["session.start_ms"],
        "sources.dbt_parse_ms": setup_med("sources.dbt_parse_ms"),
        "sources.scan_rows_per_op": op_med("inputRecords"),
        "sources.scan_passes_per_op": median(o["spark"]["inputRecords"] / o["rows"] for o in timed),
        "functions.sqlextract_ms": extra.get("functions.sqlextract_ms", 0.0),
        "functions.normalize_ms": extra.get("functions.normalize_ms", 0.0),
        "analyze.construct_ms": span_med("analyze.construct"),
        "analyze.jobs_per_op": only("analyze_raw", op_med("jobs")),
        "analyze.stages_per_op": only("analyze_raw", op_med("stages")),
        "analyze.tasks_per_op": only("analyze_raw", op_med("tasks")),
        "plans.patterns_ms": span_med("plans.patterns"),
        "plans.patterns_shuffle_bytes": span_med("plans.patterns", "shuffleWriteBytes"),
        "plans.coverage_ms": span_med("plans.coverage"),
        "plans.coverage_jobs": span_med("plans.coverage", "jobs"),
        "plans.recommend_ms": span_med("plans.recommend"),
        "plans.recommend_jobs": span_med("plans.recommend", "jobs"),
        "plans.report_ms": span_med("plans.report"),
        "streaming.batch_ms": span_med("streaming.batch"),
        "streaming.read_state_ms": span_med("streaming.read_state"),
        "streaming.compact_ms": span_med("streaming.compact"),
        "streaming.state_files": extra.get("streaming.state_files", 0),
        "streaming.state_bytes": extra.get("streaming.state_bytes", 0),
        "streaming.jobs_per_op": only("refresh_stream", op_med("jobs")),
        "similarity.construct_ms": span_med("similarity.construct"),
        "similarity.catalyst_ms": span_med("similarity.exec", "catalyst_ms"),
        "similarity.exec_ms": span_med("similarity.exec"),
        "similarity.jobs_per_probe": only("ann_probe", op_med("jobs")),
        "similarity.scan_rows_per_probe": only("ann_probe", op_med("inputRecords")),
        "similarity.index_build_s": setup_med("similarity.index_build_s"),
        "spark.shuffle_write_bytes_per_op": op_med("shuffleWriteBytes"),
        "spark.spill_bytes_per_op": op_med("diskBytesSpilled"),
        "spark.executor_run_ms_per_op": op_med("executorRunTime"),
        "spark.executor_cpu_ms_per_op": op_med("executorCpuTime", 1e-6),
        "spark.gc_ms_per_op": op_med("jvmGcTime"),
        "spark.slot_busy_share": median(
            o["spark"]["executorRunTime"] / (o["ms"] * extra["slots"]) for o in timed),
        "spark.calibration_ms": extra["calibration_ms"],
        "driver.py_hwm_mb": extra["py_hwm_mb"],
        "driver.jvm_hwm_mb": extra["jvm_hwm_mb"],
        "trace.overhead_ms": median(o["ms"] for o in traced)
        - median(o["ms"] for o in timed if not o["traced"]),
    }
    return m


def run(args) -> dict:
    from workloads import WORKLOADS

    t_run0 = time.perf_counter()
    slots = task_slots()
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ[MARKER] = "1"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    stale_wait_s, stale_left = wait_for_exit(STALE_WAIT_S)

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, args.small)
    gen_s = time.perf_counter() - t0

    setups, spark = [], None
    try:
        for _ in range(wl.setup_reps):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, slots)
            rep = {"session.start_ms": (time.perf_counter() - t0) * 1000.0}
            wl.setup(spark, rep)
            rep["setup_s"] = time.perf_counter() - t0
            setups.append(rep)
            log(f"set-up: {rep}")
        calibration_ms = calibrate(spark, slots)
        ops = run_ops(spark, wl, args, t_run0)
        extra = {"slots": slots, "calibration_ms": calibration_ms,
                 "py_hwm_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                 "jvm_hwm_mb": jvm_hwm_mb()}
        if args.trace:
            if hasattr(wl, "stage_self_times"):
                extra.update(wl.stage_self_times())
            if hasattr(wl, "state_footprint"):
                extra.update(wl.state_footprint())
    finally:
        if spark is not None:
            stop_session(spark)
        wait_for_exit(30.0)
        shutil.rmtree(work, ignore_errors=True)

    timed = [o for o in ops if not o["warmup"]]
    e2e = end_to_end(wl, ops, setups)
    layers = per_layer(wl, ops, setups, extra) if args.trace else {}
    units = {k: v[0] for k, v in PER_LAYER.items()} if args.trace else END_TO_END
    values = layers if args.trace else e2e
    result = {
        "correct": all(o["ok"] for o in ops),
        "attempted": len(timed),
        "failed": sum(not o["ok"] for o in timed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    info = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "sizes": wl.sizes,
        "loop": "closed", "clients": 1, "task_slots": slots,
        "shuffle_partitions": 2 * slots, "setup_reps": wl.setup_reps,
        "warmup_ops": wl.warmup_ops, "timed_ops": len(timed),
        "stale_wait_s": round(stale_wait_s, 3), "stale_left": stale_left,
        "calibration_ms": round(extra["calibration_ms"], 3), "gen_s": round(gen_s, 3),
        "end_to_end": e2e,
    }
    out_file = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out_file, "w") as f:
        json.dump({"info": info, "result": result, "setups": setups, "ops": ops,
                   "per_layer": layers, "layer_moves": {k: v[2] for k, v in PER_LAYER.items()}},
                  f, indent=1, default=str)
    info["record"] = os.path.relpath(out_file, ROOT)
    print(json.dumps({"perfbench": info}))
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analyze_raw", "refresh_stream", "ann_probe"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="smallest input sizes (the self-check)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "querysight_spark", "__init__.py")):
        log(f"querysight_spark not found under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
