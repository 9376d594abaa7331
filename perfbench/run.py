"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are its per-layer ones, from a run whose steps
alternate between traced and untraced. The line before it is a report
with the run's stamp and each workload's own named metrics.

All lake, state, warehouse and Spark scratch directories live in a
temporary directory under ``.perfbench/`` in the checkout and are
removed at exit; traces are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
#: input generations per run; set-up time counts their median
GENERATIONS = 3
#: no step starts after this many seconds from process start
HARD_STOP_S = 85


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(tmp: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``tmp`` (inside the checkout), before the JVM starts."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # few malloc arenas, so resident memory follows what the JVM holds,
    # not how many native threads happened to allocate
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return next((ln for ln in out.splitlines() if "version" in ln), "unknown")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, spec: dict, tmp: str) -> dict:
    sys.path.insert(0, ROOT)
    import rehiver_spark

    if not os.path.abspath(rehiver_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"rehiver_spark imported from outside the checkout: {rehiver_spark.__file__}")
    import pyspark
    from rehiver_spark import get_spark

    from spans import Tracer
    from workloads import WORKLOADS, Recorder

    stamp = {"seed": args.seed, "nproc": len(os.sched_getaffinity(0)),
             "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
             "loadavg_1m_before": loadavg(), "pyspark": pyspark.__version__,
             "java": java_version(), "python": platform.python_version()}

    t_gs = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")})
    t_ready = time.perf_counter()
    session_s = t_ready - T_START
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        tracer.record("session.get_spark", t_gs, t_ready)
        plain = Tracer(enabled=False)
        rec = Recorder(log)
        w = WORKLOADS[args.workload](spark, args.seed, rec, tracer)

        gen = []
        for k in range(GENERATIONS):
            t0 = time.perf_counter()
            root = os.path.join(tmp, f"inputs-{k}")
            os.makedirs(root)
            w.generate(root)
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.load()  # the last generation's inputs
        load_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.tr = plain
        w.warmup()
        warm_s = time.perf_counter() - t0
        rec.samples.clear()  # warm-up answers are checked, not timed
        setup_s = session_s + statistics.median(gen) + load_s + warm_s

        t_measure = time.perf_counter()
        deadline = t_measure + args.seconds
        # a traced run makes at least one traced and one untraced block
        min_steps = max(w.min_steps, 2 * w.trace_block) if args.trace else w.min_steps
        i = 0
        while (time.perf_counter() < deadline or i < min_steps) and \
                time.perf_counter() - T_START < HARD_STOP_S:
            traced = bool(args.trace) and (i // w.trace_block) % 2 == 0
            w.tr = tracer if traced else plain
            rec.prefix = "traced." if traced else ""
            t0 = time.perf_counter()
            try:
                w.step(i)
            except Exception:  # a failed operation counts; the run goes on
                rec.attempted += 1
                rec.failed += 1
                log(f"step {i} raised:\n{traceback.format_exc()}")
            rec.sample("step_s", time.perf_counter() - t0)
            i += 1
        measured_s = time.perf_counter() - t_measure
        rec.prefix = ""

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python_mb": vm_hwm_mb("self"), "jvm_mb": vm_hwm_mb(jvm_pid)}
    finally:
        stop_spark(spark)
    stamp["loadavg_1m_after"] = loadavg()

    report = {
        "workload": args.workload, "stamp": stamp, "steps": i, "measured_s": measured_s,
        "setup": {"session_s": session_s, "generate_s": gen, "load_s": load_s,
                  "warmup_s": warm_s},
        "peak_rss": rss,
        "error_rate": rec.failed / max(rec.attempted, 1),
        "metrics": {k: [v, u] for k, (v, u) in w.report().items() if v is not None},
        "samples": rec.samples,
    }
    if args.trace:
        layers = tracer.layer_metrics()
        t_ops = rec.samples.get("traced." + w.op_sample, [])
        p_ops = rec.samples.get(w.op_sample, [])
        if t_ops and p_ops:
            over = statistics.median(t_ops) - statistics.median(p_ops)
            layers["trace.overhead_s"] = over
            layers["trace.overhead_ratio"] = over / statistics.median(p_ops)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{run_id}.jsonl")
        tracer.write(path)
        report["trace_file"] = os.path.relpath(path, ROOT)
        report["layers"] = layers
        names = spec["per_layer"]
        # a layer the workload never calls has no span: it spent 0 there
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in names}
    else:
        e2e = {"setup_s": setup_s, "peak_rss_mb": sum(rss.values()), **w.end_to_end()}
        missing = [m["name"] for m in spec["end_to_end"] if e2e.get(m["name"]) is None]
        if missing:
            raise RuntimeError(f"end-to-end metrics not produced: {missing}")
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        report["end_to_end"] = e2e
    print(json.dumps(report), flush=True)
    return {"correct": rec.failed == 0, "attempted": rec.attempted,
            "failed": rec.failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=WORK)
    isolate(tmp)
    try:
        result = run(args, spec, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
