"""Memory-layer benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload recall_single --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md for rationale and load shapes):
recall_single, recall_batch, ingest_mixed. Inputs are generated from
``--seed``; the engine (``memfuse_spark``) runs on a local Spark session
with one task thread per available CPU. Every op's result is checked,
and a seeded sample is compared against an independent reference.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer functions, traces half of the ops, and prints the
per-layer metrics instead (spans are written under .perfbench/traces/).
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

Each run works in its own directory under .perfbench/ (TMPDIR, Spark
warehouse, local dir and every store live there) and deletes it at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

DRIVER_MEM = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=metrics.WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="corpus scale: sf 0.1 = 5,000 docs, 2,000 vectors, "
                        "5,000-event epochs")
    p.add_argument("--oplog", help="write every op's inputs and result ids here (JSON)")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every temp/scratch location of this process, the JVM and
    the Python workers into ``work``, and size Spark to this box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def run(args, work: str) -> dict:
    from memfuse_spark.session import get_spark
    from workloads import WORKLOADS

    phases: dict[str, float] = {}  # wall seconds per phase, for the report
    last = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - last[0]
        last[0] = now

    sizes = datagen.Sizes.for_sf(args.sf)
    inputs = datagen.write_inputs(os.path.join(work, "inputs"), args.seed, sizes)
    lap("inputs")

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "tmp"),
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            metrics.instrument(tracer)
        wl = WORKLOADS[args.workload](spark, work, inputs, sizes, args.seed, tracer)
        wl.setup()
        wl.setup_times["session.start_s"] = [session_s]
        lap("session+setup")
        wl.warmup()
        lap("warmup")

        # the window is the time spent inside cycles; each cycle's
        # untimed groundwork and span bookkeeping fall outside it
        window_s = 0.0
        while window_s < args.seconds:
            wl.prepare()
            t0 = time.perf_counter()
            # cycles traced in an ABBA pattern, so drift cancels out of
            # the traced-minus-untraced overhead
            wl.step(traced=bool(args.trace) and wl.cycle % 4 in (0, 3))
            window_s += time.perf_counter() - t0
            wl.cycle += 1
            if tracer is not None:
                tracer.resolve_new()
        lap("window")

        wl.verify()
        lap("verify")
        jvm = spark.sparkContext._gateway.proc.pid
        rss = _peak_rss_mb(jvm)
        out = metrics.collect(wl, window_s, sizes, tracer, rss)
        if tracer is not None:
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
            ))
        if args.oplog:
            metrics.write_oplog(wl, args.oplog)
        out["report"].append("  phases s: " + ", ".join(f"{k}={v:.1f}" for k, v in phases.items()))
        return out
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        _stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import memfuse_spark  # noqa: F401
        import pyspark  # noqa: F401
        from tools.runlock import acquire_run_lock
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(memfuse_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: memfuse_spark resolves outside {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    lock = acquire_run_lock(f"perfbench {args.workload}", path=os.path.join(base, "run.lock"))
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    try:
        os.makedirs(work)
        _isolate(work)
        os.chdir(work)
        out = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        if lock is not None:
            lock.close()
    for line in out.pop("report"):
        print(line)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
