#!/usr/bin/env python3
"""Same-host benchmark of the KG-construction engine.

Run from the repository root::

    python3 perfbench/run.py --workload ingest|ner_gp|kg_queries \\
        --seed N --seconds S --trace 0|1

The workloads are described in ``perfbench/workloads.py``. A run pins its
environment (Spark ``local[nproc]``, single-threaded BLAS, its own TMPDIR
and Spark local dir under ``.perfbench_tmp/``, removed at exit), makes its
inputs from the seed, repeats the workload's operation for ``S`` seconds,
checks every output, and prints two JSON lines: a ``host`` block (nproc, CPU
model, scale, seed), then the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: process start to the first timed operation (session start,
  inputs, stores, checks and the untimed warm-up operations), with the input
  materialization step counted as the median of its repeats;
- ``op_s``: median wall seconds of one timed operation;
- ``cpu_s``: median CPU seconds one operation costs the whole process tree
  (this driver, the Spark JVM and its Python workers);
- ``peak_rss_mb``: the sum over that tree's processes of each one's peak
  resident set size during the timed operations (the kernel's VmHWM, reset
  when timing starts). The driver JVM's heap is fixed and touched at start
  (``-Xms`` = ``-Xmx``, ``AlwaysPreTouch``), so the figure does not depend
  on when G1 happened to grow the heap; what moves it is the JVM's
  off-heap memory and the Python workers.

With ``--trace 1`` the run also writes a Spark event log and keeps spans
around each call into a layer; the metrics are then the per-layer ones
(``workloads.PER_LAYER``). ``trace.op_s`` is ``op_s`` measured with tracing
on; its gap to an untraced run's ``op_s`` on the same seed is the tracing
overhead. Spans and the reduced event log are kept in
``.perfbench_traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "entity_extractor_by_pointer_spark"
DRIVER_MEMORY = "1g"


def _process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def _pin_environment(rundir: str, trace: bool) -> int:
    import tempfile

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    submit = [
        "--conf",
        "spark.ui.showConsoleProgress=false",
        "--conf",
        f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    ]
    if trace:
        events = os.path.join(rundir, "events")
        os.makedirs(events)
        for conf in (
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{events}",
        ):
            submit += ["--conf", conf]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            # every JVM, the spark-submit launcher too: temp files under the
            # run dir, and no hsperfdata file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return nproc


def _stop_spark(timeout: float = 60.0) -> None:
    """Stop the SparkContext, shut the JVM down, and wait until every
    process this run started has ended."""
    from perfbench import proctree

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    tree = proctree.descendants(os.getpid())[1:]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=timeout)
        SparkContext._gateway = None
    deadline = time.time() + timeout
    while True:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2] == "Z"


def _measure(args, rundir: str, t_start: float) -> tuple[dict, dict]:
    from entity_extractor_by_pointer_spark.session import get_spark
    from perfbench import workloads as W
    from perfbench.tracing import Tracer

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t_start
    sc = spark.sparkContext if args.trace else None
    run = W.Run(spark, rundir, args.seed, args.seconds, Tracer(f"{args.workload}-{args.seed}", sc))
    W.WORKLOADS[args.workload](run)
    spark.stop()  # also closes the event log
    print(
        f"perfbench: session {session_s:.2f}s, materialize {[round(x, 2) for x in run.materialize_s]},"
        f" first op at {run.first_op_at - t_start:.2f}s, ops {[round(x, 2) for x in run.op_s]},"
        f" end {time.time() - t_start:.2f}s",
        file=sys.stderr,
    )

    if args.trace:
        events = os.path.join(rundir, "events")
        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        values = W.per_layer(run, session_s, log)
        units = W.PER_LAYER
        traces = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
    else:
        materialize = statistics.median(run.materialize_s)
        values = {
            "setup_s": run.first_op_at - t_start - sum(run.materialize_s) + materialize,
            "op_s": statistics.median(run.op_s),
            "cpu_s": statistics.median(run.op_cpu_s),
            "peak_rss_mb": run.peak_rss_mb,
        }
        units = W.END_TO_END
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    host = {
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "cpu_model": _cpu_model(),
        "sf": W.KG_SF if args.workload == "kg_queries" else None,
        "seed": args.seed,
        "ops": len(run.op_s),
    }
    return host, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "ner_gp", "kg_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    t_start = _process_start()
    rundir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    _pin_environment(rundir, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        host, result = _measure(args, rundir, t_start)
    finally:
        _stop_spark()
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
