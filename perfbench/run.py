#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload stac_month --seed 1 --seconds 10 --trace 0

Runs one workload in one process, closed loop, one client, on a
``local[nproc]`` session. Set-up (session start plus one untimed warm-up
pass) is timed as ``setup_s``; then whole passes run until ``--seconds``
have passed (at least one). Output checks run outside the timed region.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run makes one
untimed plain pass and one traced pass, prints the per-layer metrics and
writes the span file and per-layer summary under ``--trace-dir``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout. Exits non-zero, without a result line, when the engine package
is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: session settings held identical on both sides of a comparison
DRIVER_MEMORY = "4g"


def session_settings() -> dict:
    cpus = len(os.sched_getaffinity(0))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "master": f"local[{cpus}]",
        "spark.driver.memory": DRIVER_MEMORY,
        # the whole heap from the start, and resident: a heap grown or
        # touched on demand made peak RSS swing by a third between runs
        # of the same work
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def _setup_env(settings: dict) -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = settings["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["spark.driver.memory"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(WORK)  # spark-warehouse and friends land here


def _start_session(settings: dict):
    from hls_stac_parquet_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=settings["master"],
        extra_conf={
            "spark.ui.showConsoleProgress": settings["spark.ui.showConsoleProgress"],
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.defaultJavaOptions": settings["spark.driver.defaultJavaOptions"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args) -> dict:
    import metrics
    import workloads
    from counters import SparkCounters
    from spans import Tracer

    import_s = metrics.process_age_s()  # interpreter start and imports
    settings = session_settings()
    _setup_env(settings)
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
    wl.prepare()  # input generation: untimed, not part of set-up

    before_session = metrics.process_age_s()
    spark = _start_session(settings)
    # process start to session ready, less the input generation above
    session_s = import_s + metrics.process_age_s() - before_session
    t0 = time.perf_counter()
    try:
        wl.warmup(spark)
        setup_s = session_s + time.perf_counter() - t0
        workloads.log(f"set-up {setup_s:.2f}s (session {session_s:.2f}s)")

        samples: list[tuple[str, float]] = []
        sweeps: list[float] = []
        with metrics.PeakRss() as rss:
            start = time.perf_counter()
            while True:
                pass_samples = wl.timed_pass(spark, len(sweeps))
                samples += pass_samples
                sweeps.append(sum(s for _, s in pass_samples))
                if args.trace or time.perf_counter() - start >= args.seconds:
                    break
        info = wl.check_timed()

        if args.trace:
            counters = SparkCounters(spark)
            tracer = Tracer(on_enter=counters.enter, on_exit=counters.exit)
            layers = wl.traced_pass(spark, tracer, counters)
            layers["trace.overhead_s"] = layers["trace.wall_s"] - sweeps[-1]
            layers["trace.overhead_frac"] = layers["trace.overhead_s"] / sweeps[-1]
            layers["failed_frac"] = wl.failed / max(wl.attempted, 1)
            _write_trace(args, tracer, layers, settings, sweeps[-1])
            values = {k: layers.get(k, 0) for k in metrics.PER_LAYER}
            units = metrics.PER_LAYER
        else:
            tail, pct, n = metrics.tail([s for _, s in samples])
            workloads.log(
                f"passes={len(sweeps)} query_tail_s is p{pct:.1f} of {n} samples"
            )
            values = {
                "setup_s": setup_s,
                "sweep_s": statistics.median(sweeps),
                "query_p50_s": statistics.median([s for _, s in samples]),
                "query_tail_s": tail,
                "peak_rss_mib": rss.mib,
            }
            units = metrics.END_TO_END
            _write_record(args, samples, sweeps, values, info, pct, n)
    finally:
        spark.stop()
        wl.cleanup()

    return {
        "correct": not wl.mismatches and wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def _write_record(args, samples, sweeps, values, info, pct, n) -> None:
    """Per-operation timings of an untimed run, beside the result line."""
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    path = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "samples": samples, "sweeps": sweeps, "metrics": values,
                   "query_tail_percentile": pct, "query_tail_samples": n,
                   "output": info}, f, indent=1)


def _write_trace(args, tracer, layers, settings, untraced_s) -> None:
    from workloads import layer_totals

    out_dir = args.trace_dir or os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    tracer.dump(f"{stem}.spans.json", {"workload": args.workload, "seed": args.seed})
    with open(f"{stem}.summary.json", "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "session": settings,
            "untraced_pass_s": untraced_s,
            "traced_pass_s": layers["trace.wall_s"],
            "tracing_overhead_s": layers["trace.overhead_s"],
            "layers": layers,
            "spans": layer_totals(tracer),
        }, f, indent=1, sort_keys=True)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it if it is a finished child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass  # not our child: its own parent reaps it
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_processes(timeout: float = 20.0) -> None:
    """Stop every process the run started and wait until each has ended.

    The Spark JVM outlives ``spark.stop()`` until its standard input
    closes, and its Python workers are its children: list the whole tree
    first, close the JVM's input and wait for it, then terminate (and
    after ``timeout``, kill) whatever is still running."""
    from metrics import descendants

    pids = descendants(os.getpid())
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # a JVM that already died has nothing to shut
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + timeout
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-dir", default=None,
                   help="where --trace 1 writes spans and summary")
    args = p.parse_args(argv)
    if args.trace_dir:
        args.trace_dir = os.path.abspath(args.trace_dir)  # the run changes directory

    sys.path[:0] = [ROOT, HERE]
    try:
        import hls_stac_parquet_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # JVM and py4j chatter share fd 1: send everything to stderr and
    # keep the real stdout for the one result line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(2), "w")
    try:
        result = run(args)
    finally:
        _stop_processes()
    sys.stdout.flush()
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
