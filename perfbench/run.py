"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see BENCHMARK.json and LAYERS.md) against the program in
this checkout, from the root of the checkout, in one process: a closed loop
with one client on ``local[n]`` (n = min(cores, the workload's ``cpus``: 2
for incremental_sync, 4 otherwise)). It builds every input from ``--seed``,
sets up (session, inputs, views, sources, warm-up), times a fixed number
of whole cycles of the workload's ops (as many as take ``--seconds``
seconds on a 4-core VM), checks every op's output and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the program's layers are wrapped and the metrics are the per-layer ones.
Run details (tail latency, per-op load average, set-up parts) go to stderr
and, with the result, to ``.perfbench_results/<workload>.jsonl``; a traced
run also writes its spans there. Scratch files live under
``.perfbench_work/`` and are removed on exit.

Exit status: 0 with a result; 2 when the program is not importable from the
checkout; 1 on any other error (no result printed).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# fresh builds of the workload's inputs per run; setup_s takes their median.
# The first build in a process pays the JVM's cold code paths, so a median
# of two is the mean of a cold and a warm build.
PREPARE_REPEATS = 2
TIMED_LIMIT_S = 90.0
END_TO_END_UNITS = {
    "op_p50_ms": "ms",
    "rows_per_s": "1/s",
    "setup_s": "s",
    "live_mem_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, cpus: int) -> None:
    """Keep every file the run (and the JVM it starts) writes inside the
    checkout, and let Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    java_opts = " ".join([
        "-XX:-UsePerfData",  # no hsperfdata file under /tmp
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(work, 'derby-home')}",
    ])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", json.dumps(java_opts),
        "pyspark-shell",
    ])
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def live_mem_mb(spark) -> float:
    """Memory the run still holds at its end: the JVM heap that survives a
    full collection plus the Python process's peak resident set. Unlike the
    JVM's resident set, which follows the collector's timing, it moves only
    with what the program retains."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20 + vm_hwm_mb("self")


def tail(latencies_ms: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(latencies_ms)
    if n < 11:
        return None
    return {"pct": round(100.0 * (n - 10) / n, 2), "ms": sorted(latencies_ms)[n - 11], "n": n}


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str) -> dict:
    from youcruit_tap_rawpostgresql_spark import session

    import layers
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    workload = workloads.WORKLOADS[args.workload]
    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        layers.install(tracer)
    cpus = min(int(os.environ["SPARK_GRAFT_CPUS"]), workload.cpus)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    t0 = time.perf_counter()
    spark = session.get_session(app_name=f"perfbench-{args.workload}", cpus=cpus)
    try:
        spark.range(1000).selectExpr("sum(id)").collect()  # first job: JVM warm-up
        session_s = time.perf_counter() - t0
        wl = workload(spark, args.seed)
        wl.tracer = tracer
        prepare_s = []
        for k in range(PREPARE_REPEATS):
            t = time.perf_counter()
            wl.prepare(os.path.join(work, f"prep{k}"))
            prepare_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prepare_s) + warmup_s

        jobs = tracing.JobCounter(spark) if tracer else None
        lat_ms: list[float] = []
        loads: list[float] = []
        rows = attempted = failed = cycles_done = 0
        cycles = max(1, round(args.seconds / wl.cycle_s))
        phase0 = time.perf_counter()
        while True:
            wl.before_op()
            loads.append(os.getloadavg()[0])
            if tracer:
                tracer.op_id = attempted
                jobs.start(f"perfbench-op-{attempted}")
            attempted += 1
            t = time.perf_counter()
            try:
                n = wl.op()
                dt = time.perf_counter() - t
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc()
                failed += 1
                n = None
            finally:
                if tracer:
                    jobs.stop(f"perfbench-op-{attempted - 1}")
                    tracer.op_id = None
            if n is not None:
                lat_ms.append(1000.0 * dt)
                rows += n
                try:
                    failed += wl.check() > 0
                except Exception:  # noqa: BLE001
                    traceback.print_exc()
                    failed += 1
            cycles_done += wl.at_boundary()
            # the time limit only guards the run's own deadline
            if cycles_done >= cycles or time.perf_counter() - phase0 >= TIMED_LIMIT_S:
                break
        t = time.perf_counter()
        failed += wl.final_check()
        final_check_s = time.perf_counter() - t
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        live_mb = live_mem_mb(spark)
    finally:
        if tracer:
            tracer.unwrap()
        t = time.perf_counter()
        stop_jvm(spark)
        stop_s = time.perf_counter() - t

    op_p50 = statistics.median(lat_ms) if lat_ms else 0.0
    end_to_end = {
        "op_p50_ms": op_p50,
        "rows_per_s": rows / (sum(lat_ms) / 1000.0) if lat_ms else 0.0,
        "setup_s": setup_s,
        "live_mem_mb": live_mb,
    }
    if tracer:
        metrics = {
            name: {"value": v, "unit": unit}
            for (name, unit), v in zip(
                layers.METRICS, layers.metrics(tracer, len(lat_ms), jobs, wl, op_p50).values()
            )
        }
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()}
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "cycles": cycles_done,
        "cycles_planned": cycles, "ops": len(lat_ms), "rows": rows,
        "op_tail": tail(lat_ms), "session_s": session_s, "prepare_s": prepare_s,
        "warmup_s": warmup_s, "final_check_s": final_check_s, "stop_s": stop_s,
        "peak_rss_mb": rss,
        "load_1m_before_op": loads, "latencies_ms": lat_ms,
        "end_to_end": end_to_end, **wl.details(),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}.jsonl"), "a") as fh:
        fh.write(json.dumps({**result, "details": details}) + "\n")
    if tracer:
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    print("perfbench details: " + json.dumps(details), file=sys.stderr)
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, cpus)
    try:
        try:
            import youcruit_tap_rawpostgresql_spark as program
        except ImportError as exc:
            print(f"perfbench: the program is not importable from {ROOT}: {exc}",
                  file=sys.stderr)
            return 2
        if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: the program was imported from {program.__file__}, "
                  f"not from {ROOT}", file=sys.stderr)
            return 2
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left in place while another run uses it
            os.rmdir(os.path.dirname(work))
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
