"""Run one workload of the arcticdb_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload qb_research --seed 7 --seconds 8 --trace 0

One process, one closed-loop client, Spark ``local[min(nproc, 4)]``. The run
generates its inputs from ``--seed``, sets the program up several times (each
in a fresh library; ``setup_s`` is the median), runs the workload's
``warmup_rounds`` untimed, then runs whole rounds of its fixed op sequence
until ``--seconds`` have passed and at least ``min_rounds`` are done. Every op
result is checked against a model the benchmark computed itself.

With ``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` the same measured phase runs with the tracer on and the last
line carries the per-layer metrics; two more phases, one untraced and one
traced, measure the tracing overhead. The line before the last carries the
full detail, and the spans go to
``.perfbench_out/<workload>-seed<seed>-trace1.json``.

Must run from the root of a source checkout: it imports ``arcticdb_spark``
from there and exits with status 2, printing no result, when it cannot.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("ingest_versioned", "qb_research", "dedup_corpus")
SETUP_REPEATS = 3
MAX_CPUS = 4
DRIVER_MEM = "2g"
OVERHEAD_ROUND = 1_000_000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt the expected results (self-test only)")
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Environment for the JVM and the session, fixed before it starts."""
    nproc = len(os.sched_getaffinity(0))
    cpus = min(nproc, MAX_CPUS)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # bounded glibc arenas: native memory must not scale with the JVM's
        # thread count, so the peak RSS repeats from run to run
        "MALLOC_ARENA_MAX": "2",
    })
    return {"nproc": nproc, "cpus": cpus, "local_dir": local, "tmp": tmp}


def start_spark(env: dict):
    from arcticdb_spark import get_spark
    return get_spark("perfbench", extra_conf={
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": env["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(env["tmp"], "warehouse"),
        # a fixed heap: no resizing decisions, so the JVM's peak RSS repeats
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={env['tmp']}",
    })


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM it launched and every process
    below it (the Python workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in spawned:
        while _running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_setups(wl, spark, work: str) -> list[float]:
    """Set the workload up ``SETUP_REPEATS`` times, each in a fresh library
    root; the last one stays for the measured phase."""
    from arcticdb_spark import Arctic
    times = []
    for i in range(SETUP_REPEATS):
        root = os.path.join(work, f"arctic{i}")
        t0 = time.perf_counter()
        wl.setup(Arctic(root, spark))
        times.append(time.perf_counter() - t0)
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(root)
    return times


def e2e(client, rounds: list[dict], setup_times: list[float]) -> dict:
    """End-to-end metrics of one measured phase; rates are medians over its
    rounds, so one disturbed round moves them little."""
    samples = [x for xs in client.lat_ms.values() for x in xs]
    return {
        "setup_s": statistics.median(setup_times),
        "ops_per_s": statistics.median(r["ops"] / r["wall_s"] for r in rounds),
        "rows_per_s": statistics.median(r["rows"] / r["wall_s"] for r in rounds),
        "op_p50_ms": statistics.median(samples),
        "pipeline_s": statistics.median(r["wall_s"] for r in rounds),
        "stored_bytes_ratio": statistics.median(client.stored_ratios),
    }


UNITS = {"setup_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s",
         "op_p50_ms": "ms", "pipeline_s": "s", "peak_rss_mb": "MB",
         "stored_bytes_ratio": "ratio"}


def layer_metrics(summary: dict, sym: list[dict], codegen: tuple,
                  overhead_pct: float) -> dict:
    """The per-layer metrics every workload emits, with units: per-op means
    over the traced phase, storage counters per symbol, and the codegen
    compiles of the session up to the end of the traced phase."""
    o = summary["overall"]
    vals = {
        "spark.jobs": (o["jobs"], "count"),
        "spark.stages": (o["stages"], "count"),
        "spark.tasks": (o["tasks"], "count"),
        "spark.job_wall_ms": (o["job_wall_ms"], "ms"),
        "spark.executor_run_ms": (o["executor_run_ms"], "ms"),
        "spark.executor_cpu_ms": (o["executor_cpu_ms"], "ms"),
        "spark.shuffle_read_bytes": (o["shuffle_read_bytes"], "bytes"),
        "spark.shuffle_write_bytes": (o["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (o["spill_bytes"], "bytes"),
        "spark.input_bytes": (o["input_bytes"], "bytes"),
        "spark.input_rows_per_result_row": (o["input_rows_per_result_row"], "ratio"),
        # per run, not per op: compiled classes are cached, so a warm
        # measured phase may compile nothing while the session compiled a lot
        "spark.codegen_compiles": (codegen[0], "count"),
        "spark.codegen_compile_ms": (codegen[1], "ms"),
        "driver.outside_jobs_ms": (o["outside_jobs_ms"], "ms"),
        "driver.py_cpu_ms": (o["py_cpu_ms"], "ms"),
        "jvm.cpu_ms": (o["jvm_cpu_ms"], "ms"),
        "catalog.read_construct_ms": (o["read_construct_ms"], "ms"),
        "catalog.versions_per_symbol": (
            statistics.mean(x["versions"] for x in sym), "count"),
        "catalog.list_versions_ms_per_version": (
            sum(x["list_versions_ms"] for x in sym)
            / sum(x["versions"] for x in sym), "ms"),
        "storage.metadata_bytes": (
            statistics.mean(x["metadata_bytes"] for x in sym), "bytes"),
        "storage.data_files_per_symbol": (
            statistics.mean(x["data_files"] for x in sym), "count"),
        "storage.files_written": (o["files_written"], "count"),
        "storage.bytes_written": (o["bytes_written"], "bytes"),
        "trace.overhead_pct": (overhead_pct, "%"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def module_metrics(s: dict) -> dict:
    """Per-module metrics of the layers this workload exercises."""
    out = {f"{layer}_ms": ms for layer, ms in s["layers_ms"].items()}
    if s["overall"]["read_convert_ms"]:
        out["catalog.read_convert_ms"] = s["overall"]["read_convert_ms"]
    if s["write_zero_job_ratio"] is not None:
        out["write.zero_job_ratio"] = s["write_zero_job_ratio"]
    return out


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of the Python driver and of the JVM, in MB."""
    from tracing import vm_hwm_kb
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_kb() / 1024.0, vm_hwm_kb(jvm_pid) / 1024.0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # locate without importing: the session module reads the environment
    # pinned below when it is first imported
    if importlib.util.find_spec("arcticdb_spark") is None:
        print("perfbench: arcticdb_spark is not in this checkout",
              file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    env = pin_environment(work)
    import pandas
    import pyarrow
    import pyspark
    wl_mod = importlib.import_module(args.workload)
    wl = wl_mod.Workload(args.seed, args.size, corrupt=args.corrupt)
    t0 = time.perf_counter()
    spark = start_spark(env)
    session_start_s = time.perf_counter() - t0
    try:
        from harness import WARMUP, Client, class_latencies, run_rounds
        from tracing import Tracer, codegen_totals
        codegen0 = codegen_totals(spark) if args.trace else None
        setup_times = run_setups(wl, spark, work)
        warm = Client()
        warm_rounds = (run_rounds(lambda i: wl.round(warm, i), 0, warm,
                                  WARMUP, wl.warmup_rounds)
                       if wl.warmup_rounds else [])
        tracer = Tracer(spark, wl.lib.root) if args.trace else None
        client = Client(tracer)
        rounds = run_rounds(lambda i: wl.round(client, i), args.seconds,
                            client, 1, wl.min_rounds)
        result = e2e(client, rounds, setup_times)
        if args.trace:
            codegen = [b - a for a, b in zip(codegen0, codegen_totals(spark))]
        rss_py, rss_jvm = peak_rss_mb(spark)
        result["peak_rss_mb"] = rss_py + rss_jvm
        detail = {"classes": class_latencies(client.lat_ms),
                  "ops": client.op_medians(), "rounds": rounds,
                  "warmup_rounds": warm_rounds,
                  "peak_rss_mb_python_jvm": [rss_py, rss_jvm]}
        clients = [warm, client]
        if args.trace:
            # tracing overhead: one more phase untraced and one traced, both
            # after the measured phase, so equally warm
            plain, traced = Client(), Client(Tracer(spark, wl.lib.root))
            plain_e2e = e2e(plain, run_rounds(lambda i: wl.round(plain, i),
                                              args.seconds, plain,
                                              OVERHEAD_ROUND, wl.min_rounds),
                            setup_times)
            traced_e2e = e2e(traced, run_rounds(lambda i: wl.round(traced, i),
                                                args.seconds, traced,
                                                2 * OVERHEAD_ROUND,
                                                wl.min_rounds), setup_times)
            clients += [plain, traced]
            overhead_pct = (plain_e2e["ops_per_s"] / traced_e2e["ops_per_s"] - 1) * 100
            summary = tracer.summary()
            metrics = layer_metrics(summary, tracer.symbols, codegen,
                                    overhead_pct)
            detail.update({
                "tracing_overhead": {k: traced_e2e[k] - plain_e2e[k]
                                     for k in plain_e2e if k != "setup_s"},
                "per_class": summary["per_class"],
                "modules": {**module_metrics(summary), **{
                    k: v for k, v in wl.report().items() if v is not None}}})
        final = Client()
        wl.final_checks(final)
        clients.append(final)
        master = spark.sparkContext.master
        parallelism = spark.sparkContext.defaultParallelism
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(c.attempted for c in clients)
    failed = sum(c.failed for c in clients)
    if not args.trace:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in result.items()}
    detail.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "sizes": wl.sizes(),
        "model": "closed loop, one client",
        "master": master, "parallelism": parallelism, "nproc": env["nproc"],
        "driver_memory": DRIVER_MEM, "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "session_start_s": session_start_s,
        "setup_times_s": setup_times,
        "end_to_end": result, "error_rate": failed / attempted,
        "quality": wl.report(),
        "errors": [e for c in clients for e in c.errors][:20]})
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        if args.trace:
            json.dump({"detail": detail, "spans": tracer.spans,
                       "ops": tracer.ops, "symbols": tracer.symbols}, f)
        else:
            json.dump({"detail": detail}, f)
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
