"""Traced-run collector: in-memory spans and per-op layer counters.

Every op of a traced run runs under its own Spark job group. When it returns,
the collector asks Spark's public status APIs (``statusTracker`` for the job
ids of the group, ``statusStore`` for job and stage data) what the op cost,
reads the codegen compile histogram, the CPU time of the Python driver and of
the JVM from ``/proc``, and walks the library directory for the files the op
wrote. Nothing inside ``arcticdb_spark`` is instrumented: spans are opened
here, around calls into the package's public functions.

Spans are ``{name, start, end, parent, op}`` with times in ms since the
collector started; Spark jobs appear as child spans of the op that launched
them.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from py4j.protocol import Py4JError

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_ms(pid: int) -> float:
    """utime + stime of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000.0 / _CLK_TCK


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def walk_files(root: str) -> dict:
    """{path: (size, mtime_ns)} of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def codegen_totals(spark) -> tuple[int, float]:
    """(compiles, summed compile ms) of the JVM's whole-stage codegen so far,
    from ``CodegenMetrics.METRIC_COMPILATION_TIME``. The histogram keeps
    every sample until 1028 compiles; beyond that the sum is extrapolated
    from the retained mean."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = int(hist.getCount())
    vals = hist.getSnapshot().getValues()
    size = len(vals)
    total = float(jvm.java.util.Arrays.stream(vals).sum())
    if size and n > size:
        total = total / size * n
    return n, total


def _opt_ms(opt):
    """Milliseconds of a Scala ``Option[java.util.Date]``, or None."""
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    def __init__(self, spark, storage_root: str):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.spark = spark
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.storage_root = storage_root
        self.t_origin = time.time()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.symbols: list[dict] = []
        self._seen_jobs = set(self.tracker.getJobIdsForGroup(None))
        self._files = walk_files(storage_root)

    # -- per-op collection --------------------------------------------------

    def _ms(self, epoch_s: float) -> float:
        return (epoch_s - self.t_origin) * 1e3

    def begin(self, cls: str, name: str, layer: str | None) -> dict:
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, f"{cls}:{name}")
        cg_n, cg_ms = codegen_totals(self.spark)
        return {"op": op_id, "cls": cls, "name": name, "layer": layer,
                "group": group, "epoch0": time.time(),
                "py_cpu0": time.process_time(),
                "jvm_cpu0": proc_cpu_ms(self.jvm_pid),
                "cg_n0": cg_n, "cg_ms0": cg_ms}

    def end(self, tok: dict, t0: float, t1: float, returned_rows: int,
            construct=None) -> None:
        epoch1 = time.time()
        wall_ms = (t1 - t0) * 1e3
        start = self._ms(tok["epoch0"])
        rec = {"op": tok["op"], "cls": tok["cls"], "name": tok["name"],
               "layer": tok["layer"], "wall_ms": wall_ms,
               "result_rows": returned_rows,
               "py_cpu_ms": (time.process_time() - tok["py_cpu0"]) * 1e3,
               "jvm_cpu_ms": proc_cpu_ms(self.jvm_pid) - tok["jvm_cpu0"]}
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        jobs = list(self.tracker.getJobIdsForGroup(tok["group"]))
        # jobs launched from the program's own worker threads carry no
        # group; with one client every new ungrouped job belongs to this op
        loose = set(self.tracker.getJobIdsForGroup(None)) - self._seen_jobs
        self._seen_jobs |= loose
        jobs = sorted(set(jobs) | loose)
        rec.update(self._job_counters(jobs, tok["op"], tok["epoch0"] * 1e3,
                                      epoch1 * 1e3))
        cg_n, cg_ms = codegen_totals(self.spark)
        rec["codegen_compiles"] = cg_n - tok["cg_n0"]
        rec["codegen_compile_ms"] = max(0.0, cg_ms - tok["cg_ms0"])
        rec["outside_jobs_ms"] = max(0.0, wall_ms - rec["job_wall_ms"])
        files = walk_files(self.storage_root)
        written = [p for p, v in files.items() if self._files.get(p) != v]
        rec["files_written"] = len(written)
        rec["bytes_written"] = sum(files[p][0] for p in written)
        self._files = files
        self.spans.append({"name": f"{tok['cls']}:{tok['name']}",
                           "start": start, "end": start + wall_ms,
                           "parent": None, "op": tok["op"]})
        if construct is not None:
            c0 = time.time()
            construct()
            self.spans.append({"name": "catalog.read_construct",
                               "start": self._ms(c0),
                               "end": self._ms(time.time()),
                               "parent": tok["op"], "op": tok["op"]})
            rec["read_construct_ms"] = self.spans[-1]["end"] - self.spans[-1]["start"]
            rec["read_convert_ms"] = max(0.0, wall_ms - rec["read_construct_ms"])
        self.ops.append(rec)

    def _job_counters(self, jobs: list[int], op_id: int, lo_ms: float,
                      hi_ms: float) -> dict:
        c = {"jobs": len(jobs), "stages": 0, "tasks": 0,
             "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
             "spill_bytes": 0, "input_bytes": 0, "input_records": 0}
        intervals = []
        for jid in jobs:
            jd = self._finished_job(jid)
            if jd is None:
                continue
            s, e = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if s is not None and e is not None:
                intervals.append((max(s, lo_ms), min(e, hi_ms)))
                self.spans.append({"name": "spark.job", "start": self._ms(s / 1e3),
                                   "end": self._ms(e / 1e3), "parent": op_id,
                                   "op": op_id, "job_id": jid})
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["executor_run_ms"] += sd.executorRunTime()
                c["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["input_bytes"] += sd.inputBytes()
                c["input_records"] += sd.inputRecords()
        c["job_wall_ms"] = _union_ms(intervals)
        return c

    def _finished_job(self, jid: int, timeout_s: float = 5.0):
        """The job's status-store record once its end event has landed (the
        listener bus is asynchronous)."""
        deadline = time.time() + timeout_s
        while True:
            try:
                jd = self.store.job(jid)
            except Py4JError:
                return None
            if jd.status().toString() != "RUNNING" or time.time() > deadline:
                return jd
            time.sleep(0.002)

    def storage_probe(self, lib, symbols: list[str]) -> None:
        """Per-symbol catalog and storage counters, taken between ops: the
        version count and ``list_versions`` time per version (as a span),
        data files and metadata bytes on disk."""
        for s in symbols:
            t0 = time.time()
            n = len(lib.list_versions(s))
            t1 = time.time()
            self.spans.append({"name": "catalog.list_versions",
                               "start": self._ms(t0), "end": self._ms(t1),
                               "parent": None, "op": None, "symbol": s})
            files = walk_files(os.path.join(lib.root, s))
            self.symbols.append({
                "versions": n, "list_versions_ms": (t1 - t0) * 1e3,
                "data_files": sum(p.endswith(".parquet") for p in files),
                "metadata_bytes": sum(v[0] for p, v in files.items()
                                      if p.endswith(".json"))})

    # -- aggregation ----------------------------------------------------------

    def summary(self) -> dict:
        """Per-op means over every op, per-class means, and the median wall
        of each per-module layer."""
        keys = ["jobs", "stages", "tasks", "job_wall_ms", "executor_run_ms",
                "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes", "codegen_compiles",
                "codegen_compile_ms", "outside_jobs_ms", "py_cpu_ms",
                "jvm_cpu_ms", "files_written", "bytes_written"]
        by_cls: dict[str, list[dict]] = {}
        for r in self.ops:
            by_cls.setdefault(r["cls"], []).append(r)

        def mean_of(rows, k):
            return sum(r[k] for r in rows) / len(rows) if rows else 0.0

        per_class = {cls: {"n": len(rows), **{k: mean_of(rows, k) for k in keys}}
                     for cls, rows in sorted(by_cls.items())}
        overall = {k: mean_of(self.ops, k) for k in keys}
        result_rows = sum(r["result_rows"] for r in self.ops)
        overall["input_rows_per_result_row"] = (
            sum(r["input_records"] for r in self.ops) / max(1, result_rows))
        reads = [r for r in self.ops if "read_construct_ms" in r]
        overall["read_construct_ms"] = _median(r["read_construct_ms"] for r in reads)
        overall["read_convert_ms"] = _median(r["read_convert_ms"] for r in reads
                                             if r["result_rows"] or r["jobs"])
        writes = [r for r in self.ops if r["cls"] in ("write", "append")]
        layers: dict[str, list[float]] = {}
        for r in self.ops:
            if r["layer"]:
                layers.setdefault(r["layer"], []).append(r["wall_ms"])
        return {"overall": overall, "per_class": per_class,
                "layers_ms": {k: statistics.median(v) for k, v in sorted(layers.items())},
                "write_zero_job_ratio": (sum(r["jobs"] == 0 for r in writes)
                                         / len(writes)) if writes else None}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
