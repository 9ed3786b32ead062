"""The benchmark's one closed-loop client and the statistics it reports.

A workload drives the program only through :meth:`Client.op`: the client
times the call, then (outside the timed region) checks the result against the
workload's own model and counts the op as failed if either the call raised or
the check found a difference. Ops run strictly one after another, so the
load is a closed loop with a single client.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd


class Client:
    """Times ops, verifies their results and keeps the per-class samples."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.lat_ms: dict[str, list[float]] = defaultdict(list)
        self.by_name: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.completed = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rows = 0
        self.check_s = 0.0
        self.stored_ratios: list[float] = []

    def op(self, cls: str, name: str, fn, check=None, rows_in: int = 0,
           layer: str | None = None, construct=None):
        """Run ``fn()`` as one op of class ``cls``.

        ``check(result)`` returns ``None`` when the result is right and a
        short description of the difference otherwise. ``rows_in`` counts
        rows the op writes or feeds into a pipeline; rows it returns are
        counted from the result. ``layer`` names the per-module metric the op
        feeds in a traced run, and ``construct`` is the ``output_format=
        "spark"`` form of a pandas read, timed separately by the tracer."""
        self.attempted += 1
        tok = self.tracer.begin(cls, name, layer) if self.tracer else None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed op is counted, never fatal
            t1 = time.perf_counter()
            if tok is not None:
                self.tracer.end(tok, t0, t1, 0, construct=None)
            self._fail(name, f"{type(e).__name__}: {e}")
            return None
        t1 = time.perf_counter()
        returned = n_rows(out)
        self.lat_ms[cls].append((t1 - t0) * 1e3)
        self.by_name[name].append((t1 - t0) * 1e3)
        self.completed += 1
        self.rows += rows_in + returned
        if tok is not None:
            self.tracer.end(tok, t0, t1, returned, construct=construct)
        if check is not None:
            c0 = time.perf_counter()
            try:
                problem = check(out)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
            self.check_s += time.perf_counter() - c0
            if problem:
                self._fail(name, problem)
        return out

    def sample_storage(self, lib, symbols: list[str], live_bytes: int) -> None:
        """Record library bytes on disk over in-memory bytes of the live
        latest versions of ``symbols``; in a traced run also probe the
        symbols' catalog and storage counters. Untimed client work."""
        c0 = time.perf_counter()
        disk = sum(os.path.getsize(os.path.join(d, f))
                   for s in symbols
                   for d, _, files in os.walk(os.path.join(lib.root, s))
                   for f in files)
        self.stored_ratios.append(disk / live_bytes)
        if self.tracer is not None:
            self.tracer.storage_probe(lib, symbols)
        self.check_s += time.perf_counter() - c0

    def op_medians(self) -> dict:
        """Median latency in ms of each op name."""
        return {k: statistics.median(v) for k, v in sorted(self.by_name.items())}

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{name}: {why}"[:500])


def n_rows(out) -> int:
    if isinstance(out, (pd.DataFrame, pd.Series)):
        return len(out)
    if isinstance(out, list):
        return sum(n_rows(x) for x in out)
    return 0


WARMUP = 500_000  # index of the first untimed warm-up round


def run_rounds(workload_round, seconds: float, client: Client, first: int,
               min_rounds: int = 1) -> list[dict]:
    """Run whole rounds, numbered from ``first``, until ``seconds`` have
    passed and at least ``min_rounds`` are done. Per round: its wall time
    minus the client's own verification time inside it, and the ops
    completed and rows moved in it."""
    rounds = []
    start = time.perf_counter()
    i = first
    while True:
        t0 = time.perf_counter()
        c0, n0, r0 = client.check_s, client.completed, client.rows
        workload_round(i)
        rounds.append({"wall_s": time.perf_counter() - t0 - (client.check_s - c0),
                       "ops": client.completed - n0, "rows": client.rows - r0})
        i += 1
        if (len(rounds) >= min_rounds
                and time.perf_counter() - start >= seconds):
            return rounds


def percentile(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def class_latencies(lat_ms: dict) -> dict:
    """Per-class p50 for every class, and p90 only where at least ten
    samples lie beyond it."""
    out = {}
    for cls, xs in sorted(lat_ms.items()):
        row = {"n": len(xs), "p50_ms": statistics.median(xs)}
        if len(xs) * 0.1 >= 10:
            row["p90_ms"] = percentile(xs, 90)
        out[cls] = row
    return out


# -- result checks ----------------------------------------------------------

def frame_digest(df: pd.DataFrame) -> str:
    """Order-sensitive digest of values, index and column names."""
    h = pd.util.hash_pandas_object(df, index=True).to_numpy()
    names = "|".join(map(str, df.columns)) + "#" + str(df.index.name)
    return hashlib.sha1(h.tobytes() + names.encode()).hexdigest()


def same_frame(got, exp: pd.DataFrame, digest: str | None = None):
    """Exact match by digest; ``None`` when equal, else a description."""
    if not isinstance(got, pd.DataFrame):
        return f"expected a DataFrame, got {type(got).__name__}"
    if digest is None:
        digest = frame_digest(exp)
    if frame_digest(got) == digest:
        return None
    return (f"digest mismatch: got {len(got)} rows {list(got.columns)}, "
            f"expected {len(exp)} rows {list(exp.columns)}")


def close_frame(got, exp: pd.DataFrame, sort_index: bool = False):
    """Match with a float tolerance, for aggregates whose summation order
    differs between engines; ``None`` when equal."""
    if not isinstance(got, pd.DataFrame):
        return f"expected a DataFrame, got {type(got).__name__}"
    if sort_index:
        got = got.sort_index()
        exp = exp.sort_index()
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    if not np.array_equal(got.index.to_numpy(), exp.index.to_numpy()):
        return "index differs"
    for c in exp.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        if b.dtype.kind == "f" or a.dtype.kind == "f":
            if not np.allclose(a.astype(float), b.astype(float), rtol=1e-9,
                               atol=1e-9, equal_nan=True):
                return f"column {c} differs"
        elif not np.array_equal(a, b):
            return f"column {c} differs"
    return None
