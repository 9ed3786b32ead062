"""ingest_versioned: a growing version chain under small appends.

Each round creates a few tick symbols with one ``write`` and then gives them
many small pandas ``append``s. Interleaved with the appends are ``update``s
of a date range, ``stage`` x k + ``finalize_staged_data``, metadata calls
(``list_versions``, ``read_metadata``, ``snapshot``), point-in-time reads (an
old version ``as_of``, the snapshot, a tail ``date_range``), a full read of
the fragmented symbol, ``defragment_symbol_data`` and a full read after it.
The round ends by deleting its snapshot and symbols, so every round starts
from the same state and the chain length depends on the op index only, never
on how fast earlier ops ran.

The benchmark keeps a pandas model of every committed version: every read
must hash-match it and every ``list_versions`` must count its commits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from harness import Client, frame_digest, same_frame

SIZES = {
    "full": dict(history_rows=200_000, symbols=2, base_rows=2000, appends=20,
                 append_rows=30, stage_chunks=3, stage_rows=30, meta_every=2,
                 update_every=20, update_rows=40, finalize_every=20,
                 read_every=10),
    "tiny": dict(history_rows=500, symbols=2, base_rows=100, appends=6,
                 append_rows=5, stage_chunks=2, stage_rows=5, meta_every=2,
                 update_every=3, update_rows=4, finalize_every=4, read_every=3),
}

VENUES = np.array(["XLON", "XNYS", "XPAR", "XTKS"])


class Model:
    """Every committed version of one symbol: frame and metadata. Digests
    are computed when a check needs them, outside the timed rounds."""

    def __init__(self):
        self.frames: list[pd.DataFrame] = []
        self.meta: list = []
        self._digests: dict[int, str] = {}

    def commit(self, df: pd.DataFrame, meta) -> None:
        self.frames.append(df)
        self.meta.append(meta)

    def digest(self, v: int) -> str:
        v %= len(self.frames)
        if v not in self._digests:
            self._digests[v] = frame_digest(self.frames[v])
        return self._digests[v]

    @property
    def latest(self) -> pd.DataFrame:
        return self.frames[-1]


class Workload:
    name = "ingest_versioned"
    # round times fall for about three rounds as the JIT and codegen
    # settle: two untimed rounds, and a median over at least three
    warmup_rounds = 2
    min_rounds = 3

    def __init__(self, seed: int, size: str, corrupt: bool = False):
        self.sz = SIZES[size]
        self.seed = seed
        self.corrupt = corrupt
        self.lib = None
        self.compactions: list[dict] = []

    def final_checks(self, client: Client) -> None:
        """Every result was checked as it came; nothing is left."""

    def sizes(self) -> dict:
        return dict(self.sz)

    def report(self) -> dict:
        """Compaction counters, medians over the defragmentations of a
        traced run (none in an untraced one)."""
        if not self.compactions:
            return {}
        return {f"compact.{k}": float(np.median([c[k] for c in self.compactions]))
                for k in self.compactions[0]}

    def _ticks(self, rng, start: pd.Timestamp, n: int) -> pd.DataFrame:
        """n ticks at whole-second offsets after ``start``."""
        steps = rng.integers(1, 4, n).cumsum()
        idx = pd.DatetimeIndex(start + pd.to_timedelta(steps, unit="s"),
                               name="ts")
        return pd.DataFrame({"px": np.round(rng.normal(100, 5, n), 4),
                             "qty": rng.integers(1, 1000, n).astype("int64"),
                             "venue": VENUES[rng.integers(0, 4, n)]},
                            index=idx)

    # -- set-up ---------------------------------------------------------------

    def setup(self, arctic) -> None:
        """Create the library and write the history backfill the tick
        symbols of every round live next to."""
        self.lib = arctic.create_library("ingest")
        hist = self._ticks(np.random.default_rng([self.seed, 1 << 20]),
                           pd.Timestamp("2023-01-02"), self.sz["history_rows"])
        self.lib.write("history", hist)

    # -- one round --------------------------------------------------------------

    def round(self, client: Client, r: int) -> None:
        sz, lib = self.sz, self.lib
        rng = np.random.default_rng([self.seed, r])
        syms = [f"r{r}_tick{j}" for j in range(sz["symbols"])]
        models = {s: Model() for s in syms}
        t0 = pd.Timestamp("2024-01-02 09:00:00")

        def check_version(s, v):
            return lambda out: same_frame(out, models[s].frames[v],
                                          models[s].digest(v))

        def check_count(s):
            def chk(out):
                n = len(out)
                return (None if n == len(models[s].frames)
                        else f"{n} versions listed, {len(models[s].frames)} committed")
            return chk

        for s in syms:
            df = self._ticks(rng, t0, sz["base_rows"])
            client.op("write", "write", lambda s=s, df=df: lib.write(
                s, df, metadata={"seq": 0}), rows_in=len(df))
            if self.corrupt:  # a wrong model must make the checks fail
                df = df.assign(px=df["px"] + 1.0)
            models[s].commit(df, {"seq": 0})

        snap = f"r{r}_snap"
        snap_versions = None
        for i in range(1, sz["appends"] + 1):
            for s in syms:
                m = models[s]
                df = self._ticks(rng, m.latest.index[-1], sz["append_rows"])
                client.op("append", "append", lambda s=s, df=df, i=i: lib.append(
                    s, df, metadata={"seq": i}), rows_in=len(df))
                m.commit(pd.concat([m.latest, df]), {"seq": i})
            s = syms[i % len(syms)]
            m = models[s]
            if i % sz["meta_every"] == 0:
                client.op("meta", "list_versions",
                          lambda s=s: lib.list_versions(s), check=check_count(s))
                exp_meta = m.meta[-1]
                client.op("meta", "read_metadata", lambda s=s: lib.read_metadata(s),
                          check=lambda out, e=exp_meta: (
                              None if out.metadata == e
                              else f"metadata {out.metadata!r} != {e!r}"))
            if i % sz["update_every"] == 0:
                cur = m.latest
                lo = int(rng.integers(len(cur) // 4, len(cur) // 2))
                span = cur.index[lo:lo + sz["update_rows"]]
                upd = self._ticks(rng, span[0] - pd.Timedelta(seconds=1),
                                  sz["update_rows"] * 2)
                upd = upd[upd.index <= span[-1]]
                meta = {"upd": i}
                client.op("update", "update", lambda s=s, upd=upd, meta=meta:
                          lib.update(s, upd, metadata=meta), rows_in=len(upd))
                lo_ts, hi_ts = upd.index[0], upd.index[-1]
                m.commit(pd.concat([cur[cur.index < lo_ts], upd,
                                    cur[cur.index > hi_ts]]), meta)
            if i % sz["finalize_every"] == 0:
                chunks, last = [], m.latest.index[-1]
                for _ in range(sz["stage_chunks"]):
                    chunks.append(self._ticks(rng, last, sz["stage_rows"]))
                    last = chunks[-1].index[-1]
                meta = {"fin": i}

                def stage_finalize(s=s, chunks=chunks, meta=meta):
                    for c in chunks:
                        lib.stage(s, c)
                    return lib.finalize_staged_data(s, mode="append",
                                                    metadata=meta)
                client.op("finalize", "stage_finalize", stage_finalize,
                          rows_in=sum(len(c) for c in chunks))
                m.commit(pd.concat([m.latest, *chunks]), meta)
            if i % sz["read_every"] == 0:
                if (i // sz["read_every"]) % 2:
                    v = len(m.frames) // 2
                    kw = {"as_of": v}
                    chk = check_version(s, v)
                else:
                    cut = m.latest.index[-len(m.latest) // 20]
                    kw = {"date_range": (cut, None)}
                    exp = m.latest[m.latest.index >= cut]
                    chk = lambda out, exp=exp: same_frame(out, exp)
                client.op("read", "read_" + next(iter(kw)),
                          lambda s=s, kw=kw: lib.read(s, output_format="pandas", **kw),
                          check=chk,
                          construct=lambda s=s, kw=kw: lib.read(
                              s, output_format="spark", **kw))
            if i == sz["appends"] // 2:
                client.op("meta", "snapshot", lambda: lib.snapshot(snap))
                snap_versions = {s: len(models[s].frames) - 1 for s in syms}

        # the snapshot of the first symbol, then the many-small-files read,
        # defragmentation and compacted read of the last
        s = syms[0]
        client.op("read", "read_snapshot",
                  lambda: lib.read(s, as_of=snap, output_format="pandas"),
                  check=check_version(s, snap_versions[s]),
                  construct=lambda: lib.read(s, as_of=snap, output_format="spark"))
        s, m = syms[-1], models[syms[-1]]
        client.op("read", "read_full_fragmented",
                  lambda: lib.read(s, output_format="pandas"),
                  check=check_version(s, -1),
                  construct=lambda: lib.read(s, output_format="spark"))
        tracer = client.tracer
        if tracer is not None:
            files_before = len(lib.read_index(s))
        before = len(m.frames)
        out = client.op("compact", "defragment",
                        lambda: lib.defragment_symbol_data(s))
        if out is not None and out.version >= before:
            m.commit(m.latest, m.meta[-1])
        if tracer is not None:
            self.compactions.append({
                "files_before": files_before,
                "files_after": len(lib.read_index(s)),
                "bytes_rewritten": tracer.ops[-1]["bytes_written"]})
        client.op("read", "read_full_compacted",
                  lambda: lib.read(s, output_format="pandas"),
                  check=check_version(s, -1),
                  construct=lambda: lib.read(s, output_format="spark"))
        for s in syms:
            client.op("meta", "list_versions", lambda s=s: lib.list_versions(s),
                      check=check_count(s))
        client.sample_storage(self.lib, syms, sum(
            int(models[s].latest.memory_usage(index=True, deep=True).sum())
            for s in syms))
        client.op("meta", "delete_snapshot", lambda: lib.delete_snapshot(snap))
        for s in syms:
            client.op("meta", "delete", lambda s=s: lib.delete(s))
