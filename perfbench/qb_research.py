"""qb_research: QueryBuilder reads to pandas over a db-benchmark frame.

The main symbol is the 9-column frame of the reference's ASV QueryBuilder
benchmark (``generate_benchmark_df``: six id columns of low and high
cardinality, three value columns, one row per minute). Three small symbols
serve ``concat`` and ``read_batch``. Every symbol has one version, so
metadata cost is constant and the time goes to the query layer, Spark
execution and Arrow-to-pandas conversion. Small aggregates and large slices
separate execution cost from conversion cost.

Each round runs the fixed query mix once. Every expected result is computed
by pandas on the in-memory frames when the workload is built, outside any
timed region.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from harness import Client, close_frame, frame_digest, same_frame

SIZES = {"full": dict(rows=100_000, small_rows=5_000),
         "tiny": dict(rows=2_000, small_rows=100)}

SMALL = ("s_eu", "s_us", "s_asia")
REGEX = "^id1[0-9]{2}$"


def generate(rng, n: int, end: str = "2023-01-01") -> pd.DataFrame:
    """The ASV ``generate_benchmark_df`` shape."""
    k = max(n // 10, 10)
    return pd.DataFrame({
        "id1": rng.choice([f"id{str(i).zfill(3)}" for i in range(1, k + 1)], n),
        "id2": rng.choice([f"id{str(i).zfill(3)}" for i in range(1, k + 1)], n),
        "id3": rng.choice([f"id{str(i).zfill(10)}" for i in range(1, n // k + 1)], n),
        "id4": rng.choice(range(1, k + 1), n),
        "id5": rng.choice(range(1, k + 1), n),
        "id6": rng.choice(range(1, n // k + 1), n),
        "v1": rng.choice(range(1, 6), n),
        "v2": rng.choice(range(1, 16), n),
        "v3": np.round(rng.uniform(0, 100, n), 6),
    }, index=pd.date_range(end=end, periods=n, freq="min"))


class Workload:
    name = "qb_research"
    # round times fall for about three rounds as the JIT and codegen
    # settle: two untimed rounds, and a median over at least three
    warmup_rounds = 2
    min_rounds = 3

    def __init__(self, seed: int, size: str, corrupt: bool = False):
        from arcticdb_spark import QueryBuilder
        self.sz = SIZES[size]
        self.lib = None
        rng = np.random.default_rng(seed)
        n = self.sz["rows"]
        self.df = df = generate(rng, n)
        self.small = {s: generate(rng, self.sz["small_rows"],
                                  end=f"202{2 + i}-06-01")
                      for i, s in enumerate(SMALL)}
        ids4 = sorted(rng.choice(range(1, max(n // 10, 10) + 1), 50,
                                 replace=False).tolist())
        lo, hi = df.index[n // 3], df.index[n // 3 + n // 10]
        r0 = int(rng.integers(0, n // 2))
        QB = QueryBuilder

        def q(build):
            b = QB()
            return build(b)

        # (name, layer, read kwargs, expected frame, exact?)
        queries = [
            ("filter_numeric", "qb.filter", dict(query_builder=q(lambda b: b[b["v3"] < 5.0])),
             df[df["v3"] < 5.0], True),
            ("filter_isin", "qb.filter", dict(query_builder=q(lambda b: b[b["id4"].isin(*ids4)])),
             df[df["id4"].isin(ids4)], True),
            ("filter_regex", "qb.filter",
             dict(query_builder=q(lambda b: b[b["id1"].regex_match(REGEX)])),
             df[df["id1"].str.match(REGEX)], True),
            ("project", "qb.project",
             dict(date_range=(lo, hi), query_builder=q(
                 lambda b: b.apply("v4", b["v1"] * b["v2"] + b["v3"]))),
             df.loc[lo:hi].assign(v4=lambda d: d["v1"] * d["v2"] + d["v3"]), False),
            ("groupby_low", "qb.groupby",
             dict(query_builder=q(lambda b: b.groupby("id6").agg(
                 {"v1": "sum", "v3": "mean"}))),
             df.groupby("id6").agg({"v1": "sum", "v3": "mean"}), "sorted"),
            ("groupby_high", "qb.groupby",
             dict(query_builder=q(lambda b: b.groupby("id1").agg(
                 {"v1": "sum", "v3": "max"}))),
             df.groupby("id1").agg({"v1": "sum", "v3": "max"}), "sorted"),
            ("resample_1h", "qb.resample",
             dict(query_builder=q(lambda b: b.resample("1h").agg(
                 {"v1": "sum", "v3": "mean"}))),
             df.resample("1h").agg({"v1": "sum", "v3": "mean"}), False),
            ("date_range", "qb.slice", dict(date_range=(lo, hi)), df.loc[lo:hi], True),
            ("row_range", "qb.slice", dict(row_range=(r0, r0 + n // 20)),
             df.iloc[r0:r0 + n // 20], True),
            ("head", "qb.slice", dict(row_range=(0, n // 100)), df.iloc[:n // 100], True),
            ("tail", "qb.slice", dict(row_range=(-(n // 100), None)),
             df.iloc[-(n // 100):], True),
        ]
        # rows each query's pipeline reads, for rows_per_s
        self.input_rows = {name: (len(df.loc[lo:hi]) if "date_range" in kw
                                  else len(exp) if "row_range" in kw else n)
                           for name, _, kw, exp, _ in queries}
        self.small_exp = dict(self.small)
        self.concat_exp = pd.concat(list(self.small.values()))
        if corrupt:  # a wrong oracle must make every check fail
            queries = [(a, b, c, _corrupt(e), x) for a, b, c, e, x in queries]
            self.small_exp = {s: _corrupt(f) for s, f in self.small.items()}
            self.concat_exp = _corrupt(self.concat_exp)
        self.queries = [(name, layer, kw, exp, exact,
                         frame_digest(exp) if exact is True else None)
                        for name, layer, kw, exp, exact in queries]
        self.small_digests = {s: frame_digest(f)
                              for s, f in self.small_exp.items()}

    def final_checks(self, client: Client) -> None:
        """Every result was checked as it came; nothing is left."""

    def sizes(self) -> dict:
        return dict(self.sz, small_symbols=len(SMALL))

    def report(self) -> dict:
        return {}

    def setup(self, arctic) -> None:
        """Write the main frame and the three small symbols."""
        self.lib = lib = arctic.create_library("research")
        lib.write("bench", self.df)
        for s in SMALL:
            lib.write(s, self.small[s])

    def round(self, client: Client, r: int) -> None:
        lib = self.lib
        for name, layer, kw, exp, exact, digest in self.queries:
            if exact is True:
                chk = lambda out, exp=exp, d=digest: same_frame(out, exp, d)
            else:
                chk = lambda out, exp=exp, s=exact == "sorted": close_frame(
                    out, exp, sort_index=s)
            client.op("read", name,
                      lambda kw=kw: lib.read("bench", output_format="pandas", **kw),
                      check=chk, rows_in=self.input_rows[name], layer=layer,
                      construct=lambda kw=kw: lib.read("bench", output_format="spark", **kw))
        client.op("read", "concat",
                  lambda: lib.read_batch(list(SMALL), lazy=True).concat().collect(
                      output_format="pandas"),
                  check=lambda out: same_frame(out, self.concat_exp),
                  rows_in=len(self.concat_exp), layer="qb.concat")
        client.op("read", "read_batch",
                  lambda: lib.read_batch(list(SMALL), output_format="pandas"),
                  check=self._check_batch, rows_in=len(self.concat_exp),
                  layer="qb.read_batch")
        client.sample_storage(lib, ["bench", *SMALL], self.live_bytes())

    def _check_batch(self, out) -> str | None:
        for s, got in zip(SMALL, out):
            problem = same_frame(got, self.small_exp[s], self.small_digests[s])
            if problem:
                return f"{s}: {problem}"
        return None

    def live_bytes(self) -> int:
        frames = [self.df, *self.small.values()]
        return int(sum(f.memory_usage(index=True, deep=True).sum() for f in frames))


def _corrupt(df: pd.DataFrame) -> pd.DataFrame:
    """The same frame with one value changed."""
    out = df.copy()
    col = out.columns[-1]
    out.iloc[0, out.columns.get_loc(col)] = out.iloc[0][col] + 1
    return out
