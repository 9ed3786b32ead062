"""The banded-pair kernel (``dedup._band_pairs``) under each of its three
key producers — MinHash band keys, SimHash chunks and hyperplane-LSH
bucket strings — checked against a pandas reference built from the
collected keyed rows, plus plan guards on the pipelines built on it."""
import re
from itertools import combinations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from arcticdb_spark.extensions import dedup as xd

HOT = 22          # members of the planted hot band


def _minhash_docs(spark):
    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(400)]

    def text(n):
        return " ".join(rng.choice(vocab, n))

    docs = [" ".join(f"hot{i}" for i in range(12))] * HOT
    for _ in range(8):
        # near-duplicates: one edit, so the two share some bands, not all
        words = text(14).split()
        docs.append(" ".join(words))
        words[rng.integers(len(words))] = "edited"
        docs.append(" ".join(words))
    docs += [text(14) for _ in range(30)]
    return spark.createDataFrame(list(enumerate(docs)),
                                 "doc_id long, text string")


def _minhash_producer(spark):
    return xd._minhash_keys(_minhash_docs(spark), "text", "doc_id",
                            num_hashes=16, bands=4, k=2)


def _simhash_producer(spark):
    rng = np.random.default_rng(4)
    width = 60 // 4

    def value(chunks):
        return sum(int(c) << (i * width) for i, c in enumerate(chunks))

    def rand():
        return rng.integers(0, 1 << width, 4)

    vals = []
    for _ in range(HOT):          # hot chunk 0, the rest random
        c = rand()
        c[0] = 0x1234
        vals.append(value(c))
    shared = rand()
    for _ in range(6):            # share chunks 1 and 3 with each other
        c = rand()
        c[1], c[3] = shared[1], shared[3]
        vals.append(value(c))
    vals += [value(rand()) for _ in range(30)]
    vals = sorted(set(vals))
    df = spark.createDataFrame([(v,) for v in vals], "sh long")
    return df, "sh", xd._simhash_chunks(4)


def _embedding_vectors(spark, d=16):
    rng = np.random.default_rng(5)
    hot = rng.standard_normal(d)
    vecs = [hot + rng.standard_normal(d) * 1e-4 for _ in range(HOT)]
    for _ in range(6):
        v = rng.standard_normal(d)
        vecs += [v, v + rng.standard_normal(d) * 0.05]
    vecs += list(rng.standard_normal((30, d)))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "id long, vec array<float>")


def _embedding_producer(spark):
    return xd._lsh_bucket_keys(_embedding_vectors(spark), 16, n_planes=4,
                               n_tables=6)


PRODUCERS = {"minhash": _minhash_producer, "simhash": _simhash_producer,
             "embedding": _embedding_producer}


def _reference(keyed: pd.DataFrame, member: str, n_bands: int):
    """All member pairs sharing >= 1 (band index, key), with the number of
    bands each pair shares and the largest band's size."""
    shared: dict = {}
    biggest = 0
    for b in range(n_bands):
        for _, ms in keyed.groupby(f"k{b}")[member]:
            ms = sorted(ms)
            biggest = max(biggest, len(ms))
            for p in combinations(ms, 2):
                shared[p] = shared.get(p, 0) + 1
    return shared, biggest


@pytest.mark.parametrize("producer", sorted(PRODUCERS))
def test_band_pairs_matches_reference(spark, producer):
    frame, member, keys = PRODUCERS[producer](spark)
    keyed = frame.select(member, *[k.alias(f"k{b}")
                                   for b, k in enumerate(keys)]).toPandas()
    shared, biggest = _reference(keyed, member, len(keys))
    # the fixture is not vacuous: a hot band, and pairs in several bands
    assert biggest >= 20
    assert max(shared.values()) >= 2

    out = xd._band_pairs(frame, member, keys).toPandas()
    rows = list(zip(out.id_a.tolist(), out.id_b.tolist()))
    assert all(a < b for a, b in rows)
    assert len(rows) == len(set(rows)), "a pair was emitted from two bands"
    assert set(rows) == set(shared)


# ---------------------------------------------------------------------------
# plan guards
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    """Physical plan before execution (the AQE initial plan only)."""
    return df._jdf.queryExecution().executedPlan().toString()


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _below_first_exchange(plan: str) -> list[str]:
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if line.lstrip(" :+-").startswith(("Exchange", "ShuffleExchange")):
            d = _depth(line)
            sub = []
            for ln in lines[i + 1:]:
                if _depth(ln) <= d:
                    break
                sub.append(ln.lstrip(" :+-"))
            return sub
    raise AssertionError(f"no Exchange in plan:\n{plan}")


@pytest.mark.parametrize("n_rows", [62, None])
def test_embedding_lsh_plan_has_no_pair_dedup(spark, n_rows):
    """Embedding LSH: candidates carry no (id_a, id_b) aggregate (the
    first-shared-table filter replaces a pair-stream dedup), and the
    bucket UDF is evaluated by exactly one Python-eval node."""
    out = xd.embedding_near_dup_pairs(
        _embedding_vectors(spark).select(F.col("id").alias("vec_id"),
                     F.col("vec").alias("embedding")),
        threshold=0.9, dim=16, strategy="lsh", n_planes=4, n_tables=6,
        n_rows=n_rows)
    plan = _plan(out)
    for agg_keys in re.findall(r"Aggregate\(keys=\[([^\]]*)\]", plan):
        names = {k.strip().split("#")[0] for k in agg_keys.split(",")}
        assert not {"id_a", "id_b"} <= names, plan
    evals = [ln for ln in plan.splitlines()
             if "EvalPython" in ln and "buckets(" in ln]
    assert len(evals) == 1, plan
    got = out.toPandas()
    assert len(got) == len(set(zip(got.id_a, got.id_b)))


def test_minhash_plan_has_no_md5_filter_below_exchange(spark):
    """No Filter holding md5 below the first Exchange of the MinHash pair
    plan: such a filter (e.g. one inferred from a generator over a computed
    key array and pushed to the scan) re-runs the signature pipeline for
    every input row."""
    out = xd.minhash_near_dup_pairs(_minhash_docs(spark), k=2)
    sub = _below_first_exchange(_plan(out))
    bad = [ln for ln in sub if ln.startswith("Filter") and "md5" in ln]
    assert not bad, "\n".join(ln[:200] for ln in sub)
