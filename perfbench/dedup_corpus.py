"""dedup_corpus: the LLM-data dedup and similarity operators.

A generated text corpus with planted exact-duplicate clusters and planted
near-duplicate pairs (a copy with a few words substituted), plus embeddings
with planted near neighbours (a copy plus small noise). Both live in the
library as symbols; each round reads them (``output_format="spark"``) and
runs ``exact_dedup``, ``minhash_near_dup_pairs``, ``jaccard_near_dup_pairs``,
``simhash_dedup``, ``embedding_near_dup_pairs`` and ``similarity.lsh_topk``,
collecting each result to pandas. These are shuffle-heavy, multi-job paths
that do not go through the catalog once the inputs are read.

Checks: every planted exact duplicate collapses; planted near-duplicate
recall meets fixed floors; every verified Jaccard pair really is above the
threshold; the embedding pairs are exactly the planted ones; ``lsh_topk``
recall is measured against the exact top-k (numpy, checked once per run
against ``brute_force_topk``); every pair and row count repeats exactly
across rounds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from harness import Client

SIZES = {
    "full": dict(base_docs=600, exact_clusters=60, near_pairs=60,
                 words=(100, 140), vocab=5000, vectors=1000, vec_pairs=50,
                 queries=40, dim=64),
    "tiny": dict(base_docs=60, exact_clusters=5, near_pairs=20, words=(100, 140),
                 vocab=500, vectors=100, vec_pairs=5, queries=5, dim=64),
}

JACCARD_THRESHOLD = 0.5
EMB_THRESHOLD = 0.95
TOPK = 5
# recall floors for the planted pairs; the measured values sit well above
FLOORS = {"minhash": 0.9, "jaccard": 0.95, "simhash": 0.6, "lsh_topk": 0.95}


def _collect(fn, *release):
    """An op that runs ``fn()``'s plan to pandas, then releases the cached
    intermediates of the modules in ``release``."""
    def go():
        out = fn().toPandas()
        for m in release:
            m.unpersist_all()
        return out
    return go


def _shingles(text: str, k: int) -> set:
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _jaccard(a: str, b: str, k: int = 2) -> float:
    sa, sb = _shingles(a, k), _shingles(b, k)
    return len(sa & sb) / len(sa | sb)


class Workload:
    name = "dedup_corpus"
    # no warm-up: a dedup pipeline runs as a batch job, which pays the
    # first pass in its session (class loading, codegen) on every run
    warmup_rounds = 0
    min_rounds = 1

    def __init__(self, seed: int, size: str, corrupt: bool = False):
        self.sz = sz = SIZES[size]
        self.lib = None
        self.counts: dict[str, int] = {}
        self.precision: list[float] = []
        self.recalls: dict[str, list[float]] = {}
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = sorted({"".join(rng.choice(letters, rng.integers(3, 9)))
                        for _ in range(sz["vocab"])})
        lo, hi = sz["words"]
        base = [" ".join(rng.choice(vocab, rng.integers(lo, hi)))
                for _ in range(sz["base_docs"])]
        texts = list(base)
        exact_groups, near_pairs = [], []
        for c in rng.choice(len(base), sz["exact_clusters"], replace=False):
            copies = int(rng.integers(1, 4))
            exact_groups.append([int(c)] + list(range(len(texts), len(texts) + copies)))
            texts += [base[c]] * copies
        near_src = rng.choice([i for i in range(len(base))
                               if i not in {g[0] for g in exact_groups}],
                              sz["near_pairs"], replace=False)
        for c in near_src:
            toks = base[c].split()
            toks[int(rng.integers(len(toks)))] = str(rng.choice(vocab))
            near_pairs.append((int(c), len(texts)))
            texts.append(" ".join(toks))
        # doc ids are a permutation, so planted copies are not id-adjacent
        ids = rng.permutation(len(texts)).astype("int64") + 1
        self.corpus = pd.DataFrame({"doc_id": ids, "text": texts})
        self.exact_groups = [sorted(int(ids[i]) for i in g) for g in exact_groups]
        self.near_pairs = {tuple(sorted((int(ids[a]), int(ids[b]))))
                           for a, b in near_pairs}
        self.exact_pairs = {(g[i], g[j]) for g in self.exact_groups
                            for i in range(len(g)) for j in range(i + 1, len(g))}
        self.distinct_texts = len(set(texts))
        self.text_of = dict(zip(ids.tolist(), texts))

        n, dim = sz["vectors"], sz["dim"]
        vecs = rng.standard_normal((n, dim))
        src = rng.choice(n - sz["vec_pairs"], sz["vec_pairs"], replace=False)
        for j, s in enumerate(src):
            vecs[n - sz["vec_pairs"] + j] = vecs[s] + rng.normal(0, 0.05, dim)
        # float32, the embedding type of the registry's embeddings table
        vecs = vecs.astype("float32")
        self.vec_ids = np.arange(1, n + 1, dtype="int64")
        self.emb = pd.DataFrame(vecs, columns=[f"e{i}" for i in range(dim)])
        self.emb.insert(0, "vec_id", self.vec_ids)
        v64 = vecs.astype("float64")
        unit = v64 / np.linalg.norm(v64, axis=1, keepdims=True)
        sims = unit @ unit.T
        iu = np.triu_indices(n, 1)
        hit = sims[iu] >= EMB_THRESHOLD
        self.emb_pairs = {(int(self.vec_ids[a]), int(self.vec_ids[b]))
                          for a, b in zip(iu[0][hit], iu[1][hit])}
        self.query_ids = np.sort(np.concatenate([
            self.vec_ids[src[: sz["queries"] // 2]],
            rng.choice(self.vec_ids, sz["queries"] - sz["queries"] // 2,
                       replace=False)]))
        qi = self.query_ids - 1
        # queries with a planted neighbour: the copy is their exact top-1
        self.planted_nn = {int(self.vec_ids[s]): int(self.vec_ids[n - sz["vec_pairs"] + j])
                           for j, s in enumerate(src[: sz["queries"] // 2])}
        np.fill_diagonal(sims, -np.inf)
        self.topk = {int(self.vec_ids[q]): [int(self.vec_ids[j]) for j in
                                            np.argsort(-sims[q], kind="stable")[:TOPK]]
                     for q in np.unique(qi)}
        if corrupt:  # a wrong oracle must make every check fail
            self.distinct_texts += 1
            self.exact_groups[0] = self.exact_groups[0][1:]
            self.near_pairs = {(a, b + 10**9) for a, b in self.near_pairs}
            self.emb_pairs = self.emb_pairs | {(0, 1)}
            self.topk = {q: [-1] * TOPK for q in self.topk}
            self.planted_nn = {q: -1 for q in self.planted_nn}

    def sizes(self) -> dict:
        return dict(self.sz, docs=len(self.corpus),
                    emb_pairs=len(self.emb_pairs))

    def setup(self, arctic) -> None:
        """Write the corpus and the embeddings as library symbols."""
        self.lib = arctic.create_library("corpus")
        self.lib.write("docs", self.corpus)
        self.lib.write("emb", self.emb)

    # -- one round ------------------------------------------------------------

    def _inputs(self, client: Client):
        """Read the corpus and the embeddings (``output_format="spark"``);
        the embedding columns become one ``array<float>`` column."""
        from pyspark.sql import functions as F
        lib = self.lib
        ecols = [f"e{i}" for i in range(self.sz["dim"])]
        docs = client.op("read", "read_docs",
                         lambda: lib.read("docs", output_format="spark"),
                         construct=lambda: lib.read("docs", output_format="spark"))
        emb = client.op("read", "read_emb", lambda: lib.read(
            "emb", output_format="spark").select(
                "vec_id", F.array(*ecols).alias("embedding")),
            construct=lambda: lib.read("emb", output_format="spark"))
        queries = None if emb is None else emb.filter(
            F.col("vec_id").isin([int(q) for q in self.query_ids]))
        return docs, emb, queries

    def round(self, client: Client, r: int) -> None:
        from arcticdb_spark.extensions import dedup, similarity
        sz = self.sz
        n_docs, n_vec = len(self.corpus), sz["vectors"]
        client.sample_storage(self.lib, ["docs", "emb"], self.live_bytes())
        docs, emb, queries = self._inputs(client)
        if docs is None or emb is None:
            return
        client.op("dedup", "exact_dedup", _collect(lambda: dedup.exact_dedup(docs)),
                  check=self._check_exact, rows_in=n_docs, layer="dedup.exact")
        client.op("dedup", "minhash_near_dup_pairs",
                  _collect(lambda: dedup.minhash_near_dup_pairs(docs), dedup),
                  check=self._check_minhash, rows_in=n_docs,
                  layer="dedup.minhash")
        client.op("dedup", "jaccard_near_dup_pairs",
                  _collect(lambda: dedup.jaccard_near_dup_pairs(
                      docs, threshold=JACCARD_THRESHOLD), dedup),
                  check=self._check_jaccard, rows_in=n_docs,
                  layer="dedup.jaccard")
        client.op("dedup", "simhash_dedup",
                  _collect(lambda: dedup.simhash_dedup(docs).select("doc_id"), dedup),
                  check=self._check_simhash, rows_in=n_docs,
                  layer="dedup.simhash")
        client.op("dedup", "embedding_near_dup_pairs",
                  _collect(lambda: dedup.embedding_near_dup_pairs(
                      emb, threshold=EMB_THRESHOLD, dim=sz["dim"],
                      n_rows=n_vec), dedup),
                  check=self._check_emb, rows_in=n_vec,
                  layer="dedup.embedding")
        client.op("dedup", "lsh_topk",
                  _collect(lambda: similarity.lsh_topk(emb, queries, k=TOPK,
                                                       dim=sz["dim"]), similarity),
                  check=self._check_topk, rows_in=n_vec,
                  layer="similarity.lsh_topk")

    def final_checks(self, client: Client) -> None:
        """Once, after the measured phase: the exact top-k the lsh_topk
        recall is measured against must equal ``brute_force_topk``."""
        from arcticdb_spark.extensions import similarity
        _, emb, queries = self._inputs(client)
        if emb is not None:
            client.op("dedup", "brute_force_topk", _collect(
                lambda: similarity.brute_force_topk(emb, queries, k=TOPK)),
                check=self._check_brute)

    # -- checks -----------------------------------------------------------------

    def _repeat(self, name: str, n: int) -> str | None:
        first = self.counts.setdefault(name, n)
        return None if first == n else f"{n} rows, an earlier round gave {first}"

    def _check_exact(self, out: pd.DataFrame) -> str | None:
        if len(out) != self.distinct_texts:
            return f"{len(out)} distinct texts, expected {self.distinct_texts}"
        got = dict(zip(out["doc_id"].tolist(), out["dup_count"].tolist()))
        for g in self.exact_groups:
            if got.get(g[0]) != len(g):
                return f"cluster of {g[0]} not collapsed to {len(g)} copies"
        return self._repeat("exact", len(out))

    def _pairs(self, out, a="id_a", b="id_b") -> set:
        return set(zip(out[a].astype("int64").tolist(), out[b].astype("int64").tolist()))

    def _recall(self, name: str, found: set, planted: set) -> str | None:
        rec = len(found & planted) / len(planted)
        self.recalls.setdefault(name, []).append(rec)
        if rec < FLOORS[name]:
            return f"{name} recall {rec:.3f} below floor {FLOORS[name]}"
        return None

    def _check_minhash(self, out) -> str | None:
        cand = self._pairs(out)
        planted = self.near_pairs | self.exact_pairs
        self.precision.append(len(cand & planted) / max(1, len(cand)))
        return (self._recall("minhash", cand, planted)
                or self._repeat("minhash", len(out)))

    def _check_jaccard(self, out) -> str | None:
        pairs = self._pairs(out)
        for a, b in pairs:
            if _jaccard(self.text_of[a], self.text_of[b]) < JACCARD_THRESHOLD - 1e-9:
                return f"pair ({a}, {b}) is below the Jaccard threshold"
        return (self._recall("jaccard", pairs, self.near_pairs)
                or self._repeat("jaccard", len(out)))

    def _check_simhash(self, out) -> str | None:
        kept = set(out["doc_id"].tolist())
        for g in self.exact_groups:
            if len(kept.intersection(g)) != 1:
                return f"exact cluster of {g[0]} kept {len(kept.intersection(g))} copies"
        collapsed = {p for p in self.near_pairs if not set(p) <= kept}
        return (self._recall("simhash", collapsed, self.near_pairs)
                or self._repeat("simhash", len(out)))

    def _check_emb(self, out) -> str | None:
        pairs = self._pairs(out)
        if pairs != self.emb_pairs:
            return (f"{len(pairs)} embedding pairs, expected {len(self.emb_pairs)}"
                    f" ({len(pairs ^ self.emb_pairs)} differ)")
        return self._repeat("embedding", len(out))

    def _topk_of(self, out) -> dict:
        got: dict[int, list] = {}
        for q, v, rank in sorted(zip(out["query_id"].tolist(), out["vec_id"].tolist(),
                                     out["rank"].tolist()), key=lambda t: (t[0], t[2])):
            got.setdefault(int(q), []).append(int(v))
        return got

    def _check_topk(self, out) -> str | None:
        """Recall@k against the exact top-k is measured; the floor applies
        to the planted neighbours, which must come back first."""
        got = self._topk_of(out)
        hits = sum(len(set(got.get(q, [])) & set(exp)) for q, exp in self.topk.items())
        self.recalls.setdefault("lsh_topk@k", []).append(hits / (TOPK * len(self.topk)))
        first = {q: v[0] for q, v in got.items()}
        return (self._recall("lsh_topk", set(first.items()),
                             set(self.planted_nn.items()))
                or self._repeat("lsh_topk", len(out)))

    def _check_brute(self, out) -> str | None:
        got = self._topk_of(out)
        return None if got == self.topk else "brute_force_topk differs from numpy top-k"

    def report(self) -> dict:
        """Quality of the approximate operators, medians over rounds:
        planted-pair recall per operator (for ``lsh_topk``: the planted
        neighbour ranked first, and recall@k against the exact top-k) and
        minhash candidate precision."""
        out = {f"recall.{k}": float(np.median(v)) for k, v in self.recalls.items()}
        if self.precision:
            out["dedup.minhash_candidate_precision"] = float(np.median(self.precision))
        return out

    def live_bytes(self) -> int:
        return int(self.corpus.memory_usage(index=True, deep=True).sum()
                   + self.emb.memory_usage(index=True, deep=True).sum())
