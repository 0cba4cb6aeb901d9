"""The operator half of workload ``analytics_dedup``: the LLM-data dedup
operators called directly on a generated corpus with planted
near-duplicates.

Why: executor work is a larger share here. Every op shingles, hashes,
shuffles and joins the whole corpus, and ``cosine_topk_arrow`` runs in
Python workers through Arrow, so these ops expose task time, shuffle,
spill and Python-worker CPU, with less of their time spent with no
stage running than the queries.

Checks are exact where the operator is exact and bounded where it is
approximate:

- ``ngram_jaccard_pairs``, ``embedding_near_dup_pairs`` and
  ``connected_components`` must equal the answer the benchmark computes
  itself from the seed (word 3-gram Jaccard, numpy cosine, union-find);
- ``minhash_lsh_pairs`` and ``simhash_pairs`` must emit only true
  near-duplicate pairs (precision 1) and find at least a fixed share of
  the planted ones;
- ``cosine_topk_arrow`` must return numpy's top-k per query.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import Op
from perfbench.trace import OPERATORS

N_DOCS = 3_000
DUP_SHARE = 0.05
N_VECS = 250
N_CANDIDATES = 2_000
N_QUERIES = 50
DIM = 64
TOP_K = 5
QUERY_ID0 = 10_000_000  # query ids never collide with candidate ids
JACCARD = 0.5
COSINE = 0.9
# Recall floors on planted pairs for the two LSH operators, well below
# what they reach: MinHash finds all of them, SimHash (max_hamming 3)
# 0.51-0.56 over seeds 1-6, since one substituted token in 40-80 can
# flip more than 3 of its 64 bits.
MINHASH_RECALL_FLOOR = 0.95
SIMHASH_RECALL_FLOOR = 0.4


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def exact_jaccard_pairs(texts: list[str], threshold: float) -> dict[tuple[int, int], float]:
    """All pairs (a < b) whose word 3-gram sets have Jaccard >= threshold,
    through an inverted index on shingles."""
    sets = [_shingles(t) for t in texts]
    index: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            index[sh].append(i)
    shared: dict[tuple[int, int], int] = defaultdict(int)
    for ids in index.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                shared[(ids[x], ids[y])] += 1
    out = {}
    for (a, b), inter in shared.items():
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            out[(a, b)] = j
    return out


def components(pairs) -> dict[int, int]:
    """id -> smallest id in its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def pair_check(got: set[tuple[int, int]], truth: set[tuple[int, int]],
               planted: set[tuple[int, int]], recall_floor: float) -> str | None:
    """LSH contract: every emitted pair is true, and enough planted pairs
    are found."""
    false_pos = got - truth
    if false_pos:
        return f"{len(false_pos)} pairs are not near-duplicates, e.g. {sorted(false_pos)[:3]}"
    recall = len(got & planted) / len(planted)
    if recall < recall_floor:
        return f"recall of planted pairs {recall:.3f} < {recall_floor}"
    return None


class DedupCorpus:
    name = "dedup_corpus"
    groups = OPERATORS

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.dir = ""

    def describe(self) -> str:
        return (f"{N_DOCS} docs and {N_VECS} x {DIM} embeddings, "
                f"{DUP_SHARE:.0%} of each planted near-copies; top-{TOP_K} of "
                f"{N_QUERIES} queries over {N_CANDIDATES} vectors")

    def setup(self, root: str) -> None:
        """Generate the corpus and write it as the engine reads it."""
        self.dir = root
        os.makedirs(root, exist_ok=True)
        c = gen.corpus(self.seed, N_DOCS, DUP_SHARE, N_VECS, N_CANDIDATES,
                       N_QUERIES, DIM)
        self.corpus = c
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
                                 "text": c.texts}),
                       f"{root}/docs.parquet")
        for name, vecs, first_id in (("embeddings", c.vectors, 0),
                                     ("candidates", c.candidates, 0),
                                     ("queries", c.queries, QUERY_ID0)):
            pq.write_table(pa.table({
                "vec_id": pa.array(np.arange(len(vecs)) + first_id, pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
                f"{root}/{name}.parquet")

    def prepare_checks(self) -> None:
        """Exact answers from the seed (untimed); the exact pair list is
        also the input of ``connected_components``."""
        c = self.corpus
        self.jaccard = exact_jaccard_pairs(c.texts, JACCARD)
        self.truth = set(self.jaccard)
        self.components = components(self.truth)
        a, b = zip(*sorted(self.truth)) if self.truth else ((), ())
        pq.write_table(pa.table({"a_id": pa.array(a, pa.int64()),
                                 "b_id": pa.array(b, pa.int64())}),
                       f"{self.dir}/pairs.parquet")
        v = c.vectors.astype(np.float64)
        self.vec_sims = v @ v.T
        iu = np.triu_indices(len(v), k=1)
        keep = self.vec_sims[iu] >= COSINE
        self.vec_pairs = set(zip(iu[0][keep].tolist(), iu[1][keep].tolist()))
        self.topk_scores = c.queries.astype(np.float64) @ c.candidates.astype(np.float64).T

    def _read(self, name: str):
        return self.spark.read.parquet(f"{self.dir}/{name}.parquet")

    def pass_ops(self) -> list[Op]:
        from datalake_project_spark.operators import dedup as D
        from datalake_project_spark.operators import similarity as S

        def call(fn_name, build):
            # the span covers the call and the action that consumes it
            def run(ctx):
                with ctx.spans.span(f"operators.{fn_name}"):
                    return [tuple(r) for r in build().collect()]
            return run

        docs, emb = self._read("docs"), self._read("embeddings")
        return [
            Op("minhash_lsh_pairs",
               call("minhash_lsh_pairs", lambda: D.minhash_lsh_pairs(docs)),
               self._check_minhash),
            Op("simhash_pairs",
               call("simhash_pairs", lambda: D.simhash_pairs(docs)),
               self._check_simhash),
            Op("ngram_jaccard_pairs",
               call("ngram_jaccard_pairs",
                    lambda: D.ngram_jaccard_pairs(docs, threshold=JACCARD)),
               self._check_ngram),
            Op("connected_components",
               call("connected_components",
                    lambda: D.connected_components(self._read("pairs"))),
               self._check_components),
            Op("embedding_near_dup_pairs",
               call("embedding_near_dup_pairs",
                    lambda: D.embedding_near_dup_pairs(emb, threshold=COSINE)),
               self._check_embedding),
            Op("cosine_topk_arrow",
               call("cosine_topk_arrow",
                    lambda: S.cosine_topk_arrow(self._read("queries"),
                                                self._read("candidates"),
                                                k=TOP_K, exclude_self=False)),
               self._check_topk),
        ]

    # -- checks ------------------------------------------------------------

    def _jaccard_mismatch(self, rows) -> str | None:
        # the operators round to 4 decimals
        bad = [(a, b, j) for a, b, j in rows
               if abs(self.jaccard[(a, b)] - j) > 5e-5 + 1e-9]
        return f"jaccard values differ, e.g. {bad[:3]}" if bad else None

    def _check_minhash(self, rows) -> str | None:
        return (pair_check({(a, b) for a, b, _ in rows}, self.truth,
                           self.corpus.planted_doc_pairs, MINHASH_RECALL_FLOOR)
                or self._jaccard_mismatch(rows))

    def _check_simhash(self, rows) -> str | None:
        return pair_check({(a, b) for a, b, _ in rows}, self.truth,
                          self.corpus.planted_doc_pairs, SIMHASH_RECALL_FLOOR)

    def _check_ngram(self, rows) -> str | None:
        got = {(a, b) for a, b, _ in rows}
        if len(rows) != len(got) or got != self.truth:
            return (f"{len(got - self.truth)} extra, "
                    f"{len(self.truth - got)} missing pairs")
        return self._jaccard_mismatch(rows)

    def _check_components(self, rows) -> str | None:
        got = dict(rows)
        if got != self.components:
            diff = [k for k in set(got) | set(self.components)
                    if got.get(k) != self.components.get(k)]
            return f"{len(diff)} ids in the wrong component, e.g. {sorted(diff)[:3]}"
        return None

    def _check_embedding(self, rows) -> str | None:
        got = {(a, b) for a, b, _ in rows}
        # a pair within 1e-6 of the threshold may fall either side
        border = {p for p in got ^ self.vec_pairs
                  if abs(self.vec_sims[p] - COSINE) < 1e-6}
        wrong = (got ^ self.vec_pairs) - border
        if wrong:
            return f"{len(wrong)} pairs differ from the exact set, e.g. {sorted(wrong)[:3]}"
        missed = self.corpus.planted_vec_pairs - got
        return f"{len(missed)} planted pairs missing" if missed else None

    def _check_topk(self, rows) -> str | None:
        by_query: dict[int, list[tuple[int, int]]] = defaultdict(list)
        for q, nb, rank, _ in rows:
            by_query[q - QUERY_ID0].append((rank, nb))
        if len(by_query) != N_QUERIES:
            return f"{len(by_query)} queries answered, want {N_QUERIES}"
        for q, ranked in by_query.items():
            got = [nb for _, nb in sorted(ranked)]
            scores = self.topk_scores[q]
            # cosine descending, then id ascending
            want = np.lexsort((np.arange(len(scores)), -scores))[:TOP_K].tolist()
            if got == want:
                continue
            # a near-tie may order differently; the scores must still agree
            if len(got) != TOP_K or not np.allclose(
                    np.sort(scores[got]), np.sort(scores[want]), atol=1e-6):
                return f"query {q}: neighbours {got} != {want}"
        return None
