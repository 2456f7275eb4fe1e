"""adhoc_query: one client issuing relational and vector queries.

One op is one query, from building its plan to its rows collected. A
deck is one relational query per cost stratum of the registry plus one
query of each vector kind (exact, LSH, IVF, PQ), in a seeded order;
query vectors are seeded perturbations of corpus rows. Indexes (IVF
centroids, PQ codes) are built in set-up, and one deck is served as
warm-up; the run is timed in whole decks.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import gen
from .trace import Tracer, median

K = 10
#: an approximate query must return at least this share of the exact
#: top-k, averaged over the run's LSH and IVF queries (warm-up
#: included). With the default index settings a numpy model of both
#: indexes over 400 seeded queries on the generated embeddings gives
#: IVF (16 cells, 4 probes) recall 1.0 on every query and LSH (8 bits,
#: 4 probes) a mean of 0.96, 1st percentile 0.4, minimum 0.3; a run has
#: at least one IVF query (in its warm-up deck) for each LSH query.
RECALL_FLOOR = 0.5
#: PQ subquantizers (16 dims each, 16 codes): encoding the corpus costs
#: ~4 s of set-up against 7-9 s for 8 subquantizers
PQ_M = 4
#: cosine scores are rounded to 6 places by the engine
SCORE_TOL = 2e-6
SPAN = {
    "relational": "queries.relational",
    "exact": "operators.similarity.exact",
    "lsh": "operators.similarity.lsh",
    "ivf": "operators.similarity.ivf",
    "pq": "operators.pq.adc",
}


class Collected:
    """Already-collected rows in the shape ``oracle.compare`` reads, so
    the check does not run the query a second time."""

    def __init__(self, rows, columns):
        self._rows = rows
        self.columns = columns

    def collect(self):
        return self._rows


def numpy_adc_topk(
    codebooks: np.ndarray, vecs: np.ndarray, q: np.ndarray, k: int
) -> tuple[list[int], np.ndarray]:
    """PQ encode + ADC top-k with numpy: nearest code per subspace (ties
    to the smaller code), squared-L2 table lookups, ties on id."""
    m, ksub, dsub = codebooks.shape
    v = vecs.astype(np.float64).reshape(len(vecs), m, dsub)
    d2 = ((v[:, :, None, :] - codebooks[None]) ** 2).sum(axis=3)  # (n, m, ksub)
    codes = d2.argmin(axis=2)
    table = ((q.reshape(m, 1, dsub) - codebooks) ** 2).sum(axis=2)  # (m, ksub)
    dist = table[np.arange(m)[None, :], codes].sum(axis=1)
    order = np.lexsort((np.arange(len(vecs)), dist))
    return [int(i) for i in order[:k]], dist


class Adhoc:
    name = "adhoc_query"

    def __init__(self, seed: int, workdir: str, tracer: Tracer):
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.check_s = 0.0
        self.deck: list[gen.Query] = []
        self.deck_no = 0
        self.n_ops = 0
        self.recall_hits = 0
        self.recall_base = 0

    def generate(self) -> None:
        from airflow_spark.queries import ORACLE_SQL, RELATIONAL_QUERIES

        self.sf_dir = os.path.join(self.workdir, "sf")
        self.vecs, labels = gen.embedding_matrix()
        tables = gen.star_tables()
        tables["documents"] = gen.documents()
        tables["embeddings"] = gen.embeddings_table(self.vecs, labels)
        gen.write_tables(self.sf_dir, tables)
        self.queries = RELATIONAL_QUERIES
        self.oracle_sql = ORACLE_SQL
        self.unit = self.vecs.astype(np.float64)
        self.unit /= np.linalg.norm(self.unit, axis=1, keepdims=True)

    def setup(self, spark) -> None:
        from airflow_spark.catalog import TABLE_NAMES, load_table
        from airflow_spark.operators import pq, similarity

        self.spark = spark
        self.sim = similarity
        self.pq = pq
        with self.tracer.span("catalog.load"):
            for name in TABLE_NAMES:
                load_table(spark, self.sf_dir, name).schema  # noqa: B018
            self.emb = load_table(spark, self.sf_dir, "embeddings")
        with self.tracer.span("operators.similarity.ivf_build"):
            self.ivf = similarity.IVFIndex.train(self.emb, k=16, id_col="vec_id")
        with self.tracer.span("operators.pq.build"):
            index = pq.PQIndex.train(self.emb, m=PQ_M)
            path = os.path.join(self.workdir, "pq-index")
            pq.pq_save_codes(self.emb, index, path)
            self.pq_index, self.codes = pq.pq_load_codes(spark, path)

    def warm_up(self) -> None:
        """Serve deck 0, so the timed decks run past first-use
        compilation of every query they contain."""
        for q in self._deal():
            _, ok, detail = self._run(q)
            if not ok:
                raise RuntimeError(f"warm-up query failed: {detail}")
        self.take_check_s()

    def _deal(self) -> list[gen.Query]:
        deck = gen.query_deck(self.seed, list(self.queries), self.vecs, self.deck_no)
        self.deck_no += 1
        return deck

    def boundary(self) -> bool:
        """True between decks: the run ends only there."""
        return not self.deck

    def take_check_s(self) -> float:
        s, self.check_s = self.check_s, 0.0
        return s

    def step(self) -> list[tuple[float, bool, str]]:
        if not self.deck:
            self.deck = self._deal()
        self.tracer.op = self.n_ops
        self.n_ops += 1
        return [self._run(self.deck.pop())]

    def _run(self, q: gen.Query) -> tuple[float, bool, str]:
        t0 = time.perf_counter()
        try:
            with self.tracer.span(SPAN[q.kind]):
                df = self._plan(q)
                rows = df.collect()
        except Exception as e:  # noqa: BLE001 — a raising query is a failed op
            return time.perf_counter() - t0, False, f"{q.name}: {type(e).__name__}: {e}"[:500]
        latency = time.perf_counter() - t0
        c0 = time.perf_counter()
        err = self._check(q, df.columns, rows)
        self.check_s += time.perf_counter() - c0
        return latency, err is None, err or ""

    def _plan(self, q: gen.Query):
        v = list(q.vector)
        if q.kind == "relational":
            return self.queries[q.name](self.spark, self.sf_dir)
        if q.kind == "exact":
            return self.sim.cosine_topk(self.emb, v, k=K)
        if q.kind == "lsh":
            return self.sim.ann_topk(self.emb, v, k=K)
        if q.kind == "ivf":
            return self.sim.ivf_topk(self.emb, v, k=K, index=self.ivf)
        return self.pq.pq_adc_topk(self.codes, v, k=K, index=self.pq_index)

    def _check(self, q: gen.Query, columns, rows) -> str | None:
        if q.kind == "relational":
            from airflow_spark.oracle import compare

            rec = compare(self.spark, self.sf_dir, q.name, Collected(rows, columns),
                          self.oracle_sql[q.name])
            return None if rec["ok"] else f"{q.name}: oracle mismatch {rec}"
        qv = np.asarray(q.vector)
        if q.kind == "pq":
            want, dist = numpy_adc_topk(self.pq_index.codebooks, self.vecs, qv, K)
            got = [r["id"] for r in rows]
            if len(got) != K or any(abs(dist[g] - dist[w]) > 1e-9 for g, w in zip(got, want)):
                return f"{q.name}: PQ top-{K} {got} != numpy ADC {want}"
            return None
        scores = self.unit @ (qv / np.linalg.norm(qv))
        best = np.sort(scores)[::-1][:K]
        got = [r["id"] for r in rows]
        for r in rows:
            if abs(r["score"] - scores[r["id"]]) > SCORE_TOL:
                return f"{q.name}: id {r['id']} score {r['score']} != numpy {scores[r['id']]:.6f}"
        if q.kind == "exact":
            if len(got) != K or any(abs(scores[g] - b) > SCORE_TOL for g, b in zip(got, best)):
                return f"{q.name}: exact top-{K} {got} is not the numpy top-{K}"
            return None
        truth = set(np.argsort(-scores, kind="stable")[:K].tolist())
        self.recall_hits += len(truth & set(got))
        self.recall_base += K
        return None

    def finish(self) -> list[str]:
        print(f"# recall@{K} LSH+IVF {self.recall_hits}/{self.recall_base}")
        if self.recall_base and self.recall_hits / self.recall_base < RECALL_FLOOR:
            return [f"ANN recall@{K} {self.recall_hits}/{self.recall_base} below {RECALL_FLOOR}"]
        return []

    def per_layer(self) -> dict[str, float]:
        d = self.tracer.durations
        return {
            "queries.relational_s": median(d("queries.relational")),
            "operators.similarity.exact_s": median(d("operators.similarity.exact")),
            "operators.similarity.lsh_s": median(d("operators.similarity.lsh")),
            "operators.similarity.ivf_s": median(d("operators.similarity.ivf")),
            "operators.pq.adc_s": median(d("operators.pq.adc")),
            "operators.similarity.ivf_build_s": sum(d("operators.similarity.ivf_build")),
            "operators.pq.build_s": sum(d("operators.pq.build")),
            "operators.similarity.recall_at_10": (
                self.recall_hits / self.recall_base if self.recall_base else 0.0
            ),
        }
