"""corpus_prep: the corpus-preparation DAG over a fixed document corpus,
scheduled hourly with its runs recorded in the run-state store.

Six heavy tasks (profile, exact dedup, MinHash near dedup, quality
filter, annotate, partitioned publish) and one small state append per
run. The corpus is fixed by ``gen.DATA_SEED``; ``--seed`` chooses the
order its rows arrive in, which must not change what is published.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os

from . import gen
from .scheduled import ScheduledWorkload
from .trace import median

#: sha256 of the sorted published doc_ids, one per line, for the corpus
#: of ``gen.documents()``; recorded from the engine when the benchmark
#: was written. A change to which documents survive moves it.
PUBLISHED_DIGEST = "45a1dca109e95c7229de25ce8e063b45177d7df23ed516b18556c103e7c2ab82"
PUBLISHED_COUNT = 455

STAGES = ("profile", "exact_dedup", "near_dedup", "quality_filter", "annotate", "publish")


def published_ids(path: str) -> list[int]:
    import pyarrow.parquet as pq

    ids: list[int] = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        ids += pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
    return sorted(ids)


def digest(ids: list[int]) -> str:
    return hashlib.sha256("\n".join(map(str, ids)).encode()).hexdigest()


def distinct_texts(path: str) -> int:
    """Exact-dedup survivor count computed by DuckDB, independently of
    the engine."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(DISTINCT text) FROM read_parquet('{path}')"
        ).fetchone()[0]
    finally:
        con.close()


class Corpus(ScheduledWorkload):
    name = "corpus_prep"
    tick = dt.timedelta(hours=1)
    #: the second run is still ~40% slower than the ones after it
    warm_polls = 1

    def __init__(self, seed: int, workdir: str, tracer):
        super().__init__(seed, workdir, tracer)
        self.now = gen.fleet_plan(seed).start
        self.publish_dir = os.path.join(workdir, "published")
        self.survivors = 0
        self.stage_s: dict[str, list[float]] = {s: [] for s in STAGES}

    def generate(self) -> None:
        self.input = os.path.join(self.workdir, "documents.parquet")
        gen.write_tables(self.workdir, {"documents": gen.shuffled_documents(self.seed)})
        self.want_exact = distinct_texts(self.input)

    def pipelines(self, spark) -> list:
        from airflow_spark.pipelines.corpus import build_corpus_pipeline

        docs = spark.read.parquet(self.input)
        return [build_corpus_pipeline(lambda ctx: docs, self.publish_dir, schedule="0 * * * *")]

    def expected_fires(self, fire, first):
        return {"corpus-prep"}

    def check_run(self, commit, fire):
        run = commit.run
        if not run.ok:
            bad = {k: r.error for k, r in run.tasks.items() if r.status != "success"}
            return f"corpus-prep@{fire} {run.status}: {bad}"
        if self.tracer.on:
            for s in STAGES:
                self.stage_s[s].append(run.tasks[s].elapsed)
        n_exact = run.outputs["exact_dedup"]["n_after_exact"]
        if n_exact != self.want_exact:
            return f"exact_dedup kept {n_exact}, DuckDB counts {self.want_exact} distinct texts"
        ids = published_ids(self.publish_dir)
        self.survivors = len(ids)
        n_final = run.outputs["annotate"]["n_final"]
        if len(ids) != n_final:
            return f"published {len(ids)} rows, annotate counted {n_final}"
        if PUBLISHED_DIGEST is not None and (
            digest(ids) != PUBLISHED_DIGEST or len(ids) != PUBLISHED_COUNT
        ):
            return f"published doc_id set changed: {len(ids)} ids, digest {digest(ids)}"
        return None

    def xcom_expectation(self):
        return "corpus-prep", "annotate", {"n_final": self.survivors}

    def per_layer(self) -> dict[str, float]:
        out = super().per_layer()
        for s in STAGES:
            out[f"pipelines.corpus.{s}_s"] = median(self.stage_s[s])
        out["pipelines.corpus.survivors"] = self.survivors
        return out
