"""Corpus-preparation pipeline: the LLM-data operators composed through
the orchestration layer — what a training-data team would actually run
on the 100 TB corpus.

Stages (each a task = one Spark job, with expectations as gates):

    profile ─▶ exact_dedup ─▶ near_dedup ─▶ quality_filter ─▶ annotate ─▶ publish
                                                   │
                                               (stats side-outputs via xcom)

Shuffle budget: exact dedup shuffles md5 keys; near-dedup shuffles
minhash signatures; everything else is projections. The publish step
writes a partitioned parquet table.

The exact, near-dedup and annotated stages are cached for the run
(``ctx.persist``): each stage's count, and the publish write, read the
stage above instead of recomputing the whole lineage; the run releases
the caches when it ends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup, text
from ..pipeline.core import Context, Param, Pipeline
from ..pipeline.expectations import expect_nonempty, expect_schema
from ..sources.tables import write_partitioned


def build_corpus_pipeline(
    source: "callable",
    output_path: str | None = None,
    **pipeline_kw,
) -> Pipeline:
    """``source(ctx) -> DataFrame[doc_id, text, lang, ...]``."""
    p = Pipeline(
        "corpus-prep",
        params={
            "min_quality": Param(0.4, type="number"),
            "near_dup_threshold": Param(0.8, type="number"),
        },
        **pipeline_kw,
    )

    @p.task
    def profile(ctx: Context) -> dict:
        docs = source(ctx)
        expect_schema(docs, {"doc_id": "bigint", "text": "string"})
        expect_nonempty(docs, "empty corpus")
        ctx.outputs["_docs"] = docs
        return {"n_docs": docs.count()}

    @p.task(depends_on=["profile"])
    def exact_dedup(ctx: Context) -> dict:
        docs = ctx.outputs["_docs"]
        kept = ctx.persist(dedup.dedup_exact_text(docs))
        ctx.outputs["_exact"] = kept
        return {"n_after_exact": kept.count()}

    @p.task(depends_on=["exact_dedup"])
    def near_dedup(ctx: Context) -> dict:
        docs: DataFrame = ctx.outputs["_exact"]
        thr = float(ctx.param("near_dup_threshold"))
        pairs = dedup.dedup_minhash(docs, threshold=thr)
        try:
            # exact survivor selection: pairs → connected components →
            # min-id survivor per component (pair-wise dropping would
            # keep extra members of chain-shaped components)
            kept = ctx.persist(dedup.keep_representatives(docs, pairs))
        finally:
            pairs.unpersist()  # the components are materialized
        ctx.outputs["_near"] = kept
        return {"n_after_near": kept.count()}

    @p.task(depends_on=["near_dedup"])
    def quality_filter(ctx: Context) -> dict:
        docs = ctx.outputs["_near"]
        scored = text.with_quality_score(docs)
        kept = scored.where(
            F.col("quality_score") >= float(ctx.param("min_quality"))
        )
        ctx.outputs["_quality"] = kept
        return {"n_after_quality": kept.count()}

    @p.task(depends_on=["quality_filter"])
    def annotate(ctx: Context) -> dict:
        docs = ctx.outputs["_quality"]
        out = ctx.persist(
            text.with_fingerprint(text.with_token_counts(text.with_lang_id(docs)))
        )
        ctx.outputs["_final"] = out
        return {"n_final": out.count()}

    @p.task(depends_on=["annotate"])
    def publish(ctx: Context) -> dict:
        out: DataFrame = ctx.outputs["_final"]
        if output_path:
            write_partitioned(
                out.withColumn("lang_part", F.col("lang_pred")),
                output_path,
                ["lang_part"],
            )
            return {"published_to": output_path}
        return {"published_to": None}

    return p


def build_ingest_pipeline(
    source: "callable",
    history_dir: str,
    **pipeline_kw,
) -> Pipeline:
    """Incremental corpus ingest — the round-2 operators composed
    end-to-end, run per batch against a growing curated history:

        clean ─▶ pii_audit ─▶ quality_gate ─▶ dedup_vs_history ─▶ publish

    clean strips markup; pii_audit counts hits then redacts; the gate
    drops low-quality docs; dedup is the bloom-pruned exact path
    (history scanned, never shuffled); publish appends survivors to
    ``history_dir``. Re-running with a new batch only pays that
    batch's cost — the history contributes one scan + one fixed-size
    bloom bitset.
    """
    from ..functions.text import pii_hit_counts, redact_pii, strip_markup

    p = Pipeline(
        "corpus-ingest",
        params={"min_quality": Param(0.3, type="number")},
        **pipeline_kw,
    )

    @p.task
    def clean(ctx: Context) -> dict:
        docs = source(ctx)
        expect_schema(docs, {"doc_id": "bigint", "text": "string"})
        expect_nonempty(docs, "empty ingest batch")
        ctx.outputs["_clean"] = docs.withColumn("text", strip_markup(F.col("text")))
        return {"n_in": docs.count()}

    @p.task(depends_on=["clean"])
    def pii_audit(ctx: Context) -> dict:
        docs = ctx.outputs["_clean"]
        c = pii_hit_counts(F.col("text"))
        hits = docs.select(
            F.sum(
                c.getField("n_email")
                + c.getField("n_card")
                + c.getField("n_ssn")
                + c.getField("n_phone")
                + c.getField("n_ip")
            ).alias("n")
        ).first()["n"]
        ctx.outputs["_redacted"] = docs.withColumn("text", redact_pii(F.col("text")))
        return {"pii_hits_redacted": int(hits or 0)}

    @p.task(depends_on=["pii_audit"])
    def quality_gate(ctx: Context) -> dict:
        scored = text.with_quality_score(ctx.outputs["_redacted"])
        kept = scored.where(
            F.col("quality_score") >= float(ctx.param("min_quality"))
        ).drop("quality_score")
        ctx.outputs["_scored"] = kept
        return {"n_after_quality": kept.count()}

    @p.task(depends_on=["quality_gate"])
    def dedup_vs_history(ctx: Context) -> dict:
        batch = ctx.outputs["_scored"]
        # existence via the reader: driver-local os.path is always
        # False on remote stores (s3://, hdfs://), which would skip the
        # history branch forever and re-append known documents each run
        from pyspark.errors import AnalysisException

        try:
            hist = ctx.spark.read.parquet(history_dir).select("text")
            hist.schema
            exists = True
        except AnalysisException:
            # missing/empty history only; transient failures propagate
            exists = False
        if exists:
            fresh = dedup.bloom_dedup_new(
                batch, hist, "text", expected_items=1_000_000
            )
        else:
            fresh = dedup.dedup_exact_text(batch)
        # persist: the dedup plan scans history + builds the bloom
        # bitset — the count here and the publish write must not each
        # re-run it
        fresh = ctx.persist(fresh)
        n = fresh.count()
        ctx.outputs["_fresh"] = fresh
        ctx.outputs["_n_fresh"] = n
        return {"n_fresh": n}

    @p.task(depends_on=["dedup_vs_history"])
    def publish(ctx: Context) -> dict:
        fresh: DataFrame = ctx.outputs["_fresh"]
        n = int(ctx.outputs["_n_fresh"])  # counted once upstream
        if n:
            fresh.write.mode("append").parquet(history_dir)
        return {"n_published": n}

    return p
