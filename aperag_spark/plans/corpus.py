"""Staged, idempotently-resumable corpus-build pipeline — the training-data
counterpart of plans/pipeline.py's KG runner, on the same stage store
(plans/stages.py: a completed stage is skipped on rerun and read back, so a
job killed mid-build resumes where it stopped with byte-identical stages —
tests/test_corpus_pipeline.py mirrors tests/test_resume.py).

Stage graph (linear; shuffle boundaries marked *):

    documents ─ minhash (Arrow kernel, one text pass)
              ─* candidates (LSH banding + bucket-local pairs + verify)
              ─* clusters   (connected components → canonical + keep)
              ─  verdicts   (quality gate ∧ dedup keep-list, doc_id join)

Why staged: the cluster and select consumers would otherwise re-execute the
whole MinHash+LSH+CC subplan each (the round-4 battery ran it three times —
candidates/cluster/select). A real 100 TB corpus build materializes the
dedup verdict once and has every consumer read the stage table; this runner
is that materialization, and queries.py's battery entries read through it
via a session-scoped cache."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aperag_spark.operators.corpus import (
    DEDUP_CLUSTER_T,
    cluster_verdict,
    minhash_candidates,
    minhash_docs,
    quality_filter,
    select_verdict,
)
from aperag_spark.plans.stages import StageRunner
from aperag_spark.session import ensure_package_shipped

CORPUS_STAGES = ["minhash", "candidates", "clusters", "verdicts"]


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    input_fingerprint: str = "",
    upto: str = "verdicts",
    fail_after_stage: str | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the corpus-build pipeline over `docs` (doc_id, text)
    up to stage `upto` (a prefix of CORPUS_STAGES — consumers that only
    need signatures don't pay for clustering). `fail_after_stage` simulates
    a mid-job crash for the resume test."""
    ensure_package_shipped(spark)  # the minhash stage is an Arrow UDF
    stage = StageRunner(spark, out_dir, input_fingerprint, fail_after_stage)

    idx = CORPUS_STAGES.index(upto)
    md = stage("minhash", lambda: minhash_docs(docs))
    if idx >= 1:
        # md is a materialized stage table — no defensive checkpoint needed
        cand = stage("candidates", lambda: minhash_candidates(md, checkpoint=False))
    if idx >= 2:
        clusters = stage(
            "clusters",
            lambda: cluster_verdict(
                cand.where(cand["jaccard"] >= DEDUP_CLUSTER_T),
                docs,
                checkpoint=False,
            ),
        )
    if idx >= 3:
        stage(
            "verdicts", lambda: select_verdict(quality_filter(docs), clusters)
        )
    return stage.results
