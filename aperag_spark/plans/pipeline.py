"""Staged KG-construction pipeline with checkpointed, idempotently-resumable
stage outputs and per-partition lineage manifests — the stage protocol
(write, manifest, resume gate) lives in plans/stages.py.

Stage graph (shuffle boundaries marked *):

    pages ─ extract_texts ─ chunk_texts ─ extract_mentions
          ├─ raw_entities ─* merge_entities ──┐
          └─ raw_relations ─* merge_relations ┤─ stub_missing_endpoints
                                              └─* LSH+CC alias_map
                                              └─* canonical entities/relations
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aperag_spark.operators.chunking import chunk_texts, extract_texts
from aperag_spark.operators.extraction import extract_mentions, split_mentions
from aperag_spark.operators.linking import build_alias_map, canonicalize
from aperag_spark.operators.merge import (
    finalize_relations,
    merge_entities,
    merge_relations,
    stub_missing_endpoints,
)
from aperag_spark.plans.stages import StageRunner


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    workspace: str = "",
    input_fingerprint: str = "",
    with_linking: bool = True,
    fail_after_stage: str | None = None,
    fuse_narrow: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) the full KG-construction pipeline.

    `input_fingerprint` identifies the input snapshot (e.g. Iceberg snapshot
    id; in tests, the (seed, n) of the generator). `fail_after_stage`
    simulates a mid-job crash for the resume test.
    """
    stage = StageRunner(spark, out_dir, input_fingerprint, fail_after_stage)

    if fuse_narrow:
        # one narrow stage pages→mentions (everything per-page local); skips
        # the texts/chunks checkpoints — use when resume granularity at those
        # boundaries isn't needed (e.g. throughput benches)
        from aperag_spark.operators.extraction import extract_mentions_fused

        mentions = stage(
            "mentions", lambda: extract_mentions_fused(pages, workspace)
        )
    else:
        texts = stage("texts", lambda: extract_texts(pages, workspace))
        chunks = stage("chunks", lambda: chunk_texts(texts, workspace))
        mentions = stage("mentions", lambda: extract_mentions(chunks))
    raw_entities, raw_relations = split_mentions(mentions)
    # LAZY checkpoint: the full relation-merge frame has THREE consumers
    # (entity-stub derivation, the finalized relations stage, canonicalize),
    # each of which would otherwise re-execute the whole merge aggregation
    # over the mentions table. eager=False so a fully-resumed run (every
    # stage complete on disk) never materializes it at all.
    relations_full = merge_relations(raw_relations).localCheckpoint(eager=False)
    entities = stage(
        "entities",
        lambda: stub_missing_endpoints(merge_entities(raw_entities), relations_full),
    )
    relations = stage("relations", lambda: finalize_relations(relations_full))

    if with_linking:
        alias_map = stage("alias_map", lambda: build_alias_map(entities))
        # canonicalize consumes merge-internal columns → recompute the full
        # relations frame from the persisted mentions stage (cheap: one agg)
        ents_c, rels_c = canonicalize(entities, relations_full, alias_map)
        stage("entities_canonical", lambda: ents_c)
        stage("relations_canonical", lambda: rels_c)

    return stage.results

