"""Staged KG-construction pipeline with checkpointed, idempotently-resumable
stage outputs and per-partition lineage manifests — the stage protocol
(write, manifest, resume gate) lives in plans/stages.py.

Stage graph (stage tables in [brackets], shuffle boundaries marked *):

    pages ─ extract_narrow: ONE Python pass (lazy localCheckpoint)
              ├─ [texts]     ┐
              ├─ [chunks]    ├ JVM projections (split_narrow)
              └─ [mentions]  ┘
    [mentions] ─ raw_entities  ─* merge_entities ──────────┐
               └ raw_relations ─* merge_relations = R ─────┴─ stub endpoints ─ [entities]
    R ─ finalize ─ [relations]           (R: lazy localCheckpoint, 3 consumers)
    [entities] ─* name blocking + verify ─ collect ─ union-find ─ [alias_map]
    [entities] + R + [alias_map] ─* canonicalize (built once)
               ─ [entities_canonical], [relations_canonical]

A stage's inputs are built only inside the stage builds that consume them,
so a run whose stages are all on disk reads them back and runs nothing
else. `fuse_narrow=True` replaces the three narrow stages with one
`mentions` stage (extract_mentions_fused).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from aperag_spark.operators.extraction import (
    extract_mentions_fused,
    extract_narrow,
    split_mentions,
    split_narrow,
)
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
        mentions = stage(
            "mentions", lambda: extract_mentions_fused(pages, workspace)
        )
    else:
        # the three narrow stages are projections of ONE Python pass over
        # pages; its lazy checkpoint is computed by the first stage write
        # that needs it and read from memory by the other two
        @functools.cache
        def narrow():
            return split_narrow(
                extract_narrow(pages, workspace).localCheckpoint(eager=False)
            )

        stage("texts", lambda: narrow()[0])
        stage("chunks", lambda: narrow()[1])
        mentions = stage("mentions", lambda: narrow()[2])
    raw_entities, raw_relations = split_mentions(mentions)

    # The full relation-merge frame has THREE consumers (entity-stub
    # derivation, the finalized relations stage, canonicalize), each of which
    # would otherwise re-execute the merge aggregation over the mentions
    # table, so it is checkpointed. Under AQE even localCheckpoint(eager=False)
    # runs the merge's shuffle stages when called, so it is called only
    # inside the stage builds that consume it: a fully resumed run never
    # runs the merge.
    @functools.cache
    def relations_full():
        return merge_relations(raw_relations).localCheckpoint(eager=False)

    entities = stage(
        "entities",
        lambda: stub_missing_endpoints(merge_entities(raw_entities), relations_full()),
    )
    stage("relations", lambda: finalize_relations(relations_full()))

    if with_linking:
        alias_map = stage("alias_map", lambda: build_alias_map(entities))

        # canonicalize consumes merge-internal columns → the full relations
        # frame, not the finalized stage; its two outputs are built once and
        # each stage writes one of them
        @functools.cache
        def canonical():
            return canonicalize(entities, relations_full(), alias_map)

        stage("entities_canonical", lambda: canonical()[0])
        stage("relations_canonical", lambda: canonical()[1])

    return stage.results
