"""Entity / relation merge aggregations — the Spark restatement of the
reference's per-key, lock-guarded upsert loop (merge_nodes_and_edges,
operate.py:491-638). A shuffle groupBy gives each key to exactly one reducer,
so the reference's per-entity locks (operate.py:557-637) and the
component-scoped Semaphore(1) (lightrag.py:499-557) have no analog here —
this is the part of the design where Spark is strictly better at scale:
head-entity skew is handled by AQE + two-phase partial aggregation instead
of serializing behind one lock.

Semantics reproduced exactly (citations inline):
  M3  entity-type majority vote, ties → first-seen     operate.py:296-301
      (one min_by inside the per-entity aggregate)
  M4  description = '<SEP>'.join(sorted(set))          operate.py:303-304
  M5  source_id / file_path = set union                operate.py:306-310
  M6  LLM summary when fragments >= 10 (stubbed        operate.py:317-336,
      deterministically as SUMMARY:md5[:16])           constants.py:44
  M8  undirected canonical pair (least, greatest)      operate.py:553-555
  M9  weight SUM, sorted-set desc, keyword union       operate.py:406-429
  M10 UNKNOWN stub node per missing endpoint, fields   operate.py:431-443
      from the first edge (insertion order) touching it

Multi-valued fields stay ArrayType internally (SURVEY.md §1.1); the
'<SEP>'-joined rendering is only applied to description (whose join is
order-defined in the reference) — source_ids/file_paths are compared as sets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from aperag_spark import FORCE_LLM_SUMMARY_ON_MERGE, GRAPH_FIELD_SEP

# The helpers below are built as one SQL expression each: a column built
# from F.* calls costs a py4j round trip per call (20-50 per helper), and a
# stream fold builds these helpers a dozen times per micro-batch.


def _occ():
    """Deterministic occurrence key: reproduces the reference's insertion
    order (docs sorted by url, chunks in order, records in order) under any
    shuffle."""
    return F.expr("named_struct('u', file_path, 'c', chunk_order_index, 'r', record_idx)")


def _keyword_list(col: str):
    """A relation's keywords string split on ',', trimmed, empties dropped
    (operate.py:411-422)."""
    return F.expr(f"filter(transform(split(`{col}`, ','), k -> trim(k)), k -> k != '')")


def _summarized_by_string(frags_col: str, threshold: int):
    """Deterministic stand-in for _handle_entity_relation_summary
    (operate.py:118-149), JVM-side (no UDF). The trigger counts fragments on
    the JOINED string's <SEP> occurrences (operate.py:313-316:
    num_fragment = description.count(SEP)+1), NOT on array size — a single
    extracted fragment that itself embeds '<SEP>' (possible once a real LLM
    replaces the stub extractor) counts as multiple fragments in the
    reference. Shared by the batch path here and the incremental fold-in
    (operators/incremental.py), so both trigger identically."""
    joined = f"array_join(`{frags_col}`, '{GRAPH_FIELD_SEP}')"
    n = f"size(split({joined}, '{GRAPH_FIELD_SEP}'))"
    return F.expr(
        f"CASE WHEN {n} > 1 AND {n} >= {int(threshold)} "
        f"THEN concat('SUMMARY:', substring(md5({joined}), 1, 16)) ELSE {joined} END"
    )


# M3 vote as one aggregate: Counter + stable sort desc == (count desc,
# first-seen asc), so the winner is the type with the smallest
# (-count, first occurrence). Shared by the batch re-fold and the
# incremental re-vote (operators/incremental.py).
_TYPE_VOTE = "min_by(entity_type, named_struct('n', -cnt, 'o', first_occ))"


def _entity_types(raw_entities: DataFrame) -> DataFrame:
    """Level 1: ONE aggregation pass over raw entity mention rows, keyed by
    (entity_name, entity_type). Each row carries the per-type fragment and
    provenance sets, the vote count and the first-occurrence key. Tiny
    (distinct (name, type) pairs); the batch merge and the incremental
    fold-in both re-fold it."""
    return raw_entities.groupBy("entity_name", "entity_type").agg(
        F.array_sort(F.collect_set("description")).alias("d"),
        F.array_sort(F.collect_set("source_id")).alias("s"),
        F.array_sort(F.collect_set("file_path")).alias("f"),
        F.count(F.lit(1)).alias("cnt"),
        F.min(_occ()).alias("first_occ"),
    )


def _refold(types: DataFrame) -> DataFrame:
    """Level 2: the per-entity merge re-folds the level-1 sets (set union is
    associative, sum-of-count == count) and takes the M3 vote in the same
    aggregate."""
    return types.groupBy("entity_name").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("d")))).alias(
            "description_frags"
        ),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("s")))).alias(
            "source_ids"
        ),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("f")))).alias(
            "file_paths"
        ),
        F.sum("cnt").alias("mention_count"),
        F.expr(_TYPE_VOTE).alias("entity_type"),
    )


def merge_entities(
    raw_entities: DataFrame,
    summary_threshold: int = FORCE_LLM_SUMMARY_ON_MERGE,
) -> DataFrame:
    """raw mention rows → one row per entity_name.

    ONE aggregation pass over the raw rows (_entity_types), re-folded per
    name with the M3 type vote inside the re-fold (_refold). A vote keyed
    by (name, type) and a merge keyed by name could not share an exchange,
    so two independent aggregations would run the raw mention explode
    upstream twice. Skewed head entities are split by AQE (partial
    aggregation happens map-side, so the hot key's reducer sees combined
    per-type sets).
    """
    return (
        _refold(_entity_types(raw_entities))
        .withColumn(
            "description", _summarized_by_string("description_frags", summary_threshold)
        )
        .select(
            F.col("entity_name").alias("entity_id"),
            "entity_type",
            "description",
            "description_frags",
            "source_ids",
            "file_paths",
            "mention_count",
        )
    )


def merge_relations(
    raw_relations: DataFrame,
    summary_threshold: int = FORCE_LLM_SUMMARY_ON_MERGE,
) -> DataFrame:
    """raw relation rows → one row per canonical undirected pair."""
    canon = raw_relations.select(
        F.least("src_id", "tgt_id").alias("src_id"),  # M8 operate.py:553-555
        F.greatest("src_id", "tgt_id").alias("tgt_id"),
        "weight",
        "description",
        "keywords",
        "source_id",
        "file_path",
        "chunk_order_index",
        "record_idx",
    )
    merged = canon.groupBy("src_id", "tgt_id").agg(
        F.sum("weight").alias("weight"),  # SUM, not max — operate.py:406
        F.array_sort(
            F.collect_set(F.when(F.col("description") != "", F.col("description")))
        ).alias("description_frags"),
        # keyword union: split each on ',', trim, drop empties, global
        # sorted distinct — operate.py:411-422
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(_keyword_list("keywords"))
                )
            )
        ).alias("keyword_arr"),
        F.array_sort(
            F.collect_set(F.when(F.col("source_id") != "", F.col("source_id")))
        ).alias("source_ids"),
        F.array_sort(
            F.collect_set(F.when(F.col("file_path") != "", F.col("file_path")))
        ).alias("file_paths"),
        F.min(_occ()).alias("first_occ"),
    )
    return (
        merged.withColumn("keywords", F.array_join("keyword_arr", ","))
        .withColumn("pre_summary_description", F.array_join("description_frags", GRAPH_FIELD_SEP))
        .withColumn(
            "description", _summarized_by_string("description_frags", summary_threshold)
        )
        .select(
            "src_id",
            "tgt_id",
            "weight",
            "description",
            "pre_summary_description",
            "description_frags",
            "keywords",
            "keyword_arr",
            "source_ids",
            "file_paths",
            "first_occ",
        )
    )


def stub_missing_endpoints(entities: DataFrame, relations: DataFrame) -> DataFrame:
    """M10 — operate.py:431-443: every edge endpoint with no entity row gets
    an UNKNOWN stub whose description/source_id/file_path copy the merged
    edge. The reference creates the stub on first touch and skips later
    edges (`if not has_node`), with insertion-order iteration; we reproduce
    that as min(first_occ) per endpoint. Stub description is the *pre-summary*
    merged edge description (stub creation precedes the summary step in
    operate.py:431-443 vs :445-466).

    Returns entities ∪ stubs with the same schema as merge_entities().
    """
    endpoints = relations.select(
        F.explode(F.array("src_id", "tgt_id")).alias("entity_id"),
        F.col("pre_summary_description").alias("description"),
        F.col("description_frags"),
        "source_ids",
        "file_paths",
        "first_occ",
    )
    missing = endpoints.join(
        entities.select("entity_id"), "entity_id", "left_anti"
    )
    w = Window.partitionBy("entity_id").orderBy(F.asc("first_occ"))
    stubs = (
        missing.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "entity_id",
            F.lit("UNKNOWN").alias("entity_type"),
            "description",
            "description_frags",
            "source_ids",
            "file_paths",
            F.lit(0).alias("mention_count"),
        )
    )
    return entities.unionByName(stubs)


def finalize_relations(relations: DataFrame) -> DataFrame:
    """Drop merge-internal columns for the persisted `relations` table."""
    return relations.select(
        "src_id", "tgt_id", "weight", "description", "keywords", "source_ids", "file_paths"
    )
