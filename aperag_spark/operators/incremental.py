"""Incremental merge (M7): fold an existing entities/relations snapshot into
a new batch's aggregation — the Spark restatement of the reference's
merge-with-existing upsert:

  _merge_nodes_then_upsert reads the existing node and folds in
    - its entity_type as ONE extra vote, appended AFTER the new types
      (Counter insertion order → existing loses ties to new) operate.py:279-301
    - its rendered description as ONE fragment                operate.py:291-304
    - its source_ids / file_paths split on <SEP>              operate.py:285-289
  _merge_edges_then_upsert folds the existing edge's weight into the SUM,
    description as one fragment, keywords split on ',' union  operate.py:372-429

At scale this replaces per-key `SELECT ... FOR UPDATE` round-trips with one
outer join against the previous snapshot — the incremental batch is usually
small relative to the accumulated graph, so the existing side stays
partitioned and the batch side shuffles to it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from aperag_spark import FORCE_LLM_SUMMARY_ON_MERGE, GRAPH_FIELD_SEP
from aperag_spark.operators.merge import (
    _TYPE_VOTE,
    _entity_types,
    _keyword_list,
    _refold,
    _summarized_by_string,
    merge_relations,
)


def _union_arrays(a: str, b: str):
    """Sorted distinct union of two string-array columns, a null side read
    as empty; one SQL expression (see merge._occ)."""
    empty = "cast(array() as array<string>)"
    return F.expr(
        f"array_sort(array_distinct(concat(coalesce(`{a}`, {empty}), coalesce(`{b}`, {empty}))))"
    )


def merge_entities_incremental(
    raw_entities: DataFrame,
    existing: DataFrame,
    summary_threshold: int = FORCE_LLM_SUMMARY_ON_MERGE,
) -> DataFrame:
    """New-batch mention rows + previous `entities` snapshot → merged
    entities with reference fold-in semantics.

    ONE pass over the raw mention rows: the batch merge's own level-1
    aggregate and per-entity re-fold (merge._entity_types / _refold,
    min-of-min == min). Level 1 is lazily checkpointed for its two
    consumers: the re-fold and the re-vote, which folds the existing type
    into level-1's counts and takes the batch merge's min_by vote over them
    (the re-fold's own vote goes unread and is pruned)."""
    types = _entity_types(raw_entities).localCheckpoint(eager=False)
    new = _refold(types)

    # re-vote including the existing type as one count, losing ties to new
    # (Counter appends existing AFTER new — operate.py:296-301)
    votes_new = types.select("entity_name", "entity_type", "cnt", "first_occ")
    votes_old = existing.select(
        F.col("entity_id").alias("entity_name"),
        "entity_type",
        F.lit(1).cast("long").alias("cnt"),
        F.struct(
            F.lit("\uffff").alias("u"),  # sorts after every url
            F.lit(2**31 - 1).alias("c"),
            F.lit(2**31 - 1).alias("r"),
        ).alias("first_occ"),
    )
    winner = (
        votes_new.unionByName(votes_old)
        .groupBy("entity_name", "entity_type")
        .agg(F.sum("cnt").alias("cnt"), F.min("first_occ").alias("first_occ"))
        .groupBy("entity_name")
        .agg(F.expr(_TYPE_VOTE).alias("voted_type"))
    )

    old = existing.select(
        F.col("entity_id").alias("entity_name"),
        F.array(F.col("description")).alias("old_frags"),  # ONE fragment
        F.col("source_ids").alias("old_source_ids"),
        F.col("file_paths").alias("old_file_paths"),
        F.col("mention_count").alias("old_mentions"),
    )
    joined = new.join(old, "entity_name", "full_outer").join(winner, "entity_name")
    merged = joined.select(
        F.col("entity_name").alias("entity_id"),
        F.col("voted_type").alias("entity_type"),
        _union_arrays("description_frags", "old_frags").alias("description_frags"),
        _union_arrays("source_ids", "old_source_ids").alias("source_ids"),
        _union_arrays("file_paths", "old_file_paths").alias("file_paths"),
        (
            F.coalesce("mention_count", F.lit(0))
            + F.coalesce("old_mentions", F.lit(0))
        ).alias("mention_count"),
    )
    return merged.withColumn(
        "description", _summarized_by_string("description_frags", summary_threshold)
    ).select(
        "entity_id",
        "entity_type",
        "description",
        "description_frags",
        "source_ids",
        "file_paths",
        "mention_count",
    )


def merge_relations_incremental(
    raw_relations: DataFrame,
    existing: DataFrame,
    summary_threshold: int = FORCE_LLM_SUMMARY_ON_MERGE,
) -> DataFrame:
    """New-batch relation rows + previous `relations` snapshot (canonical
    pairs) → merged relations: weight SUM, description one-fragment fold,
    keyword union (operate.py:372-429)."""
    new = merge_relations(raw_relations, summary_threshold=10**9)  # defer summary

    old = existing.select(
        "src_id",
        "tgt_id",
        F.col("weight").alias("old_weight"),
        F.array(F.col("description")).alias("old_frags"),
        _keyword_list("keywords").alias("old_keywords"),
        F.col("source_ids").alias("old_source_ids"),
        F.col("file_paths").alias("old_file_paths"),
    )
    joined = new.join(old, ["src_id", "tgt_id"], "full_outer")
    merged = joined.select(
        "src_id",
        "tgt_id",
        (F.coalesce("weight", F.lit(0.0)) + F.coalesce("old_weight", F.lit(0.0))).alias(
            "weight"
        ),
        _union_arrays("description_frags", "old_frags").alias("description_frags"),
        _union_arrays("keyword_arr", "old_keywords").alias("keyword_arr"),
        _union_arrays("source_ids", "old_source_ids").alias("source_ids"),
        _union_arrays("file_paths", "old_file_paths").alias("file_paths"),
        "first_occ",
    )
    return (
        merged.withColumn("keywords", F.array_join("keyword_arr", ","))
        .withColumn(
            "pre_summary_description",
            F.array_join("description_frags", GRAPH_FIELD_SEP),
        )
        .withColumn(
            "description",
            _summarized_by_string("description_frags", summary_threshold),
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
