"""Graph maintenance operators:

  M15 document delete / unindex — lightrag.py:888-1126 (239 LoC): the
  reference walks every entity/edge containing the doc's chunk ids in
  source_id, rewrites or deletes them row by row. The Spark restatement is
  an anti-join on provenance + re-aggregation of the surviving mentions —
  the mentions stage output is the append-only log of record-level facts,
  so "recompute merges over mentions minus the deleted docs" reproduces
  exactly the state the reference reaches by incremental surgery (and is
  idempotent, which the reference's in-place mutation is not).

  Head-entity skew (SURVEY.md §4) — the reference serializes hot entities
  behind one lock (lightrag.py:500) — needs no merge variant here:
  merge.merge_entities aggregates (name, type) partials map-side and AQE
  splits skewed partitions (tests/test_skew.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from aperag_spark import GRAPH_FIELD_SEP
from aperag_spark.operators.extraction import split_mentions
from aperag_spark.operators.merge import (
    merge_entities,
    merge_relations,
    stub_missing_endpoints,
)


def delete_documents(
    mentions: DataFrame, doc_urls: list[str] | DataFrame
) -> tuple[DataFrame, DataFrame]:
    """M15: remove all facts sourced from the given page urls and return the
    re-aggregated (entities, relations). Entities/edges whose every source
    chunk came from deleted docs disappear (lightrag.py:1015-1046 delete-
    when-empty rule) — they simply have no surviving mention rows."""
    spark = mentions.sparkSession
    if isinstance(doc_urls, list):
        doc_urls = spark.createDataFrame(
            [(u,) for u in doc_urls], "file_path string"
        )
    surviving = mentions.join(
        F.broadcast(doc_urls.select("file_path")), "file_path", "left_anti"
    )
    raw_e, raw_r = split_mentions(surviving)
    relations = merge_relations(raw_r)
    entities = stub_missing_endpoints(merge_entities(raw_e), relations)
    return entities, relations


def rename_entity(
    entities: DataFrame, relations: DataFrame, old_name: str, new_name: str
) -> tuple[DataFrame, DataFrame]:
    """M14 aedit_entity rename (utils_graph.py:150-252): rename a node and
    rewire every edge endpoint; if the new name already exists the two nodes
    merge (the reference refuses in that case unless allow_merge — we merge,
    which is amerge_entities semantics). One-pair alias map through the same
    canonicalize machinery as automated linking."""
    spark = entities.sparkSession
    alias_map = spark.createDataFrame(
        [(old_name, new_name)], "entity_id string, canonical_id string"
    )
    from aperag_spark.operators.linking import canonicalize

    return canonicalize(entities, relations, alias_map)


def delete_entity(
    entities: DataFrame, relations: DataFrame, name: str
) -> tuple[DataFrame, DataFrame]:
    """M14 adelete_by_entity (utils_graph.py:255-305): drop the node and
    every edge touching it."""
    ents = entities.where(F.col("entity_id") != name)
    rels = relations.where(
        (F.col("src_id") != name) & (F.col("tgt_id") != name)
    )
    return ents, rels


# ---------------------------------------------------------------------------
# M14 curation verbs — the manual graph-editing API of utils_graph.py:
# acreate_entity (:404-445), aedit_entity (:108-276), acreate_relation
# (:447-545), aedit_relation (:278-401), adelete_by_relation (:68-105),
# amerge_entities (:548-766) with its per-field merge-strategy matrix
# (_merge_entity_attributes :770-814, _merge_relation_attributes :817-870).
#
# These are curation verbs over a handful of NAMED entities, so the touched
# rows are collected driver-side (bounded by the argument list, never by
# corpus size); the bulk rewiring of edges stays distributed.
# ---------------------------------------------------------------------------

MANUAL_SOURCE = "manual_creation"

# columns kept consistent by the dedicated update branches (description →
# description_frags, keywords → keyword_arr, source_id → source_ids, …);
# setting them directly through the generic pass-through would desync them
# from their string counterparts, so edit_* refuses them there.
_DERIVED_COLUMNS = {"description_frags", "keyword_arr", "source_ids", "file_paths"}

ENTITY_MERGE_DEFAULT_STRATEGY = {
    "description": "concatenate",
    "entity_type": "keep_first",
    "source_id": "join_unique",
}
# fixed matrix the reference applies when re-pointed edges collide
# (utils_graph.py:668-676)
RELATION_MERGE_STRATEGY = {
    "description": "concatenate",
    "keywords": "join_unique",
    "source_id": "join_unique",
    "weight": "max",
}


def merge_entity_attributes(data_list: list[dict], strategy: dict[str, str]) -> dict:
    """Port of _merge_entity_attributes (utils_graph.py:770-814): per key,
    gather TRUTHY values in list order, then apply the key's strategy
    (default keep_first). One deliberate divergence: join_unique emits the
    unique items SORTED — the reference joins a Python set, whose order is
    run-dependent; tests compare that field set-wise against the executed
    reference function."""
    merged: dict = {}
    all_keys: set[str] = set()
    for data in data_list:
        all_keys.update(data.keys())
    for key in sorted(all_keys):
        values = [d.get(key) for d in data_list if d.get(key)]
        if not values:
            continue
        s = strategy.get(key, "keep_first")
        if s == "concatenate":
            merged[key] = "\n\n".join(values)
        elif s == "keep_last":
            merged[key] = values[-1]
        elif s == "join_unique":
            items: set[str] = set()
            for v in values:
                items.update(v.split(GRAPH_FIELD_SEP))
            merged[key] = GRAPH_FIELD_SEP.join(sorted(items))
        else:  # keep_first and unknown strategies
            merged[key] = values[0]
    return merged


def merge_relation_attributes(data_list: list[dict], strategy: dict[str, str]) -> dict:
    """Port of _merge_relation_attributes (utils_graph.py:817-870) — differs
    from the entity variant exactly as the reference does: values filter on
    `is not None` (0.0 weights survive), concatenate/join_unique str()-cast,
    and a numeric "max" strategy exists (falling back to keep_first when a
    value will not float()). join_unique sorted as above."""
    merged: dict = {}
    all_keys: set[str] = set()
    for data in data_list:
        all_keys.update(data.keys())
    for key in sorted(all_keys):
        values = [d.get(key) for d in data_list if d.get(key) is not None]
        if not values:
            continue
        s = strategy.get(key, "keep_first")
        if s == "concatenate":
            merged[key] = "\n\n".join(str(v) for v in values)
        elif s == "keep_last":
            merged[key] = values[-1]
        elif s == "join_unique":
            items: set[str] = set()
            for v in values:
                items.update(str(v).split(GRAPH_FIELD_SEP))
            merged[key] = GRAPH_FIELD_SEP.join(sorted(items))
        elif s == "max":
            try:
                merged[key] = max(float(v) for v in values)
            except (ValueError, TypeError):
                merged[key] = values[0]
        else:
            merged[key] = values[0]
    return merged


def _single_row(template: DataFrame, values: dict) -> DataFrame:
    """One-row DataFrame with the template's exact schema; unknown columns
    default to None, so the verbs tolerate schema variants (e.g. the
    alias_names column canonicalize adds)."""
    spark = template.sparkSession
    row = tuple(values.get(f.name) for f in template.schema.fields)
    return spark.createDataFrame([row], template.schema)


def _split_sep(value: str) -> list[str]:
    return sorted(set((value or "").split(GRAPH_FIELD_SEP))) if value else []


def _entity_attrs(row: dict) -> dict:
    """Columnar entity row → the attribute dict the reference's node storage
    holds (source_id/file_path are GRAPH_FIELD_SEP-joined strings there)."""
    return {
        "entity_type": row.get("entity_type"),
        "description": row.get("description") or "",
        "source_id": GRAPH_FIELD_SEP.join(row.get("source_ids") or []),
        "file_path": GRAPH_FIELD_SEP.join(row.get("file_paths") or []),
    }


def _entity_exists(entities: DataFrame, name: str) -> bool:
    return bool(entities.where(F.col("entity_id") == name).limit(1).take(1))


def create_entity(entities: DataFrame, entity_name: str, entity_data: dict) -> DataFrame:
    """acreate_entity (utils_graph.py:404-445): refuse if the node exists,
    else append a row with the reference's defaults. (No created_at column
    in the columnar schema — creation lineage lives in stage manifests.)"""
    if _entity_exists(entities, entity_name):
        raise ValueError(f"Entity '{entity_name}' already exists")
    desc = entity_data.get("description", "")
    row = {
        "entity_id": entity_name,
        "entity_type": entity_data.get("entity_type", "UNKNOWN"),
        "description": desc,
        "description_frags": desc.split(GRAPH_FIELD_SEP) if desc else [],
        "source_ids": _split_sep(entity_data.get("source_id", MANUAL_SOURCE)),
        "file_paths": _split_sep(entity_data.get("file_path", MANUAL_SOURCE)),
        "mention_count": 0,
        "alias_names": [entity_name],
    }
    return entities.unionByName(_single_row(entities, row))


def edit_entity(
    entities: DataFrame,
    relations: DataFrame,
    entity_name: str,
    updated_data: dict,
    allow_rename: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """aedit_entity (utils_graph.py:108-276): arbitrary attribute update;
    entity_name in updated_data renames — REFUSING if the new name exists
    (:150-153; rename_entity() above is the merge-into-existing variant).
    Rename rewires every edge endpoint and re-sorts the canonical pair."""
    rows = entities.where(F.col("entity_id") == entity_name).take(2)
    if not rows:
        raise ValueError(f"Entity '{entity_name}' does not exist")
    new_name = updated_data.get("entity_name", entity_name)
    if new_name != entity_name:
        if not allow_rename:
            raise ValueError(
                "Entity renaming is not allowed. Set allow_rename=True to enable this feature"
            )
        if _entity_exists(entities, new_name):
            raise ValueError(f"Entity name '{new_name}' already exists, cannot rename")
    row = rows[0].asDict()
    for k, v in updated_data.items():
        if k == "entity_name":
            continue
        if k == "description":
            row["description"] = v
            row["description_frags"] = v.split(GRAPH_FIELD_SEP) if v else []
        elif k == "source_id":
            row["source_ids"] = _split_sep(v)
        elif k == "file_path":
            row["file_paths"] = _split_sep(v)
        elif k in row and k not in _DERIVED_COLUMNS:
            row[k] = v
        # attributes outside the columnar schema are dropped (the reference
        # stores free-form node dicts; the columnar table is typed), and so
        # are derived columns (set description/source_id/file_path instead)
    row["entity_id"] = new_name
    ents = entities.where(F.col("entity_id") != entity_name).unionByName(
        _single_row(entities, row)
    )
    if new_name == entity_name:
        return ents, relations
    s = F.when(F.col("src_id") == entity_name, F.lit(new_name)).otherwise(F.col("src_id"))
    t = F.when(F.col("tgt_id") == entity_name, F.lit(new_name)).otherwise(F.col("tgt_id"))
    rels = relations.withColumn("_s", s).withColumn("_t", t)
    rels = (
        rels.withColumn("src_id", F.least("_s", "_t"))
        .withColumn("tgt_id", F.greatest("_s", "_t"))
        .drop("_s", "_t")
    )
    return ents, rels


def _canonical_pair(a: str, b: str) -> tuple[str, str]:
    return (a, b) if a <= b else (b, a)


def delete_relation(relations: DataFrame, source_entity: str, target_entity: str) -> DataFrame:
    """adelete_by_relation (utils_graph.py:68-105): drop the edge; like the
    reference, a missing edge is a no-op (it logs and returns)."""
    a, b = _canonical_pair(source_entity, target_entity)
    return relations.where(~((F.col("src_id") == a) & (F.col("tgt_id") == b)))


def create_relation(
    entities: DataFrame,
    relations: DataFrame,
    source_entity: str,
    target_entity: str,
    relation_data: dict,
) -> DataFrame:
    """acreate_relation (utils_graph.py:447-545): both endpoints must exist,
    the edge must not; append with the reference's defaults."""
    if not _entity_exists(entities, source_entity):
        raise ValueError(f"Source entity '{source_entity}' does not exist")
    if not _entity_exists(entities, target_entity):
        raise ValueError(f"Target entity '{target_entity}' does not exist")
    a, b = _canonical_pair(source_entity, target_entity)
    if relations.where((F.col("src_id") == a) & (F.col("tgt_id") == b)).limit(1).take(1):
        raise ValueError(
            f"Relation from '{source_entity}' to '{target_entity}' already exists"
        )
    desc = relation_data.get("description", "")
    kw = relation_data.get("keywords", "")
    kw_arr = [w.strip() for w in kw.split(",") if w.strip()]
    row = {
        "src_id": a,
        "tgt_id": b,
        "weight": float(relation_data.get("weight", 1.0)),
        "description": desc,
        "description_frags": desc.split(GRAPH_FIELD_SEP) if desc else [],
        "keywords": ",".join(kw_arr),
        "keyword_arr": kw_arr,
        "source_ids": _split_sep(relation_data.get("source_id", MANUAL_SOURCE)),
        "file_paths": _split_sep(relation_data.get("file_path", MANUAL_SOURCE)),
    }
    return relations.unionByName(_single_row(relations, row))


def edit_relation(
    relations: DataFrame,
    source_entity: str,
    target_entity: str,
    updated_data: dict,
) -> DataFrame:
    """aedit_relation (utils_graph.py:278-401): overlay updated attributes
    on the existing edge."""
    a, b = _canonical_pair(source_entity, target_entity)
    rows = relations.where((F.col("src_id") == a) & (F.col("tgt_id") == b)).take(1)
    if not rows:
        raise ValueError(
            f"Relation from '{source_entity}' to '{target_entity}' does not exist"
        )
    row = rows[0].asDict()
    for k, v in updated_data.items():
        if k == "description":
            row["description"] = v
            row["description_frags"] = v.split(GRAPH_FIELD_SEP) if v else []
        elif k == "keywords":
            kw_arr = [w.strip() for w in str(v).split(",") if w.strip()]
            row["keywords"] = ",".join(kw_arr)
            row["keyword_arr"] = kw_arr
        elif k == "source_id":
            row["source_ids"] = _split_sep(v)
        elif k == "file_path":
            row["file_paths"] = _split_sep(v)
        elif k == "weight":
            row["weight"] = float(v)
        elif k in row and k not in _DERIVED_COLUMNS:
            row[k] = v
    kept = relations.where(~((F.col("src_id") == a) & (F.col("tgt_id") == b)))
    return kept.unionByName(_single_row(relations, row))


def merge_entities_curated(
    entities: DataFrame,
    relations: DataFrame,
    source_entities: list[str],
    target_entity: str,
    merge_strategy: dict[str, str] | None = None,
    target_entity_data: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """amerge_entities (utils_graph.py:548-766): merge named source entities
    into target_entity under the per-field strategy matrix, rewire every
    edge, self-loops skipped (:661-668), colliding re-pointed edges merged
    with the fixed RELATION_MERGE_STRATEGY (:668-676; note weight is MAX
    here, unlike the extraction pipeline's SUM — both reference rules),
    then delete the sources. target_entity_data overrides merged fields
    (:619-621). Attribute merging is driver-side over the named rows
    (bounded by the argument list); edge rewiring is distributed.

    Deliberate divergence at :685-690: when a re-pointed edge lands on a
    pair where the TARGET already has an edge, the reference upsert-
    OVERWRITES the target's existing edge with the merged re-pointed data
    (only collisions among re-pointed edges are merged there); we merge the
    pre-existing target edge into the group too, so no edge data is
    silently lost. Only pairs touching target_entity are re-aggregated —
    untouched rows pass through without a shuffle, which relies on the
    standing invariant that `relations` is unique per canonical
    (src_id, tgt_id) pair (the merge_relations / finalize_relations output
    contract; every producer in this codebase upholds it)."""
    strategy = {**ENTITY_MERGE_DEFAULT_STRATEGY, **(merge_strategy or {})}
    target_entity_data = target_entity_data or {}

    named = {
        r["entity_id"]: r.asDict()
        for r in entities.where(
            F.col("entity_id").isin(list(set(source_entities) | {target_entity}))
        ).collect()
    }
    for n in source_entities:
        if n not in named:
            raise ValueError(f"Source entity '{n}' does not exist")
    target_exists = target_entity in named

    # reference order: sources in argument order, then the existing target
    # (utils_graph.py:612-616 appends existing_target_entity_data last)
    data_list = [_entity_attrs(named[n]) for n in source_entities]
    if target_exists:
        data_list.append(_entity_attrs(named[target_entity]))
    merged = merge_entity_attributes(data_list, strategy)
    merged.update(target_entity_data)

    desc = merged.get("description", "")
    counted = {n for n in source_entities} | ({target_entity} if target_exists else set())
    alias_names: set[str] = {target_entity}
    for n in counted:
        alias_names.update(named[n].get("alias_names") or [named[n]["entity_id"]])
    row = {
        "entity_id": target_entity,
        "entity_type": merged.get("entity_type", "UNKNOWN"),
        "description": desc,
        "description_frags": desc.split(GRAPH_FIELD_SEP) if desc else [],
        "source_ids": _split_sep(merged.get("source_id", "")),
        "file_paths": _split_sep(merged.get("file_path", "")),
        "mention_count": sum(int(named[n].get("mention_count") or 0) for n in counted),
        "alias_names": sorted(alias_names),
    }
    ents = entities.where(
        ~F.col("entity_id").isin(list(set(source_entities) | {target_entity}))
    ).unionByName(_single_row(entities, row))

    srcs = list(set(source_entities) - {target_entity})
    s = F.when(F.col("src_id").isin(srcs), F.lit(target_entity)).otherwise(F.col("src_id"))
    t = F.when(F.col("tgt_id").isin(srcs), F.lit(target_entity)).otherwise(F.col("tgt_id"))
    rewired = (
        relations.withColumn("_s", s)
        .withColumn("_t", t)
        .where(F.col("_s") != F.col("_t"))  # self-loop skip
        .withColumn("_orig", F.struct(F.col("src_id"), F.col("tgt_id")))
        .withColumn("src_id", F.least("_s", "_t"))
        .withColumn("tgt_id", F.greatest("_s", "_t"))
        .drop("_s", "_t")
    )
    # collisions can only involve target_entity (every re-pointed endpoint
    # became target_entity; src-src edges were dropped as self-loops), so
    # only those pairs re-aggregate — the rest of the table passes through
    # untouched, no full shuffle per curation call.
    touches_target = (F.col("src_id") == target_entity) | (
        F.col("tgt_id") == target_entity
    )
    untouched = rewired.where(~touches_target).drop("_orig")
    # colliding edges: concatenate descriptions in deterministic original-
    # pair order (the reference concatenates in driver iteration order —
    # meaningless under distributed input, so we fix the order), unique-
    # union keywords/sources, MAX weight.
    rels = (
        rewired.where(touches_target)
        .groupBy("src_id", "tgt_id")
        .agg(
            F.max("weight").alias("weight"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_orig"), F.col("description")))
                    ),
                    lambda x: x["description"],
                ),
                "\n\n",
            ).alias("description"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("description_frags")))
            ).alias("description_frags"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("keyword_arr")))).alias(
                "keyword_arr"
            ),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("source_ids")))).alias(
                "source_ids"
            ),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("file_paths")))).alias(
                "file_paths"
            ),
        )
        .withColumn("keywords", F.array_join("keyword_arr", ","))
        .select(*[f.name for f in relations.schema.fields])
        .unionByName(untouched.select(*[f.name for f in relations.schema.fields]))
    )
    return ents, rels
