"""Entity linking / alias canonicalization: MinHash-LSH candidate blocking
over character-shingled entity names → verified similar pairs → connected
components → alias_map(entity_id → canonical_id) → rewrite + re-aggregate.

This is the rebuild's Spark-idiomatic replacement for the reference's
*manual* merge API `amerge_entities` (utils_graph.py:548-766): the merge
semantics per attribute follow its strategies — descriptions join_unique,
source_ids join_unique, weight sum on re-pointed duplicate edges, self-loops
skipped (utils_graph.py:661-683) — but group discovery is automated with
LSH + CC per BASELINE.json north_rule.

Scale design:
  * names are blocked by MinHash over 3-gram shingles (pyspark.ml MinHashLSH,
    approxSimilarityJoin) — candidate pairs ~ O(n · bucket size), never O(n²);
  * the Jaccard threshold is verified exactly by the LSH join distance
    (shingle size, table count and threshold are module constants);
  * each component's canonical member is one min_by in a groupBy;
  * alias_map is tiny relative to entities (only names in some alias pair),
    so the rewrite join is a broadcast;
  * the final re-aggregation reuses merge.py's groupBy (same skew handling).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from aperag_spark import GRAPH_FIELD_SEP
from aperag_spark.operators.components import connected_components


# LSH blocking settings: shingle size, MinHash tables, and the verified
# Jaccard similarity a candidate pair must reach.
SHINGLE_N = 3
NUM_HASH_TABLES = 6
JACCARD_THRESHOLD = 0.85


def _shingles(col):
    """Lowercased character n-grams as an array<string> (JVM-side: no UDF)."""
    lowered = F.lower(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(lowered) - (SHINGLE_N - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: lowered.substr(i, F.lit(SHINGLE_N))))


# Corporate-suffix synonyms for the normalized surface form. Public-knowledge
# ER practice (cf. SparkER, EDBT'19): exact-match blocking on a normalized key
# is the high-precision bulk path; LSH handles what normalization can't.
_SUFFIX_SYNONYMS = [
    (r"\bincorporated\b", "inc"),
    (r"\bcorporation\b", "corp"),
    (r"\blimited\b", "ltd"),
    (r"\bcompany\b", "co"),
]


def normalized_name(col):
    """Deterministic normalized surface form: lowercase, strip punctuation,
    canonical corporate suffixes, collapsed whitespace. Pure JVM expressions."""
    x = F.lower(col)
    x = F.regexp_replace(x, r"[^\w\s]", "")
    for pat, rep in _SUFFIX_SYNONYMS:
        x = F.regexp_replace(x, pat, rep)
    x = F.trim(F.regexp_replace(x, r"\s+", " "))
    return x


def digit_signature(col):
    """Concatenated digit runs — numbers are strong identity evidence
    ('Navarro1' vs 'Navarro121' are different entities even at high
    string similarity)."""
    return F.regexp_replace(col, r"[^0-9]", "")


def candidate_alias_pairs(entities: DataFrame) -> DataFrame:
    """entities(entity_id) → (a, b) verified candidate alias pairs.

    MinHashLSH over HashingTF(binary) vectors of character shingles;
    approxSimilarityJoin prunes to same-bucket pairs, distance = exact
    Jaccard distance on the hashed shingle sets.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    names = (
        entities.select("entity_id")
        .distinct()
        .withColumn("shingles", _shingles(F.col("entity_id")))
        .where(F.size("shingles") > 0)
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    vecs = tf.transform(names)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=NUM_HASH_TABLES, seed=42)
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(
        vecs, vecs, 1.0 - JACCARD_THRESHOLD, distCol="jaccard_dist"
    )
    # Match rule on top of LSH blocking: high shingle similarity is not
    # sufficient ("Navarro1" ~ "Navarro121"); require identical digit
    # signatures — numeric tokens are identity evidence.
    return (
        pairs.select(
            F.col("datasetA.entity_id").alias("a"),
            F.col("datasetB.entity_id").alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .where(digit_signature(F.col("a")) == digit_signature(F.col("b")))
        .distinct()
    )


def exact_normalized_pairs(entities: DataFrame) -> DataFrame:
    """High-precision alias edges: names equal after surface normalization.
    One groupBy on the normalized key — at web scale this is the cheap bulk
    path (shuffle on a short string key); LSH only covers the residual."""
    names = entities.select("entity_id").distinct().withColumn(
        "norm", normalized_name(F.col("entity_id"))
    )
    grouped = (
        names.groupBy("norm")
        .agg(F.array_sort(F.collect_set("entity_id")).alias("members"))
        .where(F.size("members") > 1)
    )
    # star edges to the first member suffice for connectivity
    return grouped.select(
        F.element_at("members", 1).alias("a"),
        F.explode(F.slice("members", 2, 1_000_000)).alias("b"),
    )


def build_alias_map(entities: DataFrame) -> DataFrame:
    """→ alias_map(entity_id, canonical_id) for non-identity mappings only.

    Canonical representative = the member with the highest mention_count
    (most-attested surface form), ties broken lexicographically — a
    deterministic stand-in for the reference's caller-chosen target entity
    (utils_graph.py:560-571). One min_by per component in a groupBy.
    """
    pairs = (
        exact_normalized_pairs(entities)
        .unionByName(candidate_alias_pairs(entities))
        .distinct()
    )
    cc = connected_components(pairs, src="a", dst="b")  # (node, component)
    members = cc.join(
        entities.select(F.col("entity_id").alias("node"), "mention_count"),
        "node",
        "left",
    ).fillna(0, subset=["mention_count"])
    canon = members.groupBy("component").agg(
        F.expr("min_by(node, named_struct('m', -mention_count, 'n', node))").alias(
            "canonical_id"
        )
    )
    return (
        members.join(canon, "component")
        .where(F.col("node") != F.col("canonical_id"))
        .select(F.col("node").alias("entity_id"), "canonical_id")
    )


def canonicalize(
    entities: DataFrame, relations: DataFrame, alias_map: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Rewrite every entity id and edge endpoint through alias_map, then
    re-aggregate — the semantic model is the reference's manual merge API
    amerge_entities (utils_graph.py:548-766): re-pointed duplicate edges
    merge with weights SUMMED and self-loops skipped (:661-683), multi-value
    fields join_unique (:803-809).

    Deliberate divergences from its *defaults*, because order-dependent
    rules have no meaning under distributed input: description uses
    join_unique (sorted-set <SEP> join) instead of "concatenate" ('\\n\\n'
    in caller order, :797-798), and entity_type uses
    max-mention-count-with-tiebreak instead of "keep_first" (:800-801) —
    both deterministic refinements, compared set-wise at parity boundaries.

    alias_map is broadcast — it is orders of magnitude smaller than the
    mention tables at web scale.
    """
    am = F.broadcast(alias_map)

    ents = (
        entities.join(am, "entity_id", "left")
        .withColumn("canon_id", F.coalesce("canonical_id", "entity_id"))
    )
    canon_entities = (
        ents.groupBy("canon_id")
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("description_frags")))).alias(
                "description_frags"
            ),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("source_ids")))).alias(
                "source_ids"
            ),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("file_paths")))).alias(
                "file_paths"
            ),
            F.sum("mention_count").alias("mention_count"),
            F.array_sort(F.collect_set("entity_id")).alias("alias_names"),
            # deterministic tie-break: (mention_count, entity_id) max
            F.max_by(
                "entity_type", F.struct(F.col("mention_count"), F.col("entity_id"))
            ).alias("entity_type"),
        )
        .withColumn("description", F.array_join("description_frags", GRAPH_FIELD_SEP))
        .withColumnRenamed("canon_id", "entity_id")
    )

    rels = (
        relations.join(
            am.withColumnRenamed("entity_id", "src_id").withColumnRenamed(
                "canonical_id", "src_canon"
            ),
            "src_id",
            "left",
        )
        .join(
            am.withColumnRenamed("entity_id", "tgt_id").withColumnRenamed(
                "canonical_id", "tgt_canon"
            ),
            "tgt_id",
            "left",
        )
        .withColumn("s", F.coalesce("src_canon", "src_id"))
        .withColumn("t", F.coalesce("tgt_canon", "tgt_id"))
        .where(F.col("s") != F.col("t"))  # self-loops skipped
        .select(
            F.least("s", "t").alias("src_id"),
            F.greatest("s", "t").alias("tgt_id"),
            "weight",
            "description_frags",
            "keyword_arr",
            "source_ids",
            "file_paths",
        )
    )
    canon_relations = (
        rels.groupBy("src_id", "tgt_id")
        .agg(
            F.sum("weight").alias("weight"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("description_frags")))).alias(
                "description_frags"
            ),
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
        .withColumn("description", F.array_join("description_frags", GRAPH_FIELD_SEP))
        .withColumn("keywords", F.array_join("keyword_arr", ","))
    )
    return canon_entities, canon_relations
