"""Entity linking / alias canonicalization: one blocking pass over entity
names → verified alias edges → connected components → alias_map(entity_id →
canonical_id) → rewrite + re-aggregate.

This is the rebuild's Spark-idiomatic replacement for the reference's
*manual* merge API `amerge_entities` (utils_graph.py:548-766): the merge
semantics per attribute follow its strategies — descriptions join_unique,
source_ids join_unique, weight sum on re-pointed duplicate edges, self-loops
skipped (utils_graph.py:661-683) — but group discovery is automated with
blocking + CC per BASELINE.json north_rule.

Scale design (blocking → matching → clustering, as SparkER, EDBT'19):
  * one groupBy blocks every name under NUM_HASH_TABLES + 1 keys: its
    normalized surface form (`n:`) and, per table, the minimum JVM
    xxhash64 over its distinct lowercased 3-gram shingles (`k:`, MinHash
    OR-amplification) — candidate pairs ~ O(n · bucket size), never O(n²);
  * pairs are verified inside their bucket, with no join back: an `n:`
    bucket links its members outright; a `k:` pair must have equal digit
    signatures and an exact shingle-Jaccard distance below
    1 − JACCARD_THRESHOLD (shingle size, table count and threshold are
    module constants);
  * the verified edges, with both endpoints' mention counts, are collected
    behind ALIAS_EDGE_CAP and clustered on the driver (union-find); an edge
    list above the cap runs the distributed hash-min CC instead. Both routes
    give the same components and the same canonical member — the highest
    mention_count, ties to the smallest name;
  * alias_map is tiny relative to entities (only names in some alias pair),
    so the rewrite join is a broadcast;
  * the final re-aggregation reuses merge.py's groupBy shape (same skew
    handling).

The helpers are SQL strings, one expression each: a helper built from
chained `F.*` calls costs a py4j round trip per call (CLAUDE.md).
"""

from __future__ import annotations

from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from aperag_spark import GRAPH_FIELD_SEP
from aperag_spark.operators.components import connected_components, union_find


# Blocking settings: shingle size, MinHash tables, and the verified Jaccard
# similarity a candidate pair must reach.
SHINGLE_N = 3
NUM_HASH_TABLES = 6
JACCARD_THRESHOLD = 0.85

# Largest verified edge list clustered on the driver. Collecting an edge row
# (two names, two counts) and clustering it peaked at ~0.55 KB of Python heap
# per edge (tracemalloc, 100k edges between 20-character names: 53 MB), so
# the cap holds the driver's share near 110 MB; longer lists run hash-min.
ALIAS_EDGE_CAP = 200_000


def _lit(text: str) -> str:
    """`text` as a Spark SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


# Corporate-suffix synonyms for the normalized surface form. Public-knowledge
# ER practice (cf. SparkER, EDBT'19): exact-match blocking on a normalized key
# is the high-precision bulk path; the MinHash keys handle what
# normalization can't.
_SUFFIX_SYNONYMS = [
    (r"\bincorporated\b", "inc"),
    (r"\bcorporation\b", "corp"),
    (r"\blimited\b", "ltd"),
    (r"\bcompany\b", "co"),
]
_PUNCT = r"(?U)[^\w\s]"
_SPACES = r"(?U)\s+"


def _normalized_name(col: str) -> str:
    """Deterministic normalized surface form of name column `col`: lowercase,
    strip punctuation, canonical corporate suffixes, collapsed whitespace.
    `(?U)` makes `\\w`/`\\s` Unicode classes: Java's are ASCII-only, which
    would strip every CJK or Cyrillic letter."""
    x = f"regexp_replace(lower({col}), {_lit(_PUNCT)}, '')"
    for pat, rep in _SUFFIX_SYNONYMS:
        x = f"regexp_replace({x}, {_lit(pat)}, {_lit(rep)})"
    return f"trim(regexp_replace({x}, {_lit(_SPACES)}, ' '))"


# Concatenated digit runs — numbers are strong identity evidence
# ('Navarro1' vs 'Navarro121' are different entities even at high string
# similarity).
_DIGITS = "regexp_replace(entity_id, '[^0-9]', '')"

# Distinct lowercased character n-grams (a name shorter than SHINGLE_N is
# its own single shingle).
_SHINGLES = (
    f"array_distinct(transform(sequence(1, greatest(length(lc) - {SHINGLE_N - 1}, 1)), "
    f"i -> substr(lc, i, {SHINGLE_N})))"
)

# The blocking keys of a name: `n:` + its normalized form (none when that is
# empty) and, per table t, `k<t>:` + min over shingles of xxhash64(shingle, t).
_KEYS = (
    f"filter(concat(array(concat('n:', norm)), "
    f"transform(sequence(0, {NUM_HASH_TABLES - 1}), t -> concat('k', cast(t AS string), ':', "
    f"cast(array_min(transform(sh, s -> xxhash64(s, t))) AS string)))), "
    f"key -> key != 'n:')"
)

# Edges of one bucket (members sorted by id): an `n:` bucket is a star from
# its first member; a `k:` bucket keeps each pair with equal digit signatures
# whose exact shingle-Jaccard distance is below 1 - JACCARD_THRESHOLD, in
# the same double arithmetic (and strict test) as MinHashLSH's join.
# Lambda names are unique across the expression (CLAUDE.md).
_EDGE = "named_struct('a', {x}.id, 'ma', {x}.m, 'b', {y}.id, 'mb', {y}.m)"
_BUCKET_EDGES = (
    "explode(CASE WHEN key LIKE 'n:%' "
    "THEN transform(slice(members, 2, size(members)), v -> "
    + _EDGE.format(x="element_at(members, 1)", y="v")
    + ") ELSE transform(filter(transform(flatten(transform(sequence(1, size(members) - 1), "
    "i -> transform(slice(members, i + 1, size(members)), "
    "w -> named_struct('x', element_at(members, i), 'y', w)))), "
    "p -> named_struct('x', p.x, 'y', p.y, 'n', size(array_intersect(p.x.sh, p.y.sh)))), "
    "q -> q.x.d = q.y.d AND "
    "1D - q.n / (size(q.x.sh) + size(q.y.sh) - q.n) < "
    f"{1.0 - JACCARD_THRESHOLD!r}D), "
    "r -> " + _EDGE.format(x="r.x", y="r.y") + ") END) AS e"
)


def alias_edges(entities: DataFrame) -> DataFrame:
    """entities(entity_id, mention_count) → verified alias edges
    (a, b, ma, mb): a < b are entity ids, ma / mb their mention counts (a
    null count reads 0). One groupBy over every blocking key; an edge found
    in several buckets appears once per bucket."""
    names = entities.selectExpr(
        "entity_id AS id",
        "coalesce(mention_count, 0) AS m",
        "lower(entity_id) AS lc",
        f"{_normalized_name('entity_id')} AS norm",
        f"{_DIGITS} AS d",
    ).selectExpr("*", f"{_SHINGLES} AS sh")
    return (
        names.selectExpr(
            f"explode({_KEYS}) AS key", "named_struct('id', id, 'm', m, 'sh', sh, 'd', d) AS x"
        )
        .groupBy("key")
        .agg(F.expr("array_sort(collect_set(x))").alias("members"))
        .where("size(members) > 1")
        .selectExpr(_BUCKET_EDGES)
        .selectExpr("e.a", "e.b", "e.ma", "e.mb")
    )


def build_alias_map(entities: DataFrame) -> DataFrame:
    """→ alias_map(entity_id, canonical_id) for non-identity mappings only.

    Canonical representative = the member with the highest mention_count
    (most-attested surface form), ties broken lexicographically — a
    deterministic stand-in for the reference's caller-chosen target entity
    (utils_graph.py:560-571).

    The edges are collected in one action, up to ALIAS_EDGE_CAP + 1 rows. At
    or below the cap the components come from `union_find` on the driver and
    the map is built from a local list (no further job); above it, from the
    distributed `connected_components` and one min_by per component in a
    groupBy.
    """
    edges = alias_edges(entities)
    rows = edges.limit(ALIAS_EDGE_CAP + 1).collect()
    if len(rows) > ALIAS_EDGE_CAP:
        return _alias_map_hash_min(entities, edges)
    count = {}
    for a, b, ma, mb in rows:
        count[a], count[b] = ma, mb
    members = defaultdict(list)
    for node, component in union_find((a, b) for a, b, _, _ in rows).items():
        members[component].append(node)
    pairs = []
    for group in members.values():
        # Python's str order is code-point order, as Spark's UTF-8 byte order
        canonical = min(group, key=lambda n: (-count[n], n))
        pairs += [(n, canonical) for n in group if n != canonical]
    return entities.sparkSession.createDataFrame(
        sorted(pairs), "entity_id string, canonical_id string"
    )


def _alias_map_hash_min(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """build_alias_map for an edge list too long for the driver."""
    cc = connected_components(edges, src="a", dst="b")  # (node, component)
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


def _union_sorted(col: str) -> str:
    """Sorted set union of array column `col` over a group."""
    return f"array_sort(array_distinct(flatten(collect_list({col})))) AS {col}"


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
    sep = _lit(GRAPH_FIELD_SEP)

    canon_entities = (
        entities.join(am, "entity_id", "left")
        .selectExpr("*", "coalesce(canonical_id, entity_id) AS canon_id")
        .groupBy("canon_id")
        .agg(
            *[
                F.expr(e)
                for e in (
                    _union_sorted("description_frags"),
                    _union_sorted("source_ids"),
                    _union_sorted("file_paths"),
                    "sum(mention_count) AS mention_count",
                    "array_sort(collect_set(entity_id)) AS alias_names",
                    # deterministic tie-break: (mention_count, entity_id) max
                    "max_by(entity_type, struct(mention_count, entity_id)) AS entity_type",
                )
            ]
        )
        .selectExpr(
            "canon_id AS entity_id",
            "description_frags",
            "source_ids",
            "file_paths",
            "mention_count",
            "alias_names",
            "entity_type",
            f"array_join(description_frags, {sep}) AS description",
        )
    )

    arrays = ["description_frags", "keyword_arr", "source_ids", "file_paths"]
    canon_relations = (
        relations.join(
            am.selectExpr("entity_id AS src_id", "canonical_id AS src_canon"), "src_id", "left"
        )
        .join(am.selectExpr("entity_id AS tgt_id", "canonical_id AS tgt_canon"), "tgt_id", "left")
        .selectExpr(
            "coalesce(src_canon, src_id) AS s",
            "coalesce(tgt_canon, tgt_id) AS t",
            "weight",
            *arrays,
        )
        .where("s != t")  # self-loops skipped
        .selectExpr("least(s, t) AS src_id", "greatest(s, t) AS tgt_id", "weight", *arrays)
        .groupBy("src_id", "tgt_id")
        .agg(*[F.expr(e) for e in ["sum(weight) AS weight"] + [_union_sorted(c) for c in arrays]])
        .selectExpr(
            "*",
            f"array_join(description_frags, {sep}) AS description",
            "array_join(keyword_arr, ',') AS keywords",
        )
    )
    return canon_entities, canon_relations
