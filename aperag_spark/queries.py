"""Driver-facing query battery: every entry has a Spark implementation
(`QUERIES[name]`, callable (spark, sf_dir) → DataFrame) and, where
SQL-expressible, an equivalent DuckDB oracle (`ORACLES[name]`). These run
over the driver-provided parquet tables and mirror the operator shapes of
the KG pipeline (SURVEY.md §2) plus the training-data-pipeline operators
(dedup / similarity / text analysis).

Engine-agreement rules used throughout (so value-hashes match):
  * every computed column is aliased identically on both sides;
  * float sums over many rows go through DECIMAL(18,4) (exact) and are cast
    back to double — double accumulation order differs between engines;
  * floats in output are round()ed; ranks order by rounded values with
    deterministic tie-breaks;
  * counts cast to bigint (DuckDB count → BIGINT, Spark count → LONG).

`documents.text` is the stand-in corpus: words are the "entity mentions",
adjacent-word pairs the "relations" — same operator shapes as the KG
pipeline (explode → canonical pair → groupBy merge → degree → top-k), but
fully oracle-checkable. The real pipeline over `pages` is exercised by
tests/test_parity.py and bench.py.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyspark.sql.functions as F
from aperag_spark.operators.corpus import (
    DEDUP_CLUSTER_T,
    MINHASH_BUCKET_CAP,
    N_MINHASH,
    QF_MAX_TOKENS,
    QF_MIN_DISTINCT_RATIO,
    QF_MIN_STOPWORD,
    QF_MIN_TOKENS,
    QF_TOKEN_LEN_RANGE,
    STOPWORDS,
)
from aperag_spark.operators.windows import rank_bounded
from aperag_spark.session import ensure_package_shipped, memo
from pyspark.sql import DataFrame, SparkSession, Window

# The tokenizer regex, shared verbatim with the DuckDB oracles (RE2 and Java
# regex agree on this subset).
TOKEN_REGEX = r"'(?:[sdmt]|ll|ve|re)| ?\w+| ?[^\w\s]+|\s+"
_SQL_TOKEN_REGEX = TOKEN_REGEX.replace("'", "''")

_SQL_STOPWORDS = "(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"

CHUNK_SIZE = 60  # documents are 10-99 tokens; 60/10 gives multi-chunk docs
CHUNK_OVERLAP = 10
MIN_WORD_LEN = 4


# Tables whose consumers do heavy NARROW per-row work fused onto the scan
# (explodes, Arrow kernels, HOF projections, GEMM packing) → key column used
# for the deterministic spread repartition.
_SPREAD_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}


def _byte_string(spark: SparkSession, v: str) -> int:
    """Bytes in a Spark size string ("128m", "1t", "134217728b"), parsed by
    the JVM's own config parser."""
    return int(spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))


def _spread_scan(spark: SparkSession, df: DataFrame, path: str, key: str) -> DataFrame:
    """Scale-adaptive scan spread (opt guide §2.5/§6): the bench corpora are
    single-row-group parquet files, so the scan — and every narrow stage
    fused onto it (word explodes, mapInArrow kernels, per-row HOFs) — runs
    in ONE task no matter how many cores the master has. When the file is
    too small to yield >= defaultParallelism splits, hash-repartition on the
    table's unique id (deterministic, and no round-robin pre-sort) so the
    narrow compute uses every core; the exchange moves only a few MB. At
    production scale (bytes >> maxPartitionBytes · cores) the condition
    never fires and the scan keeps its natural splits."""
    import os

    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path)
                for f in fs
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        return df
    mpb = _byte_string(
        spark, spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    par = spark.sparkContext.defaultParallelism
    if (size + mpb - 1) // mpb >= par:
        return df
    return df.repartition(par, F.col(key))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_package_shipped(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    key = _SPREAD_TABLES.get(name)
    if key is not None:
        df = _spread_scan(spark, df, path, key)
    return df


def _per_corpus(spark: SparkSession, sf_dir: str, build):
    """`build(spark, sf_dir)`, memoised per (session, corpus) in the session
    memo — for frames several battery queries derive from."""
    import os

    return memo(spark, (build, os.path.abspath(sf_dir)), lambda: build(spark, sf_dir))


def _words(col="text"):
    return F.split(F.col(col), r"\s+")


# ---------------------------------------------------------------------------
# KG-shaped queries over `documents`
# ---------------------------------------------------------------------------


def q_kg_chunking(spark, sf_dir):
    """C1 chunker (operate.py:71-115 semantics) over documents.text with the
    production window/stride logic at corpus-appropriate size. The chunk
    frame feeds kg_chunk_ids and kg_token_budget too — lazily checkpointed
    in the session memo so the mapInPandas chunker runs once per corpus."""
    return _per_corpus(spark, sf_dir, _kg_chunks)


def _kg_chunks(spark, sf_dir):
    import pandas as pd

    from aperag_spark.textproc import Tokenizer, chunking_by_token_size

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = Tokenizer()
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for ch in chunking_by_token_size(
                    tok, text, overlap_token_size=CHUNK_OVERLAP, max_token_size=CHUNK_SIZE
                ):
                    if not ch["content"]:
                        continue
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "chunk_order_index": ch["chunk_order_index"],
                            "tokens": ch["tokens"],
                            "content": ch["content"],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "chunk_order_index", "tokens", "content"]
            )

    return docs.mapInPandas(
        _chunk, "doc_id bigint, chunk_order_index int, tokens int, content string"
    ).localCheckpoint(eager=False)


_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP

ORACLE_KG_CHUNKING = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_REGEX}') AS t
  FROM documents
), win AS (
  -- unnest(generate_series(...)) supports column-dependent bounds
  -- (lateral table-function args don't in DuckDB 1.0)
  SELECT doc_id, t, unnest(generate_series(1, len(t), {_STRIDE})) AS s
  FROM toks
  WHERE len(t) > 0
)
SELECT doc_id,
       CAST((s - 1) / {_STRIDE} AS INT) AS chunk_order_index,
       CAST(least({CHUNK_SIZE}, len(t) - s + 1) AS INT) AS tokens,
       -- trim char set = Python str.strip() whitespace (space \\t \\n \\r \\x0b \\x0c);
       -- bare trim() strips only spaces and would diverge on corpora with
       -- embedded newlines/tabs at chunk edges
       trim(array_to_string(list_slice(t, s, s + {CHUNK_SIZE - 1}), ''),
            concat(' ', chr(9), chr(10), chr(13), chr(11), chr(12))) AS content
FROM win
WHERE trim(array_to_string(list_slice(t, s, s + {CHUNK_SIZE - 1}), ''),
           concat(' ', chr(9), chr(10), chr(13), chr(11), chr(12))) <> ''
"""


def q_kg_chunk_ids(spark, sf_dir):
    """C3: chunk-id assignment, chunk-<md5(content)> (lightrag.py:652,
    utils.py:111-132) — JVM-native md5, no UDF."""
    chunks = q_kg_chunking(spark, sf_dir)
    return chunks.select(
        "doc_id",
        "chunk_order_index",
        F.concat(F.lit("chunk-"), F.md5(F.col("content"))).alias("chunk_id"),
    )


ORACLE_KG_CHUNK_IDS = f"""
WITH chunks AS ({ORACLE_KG_CHUNKING})
SELECT doc_id, chunk_order_index, 'chunk-' || md5(content) AS chunk_id FROM chunks
"""


def q_kg_mentions(spark, sf_dir):
    """E5-analog: mention extraction — words ≥{MIN_WORD_LEN} chars are the
    'entities' of the word-salad corpus; groupBy merge = M2."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(_words()).alias("mention"))
        .where(F.length("mention") >= MIN_WORD_LEN)
        .groupBy("mention")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("mention_count"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
    )


ORACLE_KG_MENTIONS = f"""
SELECT mention,
       CAST(count(*) AS BIGINT) AS mention_count,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS mention FROM documents)
WHERE length(mention) >= {MIN_WORD_LEN}
GROUP BY mention
"""


def q_kg_entity_merge(spark, sf_dir):
    """M4/M5 merge semantics: per entity, '<SEP>'-joined sorted-set of
    provenance (source column), min doc (operate.py:303-310 shape)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", F.explode(_words()).alias("mention"))
        .where(F.length("mention") >= MIN_WORD_LEN)
        .groupBy("mention")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), "<SEP>").alias("sources"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("mention_count"),
        )
    )


ORACLE_KG_ENTITY_MERGE = f"""
SELECT mention,
       array_to_string(list_sort(list_distinct(array_agg(source))), '<SEP>') AS sources,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(count(*) AS BIGINT) AS mention_count
FROM (SELECT doc_id, source, unnest(string_split_regex(text, '\\s+')) AS mention
      FROM documents)
WHERE length(mention) >= {MIN_WORD_LEN}
GROUP BY mention
"""


def _bigram_edges(spark, sf_dir):
    """Adjacent-word pairs → canonical (least, greatest) undirected edges
    (M8, operate.py:553-555), self-loops dropped (operate.py:206-208)."""
    # zip_with over a shifted slice, not element_at-in-lambda (see
    # operators/corpus.minhash_doc_batches for why: interpreted HOF lambdas re-evaluate split()).
    docs = _t(spark, sf_dir, "documents").select("doc_id", _words().alias("ws"))
    pairs = docs.where(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.filter(
                F.zip_with(
                    F.col("ws"),
                    F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(1))),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                ),
                lambda p: p["b"].isNotNull(),
            )
        ).alias("p"),
    )
    return (
        pairs.select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .where(
            (F.length("a") >= MIN_WORD_LEN)
            & (F.length("b") >= MIN_WORD_LEN)
            & (F.col("a") != F.col("b"))
        )
        .select(
            "doc_id",
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("tgt"),
        )
    )


_SQL_BIGRAM_EDGES = f"""
  SELECT doc_id, least(a, b) AS src, greatest(a, b) AS tgt
  FROM (
    SELECT doc_id, w[s] AS a, w[s + 1] AS b
    FROM (
      SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS s
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents) ws
      WHERE len(w) >= 2
    )
  )
  WHERE length(a) >= {MIN_WORD_LEN} AND length(b) >= {MIN_WORD_LEN} AND a <> b
"""


def q_kg_relations(spark, sf_dir):
    """M9 edge merge: weight = SUM of occurrences (operate.py:406),
    provenance = distinct doc count. FIVE downstream queries (degree,
    top-entities, one-hop, BFS, connected components) derive from this
    frame — lazily checkpointed in the session memo so each battery
    consumer reuses one execution (same pattern as the BM25/simhash
    frames)."""
    return _per_corpus(spark, sf_dir, _kg_relations)


def _kg_relations(spark, sf_dir):
    return (
        _bigram_edges(spark, sf_dir)
        .groupBy("src", "tgt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("weight"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .localCheckpoint(eager=False)
    )


ORACLE_KG_RELATIONS = f"""
SELECT src, tgt, CAST(count(*) AS BIGINT) AS weight,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM ({_SQL_BIGRAM_EDGES})
GROUP BY src, tgt
"""


def q_kg_node_degree(spark, sf_dir):
    """G1 node_degree (db/repositories/graph.py:212-229): explode canonical
    edge endpoints, one groupBy."""
    edges = q_kg_relations(spark, sf_dir)
    return (
        edges.select(F.explode(F.array("src", "tgt")).alias("entity"))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


ORACLE_KG_NODE_DEGREE = f"""
WITH edges AS ({ORACLE_KG_RELATIONS})
SELECT entity, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT src AS entity FROM edges UNION ALL SELECT tgt FROM edges)
GROUP BY entity
"""


def q_kg_top_entities(spark, sf_dir):
    """Flagship read query: top-20 entities by degree with total edge weight
    (rank=degree ranking of operate.py:1239-1368 / Q5 edge ordering)."""
    edges = q_kg_relations(spark, sf_dir)
    contrib = edges.select(
        F.explode(F.array("src", "tgt")).alias("entity"), "weight"
    )
    agg = contrib.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree"),
        F.sum("weight").cast("bigint").alias("total_weight"),
    )
    # top-k via orderBy().limit(k) → TakeOrderedAndProject (per-partition
    # heap + driver merge of k rows), NOT a global row_number window that
    # funnels the whole entity table through one task. The rank column is
    # then assigned on the 20 surviving rows only.
    keys = [("degree", "desc"), ("total_weight", "desc"), ("entity", "asc")]
    return rank_bounded(agg, keys, k=20, rank_type="bigint").select(
        "rank", "entity", "degree", "total_weight"
    )


ORACLE_KG_TOP_ENTITIES = f"""
WITH edges AS ({ORACLE_KG_RELATIONS}),
contrib AS (
  SELECT src AS entity, weight FROM edges
  UNION ALL SELECT tgt, weight FROM edges
), agg AS (
  SELECT entity, CAST(count(*) AS BIGINT) AS degree,
         CAST(sum(weight) AS BIGINT) AS total_weight
  FROM contrib GROUP BY entity
)
SELECT CAST(row_number() OVER (ORDER BY degree DESC, total_weight DESC, entity) AS BIGINT) AS rank,
       entity, degree, total_weight
FROM agg
QUALIFY rank <= 20
"""


def q_kg_one_hop(spark, sf_dir):
    """Q5 one-hop edge ranking (operate.py:1465-1525) oracle-checked: seeds
    = the top-5 entities by (degree, total_weight); every edge touching a
    seed is ranked by (edge_degree = src_degree + tgt_degree, weight) desc
    and the bounded top-50 get a sequential ord — exercised through the
    REAL operator (operators/context.one_hop_edges), including its
    TakeOrderedAndProject bound."""
    from aperag_spark.operators.context import one_hop_edges

    # the canonical edge list is read 4× downstream (touching ×2, degree,
    # seeds) — materialize it once instead of re-running the bigram explode
    edges = q_kg_relations(spark, sf_dir).select(
        F.col("src").alias("src_id"),
        F.col("tgt").alias("tgt_id"),
        F.col("weight").cast("double").alias("weight"),
    ).localCheckpoint()
    contrib = edges.select(
        F.explode(F.array("src_id", "tgt_id")).alias("entity"), "weight"
    )
    seeds = (
        contrib.groupBy("entity")
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.sum("weight").cast("bigint").alias("total_weight"),
        )
        .orderBy(F.desc("degree"), F.desc("total_weight"), F.asc("entity"))
        .limit(5)
        .select(F.col("entity").alias("entity_id"))
    )
    out = one_hop_edges(seeds, edges, max_edges=50)
    return out.select(
        "src_id",
        "tgt_id",
        F.col("weight").cast("bigint").alias("weight"),
        F.col("rank").cast("bigint").alias("edge_rank"),
        F.col("order").cast("bigint").alias("ord"),
    )


ORACLE_KG_ONE_HOP = f"""
WITH edges AS ({ORACLE_KG_RELATIONS}),
contrib AS (
  SELECT src AS entity, weight FROM edges
  UNION ALL SELECT tgt, weight FROM edges
), deg AS (
  SELECT entity, CAST(count(*) AS BIGINT) AS degree,
         CAST(sum(weight) AS BIGINT) AS total_weight
  FROM contrib GROUP BY entity
), seeds AS (
  SELECT entity FROM deg
  ORDER BY degree DESC, total_weight DESC, entity LIMIT 5
), touching AS (
  SELECT e.src, e.tgt, e.weight FROM edges e
  WHERE e.src IN (SELECT entity FROM seeds)
     OR e.tgt IN (SELECT entity FROM seeds)
), ranked AS (
  SELECT t.src, t.tgt, t.weight, ds.degree + dt.degree AS edge_rank
  FROM touching t
  JOIN deg ds ON t.src = ds.entity
  JOIN deg dt ON t.tgt = dt.entity
)
SELECT src AS src_id, tgt AS tgt_id, CAST(weight AS BIGINT) AS weight,
       CAST(edge_rank AS BIGINT) AS edge_rank,
       CAST(row_number() OVER (
         ORDER BY edge_rank DESC, weight DESC, src, tgt) AS BIGINT) AS ord
FROM ranked
QUALIFY ord <= 50
"""


TOKEN_BUDGET = 100


def q_kg_token_budget(spark, sf_dir):
    """Q6 token-budget truncation (utils.py:252-266): greedy prefix of each
    doc's chunk list while the running token total stays within budget —
    cumulative window sum + filter, the Spark form of the reference's loop."""
    chunks = q_kg_chunking(spark, sf_dir)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_order_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chunks.withColumn("cum_tokens", F.sum("tokens").over(w).cast("bigint"))
        .where(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "chunk_order_index", "tokens", "cum_tokens")
    )


ORACLE_KG_TOKEN_BUDGET = f"""
WITH chunks AS ({ORACLE_KG_CHUNKING})
SELECT doc_id, chunk_order_index, tokens,
       CAST(sum(tokens) OVER (PARTITION BY doc_id ORDER BY chunk_order_index
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
FROM chunks
QUALIFY cum_tokens <= {TOKEN_BUDGET}
"""


INC_SPLIT = 250  # batch A = doc_id < 250, batch B = rest


def _word_entity_mentions(spark, sf_dir, lo: int, hi: int):
    """documents slice → raw entity-mention rows in the KG mention schema:
    word = entity_name, source column = entity_type (the vote signal),
    'seen in doc N' = description fragment, fixed-width file_path so struct
    occurrence comparison equals string comparison in the oracle."""
    docs = _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(_words()).alias("pos", "mention"),
        )
        .where(F.length("mention") >= MIN_WORD_LEN)
        .select(
            F.col("mention").alias("entity_name"),
            F.col("source").alias("entity_type"),
            F.concat(F.lit("seen in doc "), F.col("doc_id")).alias("description"),
            F.concat(F.lit("chunk-"), F.col("doc_id")).alias("source_id"),
            F.format_string("doc-%06d", F.col("doc_id")).alias("file_path"),
            F.lit(0).alias("chunk_order_index"),
            F.col("pos").cast("int").alias("record_idx"),
        )
    )


def q_kg_incremental_merge(spark, sf_dir):
    """M7 merge-with-existing fold-in, ORACLE-CHECKED: batch A (doc_id <
    {INC_SPLIT}) is merged into an `entities` snapshot, then batch B is
    folded in with the REAL operators/incremental.merge_entities_incremental
    — existing type counts as ONE vote appended after the new types
    (operate.py:279-301), the existing RENDERED description folds in as ONE
    fragment whose embedded '<SEP>'s still count toward the summary trigger
    (operate.py:313-316), provenance unions (operate.py:285-310)."""
    from aperag_spark.operators.incremental import merge_entities_incremental
    from aperag_spark.operators.merge import merge_entities

    a = _word_entity_mentions(spark, sf_dir, 0, INC_SPLIT)
    b = _word_entity_mentions(spark, sf_dir, INC_SPLIT, 10**9)
    existing = merge_entities(a)
    out = merge_entities_incremental(b, existing)
    return out.select(
        F.col("entity_id").alias("mention"),
        "entity_type",
        "description",
        F.col("mention_count").cast("bigint").alias("mention_count"),
        F.array_join("source_ids", ",").alias("sources"),
    )


_SQL_INC_MENTIONS = f"""
  SELECT mention, source AS t,
         'seen in doc ' || doc_id AS description,
         'chunk-' || doc_id AS source_id,
         format('doc-{{:06d}}', doc_id) AS fp,
         pos, doc_id
  FROM (
    SELECT doc_id, source, w[s] AS mention, CAST(s - 1 AS INT) AS pos
    FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents),
         unnest(generate_series(1, len(w))) AS g(s)
  )
  WHERE length(mention) >= {MIN_WORD_LEN}
"""

# occurrence key: fixed-width fp + '#' + zero-padded record index — string
# min == Spark's struct(u, c, r) min because every fp has identical length
_SQL_OCCK = "fp || '#' || lpad(CAST(pos AS VARCHAR), 10, '0')"

ORACLE_KG_INCREMENTAL_MERGE = f"""
WITH m AS ({_SQL_INC_MENTIONS}),
a AS (SELECT * FROM m WHERE doc_id < {INC_SPLIT}),
b AS (SELECT * FROM m WHERE doc_id >= {INC_SPLIT}),
-- === snapshot from batch A (merge_entities semantics) ===
a_type AS (
  SELECT mention, t, count(*) AS cnt, min({_SQL_OCCK}) AS occk
  FROM a GROUP BY mention, t
),
a_winner AS (
  SELECT mention, t FROM (
    SELECT mention, t, row_number() OVER (
      PARTITION BY mention ORDER BY cnt DESC, occk) AS rn
    FROM a_type) WHERE rn = 1
),
a_agg AS (
  SELECT mention,
         list_sort(list_distinct(array_agg(description))) AS frags,
         list_sort(list_distinct(array_agg(source_id))) AS srcs,
         count(*) AS cnt
  FROM a GROUP BY mention
),
a_snap AS (
  SELECT a_agg.mention, a_winner.t AS old_type,
         CASE WHEN len(string_split(array_to_string(frags, '<SEP>'), '<SEP>')) > 1
               AND len(string_split(array_to_string(frags, '<SEP>'), '<SEP>')) >= 10
              THEN 'SUMMARY:' || substr(md5(array_to_string(frags, '<SEP>')), 1, 16)
              ELSE array_to_string(frags, '<SEP>') END AS old_desc,
         srcs AS old_srcs, cnt AS old_cnt
  FROM a_agg JOIN a_winner ON a_agg.mention = a_winner.mention
),
-- === fold batch B into the snapshot (merge_entities_incremental) ===
b_type AS (
  SELECT mention, t, count(*) AS cnt, min({_SQL_OCCK}) AS occk
  FROM b GROUP BY mention, t
),
votes AS (
  SELECT mention, t, cnt, occk FROM b_type
  UNION ALL
  -- the existing type is ONE vote that loses ties to new (its occurrence
  -- key sorts after every real one — chr(65535) > 'd')
  SELECT mention, old_type, 1, chr(65535) FROM a_snap
),
votes_g AS (
  SELECT mention, t, sum(cnt) AS cnt, min(occk) AS occk
  FROM votes GROUP BY mention, t
),
winner AS (
  SELECT mention, t AS voted_type FROM (
    SELECT mention, t, row_number() OVER (
      PARTITION BY mention ORDER BY cnt DESC, occk) AS rn
    FROM votes_g) WHERE rn = 1
),
b_agg AS (
  SELECT mention,
         list_sort(list_distinct(array_agg(description))) AS frags,
         list_sort(list_distinct(array_agg(source_id))) AS srcs,
         count(*) AS cnt
  FROM b GROUP BY mention
),
joined AS (
  SELECT coalesce(b_agg.mention, a_snap.mention) AS mention,
         list_sort(list_distinct(list_concat(
           coalesce(b_agg.frags, []),
           CASE WHEN a_snap.mention IS NULL THEN [] ELSE [a_snap.old_desc] END
         ))) AS frags,
         list_sort(list_distinct(list_concat(
           coalesce(b_agg.srcs, []), coalesce(a_snap.old_srcs, [])
         ))) AS srcs,
         coalesce(b_agg.cnt, 0) + coalesce(a_snap.old_cnt, 0) AS mention_count
  FROM b_agg FULL OUTER JOIN a_snap ON b_agg.mention = a_snap.mention
)
SELECT joined.mention, winner.voted_type AS entity_type,
       CASE WHEN len(string_split(array_to_string(frags, '<SEP>'), '<SEP>')) > 1
             AND len(string_split(array_to_string(frags, '<SEP>'), '<SEP>')) >= 10
            THEN 'SUMMARY:' || substr(md5(array_to_string(frags, '<SEP>')), 1, 16)
            ELSE array_to_string(frags, '<SEP>') END AS description,
       CAST(mention_count AS BIGINT) AS mention_count,
       array_to_string(srcs, ',') AS sources
FROM joined JOIN winner ON joined.mention = winner.mention
"""


def _sql_render_desc(frags_expr: str) -> str:
    """DuckDB rendering of merge.py:_summarized_by_string over a sorted
    fragment list expression: SUMMARY:md5[:16] when the '<SEP>'-joined
    string splits into >= {FORCE_LLM_SUMMARY_ON_MERGE} fragments."""
    j = f"array_to_string({frags_expr}, '<SEP>')"
    n = f"len(string_split({j}, '<SEP>'))"
    return (
        f"CASE WHEN {n} > 1 AND {n} >= 10 "
        f"THEN 'SUMMARY:' || substr(md5({j}), 1, 16) ELSE {j} END"
    )


def _word_relation_mentions(spark, sf_dir, lo: int, hi: int):
    """documents slice → raw relation rows in the KG relation schema:
    adjacent-word canonical pairs as endpoints, 'seen in doc N' description,
    the endpoints' 2-letter prefixes as keywords (exercising the ','-split
    union of operate.py:411-422), weight 1.0 per occurrence."""
    e = _bigram_edges(spark, sf_dir).where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )
    return e.select(
        F.col("src").alias("src_id"),
        F.col("tgt").alias("tgt_id"),
        F.lit(1.0).alias("weight"),
        F.concat(F.lit("seen in doc "), F.col("doc_id")).alias("description"),
        F.concat(
            F.substring("src", 1, 2), F.lit(","), F.substring("tgt", 1, 2)
        ).alias("keywords"),
        F.concat(F.lit("chunk-"), F.col("doc_id")).alias("source_id"),
        F.format_string("doc-%06d", F.col("doc_id")).alias("file_path"),
        F.lit(0).alias("chunk_order_index"),
        F.lit(0).alias("record_idx"),
    )


def q_kg_incremental_relations(spark, sf_dir):
    """M7 relation-side merge-with-existing fold, ORACLE-CHECKED (the entity
    side is kg_incremental_merge): batch A (doc_id < {INC_SPLIT}) merges
    into a `relations` snapshot, then batch B folds in with the REAL
    operators/incremental.merge_relations_incremental — weight SUM of new +
    existing (operate.py:406), existing RENDERED description as ONE fragment
    (operate.py:372-429), keyword ','-split union, provenance union."""
    from aperag_spark.operators.incremental import merge_relations_incremental
    from aperag_spark.operators.merge import merge_relations

    a = _word_relation_mentions(spark, sf_dir, 0, INC_SPLIT)
    b = _word_relation_mentions(spark, sf_dir, INC_SPLIT, 10**9)
    existing = merge_relations(a)
    out = merge_relations_incremental(b, existing)
    return out.select(
        "src_id",
        "tgt_id",
        F.col("weight").cast("bigint").alias("weight"),
        "description",
        "keywords",
        F.array_join("source_ids", ",").alias("sources"),
    )


_SQL_INC_REL_MENTIONS = f"""
  SELECT doc_id, src, tgt,
         'seen in doc ' || doc_id AS description,
         substr(src, 1, 2) || ',' || substr(tgt, 1, 2) AS kw,
         'chunk-' || doc_id AS source_id
  FROM ({_SQL_BIGRAM_EDGES})
"""

# merge_relations over one batch: weight = occurrence count (each raw row
# carries weight 1.0), sorted-distinct fragments / keyword union / sources
_SQL_REL_AGG = """
  SELECT src, tgt,
         CAST(count(*) AS DOUBLE) AS w,
         list_sort(list_distinct(array_agg(description))) AS frags,
         list_sort(list_distinct(flatten(array_agg(string_split(kw, ','))))) AS kws,
         list_sort(list_distinct(array_agg(source_id))) AS srcs
  FROM __SRC__ GROUP BY src, tgt
"""

ORACLE_KG_INCREMENTAL_RELATIONS = f"""
WITH m AS ({_SQL_INC_REL_MENTIONS}),
a AS (SELECT * FROM m WHERE doc_id < {INC_SPLIT}),
b AS (SELECT * FROM m WHERE doc_id >= {INC_SPLIT}),
-- === snapshot from batch A (merge_relations semantics) ===
a_agg AS ({_SQL_REL_AGG.replace('__SRC__', 'a')}),
a_snap AS (
  SELECT src, tgt, w AS old_w,
         {_sql_render_desc('frags')} AS old_desc,
         kws AS old_kws, srcs AS old_srcs
  FROM a_agg
),
-- === fold batch B into the snapshot (merge_relations_incremental) ===
b_agg AS ({_SQL_REL_AGG.replace('__SRC__', 'b')}),
joined AS (
  SELECT coalesce(b_agg.src, a_snap.src) AS src_id,
         coalesce(b_agg.tgt, a_snap.tgt) AS tgt_id,
         coalesce(b_agg.w, 0) + coalesce(a_snap.old_w, 0) AS weight,
         list_sort(list_distinct(list_concat(
           coalesce(b_agg.frags, []),
           CASE WHEN a_snap.src IS NULL THEN [] ELSE [a_snap.old_desc] END
         ))) AS frags,
         list_sort(list_distinct(list_concat(
           coalesce(b_agg.kws, []), coalesce(a_snap.old_kws, [])
         ))) AS kws,
         list_sort(list_distinct(list_concat(
           coalesce(b_agg.srcs, []), coalesce(a_snap.old_srcs, [])
         ))) AS srcs
  FROM b_agg FULL OUTER JOIN a_snap
    ON b_agg.src = a_snap.src AND b_agg.tgt = a_snap.tgt
)
SELECT src_id, tgt_id, CAST(weight AS BIGINT) AS weight,
       {_sql_render_desc('frags')} AS description,
       array_to_string(kws, ',') AS keywords,
       array_to_string(srcs, ',') AS sources
FROM joined
"""


def q_kg_curated_merge(spark, sf_dir):
    """M14 amerge_entities strategy matrix, ORACLE-CHECKED (utils_graph.py:
    548-766): merge the #2/#3 entities (by mention_count desc, name asc)
    into the #1 entity with an explicit per-field strategy covering
    concatenate (description), keep_last (entity_type), join_unique
    (source_id) and keep_first (file_path); re-pointed edge collisions merge
    under the fixed MAX-weight matrix (utils_graph.py:668-676) — all five
    strategies in one query. The named-entity selection is a bounded
    driver-side collect (3 rows), matching the reference's driver-side verb.
    Output: every post-merge edge touching the target, joined with the
    merged target entity's attributes."""
    from aperag_spark.operators.maintenance import merge_entities_curated
    from aperag_spark.operators.merge import merge_entities, merge_relations

    em = _word_entity_mentions(spark, sf_dir, 0, 10**9)
    # named-entity selection needs only the per-name counts — one cheap
    # groupBy, not the full merge aggregation over the whole corpus
    top = (
        em.groupBy("entity_name")
        .agg(F.count(F.lit(1)).alias("mention_count"))
        .orderBy(F.desc("mention_count"), F.asc("entity_name"))
        .limit(3)
        .collect()
    )
    target, s1, s2 = (r["entity_name"] for r in top)
    named = [target, s1, s2]
    # the output reads only the merged target row and the post-merge edges
    # touching it, and no pair outside {target, s1, s2} can come to touch
    # the target through rewiring — so both merges run on the named slice
    # only (value-identical to merging the full corpus first; the DuckDB
    # oracle computes the full-corpus form)
    # merge_entities is single-pass over its input, but
    # merge_entities_curated reads `ents` twice (the driver-side collect of
    # the named rows, then the rewritten table); checkpoint the tiny named
    # slice so the 5M-row mention explode behind it runs once, not twice
    em_named = em.where(F.col("entity_name").isin(named)).localCheckpoint(eager=False)
    ents = merge_entities(em_named)
    rm = _word_relation_mentions(spark, sf_dir, 0, 10**9)
    # merge_entities_curated's rewire plan references `relations` through
    # several legs (untouched pass-through + colliding re-aggregation +
    # union); checkpoint the tiny named slice so the 5M-row bigram explode
    # behind it runs once, not once per leg
    rels = (
        merge_relations(
            rm.where(F.col("src_id").isin(named) | F.col("tgt_id").isin(named))
        )
        .drop("pre_summary_description", "first_occ")
        .localCheckpoint(eager=False)
    )
    ents2, rels2 = merge_entities_curated(
        ents,
        rels,
        [s1, s2],
        target,
        merge_strategy={
            "description": "concatenate",
            "entity_type": "keep_last",
            "source_id": "join_unique",
            "file_path": "keep_first",
        },
    )
    trow = ents2.where(F.col("entity_id") == target).select(
        F.col("entity_type").alias("target_type"),
        F.col("description").alias("target_description"),
        F.array_join("source_ids", "<SEP>").alias("target_sources"),
        F.array_join("file_paths", "<SEP>").alias("target_files"),
        F.col("mention_count").cast("bigint").alias("target_mentions"),
    )
    return (
        rels2.where((F.col("src_id") == target) | (F.col("tgt_id") == target))
        .select(
            "src_id",
            "tgt_id",
            F.col("weight").cast("bigint").alias("weight"),
            F.col("description").alias("rel_description"),
            F.col("keywords").alias("rel_keywords"),
            F.array_join("source_ids", ",").alias("rel_sources"),
        )
        .crossJoin(F.broadcast(trow))
    )


ORACLE_KG_CURATED_MERGE = f"""
WITH em AS ({_SQL_INC_MENTIONS}),
-- === merge_entities over the full corpus ===
e_type AS (
  SELECT mention, t, count(*) AS cnt, min({_SQL_OCCK}) AS occk
  FROM em GROUP BY mention, t
),
e_winner AS (
  SELECT mention, t FROM (
    SELECT mention, t, row_number() OVER (
      PARTITION BY mention ORDER BY cnt DESC, occk) AS rn
    FROM e_type) WHERE rn = 1
),
e_agg AS (
  SELECT mention,
         list_sort(list_distinct(array_agg(description))) AS frags,
         list_sort(list_distinct(array_agg(source_id))) AS srcs,
         list_sort(list_distinct(array_agg(fp))) AS fps,
         count(*) AS cnt
  FROM em GROUP BY mention
),
ent AS (
  SELECT e_agg.mention, e_winner.t AS etype,
         {_sql_render_desc('frags')} AS edesc,
         srcs, fps, cnt
  FROM e_agg JOIN e_winner ON e_agg.mention = e_winner.mention
),
-- === named-entity selection: #1 = target, #2/#3 = sources (arg order) ===
sel AS (
  SELECT max(CASE WHEN rn = 1 THEN mention END) AS tgt_name,
         max(CASE WHEN rn = 2 THEN mention END) AS s1,
         max(CASE WHEN rn = 3 THEN mention END) AS s2
  FROM (SELECT mention, row_number() OVER (ORDER BY cnt DESC, mention) AS rn
        FROM ent) WHERE rn <= 3
),
-- === _merge_entity_attributes in data_list order [s1, s2, target] ===
tent AS (
  SELECT sel.tgt_name,
         -- keep_last over truthy types = existing target's type
         (SELECT etype FROM ent WHERE mention = sel.tgt_name) AS target_type,
         -- concatenate in list order
         (SELECT edesc FROM ent WHERE mention = sel.s1) || chr(10) || chr(10) ||
         (SELECT edesc FROM ent WHERE mention = sel.s2) || chr(10) || chr(10) ||
         (SELECT edesc FROM ent WHERE mention = sel.tgt_name) AS target_description,
         -- join_unique over the three <SEP>-joined source_id strings
         array_to_string(list_sort(list_distinct(
           (SELECT srcs FROM ent WHERE mention = sel.s1) ||
           (SELECT srcs FROM ent WHERE mention = sel.s2) ||
           (SELECT srcs FROM ent WHERE mention = sel.tgt_name)
         )), '<SEP>') AS target_sources,
         -- keep_first = s1's file_path string
         array_to_string((SELECT fps FROM ent WHERE mention = sel.s1), '<SEP>')
           AS target_files,
         CAST((SELECT sum(cnt) FROM ent
               WHERE mention IN (sel.s1, sel.s2, sel.tgt_name)) AS BIGINT)
           AS target_mentions
  FROM sel
),
-- === merge_relations over the full corpus, then rewire and re-merge ===
rm AS ({_SQL_INC_REL_MENTIONS}),
rel AS (
  SELECT src, tgt,
         CAST(count(*) AS DOUBLE) AS w,
         list_sort(list_distinct(array_agg(description))) AS frags,
         list_sort(list_distinct(flatten(array_agg(string_split(kw, ','))))) AS kws,
         list_sort(list_distinct(array_agg(source_id))) AS srcs
  FROM rm GROUP BY src, tgt
),
rendered AS (
  SELECT src, tgt, w, {_sql_render_desc('frags')} AS rdesc, kws, srcs FROM rel
),
rewired AS (
  SELECT r.src AS orig_src, r.tgt AS orig_tgt,
         CASE WHEN r.src IN (sel.s1, sel.s2) THEN sel.tgt_name ELSE r.src END AS s,
         CASE WHEN r.tgt IN (sel.s1, sel.s2) THEN sel.tgt_name ELSE r.tgt END AS t,
         r.w, r.rdesc, r.kws, r.srcs, sel.tgt_name
  FROM rendered r CROSS JOIN sel
),
canon AS (
  SELECT least(s, t) AS src_id, greatest(s, t) AS tgt_id,
         orig_src, orig_tgt, w, rdesc, kws, srcs, tgt_name
  FROM rewired WHERE s <> t
),
agg AS (
  SELECT src_id, tgt_id,
         CAST(max(w) AS BIGINT) AS weight,
         string_agg(rdesc, chr(10) || chr(10)
                    ORDER BY orig_src, orig_tgt) AS rel_description,
         array_to_string(list_sort(list_distinct(flatten(array_agg(kws)))), ',')
           AS rel_keywords,
         array_to_string(list_sort(list_distinct(flatten(array_agg(srcs)))), ',')
           AS rel_sources
  FROM canon WHERE src_id = tgt_name OR tgt_id = tgt_name
  GROUP BY src_id, tgt_id
)
SELECT agg.*, tent.target_type, tent.target_description,
       tent.target_sources, tent.target_files, tent.target_mentions
FROM agg CROSS JOIN tent
"""


def q_kg_connected_components(spark, sf_dir):
    """M1 connected components, ORACLE-CHECKED: the distributed hash-min +
    pointer-jumping operator (operators/components.py — M13's alias route
    for edge lists above linking.ALIAS_EDGE_CAP, and near-dup clustering's
    engine) over a fragmented word graph (bigram edges restricted to
    same-first-letter pairs → several components), vs a recursive-CTE
    transitive closure with min-label in DuckDB. Component id = min node id
    on both sides."""
    from aperag_spark.operators.components import connected_components

    edges = (
        q_kg_relations(spark, sf_dir)
        .where(F.substring("src", 1, 1) == F.substring("tgt", 1, 1))
        .select("src", "tgt")
    )
    cc = connected_components(edges, src="src", dst="tgt")
    return cc.select(F.col("node").alias("entity"), "component")


ORACLE_KG_CONNECTED_COMPONENTS = """
WITH RECURSIVE edges AS ({REL}),
e2 AS (SELECT src, tgt FROM edges WHERE substr(src, 1, 1) = substr(tgt, 1, 1)),
nodes AS (SELECT src AS n FROM e2 UNION SELECT tgt FROM e2),
sym AS (SELECT src AS a, tgt AS b FROM e2 UNION SELECT tgt, src FROM e2),
walk AS (
  SELECT n AS node, n AS reach FROM nodes
  UNION
  SELECT w.node, s.b FROM walk w JOIN sym s ON w.reach = s.a
)
SELECT node AS entity, min(reach) AS component FROM walk GROUP BY node
"""


ORACLE_KG_CONNECTED_COMPONENTS = ORACLE_KG_CONNECTED_COMPONENTS.replace("{REL}", ORACLE_KG_RELATIONS)


BFS_SEED = "spark"
BFS_DEPTH = 2


def q_kg_bfs(spark, sf_dir):
    """G6 bounded BFS subgraph (base.py:525-538, pg impl
    kg/pg_ops_sync_graph_storage.py:285-388): iterative broadcast joins,
    one round per depth; oracle is a recursive CTE with min(depth)."""
    from aperag_spark.operators.graph_query import bfs_subgraph

    edges = q_kg_relations(spark, sf_dir).select(
        F.col("src").alias("src_id"), F.col("tgt").alias("tgt_id")
    )
    out = bfs_subgraph(edges, BFS_SEED, max_depth=BFS_DEPTH, max_nodes=1_000_000)
    return out.select(
        F.col("entity_id").alias("entity"), F.col("depth").cast("int").alias("depth")
    )


ORACLE_KG_BFS = f"""
WITH RECURSIVE edges AS ({ORACLE_KG_RELATIONS}),
sym AS (SELECT src AS a, tgt AS b FROM edges UNION ALL SELECT tgt, src FROM edges),
bfs AS (
  SELECT '{BFS_SEED}' AS node, 0 AS depth
  UNION ALL
  SELECT s.b, bfs.depth + 1 FROM bfs JOIN sym s ON bfs.node = s.a
  WHERE bfs.depth < {BFS_DEPTH}
)
SELECT node AS entity, CAST(min(depth) AS INT) AS depth FROM bfs GROUP BY node
"""


# ---------------------------------------------------------------------------
# Deduplication (training-data pipeline operators)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content (one shuffle on a 32-byte key)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
"""


# (the former pure-JVM _shingle_col zip_with builder was replaced by the
# Arrow kernel in operators/corpus.py — HOF chains run interpreted)
_SQL_SHINGLES = """
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> array_to_string(list_slice(w, i, i + 2), ' ')
         )) AS shingles
  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)
  WHERE len(w) >= 3
"""


_CORPUS_STAGES_PREFIX = "aperag_corpus_stages_"


def _sweep_dead_stage_dirs(base: str) -> None:
    """Remove the corpus stage dirs under `base` left by processes that are
    no longer alive (a driver killed before exit leaks its tmpfs tables)."""
    import os
    import shutil

    for name in os.listdir(base):
        pid = name[len(_CORPUS_STAGES_PREFIX):]
        if not (name.startswith(_CORPUS_STAGES_PREFIX) and pid.isdigit()):
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user


def _corpus_stage(spark, sf_dir, stage: str) -> DataFrame:
    """Read `stage` from the session-scoped STAGED corpus pipeline for
    sf_dir (plans/corpus.py), building missing prefix stages on first use.
    The battery's dedup consumers (signatures / candidates / cluster /
    select) share ONE materialization of the MinHash+LSH+CC chain instead
    of re-executing it per query — the same staged-write treatment the KG
    side gets from plans/pipeline.py, which is exactly what a 100 TB corpus
    build does (materialize the dedup verdict once, every consumer reads
    the stage table). Manifest checks make rebuilds no-ops; the stage dir
    is keyed by pid + corpus path, so parallel drivers don't collide."""
    import os
    import re
    import tempfile

    from aperag_spark.plans.corpus import run_corpus_pipeline

    key = os.path.abspath(sf_dir)
    doc_path = os.path.join(key, "documents.parquet")
    # fingerprint = path + corpus CONTENT identity (total size + newest
    # mtime): /tmp outlives processes and pids recycle, so a stale stage
    # dir must invalidate when documents.parquet is regenerated, not be
    # served because the path still matches.
    total, newest = 0, 0
    if os.path.isdir(doc_path):
        for root, _dirs, files in os.walk(doc_path):
            for fn in files:
                st = os.stat(os.path.join(root, fn))
                total += st.st_size
                newest = max(newest, st.st_mtime_ns)
    elif os.path.exists(doc_path):
        st = os.stat(doc_path)
        total, newest = st.st_size, st.st_mtime_ns
    fingerprint = f"{key}|{total}|{newest}"
    # stage tables on tmpfs when available — same convention as bench.py's
    # KG stage outputs (the stage store at cluster scale is a distributed
    # filesystem; this sandbox's disk-backed /tmp has bursty write latency
    # that lands entirely on the biggest stage write)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    pid_dir = os.path.join(base, f"{_CORPUS_STAGES_PREFIX}{os.getpid()}")
    if not os.path.isdir(pid_dir):
        _sweep_dead_stage_dirs(base)
    out_dir = os.path.join(pid_dir, re.sub(r"[^A-Za-z0-9._-]+", "_", key).strip("_"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    res = run_corpus_pipeline(
        spark, docs, out_dir, input_fingerprint=fingerprint, upto=stage
    )
    return res[stage]


def q_dedup_minhash_sig(spark, sf_dir):
    """MinHash signatures: per (doc, seed), min over shingles of
    md5(shingle:seed). Portable hash (md5) so the oracle reproduces it;
    at production scale this is the same shape with xxhash64. Computed by
    the combined Arrow kernel (operators/corpus.minhash_doc_batches) — the
    former pure-JVM form (8 interpreted transform/array_min HOF passes over
    a zip_with shingle build) was measured value-identical and ~20% slower
    — materialized once via the staged corpus pipeline."""
    md = _corpus_stage(spark, sf_dir, "minhash")
    return md.select(
        "doc_id", F.posexplode("mh").alias("seed", "minhash")
    ).select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")


ORACLE_DEDUP_MINHASH_SIG = f"""
WITH sh AS ({_SQL_SHINGLES})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(g.generate_series AS INT) AS seed,
       list_aggregate(
         list_transform(shingles, s -> md5(s || ':' || g.generate_series)), 'min'
       ) AS minhash
FROM sh, generate_series(0, {N_MINHASH - 1}) g
WHERE len(shingles) >= 1
"""


def q_dedup_minhash_candidates(spark, sf_dir):
    """LSH banding + verify (operators/corpus.minhash_candidates): docs
    sharing any (seed, minhash) bucket become candidate pairs via
    bucket-LOCAL pair generation (sizes ≤ MINHASH_BUCKET_CAP bound the
    quadratic blow-up — no all-pairs comparison ever happens), then exact
    shingle-Jaccard per pair over PRE-HASHED 16-hex verify tokens
    (constant-width shuffle keys; the oracle applies the same hashing, so
    both engines agree exactly). Served from the staged corpus pipeline's
    `candidates` table — one materialization for this query, the cluster
    verdict, and the corpus-select endpoint."""
    return _corpus_stage(spark, sf_dir, "candidates")


ORACLE_DEDUP_MINHASH_CANDIDATES = f"""
WITH sig AS ({ORACLE_DEDUP_MINHASH_SIG}),
shraw AS ({_SQL_SHINGLES}),
-- mirror of the Spark side's pre-hashed verify: 16-hex-char md5 prefixes
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS hs
  FROM shraw
),
ok_buckets AS (
  -- mirror of MINHASH_BUCKET_CAP: degenerate buckets emit no pairs
  SELECT seed, minhash FROM sig GROUP BY seed, minhash
  HAVING count(*) BETWEEN 2 AND {MINHASH_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM sig x JOIN sig y ON x.seed = y.seed AND x.minhash = y.minhash
  JOIN ok_buckets ob ON x.seed = ob.seed AND x.minhash = ob.minhash
  WHERE x.doc_id < y.doc_id
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       round(len(list_intersect(a.hs, b.hs))::DOUBLE
             / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
FROM pairs JOIN sh a ON pairs.doc_a = a.doc_id JOIN sh b ON pairs.doc_b = b.doc_id
"""


def q_dedup_minhash_bucket_stats(spark, sf_dir):
    """LSH bucket observability: per band (seed), how many buckets exist,
    how many are pair-producing, and how many exceed MINHASH_BUCKET_CAP and
    are therefore DROPPED by q_dedup_minhash_candidates — the 'no silent
    caps' counterpart of the cap itself."""
    sig = q_dedup_minhash_sig(spark, sf_dir)
    sizes = sig.groupBy("seed", "minhash").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum((F.col("sz") > 1).cast("int")).cast("bigint").alias("n_multi"),
            F.sum((F.col("sz") > MINHASH_BUCKET_CAP).cast("int"))
            .cast("bigint")
            .alias("n_dropped"),
            F.max("sz").cast("bigint").alias("max_bucket"),
        )
        .select(F.col("seed").cast("int").alias("seed"), "n_buckets", "n_multi", "n_dropped", "max_bucket")
    )


ORACLE_DEDUP_MINHASH_BUCKET_STATS = f"""
WITH sig AS ({ORACLE_DEDUP_MINHASH_SIG}),
sizes AS (SELECT seed, minhash, count(*) AS sz FROM sig GROUP BY seed, minhash)
SELECT CAST(seed AS INT) AS seed,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
       CAST(sum(CASE WHEN sz > {MINHASH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(max(sz) AS BIGINT) AS max_bucket
FROM sizes GROUP BY seed
"""


def q_dedup_cluster(spark, sf_dir):
    """The dedup family's FINAL stage — detect -> cluster -> select
    canonical -> keep/purge verdict, the shape a training-data pipeline
    actually executes (a pair list alone dedupes nothing): MinHash-LSH
    candidate pairs verified by exact shingle-Jaccard become edges at
    >= DEDUP_CLUSTER_T; the M1 connected-components operator (hash-min +
    pointer jumping — the same engine that collapses entity aliases)
    groups transitive duplicates (A~B, B~C => one cluster even if A,C
    never met in a bucket); the canonical survivor per cluster is the min
    doc_id; every corpus doc gets (canonical_id, keep).

    Scale shape: the edge list is the bucket-capped verified pair list
    (tiny vs the corpus); CC iterates O(log d) rounds on it; the final
    verdict is one doc_id-keyed left join. Served from the staged corpus
    pipeline's `clusters` table (operators/corpus.cluster_verdict)."""
    return _corpus_stage(spark, sf_dir, "clusters")


ORACLE_DEDUP_CLUSTER = f"""
WITH RECURSIVE cand AS ({ORACLE_DEDUP_MINHASH_CANDIDATES}),
dup AS (SELECT doc_a, doc_b FROM cand WHERE jaccard >= {DEDUP_CLUSTER_T}),
nodes AS (SELECT doc_a AS n FROM dup UNION SELECT doc_b FROM dup),
sym AS (SELECT doc_a AS a, doc_b AS b FROM dup UNION SELECT doc_b, doc_a FROM dup),
walk AS (
  SELECT n AS node, n AS reach FROM nodes
  UNION
  SELECT w.node, s.b FROM walk w JOIN sym s ON w.reach = s.a
),
comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS canonical_id,
       coalesce(c.component, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


CHAR_NGRAM_N = 5
NGRAM_ANCHORS = 8  # smallest-md5 grams used as blocking anchors per doc
NGRAM_BUCKET_CAP = 64  # boilerplate-anchor guard, same rationale as MINHASH_BUCKET_CAP
NGRAM_JACCARD_T = 0.5
NGRAM_SKETCH_K = 64  # bottom-k sketch width for the verify prefilter
# sketch-estimate gate: ~2.4 sigma below NGRAM_JACCARD_T at k=64
# (stderr ~ sqrt(J(1-J)/k) ~ 0.062 at J=0.5), so recall loss on true
# >=0.5 pairs is negligible while sub-threshold candidate pairs never
# ship their full gram arrays.
NGRAM_PREF_T = 0.35

_NGRAM_HS_SCHEMA = "doc_id bigint, hs array<string>"


def _ngram_hs_batches(it):
    """Arrow-side char-5-gram tokenizer: per doc, the distinct lowercase
    5-grams as SORTED 16-hex md5 prefixes. A Python set + hashlib here
    beats the pure-JVM formulation by ~5x: higher-order functions
    (zip_with/transform) fall out of whole-stage codegen, so the chained
    shifted-slice gram build ran interpreted with the char-split array
    re-materialized per reference (measured 7.5s vs 1.4s at sf0.1).
    Emitting the tokens pre-sorted makes every downstream slice(hs,1,k)
    a bottom-k sketch for free."""
    import hashlib

    import pyarrow as pa

    n = CHAR_NGRAM_N
    for batch in it:
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        out = [
            sorted(
                hashlib.md5(g.encode()).hexdigest()[:16]
                for g in {lt[i : i + n] for i in range(len(lt) - n + 1)}
            )
            for lt in ((t or "").lower() for t in texts)
        ]
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(out, pa.list_(pa.string()))],
            ["doc_id", "hs"],
        )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Character-n-gram Jaccard near-dup (the brief's fourth dedup family,
    distinct from word-shingle MinHash): per doc, the NGRAM_ANCHORS
    smallest-md5 character 5-grams act as blocking anchors (an inverted
    anchor index, the classic rare-feature blocking); docs sharing an
    anchor become candidate pairs (bucket-capped like MinHash-LSH); a
    bottom-k sketch estimate gates the pairs; exact Jaccard over md5-prefix
    gram tokens keeps pairs >= 0.5.

    Scale shape (the 100 TB story): the gram build is a narrow Arrow map;
    the anchor explode is NGRAM_ANCHORS-wide; pair-gen is the same bounded
    sum-of-bucket^2 as q_dedup_minhash_candidates; candidate pairs first
    join only fixed-width bottom-k sketches (NGRAM_SKETCH_K tokens x 16
    bytes, independent of document length), and the full O(doc-length)
    gram arrays ship ONLY for sketch-plausible pairs — on long-document
    corpora the prefilter caps the dominant shuffle at sketch width."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    # one hashed representation (sorted 16-hex md5 prefixes) drives the
    # anchor selection, the sketch prefilter, AND the verify join;
    # materialized once — every consumer would otherwise re-run the map.
    hs = (
        docs.mapInArrow(_ngram_hs_batches, _NGRAM_HS_SCHEMA)
        .where(F.size("hs") >= 1)
        .localCheckpoint()
    )
    anchors = hs.select(
        "doc_id", F.explode(F.slice("hs", 1, NGRAM_ANCHORS)).alias("anchor")
    )
    buckets = (
        anchors.groupBy("anchor")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("members"))
        .where((F.size("members") > 1) & (F.size("members") <= NGRAM_BUCKET_CAP))
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.size("members") - 1),
                        lambda i: F.transform(
                            F.slice(F.col("members"), i + 1, F.size("members")),
                            lambda m: F.struct(
                                F.element_at("members", i).alias("doc_a"),
                                m.alias("doc_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    # bottom-k sketch prefilter: hs is sorted, so slice(hs,1,k) IS the
    # bottom-k sketch. Standard estimator: of the k smallest hashes of the
    # UNION, the fraction present in both sketches estimates Jaccard (and
    # is exact when both docs have < k distinct grams).
    sk = hs.select("doc_id", F.slice("hs", 1, NGRAM_SKETCH_K).alias("sk"))
    merged = F.slice(
        F.array_sort(F.array_union("sk_a", "sk_b")), 1, NGRAM_SKETCH_K
    )
    est = F.size(F.array_intersect(merged, F.array_intersect("sk_a", "sk_b"))) / F.size(
        merged
    )
    # est's union+sort+double-intersect dominates the pair stage when
    # evaluated on every candidate (measured 2.85s over 49k pairs at
    # sf0.1). A NECESSARY condition computed from ONE intersect gates it:
    # est's numerator ≤ |sk_a ∩ sk_b| and its denominator ≥
    # min(k, max(|sk_a|, |sk_b|)), so est ≥ T implies the rough test;
    # CaseWhen short-circuits, so est runs only on the ~7% that pass
    # (Filter's And does NOT short-circuit-order reliably — measured).
    # Output pairs are identical; the oracle mirrors only the est filter.
    inter_sz = F.size(F.array_intersect("sk_a", "sk_b"))
    need = F.lit(NGRAM_PREF_T) * F.least(
        F.lit(NGRAM_SKETCH_K), F.greatest(F.size("sk_a"), F.size("sk_b"))
    )
    gate = F.when(inter_sz >= need, est >= NGRAM_PREF_T).otherwise(F.lit(False))
    # join strategy PINNED to shuffled-hash building the per-doc side: the
    # planner's size estimates after the bucket aggregation are wrong
    # enough that at 500k docs it chose to BROADCAST a >1 GB side and died
    # on spark.driver.maxResultSize (found by scripts/corpus_scale_probe.py;
    # same rationale as operators/corpus.verify_jaccard). Shuffled-hash
    # builds only each task's slice of the bounded sketch/gram tables.
    survivors = (
        pairs.join(
            sk.select(F.col("doc_id").alias("doc_a"), F.col("sk").alias("sk_a")).hint(
                "shuffle_hash"
            ),
            "doc_a",
        )
        .join(
            sk.select(F.col("doc_id").alias("doc_b"), F.col("sk").alias("sk_b")).hint(
                "shuffle_hash"
            ),
            "doc_b",
        )
        .where(gate)
        .select("doc_a", "doc_b")
    )
    # |A∪B| = |A|+|B|−|A∩B| (hs is set-derived → distinct): drops the
    # per-pair array_union set-build over the full O(doc-length) gram
    # arrays; value-identical to the oracle's len(list_distinct(concat)).
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        survivors.join(
            hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")).hint(
                "shuffle_hash"
            ),
            "doc_a",
        )
        .join(
            hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")).hint(
                "shuffle_hash"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter / (F.size("hs_a") + F.size("hs_b") - inter),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= NGRAM_JACCARD_T)
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH hs AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(
           generate_series(1, length(lower(text)) - {CHAR_NGRAM_N - 1}),
           i -> substr(md5(substr(lower(text), i, {CHAR_NGRAM_N})), 1, 16)
         ))) AS hs
  FROM documents
  WHERE length(lower(text)) >= {CHAR_NGRAM_N}
),
anch AS (
  SELECT doc_id, unnest(list_slice(hs, 1, {NGRAM_ANCHORS})) AS anchor FROM hs
),
ok_anchors AS (
  SELECT anchor FROM anch GROUP BY anchor
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {NGRAM_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM anch x JOIN anch y ON x.anchor = y.anchor
  JOIN ok_anchors ob ON x.anchor = ob.anchor
  WHERE x.doc_id < y.doc_id
),
pre AS (
  SELECT doc_a, doc_b
  FROM pairs
  JOIN (SELECT doc_id, list_slice(hs, 1, {NGRAM_SKETCH_K}) AS sk FROM hs) a
    ON pairs.doc_a = a.doc_id
  JOIN (SELECT doc_id, list_slice(hs, 1, {NGRAM_SKETCH_K}) AS sk FROM hs) b
    ON pairs.doc_b = b.doc_id
  WHERE len(list_intersect(
          list_slice(list_sort(list_distinct(list_concat(a.sk, b.sk))), 1, {NGRAM_SKETCH_K}),
          list_intersect(a.sk, b.sk)))::DOUBLE
        / len(list_slice(list_sort(list_distinct(list_concat(a.sk, b.sk))), 1, {NGRAM_SKETCH_K}))
        >= {NGRAM_PREF_T}
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b, jaccard
FROM (
  SELECT doc_a, doc_b,
         round(len(list_intersect(a.hs, b.hs))::DOUBLE
               / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
  FROM pre JOIN hs a ON pre.doc_a = a.doc_id JOIN hs b ON pre.doc_b = b.doc_id
)
WHERE jaccard >= {NGRAM_JACCARD_T}
"""


def q_dedup_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint per doc: per-word 32-bit hash
    (md5-derived, portable), occurrence-weighted bit vote, vote sign →
    fingerprint bits. All JVM expressions (conv/shift), no UDF.

    ONE shuffle: the occurrence-weighted vote Σ_distinct_words cnt·(±1) is
    identical to Σ_occurrences (±1), so there is no need for the
    (doc, word)-count pre-aggregation, and the 32 bit votes are 32
    conditional SUM aggregates over the same groupBy(doc_id) — map-side
    partial aggregation collapses each input partition to one 32-column row
    per doc before the exchange (vs round 1's per-(doc,word,bit) explode:
    32× shuffle inflation + a second shuffle).

    The fingerprint frame is lazily checkpointed in the session memo: the
    banding/verify query derives from the identical frame, so the two
    consumers share one execution (same pattern as the BM25 index)."""
    return _per_corpus(spark, sf_dir, _simhash_fingerprints)


def _simhash_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    occ = (
        docs.select("doc_id", F.explode(_words()).alias("w"))
        .where(F.col("w") != "")
        .withColumn("h", F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long"))
    )
    votes = occ.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN shiftright(h, {b}) & 1 = 1 THEN 1 ELSE -1 END")
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    fingerprint = F.expr(
        " + ".join(
            f"CASE WHEN v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END"
            for b in range(32)
        )
    )
    return votes.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        fingerprint.cast("bigint").alias("simhash"),
    ).localCheckpoint(eager=False)


ORACLE_DEDUP_SIMHASH = """
WITH wc AS (
  SELECT doc_id, w, count(*) AS cnt,
         ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY doc_id, w
), votes AS (
  SELECT doc_id, g.generate_series AS bit,
         sum(CASE WHEN (h >> g.generate_series) & 1 = 1 THEN cnt ELSE -cnt END) AS vote
  FROM wc, generate_series(0, 31) g
  GROUP BY doc_id, g.generate_series
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


SIMHASH_BANDS = 4  # 4 bands × 8 bits over the 32-bit fingerprint
SIMHASH_BAND_CAP = 10_000  # boilerplate-bucket guard, mirrored in the oracle
HAMMING_MAX = 3  # pigeonhole: dist ≤ 3 < 4 bands ⇒ ≥1 band identical ⇒ recall=1


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-duplicate pairs via band blocking + exact Hamming verify:
    docs sharing any 8-bit band of their 32-bit fingerprint become
    candidates; pairs at Hamming distance ≤ {HAMMING_MAX} are kept. By the
    pigeonhole principle a pair within distance 3 differs in at most 3 of
    the 4 bands, so banding is PROVABLY recall-complete (unlike MinHash-LSH
    banding, which is probabilistic). Work is Σ bucket² over 4×256 buckets —
    the standard web-dedup shape (Manku et al., WWW'07 uses the same
    permuted-block idea at 64 bits).

    Pair generation is a self-equi-join on (band, bv) with the Hamming
    predicate INSIDE the join condition: the Σ bucket² candidate loop runs
    in whole-stage codegen and only the ~4% of combinations at distance
    ≤ {HAMMING_MAX} ever materialize as rows (the former collect_set +
    nested transform/slice HOF expression ran interpreted and copied O(m²)
    structs per bucket inside one task — 130-171s at 50k docs vs ~seconds
    for this shape). Bucket eligibility (2 ≤ n ≤ cap) is a ≤4·256-row
    aggregate broadcast onto the join legs. (doc_a, doc_b) functionally
    determines (ha, hb) — each doc has exactly one fingerprint — so the
    final distinct over (doc_a, doc_b, hamming) keeps exactly the pairs
    the oracle's DISTINCT-then-filter form keeps, while deduping AFTER the
    Hamming filter so the distinct sees ~4% of the candidate volume."""
    fp = q_dedup_simhash(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), "
                f"b -> struct(b AS band, shiftright(simhash, b * 8) & 255 AS bv))"
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    ok = (
        bands.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") > 1) & (F.col("n") <= SIMHASH_BAND_CAP))
        .select("band", "bv")
    )
    eligible = bands.join(F.broadcast(ok), ["band", "bv"])
    # rename per side: a self-join on same-named columns from one parent
    # resolves both sides to the same attribute (trivially-true predicate)
    a = eligible.select(
        F.col("band").alias("band_a"),
        F.col("bv").alias("bv_a"),
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("ha"),
    )
    b = eligible.select(
        F.col("band").alias("band_b"),
        F.col("bv").alias("bv_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("hb"),
    )
    pairs = a.join(
        b,
        (F.col("band_a") == F.col("band_b"))
        & (F.col("bv_a") == F.col("bv_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= HAMMING_MAX),
    )
    return (
        pairs.select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            F.bit_count(F.expr("ha ^ hb")).cast("int").alias("hamming"),
        )
        .distinct()
    )


ORACLE_DEDUP_SIMHASH_PAIRS = f"""
WITH fp AS ({{SIMHASH_SQL}}),
bands AS (
  SELECT doc_id, simhash, g.generate_series AS band,
         (simhash >> (g.generate_series * 8)) & 255 AS bv
  FROM fp, generate_series(0, {SIMHASH_BANDS - 1}) g
),
ok AS (
  SELECT band, bv FROM bands GROUP BY band, bv
  HAVING count(*) BETWEEN 2 AND {SIMHASH_BAND_CAP}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.simhash AS ha, y.simhash AS hb
  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv
  JOIN ok ON x.band = ok.band AND x.bv = ok.bv
  WHERE x.doc_id < y.doc_id
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
""".replace("{SIMHASH_SQL}", ORACLE_DEDUP_SIMHASH)


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`
# ---------------------------------------------------------------------------


def _dot_unrolled(a, b, dim: int = 64):
    """Dot product as a fully-unrolled expression over a known dim:
    higher-order functions are interpreted (no codegen) and cost ~10x on
    multi-million-pair scans; an unrolled sum keeps strict left-to-right
    addition order (matching DuckDB's sequential loop → stable rounded
    hashes) and stays JVM-side."""
    out = a.getItem(0).cast("double") * b.getItem(0).cast("double")
    for i in range(1, dim):
        out = out + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return out


def _norm_col(a):
    """Per-row vector norm — computed ONCE per vector (2k rows), so the HOF
    interpretation cost is irrelevant; only the per-PAIR dot is hot."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def _cosine(a, b):
    """HOF cosine — fine for small pair counts (top-k with a broadcast query
    set); the all-pairs path (q_sim_neardup) uses blocked numpy GEMM instead.
    (An unrolled 64-term expression was measured SLOWER than the HOF here —
    it exceeds codegen limits and falls back to interpreted Catalyst.)"""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (_norm_col(a) * _norm_col(b))


def q_sim_topk(spark, sf_dir, n_queries: int = 5, k: int = 10):
    """Brute-force cosine top-k: broadcast the query set against the corpus,
    window-rank per query. The O(n·q) baseline every ANN variant is measured
    against; at 100 TB the corpus side stays partition-parallel and only the
    query side broadcasts."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("vec_id").cast("bigint").alias("neighbor_id"),
            F.round(_cosine(F.col("qe"), F.col("embedding")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


ORACLE_SIM_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT CAST(q.query_id AS BIGINT) AS query_id,
         CAST(e.vec_id AS BIGINT) AS neighbor_id,
         round(list_cosine_similarity(q.qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
       neighbor_id, cosine
FROM scored
QUALIFY rank <= 10
"""


def q_sim_knn_label(spark, sf_dir, n_queries: int = 20, k: int = 5):
    """kNN majority-vote classification: top-k neighbors per query, majority
    label (ties → smaller label). Join + two windows + groupBy."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("label"),
            F.round(_cosine(F.col("qe"), F.col("embedding")), 6).alias("cosine"),
            F.col("vec_id"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    top = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    votes = top.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("cnt"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cnt"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("label").cast("bigint").alias("predicted_label"),
        )
    )


ORACLE_SIM_KNN_LABEL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, e.label, e.vec_id,
         round(list_cosine_similarity(q.qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
), top AS (
  SELECT query_id, label,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
  FROM scored QUALIFY rn <= 5
), votes AS (
  SELECT query_id, label, count(*) AS cnt FROM top GROUP BY query_id, label
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(label AS BIGINT) AS predicted_label
FROM (SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id ORDER BY cnt DESC, label) AS rn
      FROM votes) WHERE rn = 1
"""


def q_sim_neardup(spark, sf_dir, threshold: float = 0.4, n_blocks: int = 8):
    """EXACT embedding-cosine near-duplicate pairs via distributed
    block-pair GEMM — nothing ever touches the driver (round 1 collected the
    corpus with toPandas + sc.broadcast: a guaranteed driver OOM at scale).

    Vectors are hash-partitioned into n_blocks disjoint blocks; each of the
    n_blocks·(n_blocks+1)/2 unordered block pairs becomes ONE task row whose
    UDF runs a float64 numpy GEMM between the two packed matrices. Task
    memory is bounded by 2·block_size vectors regardless of corpus size;
    exact all-pairs is inherently O(n²) work, and this shape spreads that
    work over (n/B)² bounded tasks — at 100 TB you size n_blocks to keep
    blocks ~10k vectors and (preferably) switch to the sub-quadratic LSH
    path, q_sim_neardup_lsh. float64 GEMM vs the oracle's sequential loop
    differ ~1e-15, far below the 1e-6 rounding."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    packed = emb.groupBy(
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk")
    ).agg(F.collect_list(F.struct("vec_id", "embedding")).alias("rows"))
    a = packed.select(F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a"))
    b = packed.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b"))
    # blk_a <= blk_b: each unordered block pair exactly once (blocks are
    # disjoint, so every vector pair lives in exactly one block-pair row)
    block_pairs = a.join(b, F.col("blk_a") <= F.col("blk_b")).repartition(
        n_blocks * (n_blocks + 1) // 2
    )

    def _unpack(rows) -> tuple[np.ndarray, np.ndarray]:
        ids = np.fromiter((r["vec_id"] for r in rows), dtype=np.int64, count=len(rows))
        mat = np.asarray([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        # index order == id order, so the same-block triangle filter is an
        # index comparison
        order = np.argsort(ids)
        return ids[order], mat[order]

    # float32 prescreen margin: a 64-term float32 dot of unit vectors has
    # worst-case error 64·2^-23 ≈ 8e-6; 1e-3 is >100× that, so no pair with
    # round(exact, 6) >= threshold can fall below the screen. The exact
    # float64 dot + round-6 (the oracle contract) runs only on the ~1% of
    # combinations that pass — the former np.round over the FULL n_a×n_b
    # float64 matrix was the dominant kernel cost (guide §1.2: per-task work).
    lo32 = threshold - 1e-3

    def _gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blk_a, blk_b, rows_a, rows_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["rows_a"], pdf["rows_b"]
            ):
                ids_a, mat_a = _unpack(rows_a)
                ids_b, mat_b = _unpack(rows_b)
                s32 = mat_a.astype(np.float32) @ mat_b.astype(np.float32).T
                ai, bj = np.nonzero(s32 >= lo32)
                if blk_a == blk_b:
                    # same matrix on both sides: keep one triangle (also
                    # drops self-pairs); ids are index-sorted so bj > ai
                    # == id inequality
                    keep = ai < bj
                    ai, bj = ai[keep], bj[keep]
                # disjoint blocks: every hit is a distinct pair seen exactly
                # once — canonicalize ids below, don't filter
                sims = np.round(np.einsum("ij,ij->i", mat_a[ai], mat_b[bj]), 6)
                keep = sims >= threshold
                ia, ib, sims_k = ids_a[ai[keep]], ids_b[bj[keep]], sims[keep]
                yield pd.DataFrame(
                    {
                        "vec_a": np.minimum(ia, ib),
                        "vec_b": np.maximum(ia, ib),
                        "cosine": sims_k,
                    }
                )

    return block_pairs.mapInPandas(_gemm, "vec_a bigint, vec_b bigint, cosine double")


def q_sim_neardup_lsh(spark, sf_dir, threshold: float = 0.4):
    """Near-dup pairs via random-hyperplane LSH blocking + per-bucket exact
    GEMM rescore (operators/ann.neardup_pairs_lsh) — the sub-quadratic scale
    path: work is Σ bucket² instead of n². Parameters here are chosen
    recall-exhaustive on the test corpora (verified against the exact path
    in tests/test_ann.py AND by sharing the brute-force oracle), so the
    driver's hash check proves LSH found every pair ≥ threshold."""
    from aperag_spark.operators.ann import neardup_pairs_lsh

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return neardup_pairs_lsh(emb, threshold=threshold)


ORACLE_SIM_NEARDUP = """
SELECT CAST(a.vec_id AS BIGINT) AS vec_a, CAST(b.vec_id AS BIGINT) AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
"""


ANN_IVF_CENTROIDS = 16
ANN_IVF_NPROBE = 4
ANN_IVF_K = 10
ANN_IVF_QUERY_IDS = [1, 2, 3, 4]


def q_sim_ann_ivf(spark, sf_dir):
    """IVF ANN (operators/ann.ivf_topk) in its SQL-expressible
    configuration: the coarse quantizer is FIXED as the ANN_IVF_CENTROIDS
    smallest-md5(vec_id) vectors (k-means init, zero Lloyd iterations —
    n_iters=0, sample_cap=n_centroids), so the DuckDB oracle rebuilds the
    identical quantizer and checks the whole IVF machinery end-to-end:
    argmax posting-list assignment (round-6 cosine, lowest-centroid-id
    tiebreak), per-query nprobe probe selection, posting-list candidate
    union, exact-cosine rescore, windowed top-k. The Lloyd-refined
    quantizer (the production configuration) is covered by
    tests/test_ann.py via recall-vs-brute-force instead — Lloyd on an
    rng-seeded init is not SQL-expressible."""
    from aperag_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = ivf_topk(
        emb,
        ANN_IVF_QUERY_IDS,
        k=ANN_IVF_K,
        n_centroids=ANN_IVF_CENTROIDS,
        nprobe=ANN_IVF_NPROBE,
        n_iters=0,
        sample_cap=ANN_IVF_CENTROIDS,
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        "cosine",
    )


ORACLE_SIM_ANN_IVF = f"""
WITH cent AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS centroid_id,
         embedding
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {ANN_IVF_CENTROIDS})
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(
                 e.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
               c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(
                 q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
               c.centroid_id ASC) AS rn
    FROM embeddings q CROSS JOIN cent c
    WHERE q.vec_id IN ({", ".join(str(i) for i in ANN_IVF_QUERY_IDS)})
  ) WHERE rn <= {ANN_IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN assign a ON p.centroid_id = a.centroid_id
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(
             q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
  FROM cand c
  JOIN embeddings e ON c.vec_id = e.vec_id
  JOIN embeddings q ON c.query_id = q.vec_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS INT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {ANN_IVF_K}
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data quality operators)
# ---------------------------------------------------------------------------


def q_text_stats(spark, sf_dir):
    """Token counting + quality scoring: length / distinct ratio / stopword
    ratio, all JVM-side array expressions."""
    docs = _t(spark, sf_dir, "documents")
    ws = _words()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("bigint").alias("n_distinct"),
        F.round(F.length("text") / F.size(ws), 4).alias("avg_token_len"),
        F.round(
            F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))) / F.size(ws), 4
        ).alias("stopword_ratio"),
    )


ORACLE_TEXT_STATS = f"""
WITH ws AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       round(length(text)::DOUBLE / len(w), 4) AS avg_token_len,
       round(len(list_filter(w, x -> x IN {_SQL_STOPWORDS}))::DOUBLE / len(w), 4) AS stopword_ratio
FROM ws
"""


def q_quality_filter(spark, sf_dir):
    """Gopher-style corpus quality gate (Rae et al. 2021 §A1.1, public):
    per-doc keep/drop with machine-readable reasons — length window,
    stopword floor, repetition (distinct-token ratio), mean token length
    window (operators/corpus.quality_filter). One narrow projection; at
    100 TB this is the canonical pre-training filter pass (scan-bound, no
    shuffle) — cheap enough that it is NOT staged."""
    from aperag_spark.operators.corpus import quality_filter

    return quality_filter(_t(spark, sf_dir, "documents"))


ORACLE_QUALITY_FILTER = f"""
WITH s AS (
  SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         len(list_filter(w, x -> x IN {_SQL_STOPWORDS}))::DOUBLE / len(w) AS stop_ratio,
         len(list_distinct(w))::DOUBLE / len(w) AS distinct_ratio,
         length(text)::DOUBLE / len(w) AS tok_len
  FROM s
), r AS (
  SELECT doc_id,
         list_filter([
           CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short' END,
           CASE WHEN n_tokens > {QF_MAX_TOKENS} THEN 'too_long' END,
           CASE WHEN stop_ratio < {QF_MIN_STOPWORD} THEN 'low_stopword' END,
           CASE WHEN distinct_ratio < {QF_MIN_DISTINCT_RATIO} THEN 'repetitive' END,
           CASE WHEN tok_len < {QF_TOKEN_LEN_RANGE[0]} OR tok_len > {QF_TOKEN_LEN_RANGE[1]}
                THEN 'weird_token_len' END
         ], x -> x IS NOT NULL) AS reasons
  FROM m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       len(reasons) = 0 AS keep,
       coalesce(array_to_string(reasons, ','), '') AS reasons
FROM r
"""


def q_corpus_select(spark, sf_dir):
    """The pipeline ENDPOINT a pre-training corpus build actually runs: the
    final per-doc selection verdict = Gopher quality gate AND near-dup
    keep-list, with both component verdicts kept for observability (the
    'no silent caps' rule applied to the corpus itself — every dropped doc
    is attributable to quality reasons or a duplicate cluster). Served
    from the staged corpus pipeline's `verdicts` table
    (operators/corpus.select_verdict = scan-bound quality gate joined with
    the staged cluster verdict); the join is on doc_id — at 100 TB both
    sides are partitioned by the same key and the verdict join is
    co-located."""
    return _corpus_stage(spark, sf_dir, "verdicts")



ORACLE_CORPUS_SELECT = f"""
WITH RECURSIVE q AS ({ORACLE_QUALITY_FILTER}),
d AS ({ORACLE_DEDUP_CLUSTER})
SELECT q.doc_id, q.keep AS quality_keep, d.keep AS dedup_keep,
       (q.keep AND d.keep) AS selected
FROM q JOIN d ON q.doc_id = d.doc_id
"""



SAMPLE_TOKEN_BUDGET = 3000  # per-language token budget (partial at all SFs)


def q_corpus_sample(spark, sf_dir):
    """Budgeted corpus sampling + split assignment — the data-MIXING step of
    a pre-training build: per language stratum, take documents in
    deterministic pseudo-random order (md5 of doc_id) until the stratum's
    token budget is filled, and assign each sampled doc a deterministic
    train/val split (first md5 nibble — ~6% val). Both rules are pure
    functions of doc_id, so the sample is reproducible and engines agree.

    Scale shape — the naive form is a running-sum window PARTITIONED BY
    LANG, which funnels an entire language (most of a real corpus) through
    ONE task; this implements the distributed two-phase prefix sum
    instead: docs bucket by their first two hash hex chars (256 ranges,
    prefix-consistent with the hash order), per-(lang, bucket) token sums
    roll up to exclusive bucket offsets through a TINY window (≤256 rows
    per lang), and the per-doc running sum windows over (lang, bucket) —
    256× the parallelism, identical values (the DuckDB oracle computes the
    naive single-window form)."""
    docs = _t(spark, sf_dir, "documents")
    ws = _words()
    d = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("hkey"),
    ).withColumn("bkt", F.substring("hkey", 1, 2))
    wb = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("lang", "bkt")
        .agg(F.sum("n_tokens").alias("bt"))
        .withColumn("offset", F.coalesce(F.sum("bt").over(wb), F.lit(0)))
        .select("lang", "bkt", "offset")
    )
    wd = (
        Window.partitionBy("lang", "bkt")
        .orderBy("hkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(offsets, ["lang", "bkt"])
        .withColumn(
            "cum_tokens", (F.col("offset") + F.sum("n_tokens").over(wd)).cast("bigint")
        )
        .where(F.col("cum_tokens") <= SAMPLE_TOKEN_BUDGET)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "cum_tokens",
            F.when(F.substring("hkey", 1, 1) == "0", F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


ORACLE_CORPUS_SAMPLE = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS hkey
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens, hkey,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY hkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM d
)
SELECT doc_id, lang, n_tokens, cum_tokens,
       CASE WHEN substr(hkey, 1, 1) = '0' THEN 'val' ELSE 'train' END AS split
FROM c WHERE cum_tokens <= {SAMPLE_TOKEN_BUDGET}
"""


def q_corpus_stats(spark, sf_dir, exact: bool = True, accuracy: int = 10_000):
    """Corpus-level rollup: doc count, token totals, interpolated median/p90
    of doc length, distinct-vocabulary size — the dataset-card numbers.

    Scale notes: vocab_size is a distributed explode→countDistinct (shuffle
    on token, map-side partial), NOT a collect_list of per-doc vocabularies.
    The default EXACT percentiles (for bit-wise oracle agreement) buffer the
    value multiset through one aggregation path; `exact=False` is the 100 TB
    path — approx_percentile's KLL-style sketch with bounded memory and a
    rank-error guarantee of n/accuracy, tolerance-checked against the exact
    values at three SFs in tests/test_properties.py. n_tokens-per-doc is one
    double per document, which keeps exact viable far longer than it sounds,
    but a dataset card doesn't need the exact p90 — flip the flag."""
    docs = _t(spark, sf_dir, "documents")
    ws = _words()
    per_doc = docs.select(F.size(ws).cast("double").alias("n_tokens"))
    pct = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {int(accuracy)}"
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.expr(f"{pct}(n_tokens, 0.5{acc})"), 4).alias("median_tokens"),
        F.round(F.expr(f"{pct}(n_tokens, 0.9{acc})"), 4).alias("p90_tokens"),
    )
    vocab = (
        docs.select(F.explode(F.array_distinct(ws)).alias("tok"))
        .agg(F.countDistinct("tok").cast("bigint").alias("vocab_size"))
    )
    return stats.crossJoin(vocab)


ORACLE_CORPUS_STATS = """
WITH s AS (
  SELECT string_split_regex(text, '\\s+') AS w FROM documents
), m AS (
  SELECT len(w)::DOUBLE AS n_tokens, w FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(quantile_cont(n_tokens, 0.5), 4) AS median_tokens,
       round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
       (SELECT CAST(count(DISTINCT tok) AS BIGINT)
        FROM (SELECT unnest(w) AS tok FROM s)) AS vocab_size
FROM m
"""


def q_lang_guess(spark, sf_dir, threshold: float = 0.04):
    """n-gram/stopword language-ID heuristic: English stopword hit rate →
    guess; reported against the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    ws = _words()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    score = F.round(
        F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))) / F.size(ws), 4
    )
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        score.alias("en_score"),
        F.when(score >= threshold, F.lit("en")).otherwise(F.lit("other")).alias("guess"),
        F.col("lang").alias("labeled_lang"),
    )


ORACLE_LANG_GUESS = f"""
WITH s AS (
  SELECT doc_id, lang,
         round(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN {_SQL_STOPWORDS}))::DOUBLE
               / len(string_split_regex(text, '\\s+')), 4) AS en_score
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, en_score,
       CASE WHEN en_score >= 0.04 THEN 'en' ELSE 'other' END AS guess,
       lang AS labeled_lang
FROM s
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over the sorted distinct token set —
    word-order-insensitive content identity."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(_words())), " ")).alias(
            "fingerprint"
        ),
    )


ORACLE_DOC_FINGERPRINT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split_regex(text, '\\s+'))), ' ')) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Fulltext search (S8/Q10) + flow merge (Q11) over `documents`
# ---------------------------------------------------------------------------

FT_KEYWORDS = ["vector", "join", "scan"]
FT_TOPK = 20


def _fulltext_index_cached(spark, sf_dir) -> dict:
    """Session-scoped shared BM25 index: fulltext_bm25 and hybrid_rrf derive
    IDENTICAL postings/doclens tables from `documents` — build once per
    (session, corpus) in the session memo, lazily checkpoint, reuse.
    (Checkpointing for a single consumer measured as a small loss in round
    2; the win is the second consumer — interleaved A/B in BENCH.md round
    5.)"""
    return _per_corpus(spark, sf_dir, _bm25_index)


def _bm25_index(spark, sf_dir) -> dict:
    from aperag_spark.operators.fulltext import build_fulltext_index

    docs = _t(spark, sf_dir, "documents")
    built = build_fulltext_index(docs, "doc_id", "text")
    # checkpoint postings FIRST and re-derive doclens from the checkpointed
    # frame (dl = Σ tf per id, the operator's own derivation): checkpointing
    # the dict values independently would leave doclens' lineage pointing at
    # the raw explode, re-running the analyze pass on materialization.
    postings = built["postings"].localCheckpoint(eager=False)
    doclens = (
        postings.groupBy("id").agg(F.sum("tf").alias("dl")).localCheckpoint(eager=False)
    )
    return {"postings": postings, "doclens": doclens}


def q_fulltext_bm25(spark, sf_dir):
    """Q10 fulltext search (ES bool/should match, fulltext_index.py:198-233)
    over the S8 inverted index: BM25 (k1=1.2, b=0.75), minimum_should_match
    80% of the keywords, top-k by score."""
    from aperag_spark.operators.fulltext import bm25_search

    out = bm25_search(_fulltext_index_cached(spark, sf_dir), FT_KEYWORDS, topk=FT_TOPK)
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"), "score", "matched", "rank"
    )


ORACLE_FULLTEXT_BM25 = f"""
WITH terms AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split_regex(lower(text), '[^\\w]+'), w -> w <> '')) AS term
  FROM documents
),
postings AS (SELECT term, id, count(*) AS tf FROM terms GROUP BY term, id),
doclens AS (SELECT id, count(*) AS dl FROM terms GROUP BY id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclens),
kw(term) AS (VALUES {", ".join(f"('{k}')" for k in FT_KEYWORDS)}),
dfs AS (
  SELECT term, count(*) AS df FROM postings
  WHERE term IN (SELECT term FROM kw) GROUP BY term
),
scored AS (
  SELECT p.id, p.term,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
           AS term_score
  FROM postings p JOIN dfs d USING (term) JOIN doclens l USING (id) CROSS JOIN stats s
),
per_doc AS (
  SELECT id, round(sum(term_score), 4) AS score,
         CAST(count(DISTINCT term) AS INT) AS matched
  FROM scored GROUP BY id
  HAVING count(DISTINCT term) >= {max(int(0.8 * len(FT_KEYWORDS)), 1)}
)
SELECT CAST(id AS BIGINT) AS doc_id, score, matched,
       CAST(row_number() OVER (ORDER BY score DESC, id) AS INT) AS rank
FROM per_doc
QUALIFY rank <= {FT_TOPK}
"""


def q_flow_merge(spark, sf_dir):
    """Q11 flow merge node (flow/runners/merge.py:46-69): union the vector /
    fulltext / graph retrieval legs, dedupe by TEXT keeping the first
    occurrence in (vector, fulltext, graph) order then within-leg rank
    order. Legs are carved deterministically from `documents` (the node is
    leg-agnostic — it sees three DocumentWithScore lists)."""
    from aperag_spark.operators.flow import merge_docs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def leg(lo: int, hi: int):
        return docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
            "text",
            F.round(F.lit(1.0) - F.col("doc_id") * 0.01, 4).alias("score"),
            (F.col("doc_id") - lo + 1).cast("int").alias("rank"),
        )

    merged = merge_docs(leg(0, 10), leg(5, 15), leg(12, 22), deduplicate=True)
    return merged.select("text", "score", F.col("rank").cast("int").alias("rank"), "source")


ORACLE_FLOW_MERGE = """
WITH legs AS (
  SELECT text, round(1.0 - doc_id * 0.01, 4) AS score,
         CAST(doc_id - 0 + 1 AS INT) AS rank, 'vector' AS source, 0 AS pri
  FROM documents WHERE doc_id >= 0 AND doc_id < 10
  UNION ALL
  SELECT text, round(1.0 - doc_id * 0.01, 4), CAST(doc_id - 5 + 1 AS INT), 'fulltext', 1
  FROM documents WHERE doc_id >= 5 AND doc_id < 15
  UNION ALL
  SELECT text, round(1.0 - doc_id * 0.01, 4), CAST(doc_id - 12 + 1 AS INT), 'graph', 2
  FROM documents WHERE doc_id >= 12 AND doc_id < 22
)
SELECT text, score, rank, source
FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY pri, rank) AS rn FROM legs)
WHERE rn = 1
"""


RRF_K = 60  # Cormack et al. SIGIR'09 constant
RRF_TOPK = 10


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 leg + embedding-cosine leg fused with
    Reciprocal Rank Fusion (score = Σ 1/(K+rank)) — the production form of
    the reference's merge node when legs carry incomparable scores
    (flow/runners/merge.py unions; RRF is the standard rank-level fusion).
    Query = the fixed FT_KEYWORDS for the text leg and vector 0 for the
    embedding leg; docs join embeddings on doc_id = vec_id. Both legs are
    top-k'd before the (tiny) full-outer fuse — at 100 TB each leg is its
    own index probe and the fusion touches 2k rows."""
    from aperag_spark.operators.fulltext import bm25_search

    idx = _fulltext_index_cached(spark, sf_dir)
    bm25 = bm25_search(idx, FT_KEYWORDS, topk=FT_TOPK).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("rank").alias("bm25_rank"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").cast("bigint").alias("doc_id"),
            F.round(_cosine(F.col("qe"), F.col("embedding")), 6).alias("cosine"),
        )
    )
    vec = rank_bounded(
        scored, [("cosine", "desc"), ("doc_id", "asc")], k=FT_TOPK, rank_col="vec_rank"
    ).select("doc_id", "vec_rank")
    fused = bm25.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.when(F.col("bm25_rank").isNotNull(), F.lit(1.0) / (RRF_K + F.col("bm25_rank"))).otherwise(0.0)
            + F.when(F.col("vec_rank").isNotNull(), F.lit(1.0) / (RRF_K + F.col("vec_rank"))).otherwise(0.0),
            6,
        ).alias("rrf_score"),
    )
    return rank_bounded(
        fused, [("rrf_score", "desc"), ("doc_id", "asc")], k=RRF_TOPK
    )


ORACLE_HYBRID_RRF = f"""
WITH bm25 AS ({ORACLE_FULLTEXT_BM25}),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT CAST(e.vec_id AS BIGINT) AS doc_id,
         round(list_cosine_similarity(qv.qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings e, qv WHERE e.vec_id <> 0
),
vec AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS vec_rank
  FROM scored QUALIFY vec_rank <= {FT_TOPK}
),
fused AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         round(coalesce(1.0 / ({RRF_K} + b.rank), 0)
             + coalesce(1.0 / ({RRF_K} + v.vec_rank), 0), 6) AS rrf_score
  FROM bm25 b FULL OUTER JOIN vec v ON b.doc_id = v.doc_id
)
SELECT doc_id, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
FROM fused
QUALIFY rank <= {RRF_TOPK}
"""


# ---------------------------------------------------------------------------
# Relational / time-series coverage (events + TPC-H-ish tables)
# ---------------------------------------------------------------------------


def _dsum(col):
    """Engine-agreement exact sum: decimal accumulate, double render."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


def q_events_hourly(spark, sf_dir):
    # DuckDB renders the naive parquet timestamps as-is; pin Spark to UTC so
    # date_format agrees regardless of the calling session's timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(_dsum("value"), 4).alias("sum_value"),
        )
    )


ORACLE_EVENTS_HOURLY = """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sessions(spark, sf_dir, gap_minutes: int = 30):
    """Sessionization: gap > 30 min starts a new session (lag window +
    running sum) — the canonical stateful-window pattern."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # see q_events_hourly
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = events.withColumn(
        "new_session",
        F.when(
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
            > gap_minutes * 60,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "new_session", F.when(F.lag("ts").over(w).isNull(), 1).otherwise(F.col("new_session"))
    )
    return gapped.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    ).select(F.col("user_id").cast("bigint").alias("user_id"), "n_sessions", "n_events")


ORACLE_EVENTS_SESSIONS = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id
"""


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (decimal-exact aggregation)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    d = lambda c: F.col(c).cast("decimal(18,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(d("l_quantity")).cast("double"), 4).alias("sum_qty"),
        F.round(F.sum(d("l_extendedprice")).cast("double"), 4).alias("sum_base_price"),
        F.round(
            F.sum(
                (d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))).cast(
                    "decimal(28,8)"
                )
            ).cast("double"),
            4,
        ).alias("sum_disc_price"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
    )


ORACLE_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1.0000 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir, k: int = 25):
    """Join + agg + window top-k: highest-spend customers (broadcast the
    small dimension side)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.round(_dsum("o_totalprice"), 4).alias("total_spend"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    joined = spend.join(
        F.broadcast(cust.select("c_custkey", "c_name", "c_mktsegment")),
        spend.o_custkey == cust.c_custkey,
    )
    # TakeOrderedAndProject (orderBy+limit), then rank the k survivors —
    # see q_kg_top_entities for why not a global row_number window.
    keys = [("total_spend", "desc"), ("c_custkey", "asc")]
    return rank_bounded(joined, keys, k=k, rank_type="bigint").select(
        "rank",
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        "c_name",
        "c_mktsegment",
        "total_spend",
        "n_orders",
    )


ORACLE_TOP_CUSTOMERS = """
WITH spend AS (
  SELECT o_custkey,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_spend,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT CAST(row_number() OVER (ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS rank,
       CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_mktsegment, total_spend, n_orders
FROM spend JOIN customer ON o_custkey = c_custkey
QUALIFY rank <= 25
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kg_chunking": q_kg_chunking,
    "kg_chunk_ids": q_kg_chunk_ids,
    "kg_mentions": q_kg_mentions,
    "kg_entity_merge": q_kg_entity_merge,
    "kg_relations": q_kg_relations,
    "kg_node_degree": q_kg_node_degree,
    "kg_top_entities": q_kg_top_entities,
    "kg_one_hop": q_kg_one_hop,
    "kg_bfs": q_kg_bfs,
    "kg_connected_components": q_kg_connected_components,
    "kg_token_budget": q_kg_token_budget,
    "kg_incremental_merge": q_kg_incremental_merge,
    "kg_incremental_relations": q_kg_incremental_relations,
    "kg_curated_merge": q_kg_curated_merge,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_sig": q_dedup_minhash_sig,
    "dedup_minhash_candidates": q_dedup_minhash_candidates,
    "dedup_minhash_bucket_stats": q_dedup_minhash_bucket_stats,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_cluster": q_dedup_cluster,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "sim_topk": q_sim_topk,
    "sim_knn_label": q_sim_knn_label,
    "sim_neardup": q_sim_neardup,
    "sim_neardup_lsh": q_sim_neardup_lsh,
    "sim_ann_ivf": q_sim_ann_ivf,
    "fulltext_bm25": q_fulltext_bm25,
    "flow_merge": q_flow_merge,
    "hybrid_rrf": q_hybrid_rrf,
    "text_stats": q_text_stats,
    "quality_filter": q_quality_filter,
    "corpus_select": q_corpus_select,
    "corpus_sample": q_corpus_sample,
    "corpus_stats": q_corpus_stats,
    "lang_guess": q_lang_guess,
    "doc_fingerprint": q_doc_fingerprint,
    "events_hourly": q_events_hourly,
    "events_sessions": q_events_sessions,
    "tpch_pricing": q_tpch_pricing,
    "top_customers": q_top_customers,
}

ORACLES: dict[str, str] = {
    "kg_chunking": ORACLE_KG_CHUNKING,
    "kg_chunk_ids": ORACLE_KG_CHUNK_IDS,
    "kg_mentions": ORACLE_KG_MENTIONS,
    "kg_entity_merge": ORACLE_KG_ENTITY_MERGE,
    "kg_relations": ORACLE_KG_RELATIONS,
    "kg_node_degree": ORACLE_KG_NODE_DEGREE,
    "kg_top_entities": ORACLE_KG_TOP_ENTITIES,
    "kg_one_hop": ORACLE_KG_ONE_HOP,
    "kg_bfs": ORACLE_KG_BFS,
    "kg_connected_components": ORACLE_KG_CONNECTED_COMPONENTS,
    "kg_token_budget": ORACLE_KG_TOKEN_BUDGET,
    "kg_incremental_merge": ORACLE_KG_INCREMENTAL_MERGE,
    "kg_incremental_relations": ORACLE_KG_INCREMENTAL_RELATIONS,
    "kg_curated_merge": ORACLE_KG_CURATED_MERGE,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_minhash_sig": ORACLE_DEDUP_MINHASH_SIG,
    "dedup_minhash_candidates": ORACLE_DEDUP_MINHASH_CANDIDATES,
    "dedup_minhash_bucket_stats": ORACLE_DEDUP_MINHASH_BUCKET_STATS,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_cluster": ORACLE_DEDUP_CLUSTER,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_simhash_pairs": ORACLE_DEDUP_SIMHASH_PAIRS,
    "sim_topk": ORACLE_SIM_TOPK,
    "sim_knn_label": ORACLE_SIM_KNN_LABEL,
    "sim_neardup": ORACLE_SIM_NEARDUP,
    # the LSH path shares the brute-force oracle: its params are verified
    # recall-exhaustive at threshold 0.4 on the fixed test corpora, so a
    # hash match PROVES it found every qualifying pair
    "sim_neardup_lsh": ORACLE_SIM_NEARDUP,
    "sim_ann_ivf": ORACLE_SIM_ANN_IVF,
    "fulltext_bm25": ORACLE_FULLTEXT_BM25,
    "flow_merge": ORACLE_FLOW_MERGE,
    "hybrid_rrf": ORACLE_HYBRID_RRF,
    "text_stats": ORACLE_TEXT_STATS,
    "quality_filter": ORACLE_QUALITY_FILTER,
    "corpus_select": ORACLE_CORPUS_SELECT,
    "corpus_sample": ORACLE_CORPUS_SAMPLE,
    "corpus_stats": ORACLE_CORPUS_STATS,
    "lang_guess": ORACLE_LANG_GUESS,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "events_hourly": ORACLE_EVENTS_HOURLY,
    "events_sessions": ORACLE_EVENTS_SESSIONS,
    "tpch_pricing": ORACLE_TPCH_PRICING,
    "top_customers": ORACLE_TOP_CUSTOMERS,
}
