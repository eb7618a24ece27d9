"""M7 incremental-merge parity: batch 2 folded into batch 1's snapshot must
match the reference fold-in semantics (operate.py:260-292, 371-404),
checked against the independently-written port."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import ArrayType, StructType

from aperag_spark.operators.chunking import chunk_texts, extract_texts
from aperag_spark.operators.extraction import extract_mentions, split_mentions
from aperag_spark.operators.incremental import (
    merge_entities_incremental,
    merge_relations_incremental,
)
from aperag_spark.operators.merge import (
    merge_entities,
    merge_relations,
    stub_missing_endpoints,
)
from aperag_spark.synth import PAGES_SCHEMA, gen_pages_local
from tests.reference_port import run_reference_pipeline

N_PAGES = 50
SEED = 42


def _spark_batch(spark, rows):
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    mentions = extract_mentions(chunk_texts(extract_texts(pages)))
    return split_mentions(mentions)


@pytest.fixture(scope="module")
def result(spark):
    rows = gen_pages_local(N_PAGES, seed=SEED)
    b1, b2 = rows[:25], rows[25:]

    # --- Spark: batch1 full, then batch2 incremental ---
    raw_e1, raw_r1 = _spark_batch(spark, b1)
    rels1 = merge_relations(raw_r1)
    ents1 = stub_missing_endpoints(merge_entities(raw_e1), rels1)

    raw_e2, raw_r2 = _spark_batch(spark, b2)
    rels2 = merge_relations_incremental(raw_r2, rels1)
    ents2 = stub_missing_endpoints(
        merge_entities_incremental(raw_e2, ents1), rels2
    )

    spark_entities = {r["entity_id"]: r.asDict() for r in ents2.collect()}
    spark_relations = {
        (r["src_id"], r["tgt_id"]): r.asDict()
        for r in rels2.select(
            "src_id", "tgt_id", "weight", "description", "keywords", "source_ids"
        ).collect()
    }

    # --- reference port: same two batches ---
    g1 = run_reference_pipeline(b1)
    g2 = run_reference_pipeline(b2, existing=g1)
    return spark_entities, spark_relations, g2


def test_incremental_relations_match(result):
    spark_entities, spark_relations, g2 = result
    assert set(spark_relations) == set(g2["relations"])
    for key, grel in g2["relations"].items():
        srel = spark_relations[key]
        assert srel["weight"] == pytest.approx(grel["weight"]), key
        assert srel["description"] == grel["description"], key
        assert srel["keywords"] == grel["keywords"], key
        assert set(srel["source_ids"]) == grel["source_ids"], key


def test_incremental_entities_match(result):
    spark_entities, spark_relations, g2 = result
    assert set(spark_entities) == set(g2["entities"])
    bad = []
    for name, g in g2["entities"].items():
        o = spark_entities[name]
        if (
            o["entity_type"] != g["entity_type"]
            or o["description"] != g["description"]
            or set(o["source_ids"]) != g["source_ids"]
        ):
            bad.append((name, o["entity_type"], g["entity_type"], o["description"][:80], g["description"][:80]))
    assert not bad, bad[:4]


def test_incremental_accumulates(result):
    spark_entities, spark_relations, g2 = result
    # batch-2 result must strictly contain batch-1-only state
    g1 = run_reference_pipeline(gen_pages_local(N_PAGES, seed=SEED)[:25])
    assert set(g1["entities"]) <= set(g2["entities"])
    assert set(g1["relations"]) <= set(g2["relations"])


def _shape(dt) -> str:
    """simpleString with nullability: `!` marks a non-nullable field or an
    array that holds no nulls."""
    if isinstance(dt, StructType):
        fields = (f"{f.name}:{_shape(f.dataType)}{'' if f.nullable else '!'}" for f in dt.fields)
        return "struct<" + ",".join(fields) + ">"
    if isinstance(dt, ArrayType):
        return f"array<{_shape(dt.elementType)}{'' if dt.containsNull else '!'}>"
    return dt.simpleString()


ENTITIES_SHAPE = (
    "struct<entity_id:string,entity_type:string,description:string!,"
    "description_frags:array<string>!,source_ids:array<string>!,"
    "file_paths:array<string>!,mention_count:bigint!>"
)
RELATIONS_SHAPE = (
    "struct<src_id:string,tgt_id:string,weight:double!,description:string!,"
    "pre_summary_description:string!,description_frags:array<string>!,"
    "keywords:string!,keyword_arr:array<string>!,source_ids:array<string>!,"
    "file_paths:array<string>!,first_occ:struct<u:string,c:int,r:int>>"
)


def test_incremental_output_schemas_are_pinned(spark, tmp_path):
    """The fold's output schema, nullability included, whether the previous
    snapshot is an in-memory frame or read back from parquet (as the stream
    fold reads it): the one-expression helpers keep the F.* helpers' types."""
    rows = gen_pages_local(10, seed=SEED)
    raw_e1, raw_r1 = _spark_batch(spark, rows[:5])
    raw_e2, raw_r2 = _spark_batch(spark, rows[5:])
    rels1 = merge_relations(raw_r1)
    ents1 = stub_missing_endpoints(merge_entities(raw_e1), rels1)
    ents1.write.parquet(str(tmp_path / "e"))
    rels1.drop("first_occ").write.parquet(str(tmp_path / "r"))
    for ex_e, ex_r in [
        (ents1, rels1),
        (spark.read.parquet(str(tmp_path / "e")), spark.read.parquet(str(tmp_path / "r"))),
    ]:
        assert _shape(merge_entities_incremental(raw_e2, ex_e).schema) == ENTITIES_SHAPE
        assert _shape(merge_relations_incremental(raw_r2, ex_r).schema) == RELATIONS_SHAPE
