"""Tests for M15 delete/unindex, the curation verbs and the vector-side
operators (V1-V4)."""

import pyspark.sql.functions as F
import pytest

from aperag_spark.operators.chunking import chunk_texts, extract_texts
from aperag_spark.operators.extraction import extract_mentions, split_mentions
from aperag_spark.operators.maintenance import delete_documents
from aperag_spark.operators.merge import (
    merge_entities,
    merge_relations,
    stub_missing_endpoints,
)
from aperag_spark.operators.vectors import (
    deterministic_embedding,
    entity_vdb,
    relation_vdb,
    topk_search,
)
from aperag_spark.synth import PAGES_SCHEMA, gen_pages_local


@pytest.fixture(scope="module")
def mentions(spark):
    pages = spark.createDataFrame(gen_pages_local(40, seed=42), schema=PAGES_SCHEMA)
    m = extract_mentions(chunk_texts(extract_texts(pages)))
    m = m.localCheckpoint()
    return m


def test_delete_documents_equals_recompute_without_them(spark, mentions):
    """M15 semantics: delete(docs) == pipeline run on the corpus minus docs
    (lightrag.py:888-1126 end-state, reached idempotently)."""
    rows = gen_pages_local(40, seed=42)
    victims = sorted({r["url"] for r in rows})[:8]

    del_e, del_r = delete_documents(mentions, victims)

    keep_rows = [r for r in rows if r["url"] not in victims]
    pages = spark.createDataFrame(keep_rows, schema=PAGES_SCHEMA)
    m2 = extract_mentions(chunk_texts(extract_texts(pages)))
    raw_e, raw_r = split_mentions(m2)
    ref_r = merge_relations(raw_r)
    ref_e = stub_missing_endpoints(merge_entities(raw_e), ref_r)

    cols_e = ["entity_id", "entity_type", "description"]
    assert sorted(map(str, del_e.select(cols_e).collect())) == sorted(
        map(str, ref_e.select(cols_e).collect())
    )
    cols_r = ["src_id", "tgt_id", "weight", "keywords", "description"]
    assert sorted(map(str, del_r.select(cols_r).collect())) == sorted(
        map(str, ref_r.select(cols_r).collect())
    )


def test_rename_and_delete_entity(spark, mentions):
    from aperag_spark.operators.maintenance import delete_entity, rename_entity

    raw_e, raw_r = split_mentions(mentions)
    rels = merge_relations(raw_r)
    ents = stub_missing_endpoints(merge_entities(raw_e), rels)
    some = sorted(r["entity_id"] for r in ents.select("entity_id").collect() if r["entity_id"])
    victim = some[0]

    # rename → old gone, edges rewired to the new name
    ents2, rels2 = rename_entity(ents, rels, victim, "Renamed Entity X")
    names = {r["entity_id"] for r in ents2.select("entity_id").collect()}
    assert victim not in names and "Renamed Entity X" in names
    endpoints = {
        x
        for r in rels2.select("src_id", "tgt_id").collect()
        for x in (r["src_id"], r["tgt_id"])
    }
    assert victim not in endpoints

    # delete → node and its edges gone, nothing else
    before_edges = rels.count()
    touching = rels.where((rels.src_id == victim) | (rels.tgt_id == victim)).count()
    ents3, rels3 = delete_entity(ents, rels, victim)
    assert ents3.where(ents3.entity_id == victim).count() == 0
    assert rels3.count() == before_edges - touching


def test_vdb_rows_and_search(spark, mentions):
    raw_e, raw_r = split_mentions(mentions)
    rels = merge_relations(raw_r)
    ents = stub_missing_endpoints(merge_entities(raw_e), rels)

    evdb = entity_vdb(ents).localCheckpoint()
    n_ents = ents.count()
    assert evdb.count() == n_ents
    row = evdb.first()
    assert row["id"].startswith("ent-") and len(row["embedding"]) == 32
    # embedding is deterministic + content-derived
    assert row["embedding"] == pytest.approx(
        deterministic_embedding(row["content"]), abs=1e-6
    )

    rvdb = relation_vdb(rels)
    r = rvdb.first()
    assert r["id"].startswith("rel-") and "\t" in r["content"]

    # V2: top-k search; querying with an indexed entity's own content must
    # return that entity at rank 1 with score ~1
    target = evdb.first()
    hits = topk_search(evdb, target["content"], k=5, threshold=0.2).collect()
    assert hits and hits[0]["id"] == target["id"]
    assert hits[0]["score"] == pytest.approx(1.0, abs=1e-6)
    assert all(h["score"] > 0.2 for h in hits)
