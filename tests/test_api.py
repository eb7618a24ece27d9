"""KGEngine facade: the reference's LightRAG verbs end-to-end."""

import pytest

from aperag_spark.api import KGEngine
from aperag_spark.synth import gen_pages_df


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_engine"))
    eng = KGEngine(spark, out)
    pages = gen_pages_df(spark, 80, seed=42, partitions=8)
    eng.insert(pages, input_fingerprint="test:80:42")
    return eng


def test_insert_materializes_resumable_stages(engine, spark):
    assert engine.entities.count() > 0
    assert engine.relations.count() > 0
    assert engine.chunks.count() > 0
    # re-insert with the same fingerprint is a resume no-op (manifests hit)
    pages = gen_pages_df(spark, 80, seed=42, partitions=8)
    before = engine.entities.count()
    engine.insert(pages, input_fingerprint="test:80:42")
    assert engine.entities.count() == before


def test_query_all_modes(engine):
    q = "What is Acme0 Corp known for in cloud energy partnership?"
    for mode in ("local", "global", "hybrid", "naive", "mix", "bypass"):
        ctx = engine.query(q, mode=mode, top_k=10, token_budget=2000)
        assert "chunks" in ctx and "entities" in ctx and "relations" in ctx
    assert engine.query(q, mode="bypass")["prompt"] == q
    hy = engine.query(q, mode="hybrid", top_k=10)
    assert hy["entities"].count() > 0


def test_fulltext_search(engine):
    # a token present in the synthetic corpus
    first_chunk = engine.chunks.select("content").first()["content"]
    kw = next(w for w in first_chunk.split() if len(w) > 4 and w.isalpha())
    hits = engine.fulltext_search([kw], topk=5).collect()
    assert hits and all(r["rank"] >= 1 for r in hits)


def test_fulltext_search_cjk(engine):
    # the CJK analyzer bigrams CJK runs only; Latin tokens stay whole, so on
    # this English corpus it ranks exactly like the standard analyzer
    first_chunk = engine.chunks.select("content").first()["content"]
    kw = next(w for w in first_chunk.split() if len(w) > 4 and w.isalpha())
    hits = engine.fulltext_search([kw], topk=5, cjk=True).collect()
    assert hits and all(r["rank"] >= 1 for r in hits)
    std = engine.fulltext_search([kw], topk=5).collect()
    assert sorted(map(tuple, hits)) == sorted(map(tuple, std))


def test_graph_maintenance_roundtrip(engine):
    target = engine.entities.orderBy("entity_id").first()["entity_id"]
    engine.rename_entity(target, "Renamed Target")
    ids = {r["entity_id"] for r in engine.entities.select("entity_id").collect()}
    assert "Renamed Target" in ids and target not in ids
    engine.delete_entity("Renamed Target")
    ids = {r["entity_id"] for r in engine.entities.select("entity_id").collect()}
    assert "Renamed Target" not in ids


def test_delete_documents_and_export(engine):
    url = engine.chunks.select("file_path").first()["file_path"]
    engine.delete_documents([url])  # recomputes from the mentions stage
    after_ents = engine.entities
    assert after_ents.count() > 0
    # provenance to the deleted url is gone
    import pyspark.sql.functions as F

    leaked = after_ents.where(
        F.array_contains(F.col("file_paths"), url)
    ).count()
    assert leaked == 0

    out = engine.export_for_kg_eval(sample_size=50)
    assert set(out) == {"entities", "relationships", "source_texts"}
    assert out["entities"].count() <= 50


def test_bfs_from_engine(engine):
    seed = engine.entities.orderBy("entity_id").first()["entity_id"]
    sub = engine.get_knowledge_graph(seed, max_depth=1, max_nodes=100).collect()
    assert any(r["entity_id"] == seed and r["depth"] == 0 for r in sub)
