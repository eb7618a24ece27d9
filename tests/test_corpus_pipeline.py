"""Staged corpus-build pipeline (plans/corpus.py): resume/idempotency
mirroring tests/test_resume.py (the KG side), stage-vs-query equivalence
(the staged tables must be value-identical to the battery's oracle-checked
outputs), and the `upto` prefix contract."""

import hashlib
import os

import pyspark.sql.functions as F
import pytest

from aperag_spark.plans.corpus import CORPUS_STAGES, run_corpus_pipeline
from aperag_spark.plans.stages import read_manifests

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")


def _table_hash(spark, path):
    rows = sorted(map(str, spark.read.parquet(path).drop("_pid").collect()))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def test_crash_resume_identical_stages(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus_resume"))
    fresh = str(tmp_path_factory.mktemp("corpus_fresh"))
    docs = _docs(spark)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_corpus_pipeline(
            spark, docs, out, input_fingerprint="v", fail_after_stage="candidates"
        )
    mtimes = {
        s: os.path.getmtime(os.path.join(out, s, "_MANIFEST.json"))
        for s in ["minhash", "candidates"]
    }

    run_corpus_pipeline(spark, docs, out, input_fingerprint="v")
    # completed stages were skipped, not rewritten
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(out, s, "_MANIFEST.json")) == t

    run_corpus_pipeline(spark, docs, fresh, input_fingerprint="v")
    for stage in CORPUS_STAGES:
        assert _table_hash(spark, f"{out}/{stage}") == _table_hash(
            spark, f"{fresh}/{stage}"
        ), stage


def test_upto_builds_only_prefix(spark, tmp_path):
    out = str(tmp_path / "prefix")
    res = run_corpus_pipeline(
        spark, _docs(spark), out, input_fingerprint="v", upto="candidates"
    )
    assert set(res) == {"minhash", "candidates"}
    assert not os.path.exists(os.path.join(out, "clusters"))
    # extending to the full graph reuses the prefix
    t0 = os.path.getmtime(os.path.join(out, "minhash", "_MANIFEST.json"))
    res2 = run_corpus_pipeline(spark, _docs(spark), out, input_fingerprint="v")
    assert set(res2) == set(CORPUS_STAGES)
    assert os.path.getmtime(os.path.join(out, "minhash", "_MANIFEST.json")) == t0


def test_stages_match_battery_queries(spark, tmp_path):
    """The staged verdict tables must be value-identical to the battery's
    oracle-checked queries (which now read through the stage cache — this
    pins the staged path to the same results a from-scratch plan gives)."""
    from aperag_spark.operators.components import connected_components
    from aperag_spark.operators.corpus import DEDUP_CLUSTER_T, minhash_candidates, minhash_docs

    out = str(tmp_path / "equiv")
    res = run_corpus_pipeline(spark, _docs(spark), out, input_fingerprint="v")

    # from-scratch (unstaged) recomputation of the final verdict
    cand = minhash_candidates(minhash_docs(_docs(spark)))
    edges = cand.where(F.col("jaccard") >= DEDUP_CLUSTER_T).select("doc_a", "doc_b")
    cc = connected_components(edges.localCheckpoint(), src="doc_a", dst="doc_b")
    staged_clusters = {
        (r["doc_id"], r["canonical_id"], r["keep"])
        for r in res["clusters"].collect()
    }
    comp = {r["node"]: r["component"] for r in cc.collect()}
    fresh_clusters = {
        (
            r["doc_id"],
            comp.get(r["doc_id"], r["doc_id"]),
            comp.get(r["doc_id"], r["doc_id"]) == r["doc_id"],
        )
        for r in _docs(spark).select(F.col("doc_id").cast("bigint").alias("doc_id")).collect()
    }
    assert staged_clusters == fresh_clusters

    v = res["verdicts"]
    assert v.columns == ["doc_id", "quality_keep", "dedup_keep", "selected"]
    agree = v.where(
        F.col("selected") == (F.col("quality_keep") & F.col("dedup_keep"))
    ).count()
    assert agree == v.count() == 500


def test_metrics_record_lineage(spark, tmp_path):
    out = str(tmp_path / "lineage")
    run_corpus_pipeline(spark, _docs(spark), out, input_fingerprint="v")
    m = read_manifests(out)
    assert set(m) == set(CORPUS_STAGES)
    for stage in CORPUS_STAGES:
        assert m[stage]["rows"] == sum(m[stage]["partitions"].values())
        assert m[stage]["input_fingerprint"] == "v"


def test_corpus_engine_facade(spark, tmp_path):
    """CorpusEngine: build → staged tables → selected_docs, resume no-op."""
    import os

    from aperag_spark.api import CorpusEngine

    out = str(tmp_path / "engine")
    eng = CorpusEngine(spark, out)
    docs = _docs(spark)
    eng.build(docs, input_fingerprint="v")
    v = eng.verdicts
    assert v.count() == 500
    sel = eng.selected_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    n_sel = sel.count()
    import pyspark.sql.functions as F

    assert n_sel == v.where(F.col("selected")).count()
    assert 0 < n_sel < 500
    rep = eng.dedup_report()
    assert set(rep) == {"minhash", "candidates", "clusters", "verdicts"}
    # resume no-op: manifests untouched
    t0 = os.path.getmtime(os.path.join(out, "verdicts", "_MANIFEST.json"))
    eng.build(docs, input_fingerprint="v")
    assert os.path.getmtime(os.path.join(out, "verdicts", "_MANIFEST.json")) == t0
    # unbuilt stage access on a fresh dir raises a clear error
    import pytest

    with pytest.raises(ValueError, match="not built yet"):
        CorpusEngine(spark, str(tmp_path / "empty")).verdicts.count()
