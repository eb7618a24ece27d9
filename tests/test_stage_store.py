"""The stage store (plans/stages.py): manifest-gated reads through the
engines and the one manifest reader. The resume runner is covered by
tests/test_resume.py and tests/test_corpus_pipeline.py, the stream
snapshot log by the replay and crash tests in
tests/test_streaming_multimodal.py."""

import os

import pytest

from aperag_spark.api import KGEngine
from aperag_spark.plans.stages import read_manifests, write_stage


def test_kgengine_refuses_a_stage_without_manifest(spark, tmp_path):
    # a write killed before its manifest leaves a bare table directory
    partial = tmp_path / "partial"
    spark.createDataFrame([("a",)], "entity_id string").write.parquet(
        str(partial / "entities_canonical")
    )
    with pytest.raises(ValueError, match="not built yet"):
        KGEngine(spark, str(partial)).entities


def test_kgengine_refuses_an_unbuilt_out_dir(spark, tmp_path):
    with pytest.raises(ValueError, match="not built yet"):
        KGEngine(spark, str(tmp_path / "never_built")).entities


def test_read_manifests_skips_incomplete_stages(spark, tmp_path):
    out = str(tmp_path / "mixed")
    write_stage(spark.range(3), out, "done", "fp")
    os.makedirs(os.path.join(out, "half_written"))
    os.makedirs(os.path.join(out, "corrupt"))
    with open(os.path.join(out, "corrupt", "_MANIFEST.json"), "w") as f:
        f.write("{not json")
    assert set(read_manifests(out)) == {"done"}
    assert read_manifests(str(tmp_path / "absent")) == {}

