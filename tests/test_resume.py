"""Resume/idempotency (north rule): a job killed between stages resumes
without recomputing completed stages and reproduces byte-identical outputs;
corrupted manifests trigger recompute, not bad reads."""

import hashlib
import json
import os

import pytest

from aperag_spark.plans.pipeline import run_pipeline
from aperag_spark.plans.stages import read_manifests
from aperag_spark.synth import gen_pages_df


def _table_hash(spark, path):
    rows = sorted(map(str, spark.read.parquet(path).drop("_pid").collect()))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def pages(spark):
    return gen_pages_df(spark, 40, seed=7, partitions=4)


def test_crash_resume_identical_outputs(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume"))
    fresh = str(tmp_path_factory.mktemp("fresh"))

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, pages, out, input_fingerprint="s7", fail_after_stage="mentions")
    done = {s for s in os.listdir(out) if os.path.isdir(os.path.join(out, s))}
    assert {"texts", "chunks", "mentions"} <= done
    mtimes = {
        s: os.path.getmtime(os.path.join(out, s, "_MANIFEST.json"))
        for s in ["texts", "chunks", "mentions"]
    }

    run_pipeline(spark, pages, out, input_fingerprint="s7")
    # completed stages were skipped, not rewritten
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(out, s, "_MANIFEST.json")) == t

    run_pipeline(spark, pages, fresh, input_fingerprint="s7")
    for table in ["entities", "relations", "entities_canonical", "relations_canonical"]:
        assert _table_hash(spark, f"{out}/{table}") == _table_hash(spark, f"{fresh}/{table}")


def test_input_fingerprint_change_forces_recompute(spark, pages, tmp_path):
    out = str(tmp_path / "fp")
    run_pipeline(spark, pages, out, input_fingerprint="v1", with_linking=False)
    t1 = os.path.getmtime(os.path.join(out, "texts", "_MANIFEST.json"))
    run_pipeline(spark, pages, out, input_fingerprint="v2", with_linking=False)
    t2 = os.path.getmtime(os.path.join(out, "texts", "_MANIFEST.json"))
    assert t2 > t1  # different input snapshot → stage recomputed


def test_corrupt_manifest_heals(spark, pages, tmp_path):
    out = str(tmp_path / "heal")
    run_pipeline(spark, pages, out, input_fingerprint="v", with_linking=False)
    mp = os.path.join(out, "chunks", "_MANIFEST.json")
    with open(mp, "w") as f:
        f.write("{not json")
    run_pipeline(spark, pages, out, input_fingerprint="v", with_linking=False)
    m = json.load(open(mp))
    assert m["rows"] > 0 and m["input_fingerprint"] == "v"


def test_manifests_record_per_partition_lineage(spark, pages, tmp_path):
    out = str(tmp_path / "lineage")
    run_pipeline(spark, pages, out, input_fingerprint="v", with_linking=False)
    metrics = read_manifests(out)
    for stage in ["texts", "chunks", "mentions", "entities", "relations"]:
        m = metrics[stage]
        assert m["rows"] == sum(m["partitions"].values())
        assert m["input_fingerprint"] == "v" and m["wall_sec"] > 0


def test_fully_resumed_run_only_reads_its_stages(spark, pages, tmp_path):
    """A run whose every stage is on disk reads them back and computes
    nothing: at most one job per stage (the parquet schema read)."""
    out = str(tmp_path / "complete")
    run_pipeline(spark, pages, out, input_fingerprint="v")
    sc = spark.sparkContext
    sc.setJobGroup("fully-resumed", "run_pipeline over complete stages")
    try:
        resumed = run_pipeline(spark, pages, out, input_fingerprint="v")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("fully-resumed")
    assert len(resumed) == 8
    assert len(jobs) <= len(resumed), f"{len(jobs)} jobs for {len(resumed)} stages"
