"""The stage store (plans/stages.py): manifest-gated reads through the
engines and the one manifest reader. The resume runner is covered by
tests/test_resume.py and tests/test_corpus_pipeline.py, the stream
snapshot log's folds by the replay and crash tests in
tests/test_streaming_multimodal.py. Here: the manifest's per-partition
counts, which a stage commit reads from the parquet footers, and the
snapshot log's job-free read."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from aperag_spark.api import KGEngine
from aperag_spark.plans.stages import SnapshotLog, read_manifests, write_stage
from aperag_spark.sources.io import parquet_key_counts, parquet_schema


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



def test_manifest_counts_match_spark_with_an_empty_partition(spark, tmp_path):
    out = str(tmp_path / "counts")
    # 5 partitions of 20 ids; the filter empties partition 2 entirely
    df = spark.range(0, 100, 1, 5).where((F.col("id") < 40) | (F.col("id") >= 60))
    written = write_stage(df, out, "s", "fp")
    m = read_manifests(out)["s"]
    spark_counts = {
        str(r["_pid"]): r["count"]
        for r in spark.read.parquet(f"{out}/s").groupBy("_pid").count().collect()
    }
    assert m["partitions"] == spark_counts
    assert "2" not in m["partitions"] and len(m["partitions"]) == 4
    assert m["rows"] == sum(m["partitions"].values()) == written.count() == 80
    # the re-read takes the written frame's schema: same as inferring it
    assert written.schema == spark.read.parquet(f"{out}/s").drop("_pid").schema


def test_zero_row_stage_manifest(spark, tmp_path):
    out = str(tmp_path / "empty")
    written = write_stage(spark.range(0, 0, 1, 3), out, "s", "fp")
    m = read_manifests(out)["s"]
    assert m["rows"] == 0 and m["partitions"] == {}
    assert written.count() == 0 and written.columns == ["id"]


def test_footer_count_refuses_a_file_spanning_two_partitions(tmp_path):
    path = tmp_path / "mixed"
    path.mkdir()
    pq.write_table(pa.table({"_pid": [0, 0, 1], "x": [1, 2, 3]}), path / "part-0.parquet")
    with pytest.raises(ValueError, match="spans '_pid' 0..1"):
        parquet_key_counts(str(path), "_pid")
    pq.write_table(
        pa.table({"_pid": [3, 3]}), path / "part-0.parquet", write_statistics=False
    )
    with pytest.raises(ValueError, match="no '_pid' statistics"):
        parquet_key_counts(str(path), "_pid")
    pq.write_table(pa.table({"_pid": [3, 3]}), path / "part-0.parquet")
    assert parquet_key_counts(str(path), "_pid") == {3: 2}


@pytest.mark.parametrize("rows", [3, 0])
def test_snapshot_log_read_takes_the_footer_schema_without_a_job(spark, tmp_path, rows):
    """SnapshotLog.read reads a snapshot in the schema its footers record:
    the written frame's StructType, nullability included, with no parquet
    inference job. Spark's file source reads every column as nullable, so
    the frame equals what inference gives."""
    log = SnapshotLog(spark, str(tmp_path / "log"))
    df = spark.range(rows).select(
        "id",  # not nullable
        F.array(F.col("id").cast("string")).alias("arr"),  # array<string> without nulls
        F.struct(F.lit(1).alias("x"), F.lit(None).cast("string").alias("y")).alias("s"),
        F.when(F.col("id") > 1, F.lit(2.0)).alias("maybe"),  # nullable
    )
    path = log.write(df, "entities", 0)
    assert parquet_schema(path) == df.schema
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-read", "snapshot-read")
    try:
        read = log.read(path)
        schema = read.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("snapshot-read") == []
    assert schema == spark.read.parquet(path).schema
    assert [f.nullable for f in schema.fields] == [True] * 4
    assert sorted(read.collect()) == sorted(df.collect())
