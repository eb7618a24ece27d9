"""The stage store: the one owner of how a pipeline table becomes durable
and readable.

Batch stages (plans/pipeline.py, plans/corpus.py, the engines in api.py):
each stage is a table at `<out_dir>/<stage>/` written with a `_pid`
(Spark partition id) column, plus a `_MANIFEST.json` recording the input
fingerprint, code version, row count and per-partition row counts. The
manifest is written only after the table write completes, so it is the
stage's commit point. The write is the commit's only Spark job: the table
is re-read in the written frame's schema, and the per-partition counts come
from the table's own metadata (parquet footers: each writer task's `_pid`
is one value per row group), never from a second pass over the rows:

  * `StageRunner` resumes or writes: a stage whose manifest matches the
    run's input fingerprint and code version is read back, otherwise it is
    rebuilt — a job killed between stages resumes where it stopped and
    reproduces byte-identical outputs (tests/test_resume.py,
    tests/test_corpus_pipeline.py);
  * `read_stage` serves a stage only behind a readable manifest — a write
    killed midway leaves a partial directory that must not be served;
  * `read_manifests` is the per-partition lineage record of a whole run.

This replaces the reference's reconciler compare-and-set claims
(aperag/index/reconciler.py:67-169) as the resume/idempotency mechanism.

Stream folds (streaming/stream.py): `SnapshotLog` keeps versioned snapshot
directories `<name>_v<batch_id>` and per-batch state appends
`<name>/batch=<batch_id>/`, committed by an atomically swung `LATEST`
pointer. A micro-batch the pointer already covers is a replay after a
restart and is skipped, so Spark's at-least-once foreachBatch becomes an
exactly-once fold (the Spark form of reconciler.py:101-169's CAS). A fold
reads what the log wrote in the schema its footers record, with no
inference job, and tags its jobs with the caller's job group.

Storage goes through sources/io (Iceberg when configured, parquet
directories otherwise); the layouts above are format-agnostic. An Iceberg
stage has no footers this module owns, so its per-partition counts take a
Spark count.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aperag_spark import __version__
from aperag_spark.sources.io import key_counts, parquet_schema, read_table, write_table

MANIFEST = "_MANIFEST.json"
PID_COL = "_pid"


def _manifest(out_dir: str, stage: str) -> dict | None:
    """The stage's manifest, or None when it is missing or unreadable."""
    try:
        with open(os.path.join(out_dir, stage, MANIFEST)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _read(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return read_table(spark, os.path.join(out_dir, stage)).drop(PID_COL)


def write_stage(
    df: DataFrame, out_dir: str, stage: str, input_fingerprint: str
) -> DataFrame:
    """Write stage output + lineage manifest; return the re-read DataFrame
    so downstream stages consume the materialized (checkpointed) table,
    cutting lineage exactly at stage boundaries.

    The write is the commit's only Spark job: the re-read takes the written
    frame's schema (no inference job) and the per-partition counts come
    from the table's own metadata (`sources.io.key_counts`)."""
    spark = df.sparkSession
    path = os.path.join(out_dir, stage)
    t0 = time.time()
    tagged = df.withColumn(PID_COL, F.spark_partition_id())
    write_table(tagged, path)
    written = read_table(spark, path, schema=tagged.schema)
    per_partition = {
        str(pid): n for pid, n in key_counts(spark, path, PID_COL).items()
    }
    manifest = {
        "stage": stage,
        "rows": sum(per_partition.values()),
        "partitions": per_partition,
        "input_fingerprint": input_fingerprint,
        "code_version": __version__,
        "wall_sec": round(time.time() - t0, 3),
        "completed_at": int(time.time()),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return written.drop(PID_COL)


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """Manifest-gated read of a completed stage."""
    if _manifest(out_dir, stage) is None:
        raise ValueError(
            f"stage '{stage}' not built yet (no complete manifest under "
            f"{out_dir}) — build it first"
        )
    return _read(spark, out_dir, stage)


def read_manifests(out_dir: str) -> dict[str, dict]:
    """Every complete stage manifest under `out_dir`, keyed by stage name
    (the per-partition lineage record of a run)."""
    names = sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []
    found = {name: _manifest(out_dir, name) for name in names}
    return {name: m for name, m in found.items() if m is not None}


class StageRunner:
    """`runner(name, build)` resumes or writes stage `name`: read back when
    its manifest matches this run's input fingerprint and code version,
    otherwise `build()` it and write it. `results` holds every stage's
    DataFrame in run order. `fail_after_stage` simulates a crash right after
    that stage completes (the resume tests)."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        input_fingerprint: str,
        fail_after_stage: str | None = None,
    ):
        os.makedirs(out_dir, exist_ok=True)
        self.spark = spark
        self.out_dir = out_dir
        self.input_fingerprint = input_fingerprint
        self.fail_after_stage = fail_after_stage
        self.results: dict[str, DataFrame] = {}

    def __call__(self, name: str, build) -> DataFrame:
        m = _manifest(self.out_dir, name) or {}
        if (
            m.get("input_fingerprint") == self.input_fingerprint
            and m.get("code_version") == __version__
        ):
            df = _read(self.spark, self.out_dir, name)
        else:
            df = write_stage(build(), self.out_dir, name, self.input_fingerprint)
        self.results[name] = df
        if self.fail_after_stage == name:
            raise RuntimeError(f"injected failure after stage {name}")
        return df


class SnapshotLog:
    """Durable state of a stream fold under `out_dir`: versioned snapshot
    directories, per-batch state appends and the `LATEST` pointer whose
    atomic swing commits a batch."""

    def __init__(self, spark: SparkSession, out_dir: str):
        os.makedirs(out_dir, exist_ok=True)
        self.spark = spark
        self.out_dir = out_dir
        self._pointer = os.path.join(out_dir, "LATEST")

    def latest(self) -> dict | None:
        """The last committed pointer ({"batch_id", <name>: path, ...})."""
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as f:
            return json.load(f)

    def fold(self, apply):
        """foreachBatch callback running `apply(batch_df, batch_id, prev)`
        with `prev` the committed pointer (None before the first commit);
        a batch the pointer already covers is a replay and is skipped.

        A streaming query runs its jobs under its own job group (which
        `StreamingQuery.stop()` cancels by), so the fold's jobs carry the
        job group of the thread that built the callback as a job tag
        instead: `getJobIdsForTag(<caller's group>)` attributes them."""
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        tag = group if group and "," not in group else None  # a tag has no ','

        def _fold(batch_df: DataFrame, batch_id: int) -> None:
            prev = self.latest()
            if prev is not None and batch_id <= prev["batch_id"]:
                return  # replayed batch after restart: already applied
            if tag:
                sc.addJobTag(tag)
            try:
                apply(batch_df, batch_id, prev)
            finally:
                if tag:
                    sc.removeJobTag(tag)

        return _fold

    def write(self, df: DataFrame, name: str, batch_id: int) -> str:
        """Write snapshot `<name>_v<batch_id>`; returns its path."""
        path = os.path.join(self.out_dir, f"{name}_v{batch_id}")
        df.write.mode("overwrite").parquet(path)
        return path

    def append(self, df: DataFrame, name: str, batch_id: int) -> str:
        """Write this batch's rows of state table `name` to its own
        `batch=<batch_id>` directory (overwritten on replay, so the append
        is idempotent); returns its path."""
        path = os.path.join(self.out_dir, name, f"batch={batch_id}")
        df.write.mode("overwrite").parquet(path)
        return path

    def read(self, path: str) -> DataFrame:
        """A snapshot or state append this log wrote, read in the schema its
        footers record: no parquet inference job. The log writes parquet
        whatever the stage table format, so it reads parquet too."""
        return self.spark.read.schema(parquet_schema(path)).parquet(path)

    def committed(self, name: str, schema: str, before: int) -> DataFrame:
        """State table `name` as of the batches with id < `before` ONLY. A
        crashed attempt of the current batch may have left batch=<before>
        dirs behind (the pointer never swung); reading them back during the
        replay would double-count the batch's own rows, so a fold reads
        strictly-prior batches and unions its own in-flight frames
        explicitly.

        Every batch is read in `schema`, the table's current schema: a
        column that state written by older code lacks reads as null, for
        the fold to backfill."""
        path = os.path.join(self.out_dir, name)
        done = [
            e
            for e in (os.listdir(path) if os.path.isdir(path) else [])
            if e.startswith("batch=") and int(e.split("=", 1)[1]) < before
        ]
        if done:
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(path, e) for e in done]
            )
        return self.spark.createDataFrame([], schema)

    def commit(self, batch_id: int, **paths: str) -> None:
        """Swing the pointer to `batch_id` and its snapshot paths — the
        atomic rename is the commit point."""
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, **paths}, f)
        os.replace(tmp, self._pointer)
