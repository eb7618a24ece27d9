"""Per-session state and host hygiene: the session memo (one frame per
session and corpus, released by clear()), the sweep of corpus stage dirs
leaked by dead drivers, and config byte-size parsing."""

import os
import subprocess
import sys

from aperag_spark.queries import _byte_string, _sweep_dead_stage_dirs, q_kg_relations
from aperag_spark.session import clear, memo

SF_DIR = "/root/testdata/sf0.001"


def test_memo_builds_once_per_session_and_clear_releases(spark):
    calls = []
    jsc = spark.sparkContext._jsc

    def persisted():  # ids of the RDDs holding blocks (checkpoints, caches)
        return set(jsc.getPersistentRDDs().keySet().toArray())

    def build():
        calls.append(1)
        return spark.range(5).localCheckpoint(eager=False)

    before = persisted()
    a = memo(spark, ("test_memo", 1), build)
    assert memo(spark, ("test_memo", 1), build) is a
    assert len(calls) == 1
    assert a.count() == 5 and persisted() - before
    clear(spark)
    # the checkpoint's blocks are freed, not left for the JVM's collector
    # (a subset, not equality: the collector may drop unrelated RDDs)
    assert persisted() <= before
    b = memo(spark, ("test_memo", 1), build)
    assert b is not a and len(calls) == 2
    assert b.count() == 5


def test_query_frames_are_shared_within_a_session(spark):
    assert q_kg_relations(spark, SF_DIR) is q_kg_relations(spark, SF_DIR)


def test_sweep_removes_dead_pid_stage_dirs_only(tmp_path):
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # reaped: its pid names no live process
    dead = tmp_path / f"aperag_corpus_stages_{child.pid}"
    live = tmp_path / f"aperag_corpus_stages_{os.getpid()}"
    other = tmp_path / "aperag_corpus_stages_notapid"
    for d in (dead, live, other):
        (d / "stage").mkdir(parents=True)
    _sweep_dead_stage_dirs(str(tmp_path))
    assert not dead.exists()
    assert live.exists() and other.exists()


def test_byte_string_parsed_by_the_jvm(spark):
    assert _byte_string(spark, "1t") == 1 << 40
    assert _byte_string(spark, "134217728b") == 134217728
    assert _byte_string(spark, "128m") == 128 << 20
