"""The event-log fold on a small canned log."""

import json

import pytest

from perfbench import ledger


def _job(job_id, stages, group=None, prop=None):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if prop is not None:
        props[ledger.GROUP_PROPERTY] = prop
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _task(stage, launch, finish, cpu_ns=0, run_ms=0, gc_ms=0, sw=0, rr=0, lr=0, mem_spill=0, disk_spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
        },
    }


@pytest.fixture
def folded(tmp_path):
    mb = ledger.MB
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], group="a"),
        _task(0, 0, 100, cpu_ns=2_000_000_000, run_ms=1500, gc_ms=100, sw=mb),
        _task(0, 0, 100, cpu_ns=1_000_000_000, run_ms=500, sw=mb),
        _task(1, 100, 130, cpu_ns=500_000_000, rr=mb, lr=mb),
        # a streaming job: its own job group, the benchmark's property wins
        _job(1, [2], group="stream-run-id", prop="b"),
        _task(2, 200, 210, mem_spill=2 * mb, disk_spill=mb),
        _task(2, 200, 220),
        _task(2, 200, 260),
        # stage 1 listed again by a later job (reused shuffle): stays in "a"
        _job(2, [1, 3], group="c"),
        _task(3, 300, 301, cpu_ns=250_000_000),
        _job(3, [4]),
        _task(4, 400, 404),
        {"Event": "SparkListenerApplicationEnd"},
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return ledger.fold_event_log(str(path))


def test_sums_per_group(folded):
    a = folded["a"]
    assert (a["jobs"], a["tasks"]) == (1, 3)
    assert a["cpu_s"] == pytest.approx(3.5)
    assert a["run_s"] == pytest.approx(2.0)
    assert a["gc_s"] == pytest.approx(0.1)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["shuffle_read_mb"] == pytest.approx(2.0)
    assert a["spill_mb"] == 0


def test_group_property_beats_job_group(folded):
    assert "stream-run-id" not in folded
    b = folded["b"]
    assert (b["jobs"], b["tasks"]) == (1, 3)
    assert b["spill_mb"] == pytest.approx(3.0)


def test_shared_stage_stays_with_first_job(folded):
    c = folded["c"]
    assert (c["jobs"], c["tasks"]) == (1, 1)
    assert c["cpu_s"] == pytest.approx(0.25)


def test_ungrouped_jobs_fold_under_empty_name(folded):
    assert (folded[""]["jobs"], folded[""]["tasks"]) == (1, 1)


def test_task_skew_is_max_over_median_of_longest_stage(folded):
    # group b: durations 10, 20, 60 → 60 / 20
    assert folded["b"]["task_skew"] == pytest.approx(3.0)
    # group a: stage 0 (span 100) beats stage 1 (span 30); equal tasks → 1
    assert folded["a"]["task_skew"] == pytest.approx(1.0)


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
    after = [200, 0, 100, 1600, 0, 0, 0, 100, 0, 0]
    assert ledger.steal_share(before, after) == pytest.approx(50 / 1000)
