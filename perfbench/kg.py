"""The two KG workloads, driven through the program's public entry points:
`api.KGEngine.insert` (kg_build) and
`streaming.stream.run_incremental_graph_stream` (kg_ingest).

Each run: seeded inputs are written to parquet, a Spark session starts and
runs untimed warm-up operations, then a closed loop with one client runs
operations until the run's seconds are used up or the workload's cap is
reached. Outputs are checked after the loop (see oracle.py).

A traced run does all of that, then restarts the Spark context in the same
JVM with the event log on, repeats the same number of operations, and
replays each layer's public function on the inputs those operations left on
disk, each inside its own job group. The event log is folded per group
(ledger.py).
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

from perfbench import inputs, ledger, oracle

MASTER = "local[4]"

# kg_build: one insert of BUILD_PAGES pages over the shipped 240-entity
# registry. The warm-up inserts the same pages into its own directory. On a
# quiet 4-vCPU host the cold insert took ~27 s, the first timed one 12-14 s
# and later ones 10.0-10.5 s; a second warm-up would steady the timed insert
# but does not fit the run budget.
BUILD_PAGES = 2000
BUILD_FILES = 8
BUILD_WARMUPS = 1
BUILD_MAX_OPS = 3

# kg_ingest: a base graph of INGEST_BASE pages from an INGEST_BASE-entity
# registry, then INGEST_BATCH-page file drops, one fold each.
INGEST_BASE = 2000
INGEST_BATCH = 400
INGEST_BASE_FILES = 4
# at most two folds, so that every run reports the same snapshot sizes
INGEST_MAX_FOLDS = 2
INGEST_WARMUPS = 2

BUILD_LAYERS = [
    "chunking.extract_texts",
    "chunking.chunk_texts",
    "extraction.extract_mentions",
    "merge.merge_entities",
    "merge.merge_relations",
    "linking.build_alias_map",
    "linking.canonicalize",
]
INGEST_LAYERS = [
    "streaming.streaming_mentions",
    "incremental.merge_entities_incremental",
    "incremental.merge_relations_incremental",
]
LAYER_SUFFIXES = {".s": "s", ".cpu_s": "s", ".shuffle_mb": "MB", ".tasks": "count", ".rows": "count"}
EXTRA_METRICS = {
    "linking.build_alias_map.jobs": "count",
    "pipeline.materialize.s": "s",
    "pipeline.stage_mb": "MB",
    "pipeline.jobs": "count",
    "streaming.fold_overhead.s": "s",
    "ingest.snapshot_mb": "MB",
    "ingest.write_amp": "ratio",
    "run.cpu_s": "s",
    "run.spill_mb": "MB",
    "run.gc_s": "s",
    "run.task_skew": "ratio",
    "run.jobs": "count",
    "run.tasks": "count",
    "run.jvm_peak_rss_mb": "MB",
    "run.trace_overhead": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit. A traced run reports all of them;
    a layer that does not run in the workload reads 0."""
    units = {
        layer + suffix: unit
        for layer in BUILD_LAYERS + INGEST_LAYERS
        for suffix, unit in LAYER_SUFFIXES.items()
    }
    units.update(EXTRA_METRICS)
    return units


END_TO_END_UNITS = {
    "setup_s": "s",
    "kg_triples_per_s": "triples/s",
    "ingest_pages_per_s": "pages/s",
    "ingest_batch_p50_s": "s",
}


# -- Spark session ------------------------------------------------------------


class Session:
    """One SparkSession from `session.get_spark` (only the master is set;
    a traced session also turns the event log on)."""

    def __init__(self, event_log_dir: str | None = None):
        from aperag_spark.session import get_spark

        conf = None
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.event_log_dir = event_log_dir
        self.spark = get_spark(master=MASTER, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    @contextmanager
    def group(self, name: str):
        """Tag the jobs started inside the block with `name`: as the job group,
        and as the GROUP_PROPERTY local property, which a streaming query's
        own thread inherits even though it sets its own job group."""
        self.sc.setJobGroup(name, name)
        self.sc.setLocalProperty(ledger.GROUP_PROPERTY, name)
        try:
            yield
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", ledger.GROUP_PROPERTY):
                self.sc.setLocalProperty(key, None)

    def _jobs(self):
        """The status store's retained jobs, newest first."""
        return self.sc._jsc.sc().statusStore().jobsList(None)

    def last_job_id(self) -> int:
        jobs = self._jobs()
        return jobs.apply(0).jobId() if jobs.size() else -1

    def counts_since(self, job_id: int) -> tuple[int, int]:
        """(jobs, completed tasks) of the jobs started after `job_id`. With one
        client and nothing else running, these are one operation's jobs."""
        jobs = self._jobs()
        n = tasks = 0
        while n < jobs.size() and jobs.apply(n).jobId() > job_id:
            tasks += jobs.apply(n).numCompletedTasks()
            n += 1
        return n, tasks

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> dict[str, dict] | None:
        """Stop the context; for a traced session, fold its event log."""
        self.spark.stop()
        if self.event_log_dir:
            return ledger.fold_event_log(ledger.find_event_log(self.event_log_dir))
        return None


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM (and with it Spark's Python workers) and
    wait until the process has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total / ledger.MB


def closed_loop(seconds: float, max_ops: int, op) -> list:
    """One client: start the next operation when the previous returns, until
    `seconds` have passed (at least one operation, at most `max_ops`)."""
    done = []
    t_end = time.perf_counter() + seconds
    while len(done) < max_ops and (not done or time.perf_counter() < t_end):
        done.append(op(len(done)))
    return done


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# -- kg_build -------------------------------------------------------------------


def run_kg_build(work: str, seed: int, seconds: float, trace: bool) -> dict:
    from aperag_spark.api import KGEngine
    from aperag_spark.synth import build_registry

    registry = build_registry(seed)
    rows = inputs.page_rows(seed, 0, BUILD_PAGES, registry)
    pages_dir = os.path.join(work, "pages")
    inputs.write_page_files(rows, pages_dir, BUILD_FILES)

    t_setup = time.perf_counter()
    sess = Session()
    for i in range(BUILD_WARMUPS):
        out = os.path.join(work, f"graph-warmup-{i}")
        with sess.group("warmup"):
            KGEngine(sess.spark, out).insert(sess.spark.read.parquet(pages_dir))
        shutil.rmtree(out)
    setup_s = time.perf_counter() - t_setup

    def insert(tag: str):
        def op(i: int) -> dict:
            out = os.path.join(work, f"graph-{tag}-{i}")
            pages = sess.spark.read.parquet(pages_dir)
            last = sess.last_job_id()
            with sess.group(f"{tag}:{i}"):
                t0 = time.perf_counter()
                KGEngine(sess.spark, out).insert(pages)
                dt = time.perf_counter() - t0
            jobs, tasks = sess.counts_since(last)
            return {
                "out": out,
                "s": dt,
                "group": f"{tag}:{i}",
                "triples": oracle.count_rows(os.path.join(out, "relations")),
                "jobs": jobs,
                "tasks": tasks,
            }

        return op

    ops = closed_loop(seconds, BUILD_MAX_OPS, insert("op"))
    traced = replays = folded = None
    if trace:
        sess.stop()
        sess = Session(os.path.join(work, "eventlog"))
        traced = [insert("traced")(i) for i in range(len(ops))]
        for o in traced:
            o["stage_mb"] = du_mb(o["out"])
        replays = _replay_build_layers(sess, pages_dir, traced[-1]["out"])
        rss = ledger.peak_rss_mb(sess.jvm_pid())
        folded = sess.stop()
    else:
        sess.stop()

    ref = oracle.reference_graph(rows)
    failed = 0
    problems: list[str] = []
    for o in ops + (traced or []):
        p = oracle.check_triples(os.path.join(o["out"], "relations"), ref)
        p += oracle.check_alias_groups(
            os.path.join(o["out"], "entities"),
            os.path.join(o["out"], "entities_canonical"),
            registry,
        )
        failed += bool(p)
        problems += p
        shutil.rmtree(o["out"], ignore_errors=True)

    times = [o["s"] for o in ops]
    result = {
        "attempted": len(ops) + len(traced or []),
        "failed": failed,
        "problems": problems,
        "ops": [{k: o[k] for k in ("s", "triples", "jobs", "tasks")} for o in ops],
        "metrics": {
            "setup_s": setup_s,
            "kg_triples_per_s": _median([o["triples"] / o["s"] for o in ops]),
            "ingest_pages_per_s": BUILD_PAGES * len(ops) / sum(times),
            "ingest_batch_p50_s": _median(times),
        },
    }
    if trace:
        m = _layer_metrics(folded, replays)
        op_groups = [folded.get(o["group"], ledger.empty_group()) for o in traced]
        layers_s = sum(m[f"{name}.s"] for name in BUILD_LAYERS)
        m["pipeline.materialize.s"] = _median([o["s"] for o in traced]) - layers_s
        m["pipeline.stage_mb"] = _median([o["stage_mb"] for o in traced])
        m["pipeline.jobs"] = _median([g["jobs"] for g in op_groups])
        m["linking.build_alias_map.jobs"] = folded.get(
            "layer:linking.build_alias_map", ledger.empty_group()
        )["jobs"]
        m.update(_run_metrics(op_groups, traced, ops, rss))
        result["per_layer"] = m
    return result


def _replay_build_layers(sess: Session, pages_dir: str, out: str) -> dict[str, list[tuple[str, float, int]]]:
    """Time each pipeline layer's public function on the stage tables one
    insert left in `out`; returns {layer: [(job group, seconds, rows)]}."""
    from aperag_spark.operators.chunking import chunk_texts, extract_texts
    from aperag_spark.operators.extraction import extract_mentions, split_mentions
    from aperag_spark.operators.linking import build_alias_map, canonicalize
    from aperag_spark.operators.merge import merge_entities, merge_relations
    from aperag_spark.sources.io import read_table

    spark = sess.spark

    def stage(name):
        return read_table(spark, os.path.join(out, name)).drop("_pid")

    raw_e, raw_r = split_mentions(stage("mentions"))
    with sess.group("prep"):
        relations_full = merge_relations(raw_r).localCheckpoint(eager=True)
    plans = {
        "chunking.extract_texts": lambda: [extract_texts(spark.read.parquet(pages_dir))],
        "chunking.chunk_texts": lambda: [chunk_texts(stage("texts"))],
        "extraction.extract_mentions": lambda: [extract_mentions(stage("chunks"))],
        "merge.merge_entities": lambda: [merge_entities(raw_e)],
        "merge.merge_relations": lambda: [merge_relations(raw_r)],
        "linking.build_alias_map": lambda: [build_alias_map(stage("entities"))],
        "linking.canonicalize": lambda: list(
            canonicalize(stage("entities"), relations_full, stage("alias_map"))
        ),
    }
    return {name: [_timed_noop(sess, "layer:" + name, build)] for name, build in plans.items()}


def _timed_noop(sess: Session, group: str, build) -> tuple[str, float, int]:
    """Run the plans `build` returns into the noop sink inside job group
    `group`, then count their rows outside it (the noop sink reports no
    records written); returns (group, wall seconds, rows)."""
    dfs = build()
    with sess.group(group):
        t0 = time.perf_counter()
        for df in dfs:
            noop(df)
        secs = time.perf_counter() - t0
    with sess.group("rows"):
        return group, secs, sum(df.count() for df in dfs)


def _layer_metrics(folded: dict, replays: dict[str, list[tuple[str, float, int]]]) -> dict:
    """All per-layer names at 0, then each replayed layer's wall time and its
    job groups' CPU, shuffle, tasks and rows (medians over its replays)."""
    m = {name: 0.0 for name in per_layer_units()}
    for layer, runs in replays.items():
        gs = [folded.get(g, ledger.empty_group()) for g, _, _ in runs]
        m[f"{layer}.s"] = _median([s for _, s, _ in runs])
        m[f"{layer}.cpu_s"] = _median([g["cpu_s"] for g in gs])
        m[f"{layer}.shuffle_mb"] = _median([g["shuffle_write_mb"] for g in gs])
        m[f"{layer}.tasks"] = _median([g["tasks"] for g in gs])
        m[f"{layer}.rows"] = _median([rows for _, _, rows in runs])
    return m


def _run_metrics(op_groups: list[dict], traced: list[dict], ops: list[dict], rss: float) -> dict:
    return {
        "run.cpu_s": _median([g["cpu_s"] for g in op_groups]),
        "run.spill_mb": _median([g["spill_mb"] for g in op_groups]),
        "run.gc_s": _median([g["gc_s"] for g in op_groups]),
        "run.task_skew": _median([g["task_skew"] for g in op_groups]),
        "run.jobs": _median([g["jobs"] for g in op_groups]),
        "run.tasks": _median([g["tasks"] for g in op_groups]),
        "run.jvm_peak_rss_mb": rss,
        "run.trace_overhead": _median([o["s"] for o in traced]) / _median([o["s"] for o in ops]),
    }


# -- kg_ingest --------------------------------------------------------------------


def run_kg_ingest(work: str, seed: int, seconds: float, trace: bool) -> dict:
    from aperag_spark.streaming.stream import run_incremental_graph_stream
    from aperag_spark.synth import build_registry

    registry = build_registry(seed, n_entities=INGEST_BASE)
    base_rows = inputs.page_rows(seed, 0, INGEST_BASE, registry)
    live = os.path.join(work, "live")
    pages_dir, graph_dir, ckpt_dir = (os.path.join(live, d) for d in ("pages", "graph", "ckpt"))
    inputs.write_page_files(base_rows, pages_dir, INGEST_BASE_FILES)
    drops, batch_rows = [], []
    for k in range(INGEST_MAX_FOLDS + INGEST_WARMUPS):  # warm-up batches last
        lo = INGEST_BASE + k * INGEST_BATCH
        rows = inputs.page_rows(seed, lo, lo + INGEST_BATCH, registry)
        path = os.path.join(work, "drops", f"batch-{k:03d}.parquet")
        inputs.write_pages(rows, path)
        drops.append(path)
        batch_rows.append(rows)
    pristine = os.path.join(work, "base")

    def restore():
        shutil.rmtree(live)
        shutil.copytree(pristine, live)

    def fold_in(src: str) -> tuple[dict, float]:
        dst = os.path.join(pages_dir, os.path.basename(src))
        tmp = os.path.join(pages_dir, "." + os.path.basename(src) + ".tmp")
        shutil.copyfile(src, tmp)
        t0 = time.perf_counter()
        os.replace(tmp, dst)
        ptr = run_incremental_graph_stream(sess.spark, pages_dir, graph_dir, ckpt_dir)
        return ptr, time.perf_counter() - t0

    t_setup = time.perf_counter()
    sess = Session()
    with sess.group("base"):
        base_ptr = run_incremental_graph_stream(sess.spark, pages_dir, graph_dir, ckpt_dir)
    shutil.copytree(live, pristine)
    with sess.group("warmup"):
        for path in drops[INGEST_MAX_FOLDS:]:
            fold_in(path)
    restore()
    setup_s = time.perf_counter() - t_setup

    def loop(tag: str):
        prev = [base_ptr]

        def op(k: int) -> dict:
            last = sess.last_job_id()
            with sess.group(f"{tag}:{k}"):
                ptr, dt = fold_in(drops[k])
            jobs, tasks = sess.counts_since(last)
            o = {
                "s": dt,
                "group": f"{tag}:{k}",
                "before": prev[0],
                "ptr": ptr,
                "batch": drops[k],
                "advanced": ptr["batch_id"] == prev[0]["batch_id"] + 1,
                "triples": oracle.count_rows(ptr["relations"]),
                "snapshot_mb": du_mb(ptr["entities"]) + du_mb(ptr["relations"]),
                "jobs": jobs,
                "tasks": tasks,
            }
            prev[0] = ptr
            return o

        return op

    ops = closed_loop(seconds, INGEST_MAX_FOLDS, loop("op"))
    ref = oracle.reference_graph(
        base_rows + [r for rows in batch_rows[: len(ops)] for r in rows]
    )

    def check(done: list[dict]) -> tuple[int, list[str]]:
        p = [f"fold {o['group']} did not advance the pointer by one" for o in done if not o["advanced"]]
        last = done[-1]["ptr"]
        p += oracle.check_snapshot(last["entities"], last["relations"], ref)
        # the final snapshot vouches for every fold that built it
        return (len(done) if p else 0), p

    failed, problems = check(ops)
    traced = folded = None
    if trace:
        sess.stop()
        restore()
        sess = Session(os.path.join(work, "eventlog"))
        fold = loop("traced")
        traced = [fold(k) for k in range(len(ops))]
        f2, p2 = check(traced)
        failed, problems = failed + f2, problems + p2
        replays = _replay_ingest_layers(sess, traced)
        rss = ledger.peak_rss_mb(sess.jvm_pid())
        folded = sess.stop()
    else:
        sess.stop()

    times = [o["s"] for o in ops]
    result = {
        "attempted": len(ops) + len(traced or []),
        "failed": failed,
        "problems": problems,
        "ops": [{k: o[k] for k in ("s", "triples", "jobs", "tasks")} for o in ops],
        "metrics": {
            "setup_s": setup_s,
            "kg_triples_per_s": _median([o["triples"] / o["s"] for o in ops]),
            "ingest_pages_per_s": INGEST_BATCH * len(ops) / sum(times),
            "ingest_batch_p50_s": _median(times),
        },
    }
    if trace:
        m = _layer_metrics(folded, replays)
        op_groups = [folded.get(o["group"], ledger.empty_group()) for o in traced]
        m["streaming.fold_overhead.s"] = _median(
            [
                o["s"] - sum(replays[name][k][1] for name in INGEST_LAYERS)
                for k, o in enumerate(traced)
            ]
        )
        m["ingest.snapshot_mb"] = _median([o["snapshot_mb"] for o in traced])
        m["ingest.write_amp"] = _median(
            [o["snapshot_mb"] * ledger.MB / os.path.getsize(o["batch"]) for o in traced]
        )
        m.update(_run_metrics(op_groups, traced, ops, rss))
        result["per_layer"] = m
    return result


def _replay_ingest_layers(sess: Session, folds: list[dict]) -> dict[str, list[tuple[str, float, int]]]:
    """Per fold: time streaming_mentions on the dropped batch, then the two
    incremental merges of its mentions into the snapshot the fold started
    from; returns {layer: [seconds per fold]}."""
    from aperag_spark.operators.extraction import split_mentions
    from aperag_spark.operators.incremental import (
        merge_entities_incremental,
        merge_relations_incremental,
    )
    from aperag_spark.streaming.stream import streaming_mentions
    from aperag_spark.synth import PAGES_SCHEMA

    spark = sess.spark
    out: dict[str, list[tuple[str, float, int]]] = {name: [] for name in INGEST_LAYERS}
    for k, o in enumerate(folds):
        batch = spark.read.schema(PAGES_SCHEMA).parquet(o["batch"])
        out["streaming.streaming_mentions"].append(
            _timed_noop(sess, f"layer:streaming.streaming_mentions:{k}", lambda: [streaming_mentions(batch)])
        )
        with sess.group("prep"):
            mentions = streaming_mentions(batch).localCheckpoint(eager=True)
        raw_e, raw_r = split_mentions(mentions)
        ex_e = spark.read.parquet(o["before"]["entities"])
        ex_r = spark.read.parquet(o["before"]["relations"])
        out["incremental.merge_entities_incremental"].append(
            _timed_noop(
                sess,
                f"layer:incremental.merge_entities_incremental:{k}",
                lambda: [merge_entities_incremental(raw_e, ex_e)],
            )
        )
        out["incremental.merge_relations_incremental"].append(
            _timed_noop(
                sess,
                f"layer:incremental.merge_relations_incremental:{k}",
                lambda: [merge_relations_incremental(raw_r, ex_r)],
            )
        )
    return out


WORKLOADS = {"kg_build": run_kg_build, "kg_ingest": run_kg_ingest}
