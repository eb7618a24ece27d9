"""SparkSession factory with scale-oriented defaults, plus the per-session
state that rides on a session: the package shipped to its Python workers
and the memo of derived frames several consumers share.

Tuned for the sandbox (local[N], single JVM) but every setting is the one
you'd ship to a 1000-executor cluster: AQE on (runtime coalescing + skew-join
splitting), Arrow for all pandas UDF traffic, modest shuffle partitions that
AQE resizes upward under load.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "aperag-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # Ship the package to executor Python workers. In production this is
    # `spark-submit --py-files aperag_spark.zip`; locally PYTHONPATH works.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{py_path}" if py_path else repo_root
        )
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    # shuffle/spill scratch on tmpfs when available — same convention as
    # bench.py's stage outputs ("local-disk write throughput is not the
    # thing under test"); this sandbox's /tmp is virtio-disk-backed with
    # bursty write latency that shows up as bimodal stage times. A real
    # cluster points this at fast local SSDs; env-overridable.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or (
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # single-JVM local mode holds driver + executor + broadcast relations
        # + every session-scoped localCheckpoint block in ONE heap; 8g left
        # the storage pool evicting shared-frame checkpoints mid-battery
        # (disk re-reads + GC pressure on late queries). Parameterized: a
        # real cluster sizes executor memory separately and would not use
        # this local default.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def memo(spark: SparkSession, key, build):
    """The value memoised under `key` for this session, built by `build()`
    on first use. Entries live on the session object itself, so they go
    when the session goes; `clear` releases them earlier."""
    entries = vars(spark).setdefault("_aperag_memo", {})
    if key not in entries:
        entries[key] = build()
    return entries[key]


def clear(spark: SparkSession) -> None:
    """Drop every memo entry of this session, unpersisting the frames (and
    the frames inside dict entries)."""
    for value in vars(spark).pop("_aperag_memo", {}).values():
        for df in value.values() if isinstance(value, dict) else [value]:
            if isinstance(df, DataFrame):
                df.unpersist()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship aperag_spark to executor Python workers via addPyFile — robust
    even when the caller (e.g. the round driver) built its own SparkSession
    without PYTHONPATH/--py-files. addPyFile works post-start; zipping is
    cached per process, registration per session."""
    memo(spark, "pyfiles", lambda: _add_package_zip(spark))


def _add_package_zip(spark: SparkSession) -> str:
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_dir)
    zpath = os.path.join("/tmp", f"aperag_spark_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, repo))
    spark.sparkContext.addPyFile(zpath)
    return zpath
