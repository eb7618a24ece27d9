"""Table I/O indirection: Iceberg in production, parquet in this sandbox.

The north rule's storage layer is partitioned Iceberg tables (snapshot
overwrite / MERGE INTO replaces the reference's Postgres ON CONFLICT upsert,
SURVEY.md §2.1 S5). The sandbox has no Iceberg runtime jar, so the writer
resolves the format at runtime:

  * APERAG_SPARK_TABLE_FORMAT=iceberg (+ a configured `spark_catalog` /
    `local` Iceberg catalog) → `df.writeTo(table).createOrReplace()` with
    snapshot isolation; stage identity = Iceberg snapshot id.
  * default → parquet directory per stage; stage identity = the manifest's
    input fingerprint (plans/pipeline).

Everything above this module (stages, manifests, resume) is format-agnostic;
`key_counts` answers a stage manifest's per-partition row counts in the
format's own way (parquet footers, or a Spark count for Iceberg).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# where Spark's parquet writer records the written frame's schema (JSON)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def table_format() -> str:
    return os.environ.get("APERAG_SPARK_TABLE_FORMAT", "parquet").lower()


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _default_ident(location: str) -> str:
    """Catalog identifier for a stage directory. The stage NAME alone is not
    unique — multiple pipelines (different out_dirs: per-SF stage caches,
    per-tenant workspaces) run in one session, and `local.db.minhash` for
    one out_dir must not replace another's. Qualify with a short hash of
    the full location path."""
    import hashlib

    loc = os.path.abspath(location.rstrip("/"))
    tag = hashlib.md5(os.path.dirname(loc).encode()).hexdigest()[:8]
    return f"local.db.{os.path.basename(loc)}_{tag}"


def write_table(df: DataFrame, location: str, table_name: str | None = None) -> None:
    """Write a stage output. `location` is a directory (parquet mode) and
    `table_name` a catalog identifier (iceberg mode)."""
    if table_format() == "iceberg":
        spark = df.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                "APERAG_SPARK_TABLE_FORMAT=iceberg but no Iceberg runtime jar "
                "on the classpath (spark.jars.packages="
                "org.apache.iceberg:iceberg-spark-runtime-...)"
            )
        df.writeTo(table_name or _default_ident(location)).using(
            "iceberg"
        ).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(location)


def read_table(
    spark: SparkSession,
    location: str,
    table_name: str | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Read a stage output. A known `schema` (the frame that was written)
    skips parquet's schema-inference job."""
    if table_format() == "iceberg":
        return spark.read.table(table_name or _default_ident(location))
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(location)


def key_counts(
    spark: SparkSession, location: str, key: str, table_name: str | None = None
) -> dict[int, int]:
    """Rows per value of the integer column `key` in a written table. Parquet
    directories answer from their footers (no Spark job): every row group
    must carry `key` statistics with min == max, which holds when each
    writer task stamps its own constant key (plans/stages' `_pid`). Iceberg
    tables have no footers this module owns, so they count with Spark."""
    if table_format() == "iceberg":
        rows = read_table(spark, location, table_name).groupBy(key).count().collect()
        return {r[key]: r["count"] for r in rows}
    return parquet_key_counts(location, key)


def parquet_schema(location: str) -> StructType:
    """The Spark schema recorded in the footer of the first data file under
    parquet directory `location` (Spark writes it into every file's
    key-value metadata), read without a Spark job. Spark's file source
    reads every column as nullable whatever schema it is given, so reading
    in this schema gives the same frame as parquet's inference job."""
    import json

    import pyarrow.parquet as pq

    name = next(n for n in sorted(os.listdir(location)) if not n.startswith(("_", ".")))
    meta = pq.read_metadata(os.path.join(location, name)).metadata
    return StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))


def parquet_key_counts(location: str, key: str) -> dict[int, int]:
    """`key_counts` from the parquet footers under directory `location`;
    raises ValueError when a row group's `key` statistics are missing or
    span two values (a count is never guessed)."""
    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    for name in sorted(os.listdir(location)):
        if name.startswith(("_", ".")):  # _SUCCESS, _MANIFEST.json, .crc files
            continue
        meta = pq.read_metadata(os.path.join(location, name))
        if key not in meta.schema.names:
            raise ValueError(f"{name}: no '{key}' column")
        col = meta.schema.names.index(key)
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            if group.num_rows == 0:
                continue
            stats = group.column(col).statistics
            if stats is None or not stats.has_min_max:
                raise ValueError(f"{name}: row group {g} has no '{key}' statistics")
            if stats.min != stats.max:
                raise ValueError(
                    f"{name}: row group {g} spans '{key}' {stats.min}..{stats.max}"
                )
            counts[stats.min] = counts.get(stats.min, 0) + group.num_rows
    return counts
