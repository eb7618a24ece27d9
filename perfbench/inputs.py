"""Seeded benchmark inputs: `pages` rows from `aperag_spark.synth`, written as
parquet files so that reading them is the only input cost a timed run pays.

Rows are a pure function of (seed, page index, registry), so the same seed
always gives byte-identical files.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

# aperag_spark.synth.PAGES_SCHEMA as Arrow types; the timestamp is UTC so
# Spark reads it as TIMESTAMP, not TIMESTAMP_NTZ
PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_rows(seed: int, start: int, stop: int, registry: list[dict]) -> list[dict]:
    """Pages `start` .. `stop - 1` of the seeded corpus."""
    from aperag_spark.synth import gen_page

    return [gen_page(i, seed, registry) for i in range(start, stop)]


def write_pages(rows: list[dict], path: str) -> int:
    """Write one parquet file atomically (Spark's file source skips names
    that start with '.'); returns its size in bytes."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW), tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


def write_page_files(rows: list[dict], out_dir: str, n_files: int) -> list[str]:
    """Split rows into `n_files` contiguous parquet files under `out_dir`, so
    the scan yields one input partition per file."""
    per = -(-len(rows) // n_files)
    paths = []
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        write_pages(rows[k * per : (k + 1) * per], path)
        paths.append(path)
    return paths
