"""Triple extraction: chunk → (entity | relation) mention rows.

The reference calls an LLM per chunk with the entity_extraction prompt
(operate.py:641-814) and parses the reply's record grammar
(operate.py:686-718, 152-230). The rebuild batches the "LLM" —
a deterministic extractor stub, textproc.deterministic_extract — inside an
Arrow pandas UDF so one Python invocation handles thousands of chunks
(the Spark analog of the reference's Semaphore(20) concurrency cap,
lightrag_manager.py:42). Swapping in a real LLM endpoint means replacing
one function inside the same mapInPandas — the batching, schema, and
downstream plan are unchanged.

Output carries (file_path, chunk_order_index, record_idx) so downstream
aggregations can reproduce the reference's insertion-order-dependent
behaviors (entity-type tie-break operate.py:296-301, stub-node first-writer
operate.py:431-443) deterministically under any shuffle.

Gleaning (operate.py:746-767) is a loop over the same extractor inside the
UDF; production config runs gleaning=0 (lightrag_manager.py:45), which is
what we ship.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from aperag_spark import CHUNK_OVERLAP_TOKEN_SIZE, CHUNK_TOKEN_SIZE
from aperag_spark.textproc import (
    chunking_by_token_size,
    clean_text,
    compute_mdhash_id,
    deterministic_extract,
    extract_text_from_html,
    extract_with_gleaning,
    get_tokenizer,
)

MENTIONS_SCHEMA = (
    "kind string, entity_name string, entity_type string, description string, "
    "src_id string, tgt_id string, weight double, keywords string, "
    "source_id string, file_path string, chunk_order_index int, record_idx int"
)


def extract_mentions(
    chunks: DataFrame,
    extractor=deterministic_extract,
    max_gleaning: int = 0,
) -> DataFrame:
    """chunks → union of raw entity/relation mention rows (kind column
    discriminates; explode happens here, not in a second pass).

    max_gleaning > 0 runs the reference's gleaning loop inside the same UDF
    (operate.py:746-767; production config is 0, lightrag_manager.py:45)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for chunk_id, content, file_path, chunk_idx in zip(
                pdf["chunk_id"], pdf["content"], pdf["file_path"], pdf["chunk_order_index"]
            ):
                entities, relations = extract_with_gleaning(
                    content, max_gleaning=max_gleaning, extractor=extractor
                )
                rec_idx = 0
                for e in entities:
                    rows.append(
                        {
                            "kind": "entity",
                            "entity_name": e["entity_name"],
                            "entity_type": e["entity_type"],
                            "description": e["description"],
                            "src_id": None,
                            "tgt_id": None,
                            "weight": None,
                            "keywords": None,
                            "source_id": chunk_id,
                            "file_path": file_path,
                            "chunk_order_index": int(chunk_idx),
                            "record_idx": rec_idx,
                        }
                    )
                    rec_idx += 1
                for r in relations:
                    rows.append(
                        {
                            "kind": "relation",
                            "entity_name": None,
                            "entity_type": None,
                            "description": r["description"],
                            "src_id": r["src_id"],
                            "tgt_id": r["tgt_id"],
                            "weight": r["weight"],
                            "keywords": r["keywords"],
                            "source_id": chunk_id,
                            "file_path": file_path,
                            "chunk_order_index": int(chunk_idx),
                            "record_idx": rec_idx,
                        }
                    )
                    rec_idx += 1
            yield pd.DataFrame(rows, columns=[c.split(" ")[0] for c in MENTIONS_SCHEMA.split(", ")])

    return chunks.mapInPandas(_extract, schema=MENTIONS_SCHEMA)


# -- one Arrow pass over pages ------------------------------------------------
#
# Everything from a page to its mentions is per-page local (html → clean_text
# → doc_id → token windows → dict-collapse → extraction), so one mapInArrow
# can run it all. The per-page logic lives in `_narrow_page` and
# `_add_mentions`; two kernels call them:
#   * `extract_narrow` — the staged pipeline's texts, chunks and mentions
#     (run_pipeline);
#   * `extract_mentions_fused` — mentions only: run_pipeline(fuse_narrow=True)
#     and every micro-batch of the stream (streaming.stream.streaming_mentions,
#     the extraction of run_incremental_graph_stream and run_stream_to_table).
# The stream's windowed_chunk_rate calls `_narrow_page` itself. The staged
# operators extract_texts / chunk_texts / extract_mentions above stay as the
# independent form both kernels are tested against.

# kind-tagged union of the three narrow stages (split_narrow projects them):
#   text:   url, warc_ts, lang, doc_id, text
#   chunk:  source_id (= chunk_id), doc_id (= full_doc_id), chunk_order_index,
#           tokens, text (= content), file_path
#   entity / relation: the MENTIONS_SCHEMA columns
NARROW_SCHEMA = (
    MENTIONS_SCHEMA
    + ", url string, warc_ts timestamp, lang string, doc_id string, text string, tokens int"
)

_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "double": pa.float64()}


class _Columns:
    """Column lists of one output RecordBatch, filled a row at a time (a
    field a row does not name is null) — mapInArrow builds the batch from
    python lists directly, skipping pandas on both sides of the hot stage."""

    def __init__(self, schema: str):
        self.fields = [f.split(" ") for f in schema.split(", ")]
        self.values = {name: [] for name, _ in self.fields}
        self.rows = 0

    def add(self, **row) -> None:
        for name, col in self.values.items():
            col.append(row.get(name))
        self.rows += 1

    def batch(self, **arrays: pa.Array) -> pa.RecordBatch:
        """The RecordBatch; `arrays` supplies ready-built columns (those
        whose type has no python-list form here, e.g. timestamps)."""
        return pa.RecordBatch.from_arrays(
            [
                arrays[name] if name in arrays
                else pa.array(self.values[name], type=_ARROW_TYPES[kind])
                for name, kind in self.fields
            ],
            names=[name for name, _ in self.fields],
        )


def _narrow_page(
    tokenizer, html, workspace: str, chunk_token_size: int, overlap_token_size: int
) -> tuple[str, str, dict[str, dict]]:
    """One page's (text, doc_id, {chunk_id: chunk}). Duplicate chunk_ids of
    a document collapse before extraction (lightrag.py:652-657 keys chunks
    by chunk_id): a periodic text whose windows repeat must be extracted
    once per unique chunk, or relation weights / mention_count inflate vs
    the reference. Last-writer values, first-insertion order; empty chunks
    are skipped (lightrag.py:649-651)."""
    text = clean_text(extract_text_from_html(bytes(html)))
    chunks: dict[str, dict] = {}
    for ch in chunking_by_token_size(
        tokenizer,
        text,
        overlap_token_size=overlap_token_size,
        max_token_size=chunk_token_size,
    ):
        if ch["content"]:
            chunks[compute_mdhash_id(ch["content"], prefix="chunk-", workspace=workspace)] = ch
    return text, compute_mdhash_id(text, prefix="doc-", workspace=workspace), chunks


def _add_mentions(
    out: _Columns, chunk_id: str, ch: dict, file_path: str, extractor, max_gleaning: int
) -> None:
    """Append one chunk's entity then relation mention rows (record_idx
    numbers them in that order)."""
    entities, relations = extract_with_gleaning(
        ch["content"], max_gleaning=max_gleaning, extractor=extractor
    )
    at = {
        "source_id": chunk_id,
        "file_path": file_path,
        "chunk_order_index": ch["chunk_order_index"],
    }
    for rec_idx, e in enumerate(entities):
        out.add(
            kind="entity",
            entity_name=e["entity_name"],
            entity_type=e["entity_type"],
            description=e["description"],
            record_idx=rec_idx,
            **at,
        )
    for rec_idx, r in enumerate(relations, start=len(entities)):
        out.add(
            kind="relation",
            description=r["description"],
            src_id=r["src_id"],
            tgt_id=r["tgt_id"],
            weight=r["weight"],
            keywords=r["keywords"],
            record_idx=rec_idx,
            **at,
        )


def extract_narrow(
    pages: DataFrame, workspace: str = "", lang_filter: str | None = "en"
) -> DataFrame:
    """pages → the rows of the texts, chunks AND mentions stages in ONE
    mapInArrow, as one frame tagged by `kind` (NARROW_SCHEMA). Each Python
    task has a fixed start-up cost whatever its row count, so one pass
    instead of three Python-UDF jobs; `split_narrow` then projects the
    three stages in the JVM. Row for row equal to extract_texts →
    chunk_texts → extract_mentions (tests/test_fused.py)."""

    def _narrow(batches):
        tokenizer = get_tokenizer()
        for batch in batches:
            out = _Columns(NARROW_SCHEMA)
            text_rows: dict[int, int] = {}  # output row → its page's row
            for i, (url, html, lang) in enumerate(
                zip(
                    batch.column("url").to_pylist(),
                    batch.column("html").to_pylist(),
                    batch.column("lang").to_pylist(),
                )
            ):
                text, doc_id, chunks = _narrow_page(
                    tokenizer, html, workspace, CHUNK_TOKEN_SIZE, CHUNK_OVERLAP_TOKEN_SIZE
                )
                text_rows[out.rows] = i
                out.add(kind="text", url=url, lang=lang, doc_id=doc_id, text=text)
                for chunk_id, ch in chunks.items():
                    out.add(
                        kind="chunk",
                        source_id=chunk_id,
                        doc_id=doc_id,
                        chunk_order_index=ch["chunk_order_index"],
                        tokens=ch["tokens"],
                        text=ch["content"],
                        file_path=url,
                    )
                    _add_mentions(out, chunk_id, ch, url, deterministic_extract, 0)
            # warc_ts passes through as the input's own Arrow column
            page_of = pa.array([text_rows.get(r) for r in range(out.rows)], pa.int64())
            yield out.batch(warc_ts=batch.column("warc_ts").take(page_of))

    if lang_filter is not None:
        pages = pages.where(pages.lang == lang_filter)  # pushed to the scan
    return pages.select("url", "html", "lang", "warc_ts").mapInArrow(
        _narrow, NARROW_SCHEMA
    )


def split_narrow(narrow: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """extract_narrow's frame → (texts, chunks, mentions) in the schemas of
    extract_texts, chunk_texts and extract_mentions."""
    kind = F.col("kind")
    texts = narrow.where(kind == "text").select("url", "warc_ts", "doc_id", "text", "lang")
    chunks = narrow.where(kind == "chunk").select(
        F.col("source_id").alias("chunk_id"),
        F.col("doc_id").alias("full_doc_id"),
        "chunk_order_index",
        "tokens",
        F.col("text").alias("content"),
        "file_path",
    )
    mentions = narrow.where(kind.isin("entity", "relation")).select(
        *[f.split(" ")[0] for f in MENTIONS_SCHEMA.split(", ")]
    )
    return texts, chunks, mentions


def extract_mentions_fused(
    pages: DataFrame,
    workspace: str = "",
    lang_filter: str | None = "en",
    chunk_token_size: int = CHUNK_TOKEN_SIZE,
    overlap_token_size: int = CHUNK_OVERLAP_TOKEN_SIZE,
    extractor=deterministic_extract,
    max_gleaning: int = 0,
) -> DataFrame:
    """Fused narrow pipeline: pages → mentions in ONE mapInArrow — the
    manual operator fusion SURVEY.md §4 anticipates. It runs extract_narrow's
    per-page logic but emits only the mention rows, for runs that keep no
    texts/chunks stage (run_pipeline(fuse_narrow=True), the stream's
    micro-batches, throughput benches).
    mapInArrow (not mapInPandas) skips pandas DataFrame construction +
    conversion on both sides of the hot stage (~10% measured at 20k pages)."""

    def _fused(batches):
        tokenizer = get_tokenizer()
        for batch in batches:
            out = _Columns(MENTIONS_SCHEMA)
            for url, html in zip(
                batch.column("url").to_pylist(), batch.column("html").to_pylist()
            ):
                _, _, chunks = _narrow_page(
                    tokenizer, html, workspace, chunk_token_size, overlap_token_size
                )
                for chunk_id, ch in chunks.items():
                    _add_mentions(out, chunk_id, ch, url, extractor, max_gleaning)
            yield out.batch()

    if lang_filter is not None:
        pages = pages.where(pages.lang == lang_filter)
    return pages.select("url", "html").mapInArrow(_fused, MENTIONS_SCHEMA)


def split_mentions(mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    raw_entities = mentions.where(mentions.kind == "entity").select(
        "entity_name",
        "entity_type",
        "description",
        "source_id",
        "file_path",
        "chunk_order_index",
        "record_idx",
    )
    raw_relations = mentions.where(mentions.kind == "relation").select(
        "src_id",
        "tgt_id",
        "weight",
        "description",
        "keywords",
        "source_id",
        "file_path",
        "chunk_order_index",
        "record_idx",
    )
    return raw_entities, raw_relations
