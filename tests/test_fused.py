"""The fused narrow kernels must equal the staged operators exactly:
extract_mentions_fused (pages → mentions) and extract_narrow (pages → the
texts, chunks and mentions stages of run_pipeline in one pass)."""

from datetime import datetime

import pytest

from aperag_spark.operators.chunking import chunk_texts, extract_texts
from aperag_spark.operators.extraction import (
    extract_mentions,
    extract_mentions_fused,
    extract_narrow,
    split_narrow,
)
from aperag_spark.synth import PAGES_SCHEMA, gen_pages_local
from aperag_spark.textproc import chunking_by_token_size, get_tokenizer


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(str, df.select(cols).collect()))


def test_fused_equals_staged(spark):
    pages = spark.createDataFrame(gen_pages_local(30, seed=5), schema=PAGES_SCHEMA)
    staged = extract_mentions(chunk_texts(extract_texts(pages)))
    fused = extract_mentions_fused(pages)
    assert _rows(staged) == _rows(fused)


# a page whose token windows repeat: every window after the first is the
# same text, so its chunk ids collapse per document
_PERIODIC_TEXT = "Acme0 Corp is a company known for widgets. " + "gamma " * 4000


def _periodic_page():
    return {
        "url": "https://periodic.example.com/a",
        "warc_ts": datetime(2024, 3, 1, 12, 30),
        "html": f"<html><body><p>{_PERIODIC_TEXT}</p></body></html>".encode(),
        "text": _PERIODIC_TEXT,
        "lang": "en",
    }


@pytest.fixture(scope="module")
def pages(spark):
    rows = gen_pages_local(40, seed=11) + [_periodic_page()]
    assert {r["lang"] for r in rows} - {"en"}, "no non-en page in the sample"
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def test_periodic_page_repeats_windows():
    windows = [c["content"] for c in chunking_by_token_size(get_tokenizer(), _PERIODIC_TEXT)]
    assert len(set(windows)) < len(windows)


@pytest.mark.parametrize(
    "workspace,lang_filter", [("", "en"), ("tenant-a", "en"), ("tenant-b", None)]
)
def test_one_pass_equals_staged(spark, pages, workspace, lang_filter):
    texts = extract_texts(pages, workspace, lang_filter=lang_filter)
    chunks = chunk_texts(texts, workspace)
    mentions = extract_mentions(chunks)
    got = split_narrow(extract_narrow(pages, workspace, lang_filter=lang_filter))
    for want, have in zip((texts, chunks, mentions), got):
        assert have.schema == want.schema
        assert _rows(have) == _rows(want)
    # the sample exercised what it is meant to: the periodic page's chunk
    # ids collapsed, and non-en pages reached the kernel when unfiltered
    periodic = [r for r in _rows(got[1]) if "periodic.example.com" in r]
    assert 1 < len(periodic) < len(chunking_by_token_size(get_tokenizer(), _PERIODIC_TEXT))
    langs = {r["lang"] for r in got[0].select("lang").distinct().collect()}
    assert (langs == {"en"}) == (lang_filter == "en")
