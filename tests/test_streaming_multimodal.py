"""Streaming ingest (availableNow drain, watermarked window agg) and
multimodal plumbing tests."""

import shutil

import pytest

from aperag_spark.operators.multimodal import (
    decode_media,
    extract_media_features,
    gen_media_df,
)
from aperag_spark.synth import gen_pages_df


def test_streaming_drain_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "mentions_stream")
    ckpt = str(tmp_path / "ckpt")
    gen_pages_df(spark, 30, seed=11, partitions=3).write.parquet(pages_dir)

    from aperag_spark.operators.chunking import chunk_texts, extract_texts
    from aperag_spark.operators.extraction import MENTIONS_SCHEMA, extract_mentions
    from aperag_spark.streaming.stream import run_stream_to_table

    run_stream_to_table(spark, pages_dir, out_dir, ckpt)
    streamed = spark.read.parquet(out_dir)

    batch = extract_mentions(chunk_texts(extract_texts(spark.read.parquet(pages_dir))))
    assert streamed.count() == batch.count()
    # identical mention multiset, every column
    cols = [f.split(" ")[0] for f in MENTIONS_SCHEMA.split(", ")]
    assert sorted(map(str, streamed.select(cols).collect())) == sorted(
        map(str, batch.select(cols).collect())
    )

    # restart on same checkpoint: no new data → no duplicates (exactly-once)
    run_stream_to_table(spark, pages_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == batch.count()
    shutil.rmtree(out_dir, ignore_errors=True)


def test_streaming_mentions_runs_one_python_pass(spark):
    """The stream extracts with the batch kernel: pages → mentions is one
    Python map operator (mapInArrow), not a chain of mapInPandas hops."""
    import re

    from aperag_spark.streaming.stream import streaming_mentions
    from aperag_spark.synth import PAGES_SCHEMA, gen_pages_local

    pages = spark.createDataFrame(gen_pages_local(5, seed=1), schema=PAGES_SCHEMA)
    plan = streaming_mentions(pages)._jdf.queryExecution().executedPlan().toString()
    python_ops = re.findall(r"\b(\w*MapIn\w+|\w*EvalPython)\b", plan)
    assert len(python_ops) == 1, plan
    assert "MapInPandas" not in plan, plan


def test_windowed_chunk_rate(spark, tmp_path):
    from collections import defaultdict
    from urllib.parse import urlparse

    from aperag_spark.operators.chunking import chunk_texts, extract_texts
    from aperag_spark.streaming.stream import read_pages_stream, windowed_chunk_rate
    from aperag_spark.synth import PAGES_SCHEMA
    from tests.test_fused import _periodic_page

    pages_dir = str(tmp_path / "pages_w")
    # a periodic page whose token windows repeat: its chunk ids collapse
    periodic = spark.createDataFrame([_periodic_page()], schema=PAGES_SCHEMA)
    gen_pages_df(spark, 20, seed=3, partitions=2).unionByName(periodic).write.parquet(
        pages_dir
    )

    agg = windowed_chunk_rate(read_pages_stream(spark, pages_dir))
    # complete mode: append would only emit windows the watermark has passed,
    # and the synthetic corpus spans seconds — no window ever closes
    q = (
        agg.writeStream.format("memory")
        .queryName("chunk_rate")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from chunk_rate").collect()
    # watermark closes all windows under availableNow drain
    assert rows, "windowed aggregate produced no rows"
    assert all(r["n_chunks"] > 0 for r in rows)

    # per host, the counts are the chunks stage's own
    got = defaultdict(lambda: [0, 0])
    for r in rows:
        got[r["host"]][0] += r["n_chunks"]
        got[r["host"]][1] += r["n_tokens"]
    want = defaultdict(lambda: [0, 0])
    for r in chunk_texts(extract_texts(spark.read.parquet(pages_dir))).collect():
        host = urlparse(r["file_path"]).hostname
        want[host][0] += 1
        want[host][1] += r["tokens"]
    assert "periodic.example.com" in want
    assert dict(got) == dict(want)


def test_decode_media_stub_contract():
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image")
    a = decode_media(b"xx", "image", deterministic_fake=True)
    b = decode_media(b"xx", "image", deterministic_fake=True)
    assert a.shape == (16, 16, 3) and (a == b).all()
    assert decode_media(b"xx", "video", deterministic_fake=True).shape == (4, 16, 16, 3)


def test_media_feature_extraction(spark):
    media = gen_media_df(spark, 24, seed=42, partitions=3)
    feats = extract_media_features(media).collect()
    assert len(feats) == 24
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == 8 for r in feats)
    assert by_id["m2"]["kind"] == "video" and by_id["m2"]["frames"] == 4
    # determinism
    feats2 = {r["media_id"]: r["feature"] for r in extract_media_features(media).collect()}
    assert all(feats2[r["media_id"]] == r["feature"] for r in feats)


def test_incremental_graph_stream_foreachbatch(spark, tmp_path):
    """foreachBatch continuous indexing: versioned snapshots + atomic LATEST
    pointer give exactly-once folds; associative fields equal the
    all-at-once batch merge, and a restart with no new input is a no-op."""
    import json

    from aperag_spark.operators.chunking import chunk_texts, extract_texts
    from aperag_spark.operators.extraction import extract_mentions, split_mentions
    from aperag_spark.operators.merge import merge_entities, merge_relations
    from aperag_spark.streaming.stream import run_incremental_graph_stream

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    gen_pages_df(spark, 60, seed=11, partitions=6).write.parquet(pages_dir)

    ptr = run_incremental_graph_stream(
        spark, pages_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    assert ptr is not None and ptr["batch_id"] >= 1  # several folds ran

    ents = {r["entity_id"]: r for r in spark.read.parquet(ptr["entities"]).collect()}
    rels = {
        (r["src_id"], r["tgt_id"]): r
        for r in spark.read.parquet(ptr["relations"]).collect()
    }
    batch_pages = spark.read.parquet(pages_dir)
    raw_e, raw_r = split_mentions(extract_mentions(chunk_texts(extract_texts(batch_pages))))
    be = {r["entity_id"]: r for r in merge_entities(raw_e).collect()}
    br = {(r["src_id"], r["tgt_id"]): r for r in merge_relations(raw_r).collect()}

    # associative fields are batching-invariant (type vote / summary frag
    # folding are NOT — reference semantics count an existing entity as one
    # vote, covered by test_incremental)
    assert set(ents) == set(be)
    for eid, b in be.items():
        assert ents[eid]["mention_count"] == b["mention_count"], eid
        assert sorted(ents[eid]["source_ids"]) == sorted(b["source_ids"]), eid
    assert set(rels) == set(br)
    for k, b in br.items():
        assert abs(rels[k]["weight"] - b["weight"]) < 1e-9, k
        assert sorted(rels[k]["source_ids"]) == sorted(b["source_ids"]), k

    # restart with no new files: pointer unchanged (idempotent no-op)
    before = json.dumps(ptr, sort_keys=True)
    ptr2 = run_incremental_graph_stream(
        spark, pages_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    assert json.dumps(ptr2, sort_keys=True) == before

    # new input arrives: pointer advances, counts grow monotonically
    gen_pages_df(spark, 20, seed=99, partitions=2).write.mode("append").parquet(pages_dir)
    ptr3 = run_incremental_graph_stream(
        spark, pages_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    assert ptr3["batch_id"] > ptr["batch_id"]
    ents3 = spark.read.parquet(ptr3["entities"])
    assert ents3.count() >= len(ents)


def _fold_stages(spark, after_job: int) -> list:
    """The status store's last attempt of every stage of the jobs after
    `after_job`, with its RDD operation graph (DOT text)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    dot = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    jobs, out, n = store.jobsList(None), [], 0
    while n < jobs.size() and jobs.apply(n).jobId() > after_job:
        for sid in jobs.apply(n).stageIds().mkString(",").split(","):
            out.append((store.lastStageAttempt(int(sid)), dot(store.operationGraphForStage(int(sid)))))
        n += 1
    return out


def _last_job(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_incremental_fold_runs_one_python_pass(spark, tmp_path):
    """A fold runs the Python extraction once, spread over every core: the
    kernel reads the drop's pages from the round-robin exchange that
    streaming_mentions puts in front of it, so a stage that runs the kernel
    reads that exchange. Exactly one stage of the fold does, reading each
    page once over >= defaultParallelism tasks; every other stage whose
    lineage holds the kernel reads the fold's checkpointed mentions."""
    from aperag_spark.streaming.stream import run_incremental_graph_stream

    pages_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("pages", "graph", "ckpt"))
    gen_pages_df(spark, 40, seed=11, partitions=2).write.parquet(pages_dir)
    run_incremental_graph_stream(spark, pages_dir, out_dir, ckpt)
    drop = gen_pages_df(spark, 24, seed=12, partitions=1)
    en_pages = drop.where("lang = 'en'").count()
    drop.write.mode("append").parquet(pages_dir)

    before = _last_job(spark)
    ptr = run_incremental_graph_stream(spark, pages_dir, out_dir, ckpt)
    assert ptr["batch_id"] == 1
    kernel = [
        st
        for st, dot in _fold_stages(spark, before)
        if str(st.status()) == "COMPLETE" and "MapInArrow" in dot
    ]
    runs = [st for st in kernel if st.shuffleReadRecords() > 0]
    assert len(runs) == 1, [(st.stageId(), st.shuffleReadRecords()) for st in kernel]
    assert runs[0].shuffleReadRecords() == en_pages
    assert runs[0].numTasks() >= spark.sparkContext.defaultParallelism


def test_incremental_fold_jobs_carry_the_callers_group(spark, tmp_path):
    """A streaming query runs its jobs under its own job group; the fold
    tags them with the caller's group, so the caller can count them."""
    from aperag_spark.streaming.stream import run_incremental_graph_stream

    pages_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("pages", "graph", "ckpt"))
    gen_pages_df(spark, 12, seed=13, partitions=1).write.parquet(pages_dir)
    sc = spark.sparkContext
    sc.setJobGroup("fold-caller", "fold-caller")
    try:
        run_incremental_graph_stream(spark, pages_dir, out_dir, ckpt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc._jsc.sc().statusTracker().getJobIdsForTag("fold-caller")) > 0
    assert len(sc.getJobTags()) == 0  # the tag lives on the stream thread only


def test_resize_and_frame_sampling(spark):
    """resize (nearest-neighbor, real math) and uniform frame sampling over
    the deterministic-fake decode path."""
    import numpy as np

    from aperag_spark.operators.multimodal import (
        _nn_resize,
        frame_sample_indices,
        gen_media_df,
        resize_images,
        sample_video_frames,
    )

    # pure-function checks first
    img = np.arange(4 * 6 * 3, dtype=np.float32).reshape(4, 6, 3)
    out = _nn_resize(img, width=3, height=2)
    assert out.shape == (2, 3, 3)
    assert (out[0, 0] == img[0, 0]).all() and (out[-1, -1] == img[-1, -1]).all()
    assert frame_sample_indices(10, 4) == [0, 3, 6, 9]
    assert frame_sample_indices(2, 8) == [0, 1]
    assert frame_sample_indices(0, 4) == []

    media = gen_media_df(spark, n=12, seed=1).localCheckpoint()
    rs = resize_images(media, width=8, height=8).collect()
    assert rs and all(len(r["pixels"]) == 8 * 8 * 3 for r in rs)
    n_images = media.where("kind = 'image'").count()
    assert len(rs) == n_images

    fr = sample_video_frames(media, n_frames=2).collect()
    n_videos = media.where("kind = 'video'").count()
    assert len(fr) == 2 * n_videos  # fake videos have 4 frames; sample 2
    for r in fr:
        assert r["frame_idx"] in (0, 3) and r["n_frames_total"] == 4
        assert len(r["feature"]) == 8


def test_parser_assets_flow_into_media_pipeline(spark):
    """End-to-end S3→multimodal integration: an HTML page with an embedded
    data-URI image parses into an asset part row, bridges into the media
    table, and yields feature rows — payload bytes never shuffle."""
    import base64
    from hashlib import md5

    from aperag_spark.operators.multimodal import assets_to_media, extract_media_features
    from aperag_spark.operators.parsing import parse_pages

    raw = b"imagebytes-for-integration"
    b64 = base64.b64encode(raw).decode()
    html = f'<html><body><p>pic: <img alt="a" src="data:image/png;base64,{b64}"></p></body></html>'
    pages = spark.createDataFrame(
        [("https://x/a.html", bytearray(html.encode())),
         ("https://x/b.html", bytearray(html.encode()))],  # same asset twice
        "url string, html binary",
    )
    parts = parse_pages(pages)
    media = assets_to_media(parts)
    rows = media.collect()
    assert len(rows) == 1  # deduped by asset id across documents
    assert rows[0]["media_id"] == md5(raw).hexdigest()
    assert rows[0]["kind"] == "image" and bytes(rows[0]["payload"]) == raw
    feats = extract_media_features(media).collect()
    assert len(feats) == 1 and len(feats[0]["feature"]) == 8


def test_streaming_exact_dedup_stateful_matches_batch(spark, tmp_path):
    """streaming_exact_dedup across micro-batches must agree with the batch
    content-hash grouping: same groups, exactly one non-duplicate per hash,
    canonical inside its group, final seen_count = group size. (Canonical
    CHOICE is first-batch-wins by design, so the batch comparison is on
    groups and invariants, which are arrival-order independent.)"""
    import pyspark.sql.functions as F

    from aperag_spark.streaming.stream import streaming_exact_dedup

    docs_dir = str(tmp_path / "docs")
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # plant guaranteed exact duplicates: a shifted-id copy of 20 docs
    dups = base.limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    base.unionByName(dups).repartition(6).write.parquet(docs_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(docs_dir)
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedupstate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from dedupstate").collect()

    batch = spark.read.parquet(docs_dir).select(
        "doc_id", F.md5("text").alias("h")
    )
    groups: dict[str, set] = {}
    for r in batch.collect():
        groups.setdefault(r["h"], set()).add(r["doc_id"])

    # every doc got exactly one verdict row
    assert sorted(r["doc_id"] for r in rows) == sorted(
        d for g in groups.values() for d in g
    )
    by_hash: dict[str, list] = {}
    for r in rows:
        by_hash.setdefault(r["h"], []).append(r)
    assert set(by_hash) == set(groups)
    n_dup_groups = 0
    for h, g in groups.items():
        emitted = by_hash[h]
        canons = {r["canonical_doc_id"] for r in emitted}
        assert len(canons) == 1  # one canonical per hash, stable across batches
        canon = canons.pop()
        assert canon in g  # canonical is a member of its group
        keeps = [r for r in emitted if not r["is_duplicate"]]
        assert len(keeps) == 1 and keeps[0]["doc_id"] == canon
        assert max(r["seen_count"] for r in emitted) == len(g)
        if len(g) > 1:
            n_dup_groups += 1
    assert n_dup_groups >= 20  # the planted duplicates were caught


def test_probe_media_real_headers(spark):
    """probe_media parses REAL container headers (PNG IHDR, JPEG SOF0, GIF
    screen descriptor, WAV fmt/data chunks) — exact dimensions/durations
    with zero codec dependencies — and the DataFrame probe keeps payloads
    from shuffling."""
    import struct
    import zlib

    from aperag_spark.operators.multimodal import probe_media, probe_media_df

    # PNG 320x200: signature + IHDR
    ihdr = struct.pack(">II", 320, 200) + b"\x08\x02\x00\x00\x00"
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    # JPEG 640x480: SOI + APP0 + SOF0
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x01\x01\x11\x00"
    jpg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    # GIF 12x34
    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00\x00\x00"
    # WAV: 2s of 8kHz mono 16-bit => byte_rate 16000, data 32000 bytes
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data_chunk = b"\x00" * 32000
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data_chunk)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data_chunk)) + data_chunk
    )

    assert probe_media(png) == {"mime": "image/png", "width": 320, "height": 200, "duration_s": None}
    j = probe_media(jpg)
    assert (j["mime"], j["width"], j["height"]) == ("image/jpeg", 640, 480)
    g = probe_media(gif)
    assert (g["mime"], g["width"], g["height"]) == ("image/gif", 12, 34)
    w = probe_media(wav)
    assert (w["mime"], w["duration_s"]) == ("audio/wav", 2.0)
    assert probe_media(b"junk bytes") == {"mime": None, "width": None, "height": None, "duration_s": None}

    media = spark.createDataFrame(
        [("a", bytearray(png)), ("b", bytearray(jpg)), ("c", bytearray(wav)), ("d", bytearray(b"??"))],
        "media_id string, data binary",
    )
    rows = {r["media_id"]: r for r in probe_media_df(media).collect()}
    assert rows["a"]["width"] == 320 and rows["a"]["mime"] == "image/png"
    assert rows["b"]["height"] == 480
    assert rows["c"]["duration_s"] == 2.0
    assert rows["d"]["mime"] is None
    assert "data" not in rows["a"].asDict()  # payload dropped before shuffle


def _write_doc_batches(docs_dir, slices):
    """Write each slice as ONE parquet file with strictly increasing mtimes
    so FileStreamSource (which orders files by modification time) delivers
    exactly one slice per micro-batch under maxFilesPerTrigger=1 —
    repartition(N) gives no such guarantee (batch composition then depends
    on hash layout, which made the freeze test flaky)."""
    import glob
    import os
    import shutil

    os.makedirs(docs_dir, exist_ok=True)
    for k, df in enumerate(slices):
        tmp = docs_dir + f"_tmp{k}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dst = os.path.join(docs_dir, f"b{k:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_neardup_matches_batch_cluster(spark, tmp_path):
    """The streaming near-dup fold (run_streaming_neardup) must reach the
    SAME final verdict as the batch dedup_cluster endpoint when the same
    docs arrive across micro-batches — the regime where the two cap
    semantics coincide (no bucket ever exceeds the cap on this corpus;
    asserted below). Also: restart on the same checkpoint is a no-op."""
    import pyspark.sql.functions as F

    from aperag_spark.operators.corpus import (
        DEDUP_CLUSTER_T,
        cluster_verdict,
        minhash_candidates,
        minhash_docs,
    )
    from aperag_spark.streaming.stream import run_streaming_neardup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")

    # precondition for exact equality: no bucket over the cap
    md = minhash_docs(docs).localCheckpoint()
    max_bucket = (
        md.select(F.posexplode("mh").alias("seed", "minhash"))
        .groupBy("seed", "minhash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_bucket <= 64, "corpus no longer cap-free; pick another input"

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "neardup")
    ckpt = str(tmp_path / "ckpt_nd")
    # 4 deterministic micro-batches (any composition is fine here: on a
    # cap-free corpus the final verdict is arrival-order independent)
    _write_doc_batches(
        docs_dir, [docs.where(F.pmod("doc_id", F.lit(4)) == k) for k in range(4)]
    )

    ptr = run_streaming_neardup(spark, docs_dir, out, ckpt, max_files_per_trigger=1)
    assert ptr is not None and ptr["batch_id"] >= 1  # really incremental

    streamed = {
        (r["doc_id"], r["canonical_id"], r["keep"])
        for r in spark.read.parquet(ptr["verdicts"]).collect()
    }
    cand = minhash_candidates(md, checkpoint=False)
    batch = {
        (r["doc_id"], r["canonical_id"], r["keep"])
        for r in cluster_verdict(
            cand.where(F.col("jaccard") >= DEDUP_CLUSTER_T), docs
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) == docs.count()

    # restart on the same checkpoint: nothing new → pointer unchanged
    ptr2 = run_streaming_neardup(spark, docs_dir, out, ckpt, max_files_per_trigger=1)
    assert ptr2 == ptr


def test_streaming_neardup_restarts_over_pre_hl_state(spark, tmp_path):
    """Signature state written before the int64 `hl` token column existed
    (sigs rows carry only doc_id, hs, mh) must not break a restarted fold:
    the restart rebuilds hl from hs and reaches the verdicts of a run that
    never had old state."""
    import os
    import random
    import shutil

    from aperag_spark.streaming.stream import run_streaming_neardup

    rng = random.Random(0)
    vocab = [f"w{i}" for i in range(400)]
    base = {i: " ".join(rng.choices(vocab, k=60)) for i in range(8)}
    # batch 1 re-sends batch 0's docs 0..3 with their last word changed:
    # each is a near-dup of a doc whose signature is in the old state
    later = {100 + i: base[i].rsplit(" ", 1)[0] + " tail" for i in range(4)}

    def _slice(docs):
        return spark.createDataFrame(list(docs.items()), "doc_id long, text string")

    staged = str(tmp_path / "staged")
    _write_doc_batches(staged, [_slice(base), _slice(later)])
    old_dir, clean_dir = str(tmp_path / "docs_old"), str(tmp_path / "docs_clean")
    _write_doc_batches(clean_dir, [_slice(base), _slice(later)])
    os.makedirs(old_dir)
    shutil.copy2(f"{staged}/b000.parquet", old_dir)

    out, ckpt = str(tmp_path / "nd_old"), str(tmp_path / "ck_old")
    run_streaming_neardup(spark, old_dir, out, ckpt)
    # rewrite batch 0's signatures the way the pre-hl code wrote them
    sigs0 = f"{out}/sigs/batch=0"
    spark.read.parquet(sigs0).drop("hl").write.parquet(sigs0 + "_old")
    shutil.rmtree(sigs0)
    os.rename(sigs0 + "_old", sigs0)
    assert "hl" not in spark.read.parquet(sigs0).columns

    shutil.copy2(f"{staged}/b001.parquet", old_dir)
    ptr = run_streaming_neardup(spark, old_dir, out, ckpt)
    clean = run_streaming_neardup(
        spark, clean_dir, str(tmp_path / "nd_clean"), str(tmp_path / "ck_clean")
    )
    assert ptr["batch_id"] == clean["batch_id"] == 1
    got, want = (
        {
            (r["doc_id"], r["canonical_id"], r["keep"])
            for r in spark.read.parquet(p["verdicts"]).collect()
        }
        for p in (ptr, clean)
    )
    assert got == want
    # the cross-batch near-dups were found against the old-schema state
    assert {d for d, _, keep in got if not keep} == set(later)


def test_streaming_neardup_bucket_freeze(spark, tmp_path):
    """Prefix-cap semantics: once a bucket would overflow the cap it
    freezes — docs arriving later into a frozen bucket produce NO new
    pairs (bounded state and work, the cap's whole point), while
    already-emitted verdicts stand. Built from boilerplate docs that all
    share one shingle set so every bucket is the same."""
    import pyspark.sql.functions as F

    from aperag_spark.streaming.stream import run_streaming_neardup

    text = "alpha beta gamma delta epsilon"

    def _slice(ids):
        return spark.createDataFrame(
            [(i, text) for i in ids], "doc_id long, text string"
        )

    docs_dir = str(tmp_path / "docs_f")
    out = str(tmp_path / "neardup_f")
    # deterministic arrival: {0,1} → {2} → {3} → {4..7}. With cap=3 every
    # bucket (all docs share one shingle set) fills to 3 on batch 2, the
    # batch-3 arrival overflows it (frozen), and batch 4's docs see a
    # frozen bucket.
    _write_doc_batches(
        docs_dir, [_slice([0, 1]), _slice([2]), _slice([3]), _slice([4, 5, 6, 7])]
    )
    ptr = run_streaming_neardup(
        spark,
        docs_dir,
        out,
        str(tmp_path / "ckpt_f"),
        max_files_per_trigger=1,
        bucket_cap=3,
    )
    v = {r["doc_id"]: r for r in spark.read.parquet(ptr["verdicts"]).collect()}
    assert len(v) == 8
    # docs 0,1,2 clustered before the freeze (canonical 0); post-freeze
    # arrivals stay singletons (no retroactive pairing — bounded work)
    assert {i for i in v if not v[i]["keep"]} == {1, 2}
    assert v[1]["canonical_id"] == v[2]["canonical_id"] == 0
    assert all(v[i]["keep"] and v[i]["canonical_id"] == i for i in (0, 3, 4, 5, 6, 7))
    # bucket state growth is bounded: cap members + the single over-cap
    # batch recorded to keep the bucket frozen
    buckets = spark.read.parquet(f"{out}/buckets")
    per_bucket = buckets.groupBy("seed", "minhash").count().collect()
    assert max(r["count"] for r in per_bucket) == 4


def test_streaming_neardup_crash_replay(spark, tmp_path):
    """Crash-replay safety: a batch that crashes AFTER all its state
    appends but BEFORE the pointer swing is replayed by the checkpoint;
    the replay must not read the crashed attempt's own state back
    (double-counted bucket members would mis-freeze buckets and drop
    edges). Final verdicts must equal an uncrashed run's."""
    import pyspark.sql.functions as F

    from aperag_spark.streaming.stream import run_streaming_neardup

    sf = "/root/testdata/sf0.001"
    docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 120)
    )
    slices = [docs.where(F.pmod("doc_id", F.lit(3)) == k) for k in range(3)]

    crash_dir, clean_dir = str(tmp_path / "dc"), str(tmp_path / "dl")
    _write_doc_batches(crash_dir, slices)
    _write_doc_batches(clean_dir, slices)

    import pytest

    with pytest.raises(Exception, match="injected failure before commit"):
        run_streaming_neardup(
            spark, crash_dir, str(tmp_path / "oc"), str(tmp_path / "kc"),
            fail_before_commit=1,
        )
    # restart on the same checkpoint: batch 1 replays over its own leftovers
    ptr = run_streaming_neardup(
        spark, crash_dir, str(tmp_path / "oc"), str(tmp_path / "kc")
    )
    clean = run_streaming_neardup(
        spark, clean_dir, str(tmp_path / "ol"), str(tmp_path / "kl")
    )
    got = {
        (r["doc_id"], r["canonical_id"], r["keep"])
        for r in spark.read.parquet(ptr["verdicts"]).collect()
    }
    want = {
        (r["doc_id"], r["canonical_id"], r["keep"])
        for r in spark.read.parquet(clean["verdicts"]).collect()
    }
    assert got == want and len(got) == 120
