"""Structured-Streaming ingest of `pages` — the continuous-indexing variant
of the batch pipeline.

The reference has no streaming path (SURVEY.md §2.8): new documents arrive
via Celery tasks one at a time (lightrag_manager.py:113-118). The rebuild's
analog is a file-source stream over the pages table. Each micro-batch runs
the batch pipeline's own kernels, not a copy of them:

  * extraction: pages → mentions is extraction.extract_mentions_fused, one
    mapInArrow per task (mapInArrow is streaming-compatible), the same
    kernel the staged build's extract_narrow shares its per-page logic with.
    A dropped file is one row group, so the pages are first spread
    round-robin over every core;
  * merging: run_incremental_graph_stream folds each micro-batch into the
    persistent snapshot with the M7 incremental merge
    (operators/incremental.py), the reference's merge-with-existing upsert.
    A fold runs the Python extraction once: its mentions are checkpointed
    and both merges read that copy, and the previous snapshot is read in
    the schema its footers record (no inference job);
  * monitoring: windowed_chunk_rate counts chunks with the same per-page
    chunker (extraction._narrow_page), so its counts equal the chunks
    stage's.

Watermarking: warc_ts bounds late data; host-windowed counts demonstrate
the stateful aggregation path, and streaming_exact_dedup the custom
stateful operator (applyInPandasWithState).
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aperag_spark import CHUNK_OVERLAP_TOKEN_SIZE, CHUNK_TOKEN_SIZE
from aperag_spark.operators.extraction import _narrow_page, extract_mentions_fused
from aperag_spark.plans.stages import SnapshotLog
from aperag_spark.session import ensure_package_shipped, release
from aperag_spark.synth import PAGES_SCHEMA
from aperag_spark.textproc import get_tokenizer


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over a pages parquet directory (at production
    scale: Iceberg streaming read / Kafka of WARC pointers)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def streaming_mentions(pages_stream: DataFrame, workspace: str = "") -> DataFrame:
    """The stateless prefix of the pipeline applied to a stream (or a batch
    frame): pages → mentions in one Python pass, the fused batch kernel
    extract_mentions_fused. Row for row equal to extract_texts →
    chunk_texts → extract_mentions (tests/test_fused.py).

    The pages are spread round-robin over the session's default
    parallelism first: a file drop is a single row group, so its scan is
    one task, and the kernel would otherwise run on one core."""
    n = pages_stream.sparkSession.sparkContext.defaultParallelism
    return extract_mentions_fused(pages_stream.repartition(n), workspace)


def windowed_chunk_rate(
    pages_stream: DataFrame,
    workspace: str = "",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked windowed aggregate: chunks/tokens per host per window —
    the monitoring aggregate for a continuous-indexing deployment.

    Per-doc chunk stats come from one narrow mapInArrow over the en pages
    (warc_ts carried through) that chunks each page with the chunks stage's
    own per-page logic, duplicate chunk ids collapsed — a stream-stream join
    back to texts would be disallowed in complete mode and needlessly
    stateful in append mode."""

    def _stats(batches):
        tokenizer = get_tokenizer()
        for batch in batches:
            n_chunks, n_tokens = [], []
            for html in batch.column("html").to_pylist():
                _, _, chunks = _narrow_page(
                    tokenizer, html, workspace, CHUNK_TOKEN_SIZE, CHUNK_OVERLAP_TOKEN_SIZE
                )
                n_chunks.append(len(chunks))
                n_tokens.append(sum(ch["tokens"] for ch in chunks.values()))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("url"),
                    batch.column("warc_ts"),
                    pa.array(n_chunks, pa.int64()),
                    pa.array(n_tokens, pa.int64()),
                ],
                names=["url", "warc_ts", "n_chunks", "n_tokens"],
            )

    stats = (
        pages_stream.where(F.col("lang") == "en")
        .select("url", "warc_ts", "html")
        .mapInArrow(_stats, "url string, warc_ts timestamp, n_chunks long, n_tokens long")
    )
    return (
        stats.withColumn("host", F.parse_url("url", F.lit("HOST")))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_chunks",
            "n_tokens",
        )
    )


DEDUP_OUT_SCHEMA = (
    "h string, doc_id long, canonical_doc_id long, "
    "is_duplicate boolean, seen_count long"
)
DEDUP_STATE_SCHEMA = "canonical long, cnt long"


def streaming_exact_dedup(
    docs_stream: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming exact dedup — the ingest-side form of q_dedup_exact, the
    operator a continuously-fed training-data pipeline actually needs
    (batch dedup can't drop a duplicate that arrives tomorrow): group by
    content hash, keep per-hash state (canonical doc id + running count),
    emit every incoming doc with its verdict.

    Canonical = min doc_id of the FIRST micro-batch that saw the hash
    (min-within-batch makes intra-batch arrival order irrelevant;
    first-batch-wins is the genuine streaming semantics — matching the
    reference's first-seen upsert behavior for chunk ids, lightrag.py
    insert path). State is one (long, long) per distinct content hash —
    RocksDB-backed and shuffle-partitioned by hash at scale, so 100 TB of
    corpus costs state proportional to distinct contents, not rows."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = docs_stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("h"),
    )

    def _update(key, pdfs, state: GroupState):
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
        ids.sort()
        if state.exists:
            canon, cnt = state.get
        else:
            canon, cnt = ids[0], 0
        cnt += len(ids)
        state.update((int(canon), int(cnt)))
        yield pd.DataFrame(
            {
                "h": [key[0]] * len(ids),
                "doc_id": ids,
                "canonical_doc_id": [int(canon)] * len(ids),
                "is_duplicate": [i != canon for i in ids],
                "seen_count": [int(cnt)] * len(ids),
            }
        )

    return hashed.groupBy("h").applyInPandasWithState(
        _update,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_incremental_graph_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    workspace: str = "",
    max_files_per_trigger: int = 8,
):
    """Production-shape continuous indexing: foreachBatch folds each mention
    micro-batch into the persistent entities/relations snapshot with the
    M7 incremental merge (operators/incremental.py — the reference's
    merge-with-existing upsert, operate.py:279-429), exactly once.

    Exactly-once mechanics: Spark's checkpoint WAL gives at-least-once
    foreachBatch invocations with a monotone batch_id; the fold is made
    idempotent by versioned snapshot directories + an atomically-renamed
    LATEST pointer recording the applied batch_id — a replayed batch sees
    its own id already applied and skips (the Spark form of the reference
    reconciler's CAS, reconciler.py:101-169)."""
    from aperag_spark.operators.extraction import split_mentions
    from aperag_spark.operators.incremental import (
        merge_entities_incremental,
        merge_relations_incremental,
    )
    from aperag_spark.operators.merge import merge_entities, merge_relations

    log = SnapshotLog(spark, out_dir)

    def _fold(batch_df, batch_id: int, prev: dict | None):
        # both merges read one materialized copy of the batch's mentions, so
        # the Python extraction runs once per fold. Lazy: the first merge's
        # job computes it (an eager checkpoint would be one more job)
        mentions = batch_df.localCheckpoint(eager=False)
        try:
            raw_e, raw_r = split_mentions(mentions)
            if prev is None:
                ents = merge_entities(raw_e)
                rels = merge_relations(raw_r)
            else:
                ex_e = log.read(prev["entities"])
                ex_r = log.read(prev["relations"])
                ents = merge_entities_incremental(raw_e, ex_e)
                rels = merge_relations_incremental(raw_r, ex_r)
            log.commit(
                batch_id,
                entities=log.write(ents, "entities", batch_id),
                relations=log.write(rels.drop("first_occ"), "relations", batch_id),
            )
        finally:
            release(mentions)

    mentions = streaming_mentions(
        read_pages_stream(spark, pages_dir, max_files_per_trigger), workspace
    )
    q = (
        mentions.writeStream.foreachBatch(log.fold(_fold))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return log.latest()


def run_stream_to_table(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    workspace: str = "",
):
    """availableNow streaming job: drain all currently-available files into
    a mentions parquet table with exactly-once file-sink semantics, then
    stop. Restart-safe via the checkpoint dir (Spark's own WAL replaces the
    reference's reconciler CAS, reconciler.py:101-169)."""
    mentions = streaming_mentions(read_pages_stream(spark, pages_dir), workspace)
    q = (
        mentions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return q


def run_streaming_neardup(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    bucket_cap: int | None = None,
    threshold: float | None = None,
    fail_before_commit: int | None = None,
):
    """Streaming NEAR-dup dedup — the ingest-side counterpart of the batch
    dedup_cluster endpoint (operators/corpus.py), completing the streaming
    story the way streaming_exact_dedup did for exact dedup: a continuously
    fed corpus gets near-dup verdicts WITHOUT batch replay. Each micro-batch
    of documents is MinHashed once (the same Arrow kernel as batch), new
    docs pair only against the ≤bucket_cap members already stored for the
    buckets they land in (state = bucket → member ids + per-doc verify
    tokens, both shuffle-partitioned tables), pairs are verified by exact
    shingle-Jaccard, edges accumulate, and connected components over the
    (tiny, bucket-capped) accumulated edge list refreshes the per-doc
    (canonical_id, keep) verdict snapshot.

    State tables under out_dir (at scale: Iceberg, partitioned by key):
      ids/      every ingested doc_id              (batch=N partition dirs)
      sigs/     doc_id → verify tokens hs          (the per-doc signatures)
      buckets/  (seed, minhash) → member doc_ids   (the banding state)
      edges/    verified duplicate pairs ≥ threshold
      verdicts_vN/ + LATEST pointer — versioned snapshot, atomically swung
      after each applied batch (same exactly-once mechanics as
      run_incremental_graph_stream: replayed batches see their id applied
      and skip).

    Cap semantics — deliberate, documented divergence from batch: batch
    drops ALL pairs of a bucket that ends up over MINHASH_BUCKET_CAP
    (retroactive, needs the full corpus); a stream cannot retract already-
    emitted pairs, so a bucket emits pairs only while old+new members fit
    the cap and freezes forever once it would overflow (prefix-cap). On a
    corpus where no bucket ever exceeds the cap the two semantics coincide
    exactly — tests/test_streaming_multimodal.py proves stream == batch
    dedup_cluster verdicts there, and the freeze behavior separately.

    Returns the LATEST pointer dict (batch_id, verdicts path)."""
    from aperag_spark.operators.corpus import (
        DEDUP_CLUSTER_T,
        MINHASH_BUCKET_CAP,
        MINHASH_DOC_SCHEMA,
        bucket_pairs,
        cluster_verdict,
        minhash_docs,
        verify_jaccard,
    )

    cap = MINHASH_BUCKET_CAP if bucket_cap is None else bucket_cap
    thr = DEDUP_CLUSTER_T if threshold is None else threshold
    log = SnapshotLog(spark, out_dir)

    def _fold(batch_df, bid: int, _prev: dict | None):
        docs = batch_df.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        ids_path = log.append(docs.select("doc_id"), "ids", bid)
        md = log.read(log.append(minhash_docs(docs), "sigs", bid))

        new_b = md.select(
            "doc_id", F.posexplode("mh").alias("seed", "minhash")
        )
        old_b = log.committed("buckets", "seed int, minhash string, doc_id long", bid)
        old_cnt = old_b.groupBy("seed", "minhash").agg(
            F.count(F.lit(1)).alias("old_cnt")
        )
        # per touched bucket: new members + the stored count
        nb = (
            new_b.groupBy("seed", "minhash")
            .agg(F.array_sort(F.collect_set("doc_id")).alias("new_members"))
            .join(old_cnt, ["seed", "minhash"], "left")
            .withColumn("old_cnt", F.coalesce("old_cnt", F.lit(0)))
            .localCheckpoint()  # 4 consumers below; unpersisted at fold end
        )
        ok = nb.where(F.col("old_cnt") + F.size("new_members") <= F.lit(cap))
        # new × old pairs (join members already stored for ok buckets)
        n_flat = ok.select(
            "seed", "minhash", F.explode("new_members").alias("new_id")
        )
        po = (
            n_flat.join(old_b, ["seed", "minhash"])
            .where(F.col("doc_id") != F.col("new_id"))
            .select(
                F.least("doc_id", "new_id").alias("doc_a"),
                F.greatest("doc_id", "new_id").alias("doc_b"),
            )
        )
        # new × new pairs: the shared bucket-local generator (size > 1
        # pre-filter per its contract)
        pn = bucket_pairs(
            ok.where(F.size("new_members") > 1), members_col="new_members"
        )
        pairs = po.unionByName(pn).distinct()
        # verify on committed signatures ∪ this batch's own (shared op;
        # same round-6 contract as the batch candidates path). Signatures
        # committed before the int64 tokens existed read back without `hl`:
        # rebuild it from `hs`, the same 8 digest bytes as hex
        sigs_all = (
            log.committed("sigs", MINHASH_DOC_SCHEMA, bid)
            .withColumn(
                "hl",
                F.coalesce(
                    "hl", F.transform("hs", lambda h: F.conv(h, 16, -10).cast("long"))
                ),
            )
            .unionByName(md)
        )
        edges = (
            verify_jaccard(pairs, sigs_all)
            .where(F.col("jaccard") >= F.lit(thr))
            .select("doc_a", "doc_b")
        )
        edges_path = log.append(edges, "edges", bid)
        # grow bucket state only while within the cap (frozen buckets stop)
        grow = n_flat.join(
            ok.select("seed", "minhash"), ["seed", "minhash"]
        ).select("seed", "minhash", F.col("new_id").alias("doc_id"))
        # the FIRST over-cap arrival is still recorded so the bucket stays
        # frozen; later arrivals to an already-frozen bucket (old_cnt > cap)
        # append nothing — state growth per bucket is bounded by cap + one
        # batch's members
        freeze = (
            nb.where(
                (F.col("old_cnt") + F.size("new_members") > F.lit(cap))
                & (F.col("old_cnt") <= F.lit(cap))
            )
            .select("seed", "minhash", F.explode("new_members").alias("doc_id"))
        )
        log.append(grow.unionByName(freeze), "buckets", bid)

        # refresh the verdict: the shared CC verdict op over committed
        # edges ∪ this batch's (tiny, bucket-capped) new edges
        edges_all = (
            log.committed("edges", "doc_a bigint, doc_b bigint", bid)
            .unionByName(log.read(edges_path))
            .localCheckpoint()  # CC iterates over it; unpersisted below
        )
        ids_all = log.committed("ids", "doc_id long", bid).unionByName(
            log.read(ids_path)
        )
        if edges_all.take(1):
            verdict = cluster_verdict(edges_all, ids_all, checkpoint=False)
        else:
            verdict = ids_all.select(
                "doc_id",
                F.col("doc_id").cast("bigint").alias("canonical_id"),
                F.lit(True).alias("keep"),
            )
        v_path = log.write(verdict, "verdicts", bid)
        if fail_before_commit == bid:
            # crash-injection for the replay test: every state append for
            # this batch has landed but the pointer never swings — the
            # replay must not read the crashed attempt's own state back
            raise RuntimeError(f"injected failure before commit of batch {bid}")
        log.commit(bid, verdicts=v_path)
        # a long-lived stream folds thousands of batches: release the
        # per-batch checkpointed blocks instead of pinning them forever
        for ckpt in (nb, edges_all):
            release(ckpt)

    ensure_package_shipped(spark)
    docs_stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    q = (
        docs_stream.writeStream.foreachBatch(log.fold(_fold))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return log.latest()
