"""Structured-Streaming ingest of `pages` — the continuous-indexing variant
of the batch pipeline.

The reference has no streaming path (SURVEY.md §2.8): new documents arrive
via Celery tasks one at a time (lightrag_manager.py:113-118). The rebuild's
analog is a file-source stream over the pages table: each micro-batch runs
the same narrow extract→chunk→mention operators (identical code, identical
semantics — mapInPandas is streaming-compatible), while the merge
aggregations run either as windowed streaming aggregates (monitoring) or as
periodic batch re-aggregation over the accumulated mention log (the
mentions table is append-only; entity/relation merges are associative
re-aggregations, so batch-recompute over appended data == the reference's
incremental upsert semantics, M7).

Watermarking: warc_ts bounds late data; host-windowed counts demonstrate
the stateful path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aperag_spark.operators.chunking import chunk_texts, extract_texts
from aperag_spark.operators.extraction import extract_mentions
from aperag_spark.plans.stages import SnapshotLog
from aperag_spark.session import ensure_package_shipped
from aperag_spark.synth import PAGES_SCHEMA


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
    """The stateless prefix of the pipeline applied to a stream — identical
    operator code as batch (extract_texts/chunk_texts/extract_mentions)."""
    texts = extract_texts(pages_stream, workspace)
    chunks = chunk_texts(texts, workspace)
    return extract_mentions(chunks)


def windowed_chunk_rate(
    pages_stream: DataFrame,
    workspace: str = "",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked windowed aggregate: chunks/tokens per host per window —
    the monitoring aggregate for a continuous-indexing deployment.

    Per-doc chunk stats come from one narrow mapInPandas (warc_ts carried
    through) — a stream-stream join back to texts would be disallowed in
    complete mode and needlessly stateful in append mode."""
    import pandas as pd

    from aperag_spark.textproc import chunking_by_token_size, get_tokenizer

    texts = extract_texts(pages_stream, workspace)

    def _stats(batches):
        tok = get_tokenizer()
        for pdf in batches:
            rows = []
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
                chunks = [
                    c
                    for c in chunking_by_token_size(
                        tok, text, overlap_token_size=100, max_token_size=1200
                    )
                    if c["content"]
                ]
                rows.append(
                    {
                        "url": url,
                        "warc_ts": ts,
                        "n_chunks": len(chunks),
                        "n_tokens": sum(c["tokens"] for c in chunks),
                    }
                )
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "n_chunks", "n_tokens"])

    stats = texts.mapInPandas(
        _stats, "url string, warc_ts timestamp, n_chunks long, n_tokens long"
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


ENTITY_STATE_SCHEMA = (
    "mention_count long, type_names array<string>, type_counts array<long>, "
    "type_occ_fp array<string>, type_occ_coi array<long>, type_occ_ri array<long>, "
    "description_frags array<string>, source_ids array<string>"
)

ENTITY_OUT_SCHEMA = (
    "entity_id string, entity_type string, description string, "
    "description_frags array<string>, source_ids array<string>, mention_count long"
)


def streaming_entity_merge(mentions_stream: DataFrame, summary_threshold: int = 10) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per
    entity_name, fold each micro-batch's mention rows into persistent merge
    state with the SAME semantics as the batch merge (operators/merge.py,
    M2-M6) and the incremental fold-in (M7):

      * mention_count accumulates;
      * type vote = (count desc, first-occurrence asc) — the occurrence key
        (file_path, chunk_order_index, record_idx) is carried in state so
        the winner is deterministic regardless of micro-batch arrival order
        (operate.py:296-301);
      * description = sorted-set fragments, '<SEP>'-joined, LLM-summary stub
        when the SEP-count reaches the threshold (operate.py:303-316);
      * source_ids = set union (operate.py:306-310).

    Emits the entity's refreshed merged row every time its group receives
    rows (outputMode 'update'). State never expires (a KG entity is
    long-lived); at 100 TB the state store is RocksDB-backed and partitioned
    by the same shuffle key as the batch merge."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ents = mentions_stream.where(F.col("kind") == "entity").select(
        "entity_name",
        "entity_type",
        "description",
        "source_id",
        "file_path",
        "chunk_order_index",
        "record_idx",
    )

    def _update(key, pdfs, state: GroupState):
        from aperag_spark.textproc import stub_summarize

        if state.exists:
            (cnt, t_names, t_counts, o_fp, o_coi, o_ri, frags, srcs) = state.get
            # occurrence kept as a REAL (fp, coi, ri) tuple: python tuple
            # comparison == Spark struct comparison (UTF-8 byte order for
            # strings, numeric for ints) — a concatenated string key would
            # mis-order when one file_path is a prefix of another
            type_state = {
                n: [c, (fp, coi, ri)]
                for n, c, fp, coi, ri in zip(t_names, t_counts, o_fp, o_coi, o_ri)
            }
            frag_set, src_set = set(frags), set(srcs)
        else:
            cnt, type_state, frag_set, src_set = 0, {}, set(), set()
        for pdf in pdfs:
            cnt += len(pdf)
            for t, d, s, fp, coi, ri in zip(
                pdf["entity_type"], pdf["description"], pdf["source_id"],
                pdf["file_path"], pdf["chunk_order_index"], pdf["record_idx"],
            ):
                occ = (fp, int(coi), int(ri))
                if t in type_state:
                    type_state[t][0] += 1
                    type_state[t][1] = min(type_state[t][1], occ)
                else:
                    type_state[t] = [1, occ]
                frag_set.add(d)
                src_set.add(s)
        names = sorted(type_state)
        state.update((
            cnt,
            names,
            [type_state[n][0] for n in names],
            [type_state[n][1][0] for n in names],
            [type_state[n][1][1] for n in names],
            [type_state[n][1][2] for n in names],
            sorted(frag_set),
            sorted(src_set),
        ))
        winner = min(type_state.items(), key=lambda kv: (-kv[1][0], kv[1][1]))[0]
        joined = "<SEP>".join(sorted(frag_set))
        n_frag = joined.count("<SEP>") + 1
        desc = (
            stub_summarize(joined)
            if n_frag > 1 and n_frag >= summary_threshold
            else joined
        )
        yield pd.DataFrame(
            [{
                "entity_id": key[0],
                "entity_type": winner,
                "description": desc,
                "description_frags": sorted(frag_set),
                "source_ids": sorted(src_set),
                "mention_count": cnt,
            }]
        )

    return ents.groupBy("entity_name").applyInPandasWithState(
        _update,
        outputStructType=ENTITY_OUT_SCHEMA,
        stateStructType=ENTITY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RELATION_STATE_SCHEMA = (
    "weight double, description_frags array<string>, keywords array<string>, "
    "source_ids array<string>"
)

RELATION_OUT_SCHEMA = (
    "src_id string, tgt_id string, weight double, description string, "
    "keywords string, source_ids array<string>"
)


def streaming_relation_merge(mentions_stream: DataFrame, summary_threshold: int = 10) -> DataFrame:
    """Stateful streaming edge merge — the relation counterpart of
    streaming_entity_merge, with batch-identical M8-M9 semantics
    (operators/merge.merge_relations): canonical (least, greatest) pair key
    (operate.py:553-555), weight SUM (operate.py:406), sorted-set
    description fragments with the SEP-count summary trigger
    (operate.py:313-316,406-429), comma-split keyword union, source-id set
    union. Emits the refreshed merged edge per micro-batch touch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rels = mentions_stream.where(F.col("kind") == "relation").select(
        F.least("src_id", "tgt_id").alias("src_id"),
        F.greatest("src_id", "tgt_id").alias("tgt_id"),
        "weight",
        "description",
        "keywords",
        "source_id",
    )

    def _update(key, pdfs, state: GroupState):
        from aperag_spark.textproc import stub_summarize

        if state.exists:
            (weight, frags, kws, srcs) = state.get
            frag_set, kw_set, src_set = set(frags), set(kws), set(srcs)
        else:
            weight, frag_set, kw_set, src_set = 0.0, set(), set(), set()
        for pdf in pdfs:
            for w, d, k, s in zip(
                pdf["weight"], pdf["description"], pdf["keywords"], pdf["source_id"]
            ):
                weight += float(w)
                if d:
                    frag_set.add(d)
                for kw in str(k or "").split(","):
                    kw = kw.strip()
                    if kw:
                        kw_set.add(kw)
                if s:
                    src_set.add(s)
        state.update((weight, sorted(frag_set), sorted(kw_set), sorted(src_set)))
        joined = "<SEP>".join(sorted(frag_set))
        n_frag = joined.count("<SEP>") + 1
        desc = (
            stub_summarize(joined)
            if n_frag > 1 and n_frag >= summary_threshold
            else joined
        )
        yield pd.DataFrame(
            [{
                "src_id": key[0],
                "tgt_id": key[1],
                "weight": weight,
                "description": desc,
                "keywords": ",".join(sorted(kw_set)),
                "source_ids": sorted(src_set),
            }]
        )

    return rels.groupBy("src_id", "tgt_id").applyInPandasWithState(
        _update,
        outputStructType=RELATION_OUT_SCHEMA,
        stateStructType=RELATION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
        raw_e, raw_r = split_mentions(batch_df)
        if prev is None:
            ents = merge_entities(raw_e)
            rels = merge_relations(raw_r)
        else:
            ex_e = spark.read.parquet(prev["entities"])
            ex_r = spark.read.parquet(prev["relations"])
            ents = merge_entities_incremental(raw_e, ex_e)
            rels = merge_relations_incremental(raw_r, ex_r)
        log.commit(
            batch_id,
            entities=log.write(ents, "entities", batch_id),
            relations=log.write(rels.drop("first_occ"), "relations", batch_id),
        )

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
        md = spark.read.parquet(log.append(minhash_docs(docs), "sigs", bid))

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
        # same round-6 contract as the batch candidates path)
        sigs_all = log.committed(
            "sigs",
            "doc_id bigint, hs array<string>, hl array<long>, mh array<string>",
            bid,
        ).unionByName(md)
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
            .unionByName(spark.read.parquet(edges_path))
            .localCheckpoint()  # CC iterates over it; unpersisted below
        )
        ids_all = log.committed("ids", "doc_id long", bid).unionByName(
            spark.read.parquet(ids_path)
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
            try:
                ckpt.unpersist()
            except Exception:
                pass

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
