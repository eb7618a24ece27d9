"""Head-entity skew stress: one entity receives 200k of 220k mentions —
the shape that serializes the reference behind a single lock
(lightrag.py:500) and that a naive reducer would choke on. The merge
(map-side partial agg + AQE) must complete with full provenance."""

import pyspark.sql.functions as F

from aperag_spark.operators.merge import merge_entities


def _skewed_mentions(spark, n_hot=200_000, n_cold=20_000):
    hot = spark.range(0, n_hot, 1, 16).select(
        F.lit("Mega Corp").alias("entity_name"),
        F.lit("organization").alias("entity_type"),
        # bounded distinct descriptions (the realistic case: many mentions,
        # few distinct strings) + unique source ids (provenance set grows)
        F.concat(F.lit("desc-"), (F.col("id") % 40).cast("string")).alias("description"),
        F.concat(F.lit("chunk-"), F.col("id").cast("string")).alias("source_id"),
        F.concat(F.lit("https://h/"), (F.col("id") % 1000).cast("string")).alias("file_path"),
        (F.col("id") % 7).cast("int").alias("chunk_order_index"),
        (F.col("id") % 11).cast("int").alias("record_idx"),
    )
    cold = spark.range(0, n_cold, 1, 16).select(
        F.concat(F.lit("Small"), (F.col("id") % 5000).cast("string")).alias("entity_name"),
        F.lit("person").alias("entity_type"),
        F.lit("a person").alias("description"),
        F.concat(F.lit("chunk-c"), F.col("id").cast("string")).alias("source_id"),
        F.lit("https://h/x").alias("file_path"),
        F.lit(0).alias("chunk_order_index"),
        F.lit(0).alias("record_idx"),
    )
    return hot.unionByName(cold)


def test_head_entity_merge_completes(spark):
    raw = _skewed_mentions(spark)
    plain = merge_entities(raw)
    hot_plain = plain.where(plain.entity_id == "Mega Corp").collect()[0]
    assert hot_plain["mention_count"] == 200_000
    assert len(hot_plain["source_ids"]) == 200_000  # full provenance retained
    assert len(hot_plain["description_frags"]) == 40
    assert hot_plain["description"].startswith("SUMMARY:")  # ≥10 frags → M6
    assert hot_plain["entity_type"] == "organization"
    # cold keys unaffected
    assert plain.count() == 5001


def test_minhash_degenerate_bucket_capped(spark, tmp_path, monkeypatch):
    """One boilerplate shingle shared by every document would put ALL docs
    in one (seed, minhash) bucket — O(n²) pairs in a single task without
    the cap. MINHASH_BUCKET_CAP must drop that bucket (observable via the
    bucket-stats query) while pairs from small buckets survive."""
    import pandas as pd

    from aperag_spark.queries import (
        MINHASH_BUCKET_CAP,
        q_dedup_minhash_bucket_stats,
        q_dedup_minhash_candidates,
    )

    n = 500  # >> cap
    # 25-word boilerplate prefix → 23 shingles shared by EVERY doc, so for
    # most seeds the corpus-wide min-hash shingle is a common one and all
    # 500 docs collapse into one bucket; docs 0/1 additionally share a
    # 10-word tail (their own near-dup signal, small buckets on the seeds
    # where a tail shingle wins the min)
    prefix = " ".join(f"c{j}" for j in range(25))
    rows = []
    for i in range(n):
        tail = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa"
            if i < 2
            else f"uniq{i}xx uniq{i}yy uniq{i}zz"
        )
        rows.append({"doc_id": i, "text": f"{prefix} {tail}",
                     "source": "s", "lang": "en"})
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet")

    pairs = q_dedup_minhash_candidates(spark, str(tmp_path)).collect()
    # the degenerate all-docs bucket produced no pairs...
    assert len(pairs) < n  # without the cap this would be ~n²/2 = 125k
    # ...but the true near-dup pair (docs 0,1 share 4+ shingles) survives
    # via their OTHER minhash seeds' small buckets
    assert any((p["doc_a"], p["doc_b"]) == (0, 1) for p in pairs)
    stats = q_dedup_minhash_bucket_stats(spark, str(tmp_path)).collect()
    assert sum(r["n_dropped"] for r in stats) >= 1  # drops are visible
    assert max(r["max_bucket"] for r in stats) > MINHASH_BUCKET_CAP
