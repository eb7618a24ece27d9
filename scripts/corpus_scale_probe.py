"""Corpus-family scale probe (round-6): run the staged dedup pipeline and
the hot dedup/simhash queries on a SEEDED large synthetic corpus (same
word-salad shape as the driver's documents table: small vocabulary,
~40-60 tokens/doc, 5 langs / 20 sources) with planted near-duplicate
clusters, at a chosen doc count and core count.

Purpose: the driver's bench corpus is 50k docs (sf1.0); this proves the
round-6 kernels/joins hold an order of magnitude above that (VERDICT r5
"Next #1", and the round rule that optimizations must hold at larger SFs).
EXCLUSIVE (CLAUDE.md): never run while any other Spark job is timing.

Usage: python scripts/corpus_scale_probe.py [n_docs] [cpus] [dup_frac]
Defaults: 500000 docs, $SPARK_GRAFT_CPUS or 16 cores, 10% near-dup docs.
Prints one JSON line with per-stage walls and per-query noop seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = (
    "order agg batch key spark part hash scan small fast slow value merge "
    "window join line stream sort group table data query big the a filter "
    "shuffle broadcast column index vector plan stage task executor"
).split()
LANGS = ["en", "fr", "zh", "es", "de"]
BOILERPLATE = "the fast spark query plan hash join scan"  # shared shingle


def gen(n_docs: int, dup_frac: float, out_dir: str, seed: int = 7) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_base = int(n_docs * (1 - dup_frac))
    texts: list[str] = []
    lens = rng.integers(40, 61, size=n_base)
    vocab = np.array(VOCAB)
    for i in range(n_base):
        words = list(vocab[rng.integers(0, len(vocab), size=lens[i])])
        if i % 3 == 0:  # boilerplate run in a third of docs (cap stress)
            words[:7] = BOILERPLATE.split()
        texts.append(" ".join(words))
    # planted near-dups: mutate a random base doc in 1-3 positions
    for _ in range(n_docs - n_base):
        base = texts[int(rng.integers(0, n_base))].split()
        for _ in range(int(rng.integers(1, 4))):
            base[int(rng.integers(0, len(base)))] = str(
                vocab[int(rng.integers(0, len(vocab)))]
            )
        texts.append(" ".join(base))
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i % 5] for i in range(n_docs)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl, path)  # ONE file, one row group: the driver layout
    return path


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    cpus = sys.argv[2] if len(sys.argv) > 2 else os.environ.get("SPARK_GRAFT_CPUS", "16")
    dup_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.10

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    sf_dir = os.path.join(base, f"corpus_probe_{n_docs}")
    stage_dir = os.path.join(base, f"corpus_probe_stages_{n_docs}_{cpus}_{os.getpid()}")
    shutil.rmtree(stage_dir, ignore_errors=True)
    t0 = time.time()
    gen(n_docs, dup_frac, sf_dir)
    gen_sec = round(time.time() - t0, 1)

    from aperag_spark.plans.corpus import run_corpus_pipeline
    from aperag_spark.plans.stages import read_manifests
    from aperag_spark.queries import QUERIES, _t
    from aperag_spark.session import get_spark

    spark = get_spark(app_name="corpus-scale-probe", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t0 = time.time()
    run_corpus_pipeline(spark, docs, stage_dir, input_fingerprint=f"probe:{n_docs}")
    pipe_sec = round(time.time() - t0, 1)
    stages = {
        s: {"wall_sec": m["wall_sec"], "rows": m["rows"]}
        for s, m in read_manifests(stage_dir).items()
    }

    q_secs = {}
    for name in (
        "dedup_minhash_bucket_stats",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard",
        "sim_topk",
    ):
        spark.sparkContext.setJobDescription(f"probe:{name}")
        t0 = time.time()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            q_secs[name] = round(time.time() - t0, 1)
        except Exception as ex:  # sim_topk needs embeddings — absent here
            q_secs[name] = f"skipped: {type(ex).__name__}"
        spark.sparkContext.setJobDescription(None)

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "cpus": cpus,
                "dup_frac": dup_frac,
                "gen_sec": gen_sec,
                "corpus_pipeline_sec": pipe_sec,
                "stages": stages,
                "queries_noop_sec": q_secs,
            }
        )
    )
    shutil.rmtree(stage_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
