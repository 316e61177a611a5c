"""Scale-curve bench for the heavy dedup/text queries.

The per-round bench (bench.py) runs at sf0.1, where Spark's fixed
job-scheduling floor hides data-dependent scaling. This tool scales
the sf0.1 documents/embeddings tables by an integer factor (seeded
derived rows: rotated word order for text so near-dup families stay
realistic; perturbed vectors for embeddings), stages a synthetic
sf_dir under /tmp (other tables symlinked), and times the heavy
registered queries at each factor. A bucketing-design regression
(quadratic candidate blowup) shows up as super-linear time growth.

    python tools/bench_heavy.py [factor ...]    # default: 1 4

Prints one JSON line per factor and a scaling summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
HEAVY = [
    "minhash_lsh_pairs",
    "minhash_lsh_verified",
    "ngram_jaccard_neardup",
    "simhash_clusters",
    "exact_dup_clusters",
    "embedding_cosine_neardup",
    "embedding_ivf_kmeans",
    "embedding_neardup_components",
    "doc_bpe_tokens",
    "doc_tfidf_topterms",
    "doc_benchmark_contamination",
    "doc_pack_sequences",
    "doc_fuzzy_match",
    "doc_neardup_keep_best",
    "doc_heavy_hitters",
    "doc_boilerplate_shingles",
    "doc_tokenset_dedup",
    "doc_bpe_learn",
    "doc_bpe_encode",
    "embedding_semantic_dedup",
    # round 6
    "doc_bm25_topk",
    "doc_minhash_jaccard_estimate",
    "embedding_sq8_topk",
    # round 7
    "embedding_cluster_quality",
    "doc_priority_sample",
    "doc_lm_perplexity",
    "doc_rrf_hybrid_retrieval",
]


def stage_dir(spark, factor: int) -> str:
    base = tempfile.mkdtemp(prefix=f"bench_heavy_x{factor}_")
    for t in TABLES:
        dst = os.path.join(base, f"{t}.parquet")
        if t not in ("documents", "embeddings") or factor == 1:
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)
            continue
        from pyspark.sql import functions as F

        df = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        n = df.count()
        copies = spark.range(factor).select(F.col("id").alias("_copy"))
        scaled = df.crossJoin(copies)
        if t == "documents":
            words = F.split(F.col("text"), " ")
            k = (F.col("_copy") * 7) % F.greatest(F.size(words), F.lit(1))
            rotated = F.concat(
                F.slice(words, k + 1, F.size(words)),
                F.slice(words, F.lit(1), k),
            )
            scaled = scaled.select(
                (F.col("doc_id") + F.col("_copy") * n).alias("doc_id"),
                F.array_join(rotated, " ").alias("text"),
                *[c for c in df.columns if c not in ("doc_id", "text")],
            )
        else:
            scaled = scaled.select(
                (F.col("vec_id") + F.col("_copy") * n).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x: x + F.col("_copy").cast("float") * F.lit(0.001),
                ).alias("embedding"),
                *[c for c in df.columns if c not in ("vec_id", "embedding")],
            )
        scaled.write.mode("overwrite").parquet(dst)
    return base


def lsh_telemetry(spark, sf_dir: str) -> dict:
    """MinHash band-bucket truncation telemetry for this factor: the
    round-9 bucket-cap discipline promises NO silent truncation, so
    every heavy-bench point records how close the data came to the
    cap and exactly how much (normally zero) was dropped."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bands = minhash_bands(docs, F.col("text"), "doc_id")
    obs = Observation("lsh_heavy")
    n_pairs = lsh_candidate_pairs(bands, observation=obs).count()
    max_bucket = (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c"))
        .collect()[0][0]
    )
    return {
        "bucket_cap": 512,
        "candidate_pairs": n_pairs,
        "max_bucket": max_bucket,
        **{k: int(v) for k, v in obs.get.items()},
    }


def main(factors, queries=None, runs=2):
    from nbody6_data_pipeline_spark.queries import ensure_confs, registry
    from nbody6_data_pipeline_spark.session import get_spark

    heavy = queries or HEAVY
    spark = get_spark("bench_heavy")
    ensure_confs(spark)
    reg = registry()
    # warmup: run every heavy query once at 1x so JVM/codegen warmup
    # does not contaminate the first timed factor
    warm = stage_dir(spark, 1)
    for name in heavy:
        reg[name]["spark"](spark, warm).collect()
    shutil.rmtree(warm, ignore_errors=True)
    results = []
    for factor in factors:
        sf_dir = stage_dir(spark, factor)
        timings = {}
        for name in heavy:
            best = None
            for _ in range(runs):  # best-of-2 damps scheduler noise
                spark.catalog.clearCache()  # queries may persist();
                # a leaked cache from a prior run would thrash the JVM
                t0 = time.time()
                reg[name]["spark"](spark, sf_dir).collect()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        rec = {"factor": factor, "total_sec": round(sum(timings.values()), 3),
               "queries": timings}
        rec["lsh_telemetry"] = lsh_telemetry(spark, sf_dir)
        print(json.dumps(rec), flush=True)
        results.append(rec)
        shutil.rmtree(sf_dir, ignore_errors=True)
    if len(results) >= 2:
        a, z = results[0], results[-1]
        print(json.dumps({
            "summary": "heavy_scale",
            "data_factor": z["factor"] / a["factor"],
            "time_factor": round(z["total_sec"] / a["total_sec"], 2),
            "per_query_factor": {
                q: round(z["queries"][q] / max(a["queries"][q], 1e-9), 2)
                for q in heavy
            },
        }))
    spark.stop()


if __name__ == "__main__":
    args = list(sys.argv[1:])
    queries = None
    if "--queries" in args:
        # comma-separated subset: the 256x decade point runs only the
        # ~10 architecture-dominated heavies (the full list at that
        # factor would spend hours re-proving already-linear queries)
        i = args.index("--queries")
        queries = args[i + 1].split(",")
        del args[i : i + 2]
    runs = 2
    if "--once" in args:
        args.remove("--once")
        runs = 1
    factors = [int(s) for s in args] or [1, 4]
    main(factors, queries=queries, runs=runs)
