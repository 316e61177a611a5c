"""Scale-curve microbench for the ANN paths.

Generates seeded synthetic embedding corpora at growing N (bench-only
artifact, written under /tmp — driver test data stays the input for
all correctness gates), then measures, per N:

- IVF (k ~ sqrt(N), nprobe=4): index build time, search wall time for
  a fixed 20-query batch, and candidates scanned per query.
- Brute force: search wall time for the same batch (scans N per query).

The claim under test: IVF candidates scanned grow ~ nprobe * sqrt(N)
(sublinear) while brute force grows ~ N. Run:

    python tools/bench_scale.py [N ...]   # default 2000 8000 32000

Prints one JSON line per N plus a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def make_corpus(spark, n: int, dim: int = 64, seed: int = 7):
    rng = np.random.default_rng(seed)
    # mixture of 32 latent directions + noise: clustered enough that
    # IVF cells are meaningful, like real embedding corpora
    dirs = rng.normal(size=(32, dim))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    lab = rng.integers(0, 32, size=n)
    x = dirs[lab] + 0.35 * rng.normal(size=(n, dim))
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def main(sizes):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_search,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = []
    for n in sizes:
        corpus = make_corpus(spark, n).persist()
        corpus.count()
        queries = corpus.filter(F.col("vec_id") % (n // 20) == 0).persist()
        nq = queries.count()

        t0 = time.time()
        index = build_ivf_index(corpus, seed=1)
        index.assignments.persist().count()
        t_build = time.time() - t0

        t0 = time.time()
        ivf_search(index, queries, k=10, nprobe=4).collect()
        t_ivf = time.time() - t0

        # candidates scanned per query = sum of probed cell sizes
        probed = (
            ivf_search(index, queries, k=n, nprobe=4)
            .groupBy("query_id")
            .count()
            .agg(F.avg("count"))
            .collect()[0][0]
        )

        t0 = time.time()
        cosine_topk(corpus, queries, k=10).collect()
        t_brute = time.time() - t0

        rec = {
            "n": n,
            "n_queries": nq,
            "ivf_k": index.k,
            "build_sec": round(t_build, 3),
            "ivf_search_sec": round(t_ivf, 3),
            "brute_search_sec": round(t_brute, 3),
            "cand_per_query": round(probed, 1),
            "cand_fraction": round(probed / n, 4),
        }
        print(json.dumps(rec), flush=True)
        out.append(rec)
        corpus.unpersist()
        queries.unpersist()
        index.assignments.unpersist()

    if len(out) >= 2:
        a, z = out[0], out[-1]
        scale = z["n"] / a["n"]
        print(
            json.dumps(
                {
                    "summary": "ivf_scale_curve",
                    "n_scale": scale,
                    "cand_scale": round(z["cand_per_query"] / a["cand_per_query"], 2),
                    "sublinear": z["cand_per_query"] / a["cand_per_query"] < scale,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    sizes = [int(s) for s in sys.argv[1:]] or [2000, 8000, 32000]
    main(sizes)
