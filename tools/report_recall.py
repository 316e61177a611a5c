"""Measured recall@k vs brute force for the numpy ANN paths
(VERDICT r7 item 6).

The exact-parity twins (embedding_ivf_kmeans / embedding_pq_ann /
embedding_ivfpq_ann) prove DETERMINISM; this tool measures QUALITY:
recall@k of the production numpy paths (build_ivf_index / ivf_search,
build_pq_index / pq_search, build_ivfpq_index / ivfpq_search) against
driver-side numpy ground truth on the same vectors — each method
against its own metric (IVF ranks cosine; PQ/IVFPQ approximate
squared L2) — at several nprobe settings.

    python tools/report_recall.py [sf_dir] [k]

Prints one JSON line per configuration and a final markdown table for
README. tests/test_similarity.py::test_recall_floors asserts floors a
regression would breach.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def ground_truth(X: np.ndarray, q_ids: np.ndarray, k: int, metric: str):
    """Exact top-k neighbor ids per query (self excluded)."""
    out = {}
    for qi in q_ids:
        q = X[qi]
        if metric == "cosine":
            s = X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
            s[qi] = -np.inf
            idx = np.argsort(-s, kind="stable")[:k]
        else:  # l2
            d = ((X - q) ** 2).sum(axis=1)
            d[qi] = np.inf
            idx = np.argsort(d, kind="stable")[:k]
        out[int(qi)] = set(int(i) for i in idx)
    return out


def _config_key(rec: dict) -> str:
    """Stable budget-file key for one measured configuration."""
    np_part = "" if rec["nprobe"] is None else f" nprobe={rec['nprobe']}"
    return f"{rec['index']}{np_part}"


def recall(result_rows, truth, k: int) -> float:
    by_q: dict[int, set] = {}
    for r in result_rows:
        by_q.setdefault(r["query_id"], set()).add(r["cand_id"])
    hits = sum(len(by_q.get(q, set()) & t) for q, t in truth.items())
    return hits / (len(truth) * k)


def measure_all(spark, sf_dir: str, k: int = 5, n_queries: int = 50):
    """Measure recall@k for EVERY (index, nprobe/code-budget) config —
    the single source of truth behind the README table, the committed
    ``tests/recall_budgets.json`` floors (``--budgets``), and the
    ``tests/test_recall_budgets.py`` gate, so a config can't appear in
    the table without being floor-gated. Builds are seeded, hence the
    measurements are deterministic for a fixed sf_dir."""
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        build_pq_index,
        ivf_search,
        ivfpq_search,
        pq_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["embedding"]) for r in rows], dtype=float)
    order = np.argsort(ids)
    X = X[order]  # vec_ids are dense 0..n-1 in the synthetic table
    n = len(X)
    q_ids = np.arange(0, n, max(1, n // n_queries))
    queries = emb.filter(
        F.col("vec_id").isin([int(i) for i in q_ids])
    )

    truth_cos = ground_truth(X, q_ids, k, "cosine")
    truth_l2 = ground_truth(X, q_ids, k, "l2")

    records = []
    ivf = build_ivf_index(emb, seed=1)
    for nprobe in (1, 2, 4, 8):
        r = recall(
            ivf_search(ivf, queries, k=k, nprobe=nprobe).collect(),
            truth_cos, k,
        )
        records.append(
            {"index": "IVF", "metric": "cosine", "nprobe": nprobe,
             "k": k, "n": n, "cells": ivf.k, "recall": round(r, 4)}
        )

    # code-budget sweep: m subspaces x log2(k) bits each. The synthetic
    # embeddings are UNCLUSTERED (mean pairwise cosine ~0 — the hardest
    # regime for any quantizer), so recall here is a lower bound; the
    # duplicate-cluster fixtures in tests/test_similarity.py show the
    # clustered regime at >= 0.9.
    for m, ksub in ((8, 16), (8, 64), (16, 64)):
        pq = build_pq_index(emb, m=m, k=ksub, seed=5)
        r = recall(pq_search(pq, queries, k=k).collect(), truth_l2, k)
        records.append(
            {"index": f"PQ flat ADC m={m} k={ksub} "
                      f"({m * int(np.log2(ksub))} bits)",
             "metric": "l2", "nprobe": None,
             "k": k, "n": n, "cells": None, "recall": round(r, 4)}
        )

    for m, ksub in ((8, 16), (16, 64)):
        ivfpq = build_ivfpq_index(emb, m=m, pq_k=ksub, seed=3)
        for nprobe in (2, 4, 8):
            r = recall(
                ivfpq_search(ivfpq, queries, k=k, nprobe=nprobe).collect(),
                truth_l2, k,
            )
            records.append(
                {"index": f"IVF-PQ m={m} k={ksub}", "metric": "l2",
                 "nprobe": nprobe, "k": k, "n": n,
                 "cells": ivfpq.centroids.shape[0],
                 "recall": round(r, 4)}
            )
    return records


def main() -> None:
    from nbody6_data_pipeline_spark.session import get_spark

    args = list(sys.argv[1:])
    write_budgets = "--budgets" in args
    if write_budgets:
        args.remove("--budgets")
    section = None
    if "--budgets-section" in args:
        # write the grid into tests/recall_budgets.json under
        # sections[NAME] instead of replacing the default grid — how
        # the large-N rows (sf1's 20k vectors, the 64x corpus's 128k)
        # acquire their own committed floors without disturbing the
        # original small-N gate (round-10 "recall at scale").
        i = args.index("--budgets-section")
        section = args[i + 1]
        del args[i : i + 2]
        write_budgets = True
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    k = int(args[1]) if len(args) > 1 else 5

    spark = get_spark("report_recall")
    spark.sparkContext.setLogLevel("ERROR")
    records = measure_all(spark, sf_dir, k)

    if write_budgets:
        # floors sit 20% under the seeded-deterministic measurement —
        # the same slack the original single floor test used — and one
        # file row per README table row, so every config is gated.
        budgets = {
            _config_key(rec): {
                "measured": rec["recall"],
                "floor": round(rec["recall"] * 0.8, 3),
                "k": rec["k"],
            }
            for rec in records
        }
        path = "/root/repo/tests/recall_budgets.json"
        if section is not None:
            with open(path) as fh:
                out = json.load(fh)
            out.setdefault("sections", {})[section] = {
                "sf_dir": sf_dir,
                "n_queries_grid": 50,
                "budgets": budgets,
            }
        else:
            out = {"sf_dir": sf_dir, "n_queries_grid": 50, "budgets": budgets}
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print(f"wrote {path} ({len(budgets)} configs"
              f"{', section ' + section if section else ''})")

    for rec in records:
        print(json.dumps(rec))
    print("\n| index | metric | nprobe | recall@%d |" % k)
    print("|---|---|---|---|")
    for rec in records:
        print(
            f"| {rec['index']} | {rec['metric']} | "
            f"{rec['nprobe'] if rec['nprobe'] is not None else '—'} | "
            f"{rec['recall']:.3f} |"
        )


if __name__ == "__main__":
    main()
