"""Scale bench for connected_components ABOVE the union-find cutoff.

The per-round bench and the oracle-gate corpus both produce near-dup
graphs far under the 250k-edge cutoff, so they only ever exercise the
driver union-find path. This tool synthesizes graphs that FORCE the
distributed min-label-propagation path and records wall time and
rounds-to-convergence, so the propagation path's claimed
O(log diameter) behavior is a measured number, not an assertion.

Graph family (seedless, pure spark.range arithmetic):
  - ``cliq``: N/16 dense 16-cliques (the near-dup-cluster shape)
  - ``chain``: one length-N path (worst-case diameter — the shape
    pointer jumping exists for)

    python tools/bench_cc.py [n_edges ...]     # default: 1e6 4e6

Prints one JSON line per (family, size) with wall seconds and rounds,
plus a union-find reference point at the same sizes for the wall-time
crossover, and a scaling summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def clique_edges(spark, n_edges: int):
    """~n_edges edges as N/16 disjoint 16-cliques: node i links to
    every j>i in its 16-block (120 edges per 16-node clique)."""
    from pyspark.sql import functions as F

    n_cliques = max(1, n_edges // 120)
    return (
        spark.range(n_cliques * 16)
        .select(F.col("id").alias("vec_a"))
        # the block's last node has no higher neighbor; F.sequence with
        # start > stop would generate a DESCENDING ramp into the next
        # block and weld the cliques together
        .filter(F.col("vec_a") % 16 != 15)
        .select(
            "vec_a",
            F.explode(
                F.sequence(
                    F.col("vec_a") + 1,
                    (F.col("vec_a") - F.col("vec_a") % 16) + 15,
                )
            ).alias("vec_b"),
        )
    )


def chain_edges(spark, n_edges: int):
    """One path graph of n_edges edges — diameter n_edges."""
    from pyspark.sql import functions as F

    return spark.range(n_edges).select(
        F.col("id").alias("vec_a"), (F.col("id") + 1).alias("vec_b")
    )


def run_case(spark, family: str, maker, n_edges: int, force_path: str):
    from nbody6_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = maker(spark, n_edges)
    cutoff = 0 if force_path == "propagation" else 1 << 62
    stats: dict = {}
    t0 = time.time()
    labels = connected_components(
        pairs, small_graph_edges=cutoff, stats=stats
    )
    n_comp = labels.select("comp").distinct().count()
    wall = round(time.time() - t0, 2)
    rec = {
        "family": family,
        "requested_edges": n_edges,
        "path": stats.get("path"),
        "directed_edges": stats.get("n_edges"),
        "rounds": stats.get("rounds"),
        "components": n_comp,
        "wall_sec": wall,
    }
    print(json.dumps(rec), flush=True)
    spark.catalog.clearCache()
    return rec


def main(sizes):
    from nbody6_data_pipeline_spark.session import get_spark

    spark = get_spark("bench_cc")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: tiny run through both paths compiles the round plans
    run_case(spark, "warmup", clique_edges, 2_000, "propagation")
    run_case(spark, "warmup", clique_edges, 2_000, "union-find")
    out = []
    for n in sizes:
        for family, maker in (("cliq", clique_edges), ("chain", chain_edges)):
            out.append(run_case(spark, family, maker, n, "propagation"))
        # union-find reference at the same size (driver-side; the
        # documented cutoff keeps real runs below 250k edges, so this
        # is the apples-to-apples crossover number)
        out.append(run_case(spark, "cliq", clique_edges, n, "union-find"))
    by = {}
    for r in out:
        by.setdefault((r["family"], r["path"]), []).append(r)
    for (family, path), rs in sorted(by.items()):
        if len(rs) >= 2 and family != "warmup":
            a, z = rs[0], rs[-1]
            print(
                json.dumps(
                    {
                        "summary": f"{family}/{path}",
                        "edge_factor": round(
                            z["requested_edges"] / a["requested_edges"], 1
                        ),
                        "time_factor": round(
                            z["wall_sec"] / max(a["wall_sec"], 1e-9), 2
                        ),
                        "rounds": [r["rounds"] for r in rs],
                    }
                )
            )
    spark.stop()


if __name__ == "__main__":
    sizes = [int(float(s)) for s in sys.argv[1:]] or [1_000_000, 4_000_000]
    main(sizes)
