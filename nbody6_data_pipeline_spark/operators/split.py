"""U3/W5/A12/U4 — stratified group splitting (dataset_split.ipynb).

Division of labor (SURVEY §2.9 U3): Spark computes the binning and the
(group x bin) histograms distributively — that is the part that scales
with data volume. The greedy assignment itself is inherently
sequential over a few hundred groups on a small matrix, so it runs on
the driver over the collected histogram matrix, with the reference's
deterministic seeding.

Sliced Wasserstein distance (U4) is re-implemented on numpy (the
reference calls ``ot.sliced.sliced_wasserstein_distance``; the POT
library is not a dependency here): projections from
``default_rng(seed)``, exact 1D W2 between empirical distributions via
quantile-function integration.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.misc import log_ops


def quantile_bin(
    df: DataFrame, col: str, n: int, out_col: str | None = None
) -> DataFrame:
    """W5 — pd.qcut(col, n, labels=False, duplicates='drop') parity:
    bins bounded by the n-quantile edges, deduplicated; equal values
    always share a bin (unlike ntile)."""
    probs = [i / n for i in range(1, n)]
    edges_row = df.agg(
        F.percentile(F.col(col), F.array(*[F.lit(p) for p in probs])).alias("e")
    ).first()
    edges = sorted(set(edges_row["e"] or []))
    expr = F.lit(0)
    for e in edges:
        expr = expr + (F.col(col) > F.lit(e)).cast("int")
    return df.withColumn(out_col or f"{col}_bin", expr)


def uniform_bin(
    df: DataFrame, col: str, bin_size: float, out_col: str | None = None
) -> DataFrame:
    """W5 — pd.cut on np.arange(min, max+size, size) edges parity."""
    row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
    lo = row["lo"]
    return df.withColumn(
        out_col or f"{col}_bin",
        F.floor((F.col(col) - F.lit(lo)) / F.lit(bin_size)).cast("int"),
    )


def apply_ops(df: DataFrame, ops_config: dict[str, str]) -> DataFrame:
    """F22 — per-column transform before binning (``log_ops``; an
    unknown op raises ``ValueError``)."""
    return df.withColumns({k: log_ops(F.col(k), op) for k, op in ops_config.items()})


def group_histograms(
    binned: DataFrame,
    group_key: str,
    target_bins: list[str],
    joint_weight: float = 0.5,
    stratify_pairwise: bool = True,
):
    """A12 — marginal + pairwise-joint (group, bin) histograms,
    computed in Spark, returned as the driver-side matrix the greedy
    loop needs: (groups, rows_per_group, hists [n_groups x total_bins],
    weights)."""
    from itertools import combinations

    maxes = binned.agg(
        *[F.max(b).alias(b) for b in target_bins]
    ).first()
    n_bins = {b: int(maxes[b]) + 1 for b in target_bins}

    specs: list[tuple[F.Column, int, float]] = [
        (F.col(b), n_bins[b], 1.0) for b in target_bins
    ]
    if stratify_pairwise and len(target_bins) >= 2:
        for a, b in combinations(target_bins, 2):
            specs.append(
                (
                    F.col(a) * n_bins[b] + F.col(b),
                    n_bins[a] * n_bins[b],
                    joint_weight,
                )
            )

    # single aggregation: per group, count per (spec, bin)
    agg = binned.groupBy(group_key).agg(
        F.count(F.lit(1)).alias("_rows"),
        *[
            F.array_sort(
                F.collect_list(F.struct(spec.cast("long").alias("b")))
            ).alias(f"_s{i}")
            for i, (spec, _, _) in enumerate(specs)
        ],
    )
    rows = agg.collect()
    groups = [r[group_key] for r in rows]
    rows_per_group = np.array([r["_rows"] for r in rows], dtype=np.int64)

    total_bins = sum(nb for _, nb, _ in specs)
    hists = np.zeros((len(groups), total_bins), dtype=np.int64)
    weights = np.concatenate(
        [np.full(nb, w) for _, nb, w in specs]
    )
    for gi, r in enumerate(rows):
        off = 0
        for i, (_, nb, _) in enumerate(specs):
            vals = [s["b"] for s in r[f"_s{i}"]]
            hists[gi, off : off + nb] = np.bincount(vals, minlength=nb)
            off += nb
    return groups, rows_per_group, hists, weights


def greedy_split(
    groups: list,
    rows_per_group: np.ndarray,
    hists: np.ndarray,
    weights: np.ndarray,
    ratios: tuple[float, float, float] = (0.7, 0.2, 0.1),
    seed: int = 42,
    run_ratio_weight: float = 1.0,
    row_ratio_weight: float = 1.0,
) -> dict[str, list]:
    """The driver-side greedy assignment (dataset_split.ipynb
    `_greedy_split`): largest groups first (seeded jitter tie-break),
    each assigned to the split minimizing the ratio-deviation +
    weighted-Manhattan-histogram penalty delta."""
    rng = np.random.default_rng(seed)
    ratios_a = np.asarray(ratios, dtype=float)
    names = ["train", "val", "test"]
    n_splits, n_groups = len(names), len(groups)
    total_rows = float(rows_per_group.sum())
    global_hist = hists.sum(axis=0)

    target_groups = ratios_a * n_groups
    target_rows = ratios_a * total_rows
    target_hists = ratios_a[:, None] * global_hist[None, :]

    cur_hists = np.zeros((n_splits, global_hist.size))
    assigned = np.full(n_groups, -1, dtype=int)
    cur_groups = np.zeros(n_splits)
    cur_rows = np.zeros(n_splits)

    order = np.argsort(-(rows_per_group + rng.normal(0.0, 1e-6, size=n_groups)))
    seed_k = min(n_splits, n_groups)
    for s in range(seed_k):
        g = int(order[s])
        assigned[g] = s
        cur_groups[s] += 1.0
        cur_rows[s] += float(rows_per_group[g])
        cur_hists[s] += hists[g]

    r_denom = np.maximum(target_groups, 1.0)
    x_denom = np.maximum(target_rows, 1.0)
    for g in order[seed_k:]:
        g = int(g)
        add = float(rows_per_group[g])
        vec = hists[g]
        old_r = (cur_groups - target_groups) / r_denom
        old_x = (cur_rows - target_rows) / x_denom
        new_r = (cur_groups + 1.0 - target_groups) / r_denom
        new_x = (cur_rows + add - target_rows) / x_denom
        d_ratio = (
            run_ratio_weight * (new_r**2 - old_r**2)
            + row_ratio_weight * (new_x**2 - old_x**2)
        )
        diff_old = cur_hists - target_hists
        d_hist = np.sum(np.abs(diff_old + vec[None, :]) * weights, axis=1) - np.sum(
            np.abs(diff_old) * weights, axis=1
        )
        best = int(np.argmin(d_ratio + d_hist))
        assigned[g] = best
        cur_groups[best] += 1.0
        cur_rows[best] += add
        cur_hists[best] += vec

    return {
        name: [groups[i] for i in range(n_groups) if assigned[i] == s]
        for s, name in enumerate(names)
    }


def stratified_group_split(
    df: DataFrame,
    target_keys: list[str],
    group_key: str = "run_id",
    binning_config: dict | None = None,
    ops_config: dict | None = None,
    ratios: tuple[float, float, float] = (0.7, 0.2, 0.1),
    seed: int = 42,
    run_ratio_weight: float = 1.0,
    row_ratio_weight: float = 1.0,
    joint_weight: float = 0.5,
    stratify_pairwise: bool = True,
) -> dict[str, list]:
    """End-to-end stratified split: Spark binning+histograms, driver
    greedy assignment. Returns {'train'|'val'|'test': [group ids]}."""
    assert abs(sum(ratios) - 1.0) < 1e-6
    data = df.select(group_key, *target_keys)
    n_null = data.filter(
        " OR ".join(f"{c} IS NULL" for c in [group_key, *target_keys])
    ).count()
    if n_null:
        raise AssertionError(f"{n_null} NULL rows in split inputs")

    data = apply_ops(data, ops_config or {})
    cfg = {
        **{k: {"method": "quantile", "n": 20} for k in target_keys},
        **(binning_config or {}),
    }
    bin_cols = []
    for k in target_keys:
        c = cfg[k]
        if c["method"] == "quantile":
            data = quantile_bin(data, k, int(c["n"]), f"_bin_{k}")
        else:
            data = uniform_bin(data, k, float(c["n"]), f"_bin_{k}")
        bin_cols.append(f"_bin_{k}")

    groups, rows_per_group, hists, weights = group_histograms(
        data, group_key, bin_cols, joint_weight, stratify_pairwise
    )
    return greedy_split(
        groups, rows_per_group, hists, weights,
        ratios, seed, run_ratio_weight, row_ratio_weight,
    )


def sliced_wasserstein_distance(
    full: np.ndarray, subset: np.ndarray, n_projections: int = 1000, seed: int = 42
) -> float:
    """U4 — sliced 2-Wasserstein distance between two empirical point
    sets (numpy re-implementation of the POT routine): average squared
    1D W2 over random unit projections, square-rooted."""
    rng = np.random.default_rng(seed)
    d = full.shape[1]
    proj = rng.normal(size=(d, n_projections))
    proj /= np.linalg.norm(proj, axis=0, keepdims=True)

    fa = np.sort(full @ proj, axis=0)      # [n_full, P]
    sb = np.sort(subset @ proj, axis=0)    # [n_sub, P]

    # exact 1D W2 between empirical quantile functions: integrate over
    # the union of both sample's probability breakpoints
    na, nb = fa.shape[0], sb.shape[0]
    qs = np.union1d(np.arange(1, na + 1) / na, np.arange(1, nb + 1) / nb)
    widths = np.diff(np.concatenate([[0.0], qs]))
    ia = np.ceil(qs * na - 1e-12).astype(int) - 1
    ib = np.ceil(qs * nb - 1e-12).astype(int) - 1
    diff = fa[ia, :] - sb[ib, :]
    w2sq = (widths[:, None] * diff**2).sum(axis=0)
    return float(np.sqrt(w2sq.mean()))
