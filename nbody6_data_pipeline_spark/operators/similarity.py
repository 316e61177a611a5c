"""Similarity search over embedding columns (array<float>).

Two paths:

- ``cosine_topk`` — brute-force exact top-k, expressed as native
  fold expressions (deterministic left-to-right accumulation so the
  DuckDB oracle matches bitwise).
- ``sign_lsh_bucket`` — the scale path: axis-aligned sign-LSH
  bucketing; candidates only compare within a bucket, so a 100 TB
  corpus shards into independent bucket-local problems.

For heavy production scoring a vectorized Pandas-UDF (numpy matrix
multiply per Arrow batch) is provided as ``cosine_scores_pandas`` —
same results, ~10-50x faster per batch than per-row folds when k and
the candidate set are large.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nbody6_data_pipeline_spark.session import scoped_conf


def _no_aqe(spark):
    """Disable adaptive execution around the tiny Lloyd-iteration
    aggregations (guide §1.2 step 3 — after the algorithm is right).
    Each iteration collects k x dim rows through one map-side-combined
    hash aggregate: AQE has nothing to improve (no join, no skew, a
    few-KB shuffle), but its stage-by-stage materialization costs one
    extra job plus a full re-optimization pass PER ITERATION — pure
    driver latency at any cluster size (measured ~0.15 s/iteration at
    sf0.1; the driver round-trip is the same on a 100 TB cluster).
    Scoped: the previous value is restored in a finally, so the
    data-sized queries around the loop keep AQE's coalescing/skew
    handling."""
    return scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"})


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    """Strict left-fold sum with a 0.0 initial accumulator — the same
    accumulation order DuckDB's list_reduce produces (0 + x1 == x1),
    so results are bit-identical."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y))


def norm(a: Column) -> Column:
    ad = _as_double(a)
    return F.sqrt(_fold_sum(F.zip_with(ad, ad, lambda x, y: x * y)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-VECTOR precomputed norms: dot/(sqrt(A)*sqrt(B))
    is the same expression tree either way, so values are bit-identical
    to cosine() — but each vector's norm fold runs once per row instead
    of once per PAIR (candidate sets are quadratic-ish in bucket size,
    so this removes 2/3 of the fold work)."""
    return dot(a, b) / (na * nb)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set
    against the full vector table; rank with a window per query.

    At cluster scale the vectors side stays partitioned; only the
    query set is broadcast — no shuffle of the big side.
    """
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnrm"),
    )
    v = vectors.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnrm"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cosine_prenormed(
                F.col("qvec"), F.col("cvec"), F.col("qnrm"), F.col("cnrm")
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def sign_lsh_bucket(vec: Column, nbits: int = 12) -> Column:
    """Sign-LSH bucket id: the sign pattern of the first nbits
    coordinates (axis-aligned random-hyperplane LSH with fixed,
    deterministic planes). Vectors in the same bucket are ANN
    candidates."""
    bits = [
        F.when(F.element_at(vec, i) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, nbits + 1)
    ]
    return F.concat(*bits)


def banded_sign_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    band_bits: int | None = None,
    target_bucket: int = 32,
    bucket_cap: int = 128,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded multi-table sign-LSH
    — the scale-safe replacement for a single fixed-width bucket join.

    Each of ``n_tables`` hash tables takes a disjoint ``r``-bit slice
    of the vector's sign pattern as its bucket key; two vectors are
    candidates if they collide in ANY table (the MinHash band OR-
    construction applied to random-hyperplane LSH). Two properties
    keep the downstream pair join linear in corpus size N:

    - **Band width scales with N.** Unless ``band_bits`` pins it, r is
      chosen so the expected bucket size stays ~``target_bucket``
      (smallest r with 2^r >= N / target_bucket, clamped to [2, 8]).
      Doubling the corpus adds one bit instead of quadrupling the
      within-bucket pair count. The choice is made IN THE PLAN from
      COUNT(*) via an integer threshold ladder — no driver action, and
      no float log2 whose last-ulp could flip the bucket layout
      cross-engine.
    - **Oversized buckets are dropped** (> ``bucket_cap`` members),
      exactly like the n-gram index's document-frequency cap: a
      degenerate sign pattern shared by millions of vectors would
      otherwise create an O(N^2) pair explosion on its own. Near-dup
      recall is unaffected in the same way: a true near-dup pair
      collides in several tables, and only pathological buckets are
      cut.

    Returns DISTINCT (vec_a, vec_b) with vec_a < vec_b.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    bits = F.array_join(
        F.transform(
            "_v", lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )
    if band_bits is not None:
        r = F.lit(band_bits)
        tagged = base.select("_id", bits.alias("_bits"))
    else:
        nrow = base.agg(F.count(F.lit(1)).alias("_n"))
        tagged = base.crossJoin(F.broadcast(nrow)).select(
            "_id", bits.alias("_bits"), "_n"
        )
        n = F.col("_n")
        r = F.lit(8)
        for rr in range(7, 1, -1):  # smallest r with 2^r >= n/target
            r = F.when(n <= target_bucket * (2 ** rr), F.lit(rr)).otherwise(r)
    bands = tagged.select(
        "_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("t"),
        r.alias("_r"),
        F.col("_bits"),
    ).select(
        "_id",
        "t",
        F.substr("_bits", F.col("t") * F.col("_r") + 1, F.col("_r")).alias(
            "bucket"
        ),
    )
    from pyspark.sql import Window as W

    # Pair generation is ONE pass, not a self-join: the self-join's two
    # branches would each recompute scan -> bits -> explode -> count
    # (ReuseExchange does not always fire across join sides under AQE).
    # Instead: (1) window count over (t, bucket) — the memory-safe cut
    # for degenerate buckets, since WindowExec streams each partition
    # and a million-member bucket is dropped without ever being
    # materialized as an array; (2) collect_list over the SAME key — no
    # second shuffle, and every array is <= bucket_cap by construction;
    # (3) within-array pair explosion (a < b).
    sized = bands.withColumn(
        "_bsize", F.count(F.lit(1)).over(W.partitionBy("t", "bucket"))
    ).filter(F.col("_bsize") <= bucket_cap)
    grouped = (
        sized.groupBy("t", "bucket")
        .agg(F.collect_list("_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        grouped.select(F.explode("ids").alias("vec_a"), "ids")
        .select(
            "vec_a",
            F.explode(
                F.filter("ids", lambda x: x > F.col("vec_a"))
            ).alias("vec_b"),
        )
        .distinct()
    )


class IVFIndex:
    """A built IVF (inverted-file) ANN index.

    ``centroids`` is a small numpy [k, dim] matrix living on the
    driver (broadcast to executors inside the assignment/probe UDFs);
    ``assignments`` is the distributed posting-list table
    (vec_id, cell, v, nrm) REPARTITIONED BY CELL — at cluster scale
    this is written out bucketed/partitioned by ``cell`` so a probe
    touches only its cells' files (partition pruning), which is what
    makes search cost O(nprobe * N / k) instead of O(N)."""

    def __init__(self, centroids, assignments: DataFrame):
        self.centroids = centroids
        self.assignments = assignments

    @property
    def k(self) -> int:
        return int(self.centroids.shape[0])


def _kmeans_fit(sample, k: int, iters: int, seed: int):
    """Seeded Lloyd k-means on a driver-side sample (numpy). The
    sample is capped, so this is O(sample * k * iters) driver work
    regardless of corpus size — the standard IVF recipe (train on a
    sample, assign the full corpus distributed)."""
    import numpy as np

    x = np.asarray(sample, dtype="float64")
    rng = np.random.default_rng(seed)
    xsq = (x**2).sum(axis=1)
    # k-means++ seeding with the running min-distance recurrence:
    # each new centroid updates d2 with ONE distance column, so seeding
    # is O(k * n * dim), not O(k^2 * n * dim)
    idx = rng.integers(len(x))
    cents = [x[idx]]
    d2 = np.maximum(xsq - 2.0 * (x @ x[idx]) + xsq[idx], 0.0)
    for _ in range(1, k):
        s = d2.sum()
        p = d2 / s if s > 0 else None
        idx = rng.choice(len(x), p=p)
        cents.append(x[idx])
        d2 = np.minimum(
            d2, np.maximum(xsq - 2.0 * (x @ x[idx]) + xsq[idx], 0.0)
        )
    c = np.stack(cents)
    for _ in range(iters):
        # matmul-form distances + bincount centroid update: O(n*k*dim)
        d = -2.0 * (x @ c.T) + (c**2).sum(axis=1)[None, :]
        lab = d.argmin(axis=1)
        counts = np.bincount(lab, minlength=k).astype("float64")
        sums = np.zeros_like(c)
        np.add.at(sums, lab, x)
        nonempty = counts > 0
        c[nonempty] = sums[nonempty] / counts[nonempty, None]
        # empty cell: keep the old centroid (deterministic)
    return c


def build_ivf_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    sample_cap: int = 20_000,
    iters: int = 15,
    seed: int = 42,
) -> IVFIndex:
    """Build an IVF index: k-means a bounded sample on the driver,
    then assign every vector to its nearest centroid with ONE
    vectorized Pandas-UDF pass (numpy matmul per Arrow batch — no
    k-fold crossJoin row blowup), and repartition the posting lists by
    cell. ``k`` defaults to ~sqrt(N) so both the per-cell scan and the
    number of cells grow as sqrt(N)."""
    import numpy as np

    n = df.count()
    if k is None:
        k = max(4, min(4096, int(math.isqrt(max(n, 1)))))
    frac = min(1.0, sample_cap / max(n, 1))
    sample = [
        row[0]
        for row in df.select(vec_col).sample(fraction=frac, seed=seed).collect()
    ]
    if len(sample) < k:  # tiny corpora: every vector is sample
        sample = [row[0] for row in df.select(vec_col).collect()]
    cents = _kmeans_fit(sample, k=min(k, len(sample)), iters=iters, seed=seed)

    cb = cents  # captured by the UDF closure -> shipped once per executor

    @F.pandas_udf(T.IntegerType())
    def assign(batch: pd.Series) -> pd.Series:
        import numpy as np

        m = np.stack(batch.to_numpy()).astype("float64")
        # argmin over squared L2: |x|^2 - 2 x.c + |c|^2 ; |x|^2 constant per row
        d = -2.0 * (m @ cb.T) + (cb**2).sum(axis=1)[None, :]
        return pd.Series(d.argmin(axis=1).astype("int32"))

    assignments = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nrm"),
        )
        .withColumn("cell", assign("v"))
        .repartition("cell")
    )
    return IVFIndex(cents, assignments)


def ivf_search(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via the IVF index: each query probes its ``nprobe``
    nearest cells and ranks exact cosine within those posting lists.

    The probe table (query x nprobe cells) is broadcast; the big
    assignments side is already partitioned by cell, so the join
    shuffles nothing on the corpus side and each query scans
    ~nprobe * N / k vectors — sublinear in N when k ~ sqrt(N)."""
    import numpy as np

    cb = index.centroids
    npr = min(nprobe, index.k)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy()).astype("float64")
        d = -2.0 * (m @ cb.T) + (cb**2).sum(axis=1)[None, :]
        order = np.argsort(d, axis=1, kind="stable")[:, :npr]
        return pd.Series(list(order.astype("int32")))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qnrm"),
        F.explode(probe_cells(vec_col)).alias("cell"),
    )
    from pyspark.sql import Window as W

    scored = (
        F.broadcast(q)
        .join(index.assignments, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            cosine_prenormed(
                F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def cosine_scores_pandas(dim: int):
    """Vectorized scoring kernel for the production path: a Pandas UDF
    computing cosine against a broadcast query matrix with one numpy
    matmul per Arrow batch. Returns a builder: given the query matrix
    (numpy [nq, dim]) returns a pandas_udf usable as a column."""
    import numpy as np

    def build(query_matrix):
        qm = np.asarray(query_matrix, dtype="float64")
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def score(batch: pd.Series) -> pd.Series:
            m = np.stack(batch.to_numpy())
            m = m.astype("float64")
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ qn.T  # [batch, nq]
            return pd.Series(list(sims))

        return score

    return build


# ---- Product quantization (PQ) — compressed ANN for 100 TB corpora ----
#
# IVF bounds how many vectors a probe SCANS; PQ bounds how many BYTES
# each scanned vector costs. A 64-dim float32 embedding (256 B) becomes
# m uint8 codes (m bytes, 32x smaller at m=8): split the dimension into
# m subspaces, k-means each subspace on a driver-side sample (bounded,
# same recipe as build_ivf_index), and store each vector as its m
# nearest-subcentroid ids. Search is asymmetric-distance computation
# (ADC): the query precomputes an [m, k] lookup table of exact
# subspace distances to every subcentroid, and each candidate's
# approximate distance is m table lookups + a sum — no float vector is
# ever read at scan time. This is the Jegou et al. PQ design every
# production vector store ships; at 100 TB it is the difference
# between scanning 100 TB of floats and ~3 TB of codes.


class PQIndex:
    """Trained product quantizer + encoded corpus.

    ``codebooks`` is a numpy [m, k, dsub] tensor on the driver
    (shipped to executors inside the encode/search UDF closures);
    ``codes`` is the distributed encoded table (vec_id, codes
    array<int> of length m)."""

    def __init__(self, codebooks, codes: DataFrame):
        self.codebooks = codebooks
        self.codes = codes

    @property
    def m(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def k(self) -> int:
        return int(self.codebooks.shape[1])


def build_pq_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_cap: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> PQIndex:
    """Train per-subspace codebooks on a bounded driver sample, then
    encode the full corpus in ONE vectorized Pandas-UDF pass (numpy
    matmul per Arrow batch, per subspace). Driver work is
    O(sample * k * dim * iters) regardless of corpus size; the encode
    pass is embarrassingly parallel and emits m small ints per row."""
    import numpy as np

    n = df.count()
    frac = min(1.0, sample_cap / max(n, 1))
    sample = [
        r[0] for r in df.select(vec_col).sample(fraction=frac, seed=seed).collect()
    ]
    if len(sample) < k:
        sample = [r[0] for r in df.select(vec_col).collect()]
    x = np.asarray(sample, dtype="float64")
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    kk = min(k, len(x))
    codebooks = np.stack(
        [
            _kmeans_fit(x[:, j * dsub : (j + 1) * dsub], k=kk, iters=iters,
                        seed=seed + j)
            for j in range(m)
        ]
    )

    cb = codebooks  # [m, k, dsub], captured once per executor

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(batch: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.stack(batch.to_numpy()).astype("float64")  # [b, dim]
        b = mat.shape[0]
        out = np.empty((b, cb.shape[0]), dtype="int32")
        for j in range(cb.shape[0]):
            sub = mat[:, j * dsub : (j + 1) * dsub]  # [b, dsub]
            # argmin ||sub - c||^2 == argmin -2 sub.c + |c|^2
            d = -2.0 * (sub @ cb[j].T) + (cb[j] ** 2).sum(axis=1)[None, :]
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    codes = df.select(
        F.col(id_col).alias("vec_id"), encode(F.col(vec_col)).alias("codes")
    )
    return PQIndex(codebooks, codes)


def pq_search(
    index: PQIndex,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over the encoded corpus: the (small) query set is
    collected, each query's exact [m, k] subspace-distance table is
    computed once, and a mapInPandas pass scores every code row with
    m table lookups — emitting only each batch's per-query top-k
    partials (nq * k rows per Arrow batch, NOT nq * N), merged by one
    final window. The float corpus is never touched at search time.

    Returns (query_id, cand_id, approx_d2, rank) — approximate squared
    L2; self-matches excluded."""
    import numpy as np

    from pyspark.sql import Window as W

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    qx = np.asarray([list(r[1]) for r in q_rows], dtype="float64")  # [nq, dim]
    cb = index.codebooks  # [m, k, dsub]
    m, _kk, dsub = cb.shape
    # exact subspace distances: lut[q, j, c] = ||q_sub_j - cb[j, c]||^2
    lut = np.stack(
        [
            ((qx[:, j * dsub : (j + 1) * dsub][:, None, :] - cb[j][None, :, :]) ** 2
             ).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )  # [nq, m, k]
    topk = int(k)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("approx_d2", T.DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            codes = np.stack(pdf["codes"].to_numpy()).astype("int64")  # [b, m]
            cand = pdf["vec_id"].to_numpy().astype("int64")
            b = codes.shape[0]
            # gather: d2[q, row] = sum_j lut[q, j, codes[row, j]]
            d2 = np.zeros((len(q_ids), b))
            for j in range(m):
                d2 += lut[:, j, codes[:, j]]
            d2[q_ids[:, None] == cand[None, :]] = np.inf  # self-match
            keep = min(topk, b)
            part = np.argpartition(d2, keep - 1, axis=1)[:, :keep]
            rows = {
                "query_id": np.repeat(q_ids, keep),
                "cand_id": cand[part].ravel(),
                "approx_d2": np.take_along_axis(d2, part, axis=1).ravel(),
            }
            out = pd.DataFrame(rows)
            yield out[np.isfinite(out["approx_d2"])]

    partials = index.codes.mapInPandas(score, schema=out_schema)
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("cand_id").asc()
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


class IVFPQIndex:
    """IVF coarse cells + PQ-encoded RESIDUALS inside each cell — the
    FAISS IVFPQ layout. ``centroids`` is the coarse [k_cells, dim]
    matrix, ``codebooks`` the residual [m, pq_k, dsub] tensor (both
    driver-side numpy, shipped in UDF closures); ``codes`` is the
    distributed (vec_id, cell, codes) table, repartitioned by cell —
    at cluster scale written partitioned by cell so a probe reads
    nprobe partitions of m-byte codes and nothing else."""

    def __init__(self, centroids, codebooks, codes: DataFrame):
        self.centroids = centroids
        self.codebooks = codebooks
        self.codes = codes


def build_ivfpq_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int | None = None,
    m: int = 8,
    pq_k: int = 16,
    sample_cap: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> IVFPQIndex:
    """Compose the two index families: a coarse IVF quantizer bounds
    how many vectors a probe SCANS, and per-cell residual PQ bounds
    what each scanned vector COSTS (m small ints). Residuals
    (v - centroid[cell]) concentrate near zero, so the same codebook
    budget quantizes them much more accurately than raw vectors — the
    standard IVFPQ observation. Training is one bounded driver sample;
    encoding is ONE vectorized Arrow pass computing cell + residual
    codes together."""
    import numpy as np

    ivf = build_ivf_index(
        df, id_col=id_col, vec_col=vec_col, k=k_cells,
        sample_cap=sample_cap, iters=iters, seed=seed,
    )
    cents = ivf.centroids  # [k_cells, dim]
    dim = cents.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    n = df.count()
    frac = min(1.0, sample_cap / max(n, 1))
    sample = np.asarray(
        [
            r[0]
            for r in df.select(vec_col)
            .sample(fraction=frac, seed=seed)
            .collect()
        ],
        dtype="float64",
    )
    if len(sample) < pq_k:
        sample = np.asarray(
            [r[0] for r in df.select(vec_col).collect()], dtype="float64"
        )
    # residuals of the training sample against their nearest centroid
    d = -2.0 * (sample @ cents.T) + (cents**2).sum(axis=1)[None, :]
    res = sample - cents[d.argmin(axis=1)]
    kk = min(pq_k, len(res))
    codebooks = np.stack(
        [
            _kmeans_fit(res[:, j * dsub : (j + 1) * dsub], k=kk, iters=iters,
                        seed=seed + 1000 + j)
            for j in range(m)
        ]
    )

    cb, cc = codebooks, cents

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        import numpy as np

        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            dcell = -2.0 * (mat @ cc.T) + (cc**2).sum(axis=1)[None, :]
            cell = dcell.argmin(axis=1)
            r = mat - cc[cell]
            codes = np.empty((mat.shape[0], cb.shape[0]), dtype="int32")
            for j in range(cb.shape[0]):
                sub = r[:, j * dsub : (j + 1) * dsub]
                dj = -2.0 * (sub @ cb[j].T) + (cb[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = dj.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "cell": cell.astype("int32"),
                    "codes": list(codes),
                }
            )

    codes_df = (
        df.select(id_col, vec_col)
        .mapInPandas(encode, schema=out_schema)
        .repartition("cell")
    )
    return IVFPQIndex(cents, codebooks, codes_df)


def ivfpq_search(
    index: IVFPQIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe each query's ``nprobe`` nearest coarse cells and run ADC
    over the residual codes inside them. The lookup table is per
    (query, probed cell): ||q - c - cb_jc'||^2 decomposes as the
    residual (q - c)'s subspace distance to each subcentroid, so each
    probe costs one [m, pq_k] exact table and every candidate costs m
    lookups + a sum. The scan side filters to probed cells FIRST
    (partition pruning at cluster scale) and each Arrow batch emits
    only per-query top-k partials."""
    import numpy as np

    from pyspark.sql import Window as W

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    qx = np.asarray([list(r[1]) for r in q_rows], dtype="float64")
    cc, cb = index.centroids, index.codebooks
    m, _pqk, dsub = cb.shape
    dcell = -2.0 * (qx @ cc.T) + (cc**2).sum(axis=1)[None, :]
    nprobe = min(int(nprobe), cc.shape[0])
    probe = np.argsort(dcell, axis=1)[:, :nprobe]  # [nq, nprobe]
    # LUT per (query, probe slot): residual subspace distances
    # lut[q, p, j, c] = ||(q - cent[probe[q,p]])_j - cb[j, c]||^2
    res = qx[:, None, :] - cc[probe]  # [nq, nprobe, dim]
    lut = np.stack(
        [
            (
                (res[:, :, j * dsub : (j + 1) * dsub][:, :, None, :]
                 - cb[j][None, None, :, :]) ** 2
            ).sum(axis=3)
            for j in range(m)
        ],
        axis=2,
    )  # [nq, nprobe, m, pq_k]
    # map cell id -> (query, probe slot) pairs for fast batch scoring
    probed_cells = sorted({int(c) for row in probe for c in row})
    topk = int(k)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("approx_d2", T.DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype("int64")
            cells = pdf["cell"].to_numpy().astype("int64")
            cand = pdf["vec_id"].to_numpy().astype("int64")
            frames = []
            for qi in range(len(q_ids)):
                for p in range(nprobe):
                    mask = cells == probe[qi, p]
                    if not mask.any():
                        continue
                    sub = codes[mask]
                    d2 = np.zeros(sub.shape[0])
                    for j in range(m):
                        d2 += lut[qi, p, j, sub[:, j]]
                    ids = cand[mask]
                    self_m = ids == q_ids[qi]
                    d2[self_m] = np.inf
                    keep = min(topk, len(d2))
                    part = np.argpartition(d2, keep - 1)[:keep]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": q_ids[qi],
                                "cand_id": ids[part],
                                "approx_d2": d2[part],
                            }
                        )
                    )
            if frames:
                out = pd.concat(frames, ignore_index=True)
                yield out[np.isfinite(out["approx_d2"])]

    scan = index.codes.filter(F.col("cell").isin(probed_cells))
    partials = scan.mapInPandas(score, schema=out_schema)
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("cand_id").asc()
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


# ---- Exact-parity k-means IVF (cross-engine deterministic) ----
#
# The production IVF path (build_ivf_index / ivf_search) k-means a
# sample on the driver with numpy — fast, but numpy's pairwise/SIMD
# summation order is engine-specific, so its centroids can't be
# reproduced bit-identically in an independent SQL engine. This
# variant makes every arithmetic step deterministic by construction:
#
# - vectors are quantized to integers (floor(x * 2^20 + 0.5)), so
#   centroid means are EXACT integer sums over an exact count — one
#   correctly-rounded double division, identical regardless of
#   aggregation order;
# - distances and dot products are strict left-folds (the same
#   accumulation order as DuckDB's list_reduce);
# - ties in assignment and ranking break on integer ids.
#
# Lloyd iterations are fixed (KM_ITERS) and init is the KM_K lowest
# vec_ids, so the whole index build is a pure function of the data.
# At scale each update is ONE map-side-combinable hash aggregation
# (64 SUM columns), and the final posting lists partition by cell —
# the same layout ivf_search probes.

KM_K = 16
KM_ITERS = 2
KM_NPROBE = 2
KM_QUANT = 1 << 20


def _quantize(vec: Column) -> Column:
    return F.transform(
        _as_double(vec),
        lambda x: F.floor(x * F.lit(float(KM_QUANT)) + F.lit(0.5)).cast("long"),
    )


_CENT_SCHEMA = T.StructType(
    [
        T.StructField("c_id", T.LongType()),
        T.StructField("cv", T.ArrayType(T.DoubleType())),
    ]
)

# distance of the row's quantized vector to every centroid in the
# broadcast `cents` array column: strict left-fold squared L2 per
# centroid (bit-identical to the DuckDB oracle's list_reduce), with
# (d2, c_id) structs so array_min / array_sort break ties on c_id
_CELL_STRUCTS = (
    "transform(cents, c -> struct("
    "aggregate(zip_with(vq, c.cv, (x, y) -> "
    "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
    "0.0D, (acc, x) -> acc + x) AS d2, c.c_id AS c_id))"
)

# THE cell-assignment rule (nearest centroid, ties on c_id). Exported
# so every assigner — the Lloyd loop below AND the persisted-index
# build/upsert in plans/vector_index — compiles the same string; two
# copies could silently drift a tie-break and desynchronize upserted
# postings from built ones.
CELL_ASSIGN_EXPR = f"array_min({_CELL_STRUCTS}).c_id"


def _sql_double(x: float) -> str:
    """Exact SQL double literal: Python's shortest round-trip repr
    parses back to the identical IEEE-754 bit pattern in the JVM."""
    return f"CAST({x!r} AS DOUBLE)"


def _with_cents(df: DataFrame, spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Attach the centroid table to every row as ONE broadcast
    array<struct> column. The centroid array is built as a pure SQL
    literal over OneRowRelation, which the optimizer constant-folds to
    a LocalRelation: the per-iteration BroadcastExchange then collects
    it DRIVER-SIDE with no Spark job at all (the old
    parallelize+collect_list build launched one 1-task job per Lloyd
    iteration — pure scheduler overhead; measured 3 jobs -> 2 and
    0.53 s -> 0.25 s per assignment pass at sf0.1). The MAIN plan
    still consumes broadcast DATA through the crossJoin, so its
    whole-stage codegen stays byte-identical across iterations and is
    cache-hit — inlining the k x dim literals into the assignment
    expression itself (a multi-second Janino recompile per iteration)
    remains deliberately avoided."""
    if not cents:
        carr = spark.sql(
            "SELECT CAST(array() AS ARRAY<STRUCT<c_id: BIGINT, "
            "cv: ARRAY<DOUBLE>>>) AS cents"
        )
    else:
        items = ", ".join(
            "named_struct('c_id', CAST(%d AS BIGINT), 'cv', array(%s))"
            % (c_id, ", ".join(_sql_double(x) for x in cv))
            for c_id, cv in cents
        )
        carr = spark.sql(f"SELECT array({items}) AS cents")
    return df.crossJoin(F.broadcast(carr))


def exact_kmeans_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = KM_K,
    iters: int = KM_ITERS,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Fixed-iteration exact-arithmetic Lloyd k-means. Returns
    ``(centroids, cells)``: centroids as a [(c_id, [dim doubles])]
    list and cells ``(vec_id, v, vq, nrm, cell)`` with every vector
    assigned to its nearest final centroid (ties on c_id).

    Centroids live on the driver between iterations — k x dim doubles,
    the same design as Spark MLlib KMeans — so each Lloyd iteration is
    ONE job: a shuffle-free argmin projection over the broadcast
    centroid array feeding one map-side-combinable hash aggregation
    (dim SUM columns + COUNT), collected as k tiny rows. No per-vector
    crossJoin row blowup, no window sort, no lineage growth across
    iterations.

    Exactness: quantized coordinates make every centroid mean an exact
    integer sum over an exact count; Python's int/int float division
    is the same correctly-rounded IEEE divide as the SQL oracle's
    CAST(sum AS DOUBLE)/cnt. Empty clusters keep their previous
    centroid (standard Lloyd fallback)."""
    spark = df.sparkSession
    e = (
        df.select(
            F.col(id_col).alias("vec_id"),
            _as_double(F.col(vec_col)).alias("v"),
            _quantize(F.col(vec_col)).alias("vq"),
            norm(F.col(vec_col)).alias("nrm"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    # Persisting `e` caps the corpus I/O at ONE scan for the whole
    # run: without it every Lloyd iteration plus the final assignment
    # re-reads + re-projects the parquet source (iters+1 scans — 16x
    # the I/O at the default 15 iterations). The repartition spreads
    # the cache across every core BEFORE the loop (one shuffle
    # amortized over iters+1 cached passes): the assignment argmin is
    # a higher-order-function fold, which Spark evaluates interpreted
    # (outside codegen), so its wall-time scales with the parallelism
    # of the cached partitions, not the input file count. Values are
    # unchanged (persist/repartition are plan-transparent).
    init = sorted(
        (r["vec_id"], [float(x) for x in r["vq"]])
        for r in e.filter(F.col("vec_id") < k).select("vec_id", "vq").collect()
    )
    if len(init) != k:
        # empty corpus: a legal input (zero-row twin), not a broken
        # id space — return no centroids and the (empty) assignment
        # frame with its full schema so downstream joins/windows
        # produce correctly-typed empty results
        if not init and e.isEmpty():
            cells = (
                _with_cents(e, spark, [])
                .withColumn("cell", F.expr(CELL_ASSIGN_EXPR))
                .select("vec_id", "v", "vq", "nrm", "cell")
            )
            cells._cached_deps = (e, cells)
            return [], cells
        raise ValueError(
            f"exact_kmeans_cells seeds from the rows with {id_col} < "
            f"k={k} and found {len(init)}; ids must be contiguous from "
            "0 (dense-rank reindex first) for deterministic seeding"
        )
    cents = init
    assign_expr = F.expr(CELL_ASSIGN_EXPR)
    for _ in range(iters):
        assigned = (
            _with_cents(e, spark, cents)
            .withColumn("cell", assign_expr)
        )
        # Narrow update aggregation: posexplode to (cell, dim_j, x)
        # and one 3-column hash-agg — k*dim result rows — instead of a
        # dim-wide SUM list. Identical exact-integer sums, but the
        # generated aggregate class stays small (fast codegen) and the
        # shuffle rows are tiny. Map-side combinable either way.
        # (An unrolled single-plan variant with lazy broadcast
        # centroid subqueries was benched and is SLOWER locally — the
        # nested broadcast materializations cost more than the
        # per-iteration collect round-trip they remove.)
        with _no_aqe(spark):
            sums = (
                assigned.select("cell", F.posexplode("vq").alias("j", "x"))
                .groupBy("cell", "j")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
        acc: dict[int, list] = {}
        for r in sums:
            acc.setdefault(r["cell"], [0] * (dim + 1))
            acc[r["cell"]][r["j"]] = r["s"]
            acc[r["cell"]][dim] = r["cnt"]
        updated = {
            cell: [v[j] / v[dim] for j in range(dim)]
            for cell, v in acc.items()
        }
        cents = [(c_id, updated.get(c_id, cv)) for c_id, cv in cents]
    cells = (
        _with_cents(e, spark, cents)
        .withColumn("cell", assign_expr)
        .select("vec_id", "v", "vq", "nrm", "cell")
        .persist()
    )
    # `cells` is consumed more than once downstream (posting lists +
    # probe side); persist makes the final assignment compute once.
    # `e` stays cached until then — it backs the lazy `cells` plan.
    # Callers that finish with the frames (e.g. an index BUILD, which
    # only writes and reports) can release both via this handle —
    # otherwise every build pins two corpus-sized caches for the
    # session lifetime.
    cells._cached_deps = (e, cells)
    return cents, cells


def exact_kmeans_ivf_search(
    cents: list[tuple[int, list[float]]],
    cells: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = KM_NPROBE,
) -> DataFrame:
    """ANN search over the exact k-means cells: each query row of
    ``queries`` (vec_id, v, vq, nrm — e.g. a filter of ``cells``)
    probes its ``nprobe`` nearest centroids (a sorted slice of the
    broadcast centroid distances — shuffle-free) and ranks exact
    cosine within those posting lists. The probe table is broadcast;
    the corpus side stays partitioned by cell."""
    from pyspark.sql import Window as W

    spark = queries.sparkSession
    probe_expr = F.expr(
        f"transform(slice(array_sort({_CELL_STRUCTS}), 1, {int(nprobe)}),"
        " s -> s.c_id)"
    )
    probes = _with_cents(
        queries.select("vec_id", "v", "vq", "nrm"), spark, cents
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.explode(probe_expr).alias("cell"),
    )
    scored = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            cosine_prenormed(
                F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")
            ).alias("cos_sim"),
        )
    )
    w_rank = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def ivf_upsert(index: IVFIndex, new_df: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> tuple[IVFIndex, DataFrame]:
    """Incremental IVF maintenance: assign NEW vectors to the existing
    centroids (one vectorized Pandas-UDF pass — identical math to the
    build-time assignment) and append them to the posting lists. No
    retraining, no touch of existing postings: at production scale
    this is one partitioned append per ingest batch, which is why IVF
    is the index family that survives continuous ingestion.

    Returns (updated_index, drift) where drift is a 1-row DataFrame
    (n_new, mean_d2, max_d2) of the new vectors' squared distance to
    their assigned centroid — the monitoring signal for WHEN to
    retrain: a rising mean against the build-time baseline means the
    data distribution has walked away from the centroids and recall
    is silently decaying. (The decision stays with the caller; the
    operator only measures.)
    """
    import numpy as np

    cb = index.centroids

    @F.pandas_udf(T.StructType([
        T.StructField("cell", T.IntegerType()),
        T.StructField("d2", T.DoubleType()),
    ]))
    def assign_d(batch: pd.Series) -> pd.DataFrame:
        m = np.stack(batch.to_numpy()).astype("float64")
        d = (
            (m**2).sum(axis=1)[:, None]
            - 2.0 * (m @ cb.T)
            + (cb**2).sum(axis=1)[None, :]
        )
        lab = d.argmin(axis=1)
        return pd.DataFrame({
            "cell": lab.astype("int32"),
            "d2": np.maximum(d[np.arange(len(lab)), lab], 0.0),
        })

    scored = new_df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        assign_d(F.col(vec_col)).alias("a"),
    ).select("vec_id", "v", "nrm", "a.cell", "a.d2")
    drift = scored.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.avg("d2").alias("mean_d2"),
        F.max("d2").alias("max_d2"),
    )
    appended = index.assignments.unionByName(
        scored.select("vec_id", "v", "nrm", "cell").repartition("cell")
    )
    return IVFIndex(cb, appended), drift


# ---------------------------------------------------------------------------
# Exact-parity PQ / IVF-PQ (cross-engine-checkable twins of the numpy
# ADC paths above — same index family, integer-exact arithmetic)
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_KSUB = 16    # codes per subspace codebook
PQ_ITERS = 2    # Lloyd iterations per subspace (matches KM_ITERS)


def _with_pcbs(df: DataFrame, spark, cb: list[tuple[int, int, list[float]]]) -> DataFrame:
    """Attach the per-subspace codebook table [(j, c_id, cv)] as ONE
    broadcast array<struct> column ``pcbs`` — same design (and same
    constant-folded-LocalRelation / codegen-cache rationale) as
    ``_with_cents``: no per-iteration broadcast-build job."""
    if not cb:
        carr = spark.sql(
            "SELECT CAST(array() AS ARRAY<STRUCT<j: INT, c_id: INT, "
            "cv: ARRAY<DOUBLE>>>) AS pcbs"
        )
    else:
        items = ", ".join(
            "named_struct('j', %d, 'c_id', %d, 'cv', array(%s))"
            % (j, c_id, ", ".join(_sql_double(x) for x in cv))
            for j, c_id, cv in cb
        )
        carr = spark.sql(f"SELECT array({items}) AS pcbs")
    return df.crossJoin(F.broadcast(carr))


def _pq_sub(vq_col: str, j: int, dsub: int) -> str:
    return f"slice({vq_col}, {j * dsub + 1}, {dsub})"


def _pq_assign_expr(vq_col: str, j: int, dsub: int) -> str:
    """argmin over subspace-j codebook entries of the exact left-fold
    squared L2 between the row's quantized slice and the centroid,
    ties on c_id — the _CELL_STRUCTS recipe, scoped per subspace."""
    return (
        f"array_min(transform(filter(pcbs, s -> s.j = {j}), c -> struct("
        f"aggregate(zip_with({_pq_sub(vq_col, j, dsub)}, c.cv, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x) AS d2, c.c_id AS c_id))).c_id"
    )


def _pq_assign_all_expr(vq_col: str, m: int, dsub: int) -> str:
    """All m subspace assignments as ONE generic lambda over
    sequence(0, m-1): array<struct<j, cell, sub>> per row. The
    arithmetic is _pq_assign_expr verbatim with the literal subspace
    index replaced by the lambda variable — identical folds, identical
    struct-min tie-break, bit-identical codes (parity-pinned in
    tests/test_similarity.py). The point is the PLAN, not the values:
    the m-way stamped-out expression made every Lloyd iteration's tree
    m x bigger, and parse + rule passes + codegen source generation of
    that tree cost ~0.2 s PER ITERATION of pure driver time (guide
    §7.3 plan-size lesson; measured at sf0.1, and the cost grows with
    m, not with data). One shared lambda keeps the tree constant-size
    in m."""
    return (
        f"transform(sequence(0, {m - 1}), jj -> struct("
        "jj AS j, "
        "array_min(transform(filter(pcbs, s -> s.j = jj), c -> struct("
        f"aggregate(zip_with(slice({vq_col}, jj * {dsub} + 1, {dsub}), "
        "c.cv, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x) AS d2, c.c_id AS c_id))).c_id AS cell, "
        f"slice({vq_col}, jj * {dsub} + 1, {dsub}) AS sub))"
    )


def exact_pq_train(
    df: DataFrame,
    vq_col: str = "vq",
    dim: int = 64,
    m: int = PQ_M,
    k: int = PQ_KSUB,
    iters: int = PQ_ITERS,
) -> list[tuple[int, int, list[float]]]:
    """Fixed-iteration exact-arithmetic Lloyd PER SUBSPACE, all m
    subspaces fused into ONE job per iteration (explode the per-row
    (j, cell, sub) structs, one 3-key hash-agg, collect m*k*dsub tiny
    rows). Input rows carry an integer-quantized array column
    ``vq_col`` so every centroid mean is an exact integer sum over an
    exact count — bit-replayable by a SQL oracle (the
    exact_kmeans_cells proof, per subspace).

    Codebook ids are DENSE 0..k-1 (rank of vec_id among the k seed
    rows), so a flat position lookup ``j*k + code`` is always valid —
    never raw vec_ids, which need not be contiguous.

    Returns [(j, c_id, cv)] with cv a dsub-list of doubles."""
    spark = df.sparkSession
    dsub = dim // m
    seed_rows = sorted(
        (r["vec_id"], [int(x) for x in r[vq_col]])
        for r in df.filter(F.col("vec_id") < k)
        .select("vec_id", vq_col)
        .collect()
    )
    if len(seed_rows) != k:
        if not seed_rows and df.isEmpty():
            return []  # empty corpus: no codebook (zero-row twin)
        raise ValueError(
            f"exact_pq_train seeds the codebook from the rows with "
            f"vec_id < k={k} and found {len(seed_rows)}; the corpus "
            "must carry contiguous vec_ids starting at 0 (reindex with "
            "a dense rank first — sparse or offset ids break the "
            "deterministic seeding contract)"
        )
    cb = [
        (j, c, [float(v) for v in row[j * dsub : (j + 1) * dsub]])
        for j in range(m)
        for c, (_, row) in enumerate(seed_rows)
    ]
    assign_all = _pq_assign_all_expr(vq_col, m, dsub)
    for _ in range(iters):
        with _no_aqe(spark):
            sums = (
                _with_pcbs(df, spark, cb)
                .select(F.expr(f"explode({assign_all})").alias("s"))
                .select(
                    F.col("s.j").alias("j"),
                    F.col("s.cell").alias("cell"),
                    F.posexplode("s.sub").alias("d", "x"),
                )
                .groupBy("j", "cell", "d")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
        acc: dict[tuple[int, int], list] = {}
        for r in sums:
            acc.setdefault((r["j"], r["cell"]), [0] * (dsub + 1))
            acc[(r["j"], r["cell"])][r["d"]] = r["s"]
            acc[(r["j"], r["cell"])][dsub] = r["cnt"]
        cb = [
            (
                j,
                c,
                [acc[(j, c)][d] / acc[(j, c)][dsub] for d in range(dsub)]
                if (j, c) in acc
                else cv,
            )
            for j, c, cv in cb
        ]
    return cb


def exact_pq_codes(
    df: DataFrame,
    cb: list[tuple[int, int, list[float]]],
    vq_col: str = "vq",
    dim: int = 64,
    m: int = PQ_M,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every row to its m-array of dense codes — one shuffle-free
    projection against the broadcast codebook (the generic-lambda
    assignment: same values, constant-size plan — see
    _pq_assign_all_expr)."""
    dsub = dim // m
    assign_all = _pq_assign_all_expr(vq_col, m, dsub)
    return _with_pcbs(df, df.sparkSession, cb).select(
        "vec_id",
        *keep,
        F.expr(f"transform({assign_all}, s -> s.cell)").alias("codes"),
    )


def _pq_adc_expr(qd_col: str, m: int, k: int, dsub: int) -> str:
    """Exact ADC: left-fold over subspaces (j ascending) of the
    left-fold squared L2 between the query's subspace slice and the
    candidate code's centroid, looked up by flat position j*k+code in
    the broadcast ``cbflat`` (valid because codes are dense 0..k-1).
    Both folds start from 0.0 — the same association order DuckDB's
    list_reduce produces, so the double is bit-identical."""
    return (
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, j) -> acc + "
        f"aggregate(zip_with(slice({qd_col}, j * {dsub} + 1, {dsub}), "
        f"element_at(cbflat, j * {k} + CAST(element_at(codes, j + 1) AS INT) + 1), "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (a, x) -> a + x))"
    )


def _with_cbflat(df: DataFrame, spark, cb, m: int, k: int) -> DataFrame:
    flat = [cv for _, _, cv in sorted(cb, key=lambda t: (t[0], t[1]))]
    # empty codebook = empty corpus (exact_pq_train's zero-row path);
    # element_at over the empty array yields NULL on the zero rows.
    # Constant-folded LocalRelation broadcast — no build job (the
    # _with_cents rationale).
    assert len(flat) == m * k or not flat
    if not flat:
        one = spark.sql(
            "SELECT CAST(array() AS ARRAY<ARRAY<DOUBLE>>) AS cbflat"
        )
    else:
        items = ", ".join(
            "array(%s)" % ", ".join(_sql_double(x) for x in cv)
            for cv in flat
        )
        one = spark.sql(f"SELECT array({items}) AS cbflat")
    return df.crossJoin(F.broadcast(one))


def exact_pq_ann(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_M,
    k: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    topk: int = 3,
    n_queries: int = 40,
) -> DataFrame:
    """Product-quantized ANN, exact-parity variant: quantized
    subspace Lloyd codebooks (deterministic function of the data),
    one-pass corpus encoding to m dense codes, ADC top-k with
    bit-replayable folds. Queries = the FIXED set vec_id < n_queries
    (not a fraction of the corpus: a fractional query set makes flat
    PQ quadratic in corpus size — a fixed count keeps this
    correctness-anchor query linear at any scale), scored against the
    whole encoded corpus (that IS flat PQ — no cells to prune; the
    cell-pruned variant is exact_ivfpq_ann). The query batch is
    broadcast; the encoded corpus never shuffles until the final tiny
    top-k window.

    Returns (query_id, cand_id, approx_d2, rank<=topk)."""
    from pyspark.sql import Window as W

    spark = df.sparkSession
    e = (
        df.select(
            F.col(id_col).alias("vec_id"),
            _quantize(F.col(vec_col)).alias("vq"),
        )
        # Spread the cache across every core BEFORE training: the
        # subspace-assignment argmin is an interpreted HOF fold whose
        # wall-time scales with the cached partition count, and a
        # single-file parquet source would otherwise pin training,
        # encoding AND the ADC scan to one task (the
        # exact_kmeans_cells rationale; measured 5.3s -> well under
        # half at sf0.1 from this line alone).
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    cb = exact_pq_train(e, "vq", dim, m, k, iters)
    codes = exact_pq_codes(e, cb, "vq", dim, m)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(vq, x -> CAST(x AS DOUBLE))").alias("qd"),
    )
    scored = (
        _with_cbflat(codes, spark, cb, m, k)
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.expr(_pq_adc_expr("qd", m, k, dim // m)).alias("approx_d2"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


def exact_ivfpq_ann(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_M,
    pq_k: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    topk: int = 3,
    nprobe: int = 4,
    query_mod: int = 50,
) -> DataFrame:
    """IVF-PQ ANN, exact-parity variant (FAISS layout, replayable
    arithmetic): coarse cells from exact_kmeans_cells, RESIDUALS
    (quantized coords minus the cell centroid, re-rounded to integers
    so subspace Lloyd stays exact-sum) PQ-encoded per cell, probes =
    nprobe nearest coarse cells, ADC only inside probed cells. A
    candidate lives in exactly one cell, so (query, cand) pairs are
    unique across probes. Scan cost per query: nprobe/k_cells of the
    corpus, m lookups per candidate — the same pruning contract as
    the numpy ivfpq_search, minus float non-determinism.

    Returns (query_id, cand_id, approx_d2, rank<=topk)."""
    from pyspark.sql import Window as W

    spark = df.sparkSession
    cents, cells = exact_kmeans_cells(df, id_col=id_col, vec_col=vec_col,
                                      dim=dim)
    cvcell = "element_at(filter(cents, c -> c.c_id = cell), 1).cv"
    rq_expr = (
        f"zip_with(vq, {cvcell}, (x, cv) -> "
        "CAST(floor(CAST(x AS DOUBLE) - cv + 0.5D) AS BIGINT))"
    )
    r = (
        _with_cents(cells, spark, cents)
        .select("vec_id", "cell", F.expr(rq_expr).alias("rq"))
        .persist()
    )
    cb = exact_pq_train(r, "rq", dim, m, pq_k, iters)
    codes = exact_pq_codes(r, cb, "rq", dim, m, keep=("cell",))

    probe_expr = (
        f"transform(slice(array_sort({_CELL_STRUCTS}), 1, {int(nprobe)}),"
        " s -> s.c_id)"
    )
    probes = (
        _with_cents(
            cells.filter(F.col("vec_id") % query_mod == 0).select(
                "vec_id", "vq"
            ),
            spark,
            cents,
        )
        .select(
            F.col("vec_id").alias("query_id"),
            "vq",
            F.explode(F.expr(probe_expr)).alias("cell"),
            F.col("cents"),
        )
        .select(
            "query_id",
            "cell",
            F.expr(
                "transform(" + rq_expr + ", x -> CAST(x AS DOUBLE))"
            ).alias("qd"),
        )
    )
    scored = (
        _with_cbflat(codes, spark, cb, m, pq_k)
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.expr(_pq_adc_expr("qd", m, pq_k, dim // m)).alias("approx_d2"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


def semantic_dedup_cells(cells: DataFrame, theta: float) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023
    layout): pairwise cosine is computed only WITHIN each k-means
    cell of ``cells`` (the exact_kmeans_cells output: vec_id, v, nrm,
    cell) — never across the corpus. A vector is a semantic duplicate
    if some lower-id vector in its cell has cosine >= theta;
    ``dup_of`` is the smallest such id (deterministic), ``cos_sim``
    that pair's similarity.

    Scale shape: the only join is the within-cell self-join — with
    ~sqrt(N) cells of ~sqrt(N) vectors the pair count stays ~N^1.5
    worst-case and the join is hash-partitioned by cell; nothing is
    all-pairs. The min-struct aggregation is map-side combinable.

    Returns DataFrame[vec_id, cell, dup_of, cos_sim], one row per
    dropped duplicate."""
    slim = cells.select("vec_id", "v", "nrm", "cell")
    lo = slim.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
        "cell",
    )
    hi = slim.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
        "cell",
    )
    cs = cosine_prenormed(
        F.col("av"), F.col("bv"), F.col("anrm"), F.col("bnrm")
    )
    return (
        lo.join(hi, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("cell", "b_id", "a_id", cs.alias("cs"))
        .filter(F.col("cs") >= theta)
        .groupBy("b_id", "cell")
        .agg(F.min(F.struct("a_id", "cs")).alias("m"))
        .select(
            F.col("b_id").alias("vec_id"),
            "cell",
            F.col("m.a_id").alias("dup_of"),
            F.col("m.cs").alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): int8-range codes + quantized ANN
# ---------------------------------------------------------------------------
#
# The third compression family next to IVF (coarse cells) and PQ
# (subspace codebooks): per-dimension affine quantization of each
# coordinate to an 8-bit level. A 64-dim float32 vector becomes 64
# small ints — 4x smaller — and distance arithmetic becomes tiny
# integer math. Codes are a pure integer function of the corpus
# (bounds from exact MIN/MAX, levels from exact multiply-intdiv), so
# unlike float SQ implementations the whole index and every distance
# is bit-replayable in an independent SQL engine.
#
# At 100 TB: the bounds aggregate is one map-side-combinable pass
# (posexplode -> 64 groups), the bounds table is 64 rows (broadcast),
# and encoding is a narrow projection — the corpus never shuffles.

SQ8_LEVELS = 255


def sq8_bounds(e: DataFrame, vq_col: str = "vq") -> DataFrame:
    """Exact per-dimension [min, max] of the quantized corpus as ONE
    row: (bs = array<struct(j, mn, mx)> sorted by dimension). posexplode
    keeps the scan narrow (no 64x row blowup carries the full array);
    the two-level aggregate shuffles <= 64 groups."""
    per_dim = (
        e.select(F.posexplode(vq_col).alias("j", "v"))
        .groupBy("j")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    return per_dim.agg(
        F.array_sort(F.collect_list(F.struct("j", "mn", "mx"))).alias("bs")
    )


def sq8_codes(
    e: DataFrame, bounds: DataFrame, vq_col: str = "vq"
) -> DataFrame:
    """Append the SQ8 code array: code[j] = ((v - mn_j) * 255) intdiv
    max(mx_j - mn_j, 1), an integer in [0, 255]. Exact integer
    multiply-divide (both operands non-negative), so DuckDB's
    floor-div `//` and Spark's truncating `div` agree."""
    return e.crossJoin(F.broadcast(bounds)).withColumn(
        "code",
        F.expr(
            f"zip_with({vq_col}, bs, (v, s) -> "
            f"((v - s.mn) * {SQ8_LEVELS}) div greatest(s.mx - s.mn, 1))"
        ),
    )
