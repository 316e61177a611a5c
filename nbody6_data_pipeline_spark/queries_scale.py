"""Scale-infrastructure queries: the operators a 100 TB deployment
leans on between the "compute an answer" queries — frequency sketches,
runtime join filters, and data-skipping layout — each with a bit-exact
DuckDB oracle replaying the identical integer construction.

- events_cms_freq: count-min sketch frequency estimation. The counter
  grid (D x W integer counters, one map-side-combined aggregation) is
  the classic bounded-shuffle frequency summary; estimates carry the
  one-sided est >= true guarantee, verified in-query against exact
  counts for a fixed key set.
- embedding_sq8_topk: scalar (int8-range) quantization ANN with
  in-query recall accounting against the exact integer top-k — the
  third compression family next to IVF cells and PQ codebooks.
- orders_bloom_prune: bit-packed Bloom runtime filter built from a
  filtered dimension, probed by the fact scan with pure bit
  arithmetic; per-priority accounting shows zero false negatives and
  the expected ~3% false-positive rate at 8 bits/key.
- lineitem_zorder_skipping: Z-order (Morton-interleaved) bucket
  layout vs a single-column-sorted layout, scored by how many
  bucket-level min/max "file stats" each layout lets a 2-D range
  predicate skip — the OPTIMIZE ZORDER effect, measured.
- lineitem_grid_quantiles: mergeable fixed-grid histogram quantiles —
  the bounded-shuffle alternative to exact percentiles (integer bin
  counts sum across shards/streams; the quantile bracket is exact
  integer arithmetic over the cumulative histogram).
- doc_bm25_topk: BM25 inverted-index retrieval over the corpus with
  in-plan df/idf/length-normalization statistics and deterministic
  top-k ranking — the retrieval-side primitive of an LLM data stack.

No reference analogue (the reference is a single-node pandas
pipeline); these extend the sketch/ANN/dedup north-star families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.operators.bloom import (
    BLOOM_BITS_PER_KEY,
    BLOOM_K,
    bloom_build,
    bloom_probe,
)
from nbody6_data_pipeline_spark.operators.similarity import (
    KM_QUANT,
    SQ8_LEVELS,
    _quantize,
    sq8_bounds,
    sq8_codes,
)
from nbody6_data_pipeline_spark.operators.sketch import (
    CMS_D,
    CMS_W,
    cms_counters,
    cms_estimates,
)
from nbody6_data_pipeline_spark.operators.zorder import (
    ZBITS,
    grid_coord_sql,
    max_bounds,
    morton_sql,
)
from nbody6_data_pipeline_spark.queries import _t, ordered, register

# ---------------------------------------------------------------------------
# Count-min sketch frequency estimation
# ---------------------------------------------------------------------------

CMS_QUERY_BELOW = 25  # fixed query-key set: user_id < 25

_MD5_LONG = (
    "CAST(('0x' || substring(md5(CAST({i} AS VARCHAR) || ':' || "
    "CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT)"
)


def _cms_oracle() -> str:
    h = _MD5_LONG.format(i="i", key="user_id")
    return f"""
    WITH hr AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS i),
    cells AS (
      SELECT i, {h} % {CMS_W} AS bucket FROM events, hr
    ),
    counters AS (
      SELECT i, bucket, COUNT(*) AS cnt FROM cells GROUP BY i, bucket
    ),
    qk AS (SELECT DISTINCT user_id FROM events
           WHERE user_id < {CMS_QUERY_BELOW}),
    probes AS (SELECT user_id, i, {h} % {CMS_W} AS bucket FROM qk, hr),
    est AS (
      SELECT p.user_id, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
      FROM probes p
      JOIN counters c ON p.i = c.i AND p.bucket = c.bucket
      GROUP BY p.user_id
    ),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_cnt FROM events
      WHERE user_id < {CMS_QUERY_BELOW} GROUP BY user_id
    )
    SELECT x.user_id, x.exact_cnt, e.cms_est,
           CAST(e.cms_est - x.exact_cnt AS BIGINT) AS overcount
    FROM exact x JOIN est e ON x.user_id = e.user_id
    ORDER BY x.user_id
    """


@register("events_cms_freq", _cms_oracle())
def q_events_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event frequencies from a count-min sketch, checked
    in-query against exact counts for the fixed key set user_id < 25.

    The sketch build (operators/sketch.cms_counters) is ONE hash
    aggregation whose shuffle is bounded by D*W rows per partition
    however many billions of events stream through, and grids from
    different shards/days merge by counter-wise addition. Estimation
    touches only broadcast-sized tables. The oracle replays the same
    md5-derived hash rows, so every count, estimate, and overcount is
    an exact BIGINT — the CMS guarantee (overcount >= 0 always)
    becomes a hash-checked output column."""
    e = _t(spark, sf_dir, "events", spread=True)
    counters = cms_counters(e, F.col("user_id"))
    qk = (
        e.filter(F.col("user_id") < CMS_QUERY_BELOW)
        .select("user_id")
        .distinct()
    )
    est = cms_estimates(counters, qk, "user_id")
    exact = (
        e.filter(F.col("user_id") < CMS_QUERY_BELOW)
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
    )
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("overcount"),
        )
        .transform(ordered, "user_id")
    )


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized ANN with exact recall accounting
# ---------------------------------------------------------------------------

SQ8_NQ = 24  # fixed query set vec_id < 24 (linear in corpus size)
SQ8_TOPK = 10


def _sq8_oracle() -> str:
    dim = 64
    return f"""
    WITH e AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(floor(x * {KM_QUANT}.0 + 0.5) AS BIGINT)) AS vq
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    ),
    mm AS (
      SELECT j, MIN(vq[j]) AS mn, MAX(vq[j]) AS mx
      FROM e, (SELECT unnest(range(1, {dim + 1})) AS j) t
      GROUP BY j
    ),
    bl AS (SELECT list(mn ORDER BY j) AS mnl, list(mx ORDER BY j) AS mxl
           FROM mm),
    c AS (
      SELECT vec_id, vq,
        list_transform(range(1, {dim + 1}), j ->
          ((vq[j] - mnl[j]) * {SQ8_LEVELS})
            // greatest(mxl[j] - mnl[j], 1)) AS code
      FROM e, bl
    ),
    q AS (SELECT vec_id AS query_id, vq AS qvq, code AS qc
          FROM c WHERE vec_id < {SQ8_NQ}),
    s AS (
      SELECT q.query_id, c.vec_id AS cand_id,
        list_reduce(list_transform(range(1, {dim + 1}), j ->
          (qc[j] - c.code[j]) * (qc[j] - c.code[j])),
          (acc, x) -> acc + x) AS d2_sq8,
        list_reduce(list_transform(range(1, {dim + 1}), j ->
          (qvq[j] - c.vq[j]) * (qvq[j] - c.vq[j])),
          (acc, x) -> acc + x) AS d2_exact
      FROM q, c WHERE c.vec_id != q.query_id
    ),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY d2_sq8, cand_id) AS r8,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY d2_exact, cand_id) AS re
      FROM s
    )
    SELECT query_id,
      CAST(COUNT(*) FILTER (WHERE r8 <= {SQ8_TOPK} AND re <= {SQ8_TOPK})
           AS BIGINT) AS hits,
      CAST(MAX(d2_sq8) FILTER (WHERE r8 <= {SQ8_TOPK}) AS BIGINT)
        AS sq8_max_d2,
      CAST(MAX(d2_exact) FILTER (WHERE re <= {SQ8_TOPK}) AS BIGINT)
        AS exact_max_d2
    FROM r WHERE r8 <= {SQ8_TOPK} OR re <= {SQ8_TOPK}
    GROUP BY query_id
    ORDER BY query_id
    """


@register("embedding_sq8_topk", _sq8_oracle())
def q_embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with per-query recall accounting.

    Each 64-dim vector compresses to 64 byte-range levels via exact
    per-dimension integer affine quantization
    (operators/similarity.sq8_codes); approximate and exact integer
    squared-L2 top-10 are ranked side by side for the fixed query set
    vec_id < 24, and `hits` counts the overlap — recall becomes a
    hash-checked BIGINT column instead of a float claim. The corpus
    never shuffles: bounds are a 64-group aggregate, encoding is a
    narrow projection, and scoring is a broadcast nested-loop against
    the fixed-size query batch (linear in corpus size), finished by a
    per-query top-k window over query-partitioned candidates."""
    e = (
        _t(spark, sf_dir, "embeddings", spread=True)
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    )
    corpus = sq8_codes(e, sq8_bounds(e)).select("vec_id", "vq", "code")
    q = corpus.filter(F.col("vec_id") < SQ8_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vq").alias("qvq"),
        F.col("code").alias("qc"),
    )
    scored = (
        corpus.alias("c")
        .join(F.broadcast(q), F.col("c.vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "c.vec_id AS cand_id",
            "aggregate(zip_with(qc, c.code, (x, y) -> (x-y)*(x-y)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS d2_sq8",
            "aggregate(zip_with(qvq, c.vq, (x, y) -> (x-y)*(x-y)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS d2_exact",
        )
    )
    w8 = W.partitionBy("query_id").orderBy("d2_sq8", "cand_id")
    we = W.partitionBy("query_id").orderBy("d2_exact", "cand_id")
    ranked = scored.select(
        "*",
        F.row_number().over(w8).alias("r8"),
        F.row_number().over(we).alias("re"),
    )
    k = SQ8_TOPK
    return (
        ranked.filter((F.col("r8") <= k) | (F.col("re") <= k))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("r8") <= k) & (F.col("re") <= k), 1).otherwise(0)
            )
            .cast("long")
            .alias("hits"),
            F.max(F.when(F.col("r8") <= k, F.col("d2_sq8")))
            .cast("long")
            .alias("sq8_max_d2"),
            F.max(F.when(F.col("re") <= k, F.col("d2_exact")))
            .cast("long")
            .alias("exact_max_d2"),
        )
        .transform(ordered, "query_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter runtime join pruning
# ---------------------------------------------------------------------------

BLOOM_SEGMENT = "BUILDING"


def _bloom_oracle() -> str:
    k, bpk = BLOOM_K, BLOOM_BITS_PER_KEY
    hp = [
        _MD5_LONG.format(i=i, key="c_custkey") + " % nb.nb" for i in range(k)
    ]
    ho = [
        _MD5_LONG.format(i=i, key="o_custkey") + f" % nb.nb AS p{i}"
        for i in range(k)
    ]
    joins = "\n".join(
        f"      LEFT JOIN words w{i} ON w{i}.word = pr.p{i} // 62"
        for i in range(k)
    )
    hits = [
        f"COALESCE((w{i}.bits >> CAST(pr.p{i} % 62 AS INT)) & 1 = 1, FALSE)"
        f" AS h{i}"
        for i in range(k)
    ]
    allh = " AND ".join(f"h{i}" for i in range(k))
    return f"""
    WITH bc AS (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = '{BLOOM_SEGMENT}' AND c_custkey IS NOT NULL
    ),
    nb AS (SELECT COUNT(*) * {bpk} AS nb FROM bc),
    pos AS (
      SELECT unnest([{", ".join(hp)}]) AS pos FROM bc, nb
    ),
    words AS (
      SELECT pos // 62 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
      FROM pos GROUP BY pos // 62
    ),
    pr AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             {", ".join(ho)}
      FROM orders, nb
    ),
    fl AS (
      SELECT pr.o_orderkey, pr.o_custkey, pr.o_orderpriority,
             {", ".join(hits)}
      FROM pr
{joins}
    ),
    fl2 AS (
      SELECT fl.*, (bc.c_custkey IS NOT NULL) AS in_dim
      FROM fl LEFT JOIN bc ON fl.o_custkey = bc.c_custkey
    )
    SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(COUNT(*) FILTER (WHERE {allh}) AS BIGINT) AS n_bloom_pass,
      CAST(COUNT(*) FILTER (WHERE in_dim) AS BIGINT) AS n_match,
      CAST(COUNT(*) FILTER (WHERE ({allh}) AND NOT in_dim) AS BIGINT)
        AS n_false_pos,
      CAST(COUNT(*) FILTER (WHERE in_dim AND NOT ({allh})) AS BIGINT)
        AS n_false_neg
    FROM fl2
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority NULLS LAST
    """


@register("orders_bloom_prune", _bloom_oracle())
def q_orders_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning, with its error accounting
    made a hash-checked output.

    The BUILDING customers' key set compresses to a bit-packed Bloom
    filter (operators/bloom: 8 bits/key, 3 md5-derived hashes, 62
    bits packed per signed word) that the orders scan probes with
    pure bit arithmetic — k broadcast word-lookups, no shuffle of the
    fact table. Per priority class the query reports how many orders
    the filter passes, how many truly join, false positives (expected
    ~3% of non-members at any scale — the rate is fixed by
    bits-per-key, not data volume) and false negatives (ZERO by
    construction, and the oracle hash-checks that zero). At 100 TB
    this is the explicit form of Spark's runtime bloom-filter join
    pruning: survivors alone proceed to the exact join."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == BLOOM_SEGMENT)
            & F.col("c_custkey").isNotNull()
        )
        .select("c_custkey")
    )
    words, nb = bloom_build(cust, "c_custkey")
    o = _t(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    probed = bloom_probe(o, "o_custkey", words, nb)
    flagged = probed.join(
        F.broadcast(cust.withColumn("_in_dim", F.lit(True))),
        probed["o_custkey"] == F.col("c_custkey"),
        "left",
    ).select(
        "o_orderpriority",
        "bloom_pass",
        F.coalesce(F.col("_in_dim"), F.lit(False)).alias("in_dim"),
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
            .cast("long")
            .alias("n_bloom_pass"),
            F.sum(F.when(F.col("in_dim"), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
            F.sum(
                F.when(F.col("bloom_pass") & ~F.col("in_dim"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
            F.sum(
                F.when(F.col("in_dim") & ~F.col("bloom_pass"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_neg"),
        )
        .transform(ordered, "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Z-order layout vs linear layout: measured data skipping
# ---------------------------------------------------------------------------

N_PROBES = 4  # the four quadrants of the (partkey, suppkey) key space


def _zorder_oracle() -> str:
    bits = ZBITS
    px = grid_coord_sql("l_partkey", "_mx", bits, idiv="//")
    py = grid_coord_sql("l_suppkey", "_my", bits, idiv="//")
    zb = morton_sql(px, py, bits, idiv="//")
    lin = grid_coord_sql("l_partkey", "_mx", 2 * bits, idiv="//")
    return f"""
    WITH mx AS (
      SELECT CAST(MAX(l_partkey) AS BIGINT) AS _mx,
             CAST(MAX(l_suppkey) AS BIGINT) AS _my
      FROM lineitem
    ),
    zstats AS (
      SELECT CAST({zb} AS BIGINT) AS bucket, COUNT(*) AS n_rows,
             MIN(l_partkey) AS min_x, MAX(l_partkey) AS max_x,
             MIN(l_suppkey) AS min_y, MAX(l_suppkey) AS max_y
      FROM lineitem, mx GROUP BY 1
    ),
    lstats AS (
      SELECT CAST({lin} AS BIGINT) AS bucket, COUNT(*) AS n_rows,
             MIN(l_partkey) AS min_x, MAX(l_partkey) AS max_x,
             MIN(l_suppkey) AS min_y, MAX(l_suppkey) AS max_y
      FROM lineitem, mx GROUP BY 1
    ),
    probes AS (
      SELECT p AS probe_id,
             (p % 2) * ((_mx + 1) // 2) AS xlo,
             ((p % 2) + 1) * ((_mx + 1) // 2) - 1 AS xhi,
             (p // 2) * ((_my + 1) // 2) AS ylo,
             ((p // 2) + 1) * ((_my + 1) // 2) - 1 AS yhi
      FROM (SELECT unnest(generate_series(0, {N_PROBES - 1})) AS p), mx
    ),
    zs AS (
      SELECT probe_id,
        CAST(COUNT(*) FILTER (WHERE COALESCE(NOT (max_x < xlo OR min_x > xhi
          OR max_y < ylo OR min_y > yhi), FALSE)) AS BIGINT)
          AS z_files_scanned,
        CAST(COALESCE(SUM(n_rows) FILTER (WHERE COALESCE(NOT (max_x < xlo
          OR min_x > xhi OR max_y < ylo OR min_y > yhi), FALSE)), 0)
          AS BIGINT) AS z_rows_scanned
      FROM zstats, probes GROUP BY probe_id
    ),
    ls AS (
      SELECT probe_id,
        CAST(COUNT(*) FILTER (WHERE COALESCE(NOT (max_x < xlo OR min_x > xhi
          OR max_y < ylo OR min_y > yhi), FALSE)) AS BIGINT)
          AS lin_files_scanned,
        CAST(COALESCE(SUM(n_rows) FILTER (WHERE COALESCE(NOT (max_x < xlo
          OR min_x > xhi OR max_y < ylo OR min_y > yhi), FALSE)), 0)
          AS BIGINT) AS lin_rows_scanned
      FROM lstats, probes GROUP BY probe_id
    ),
    ex AS (
      SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_rows_matched
      FROM lineitem, probes
      WHERE l_partkey BETWEEN xlo AND xhi AND l_suppkey BETWEEN ylo AND yhi
      GROUP BY probe_id
    )
    SELECT zs.probe_id, z_files_scanned, z_rows_scanned,
           lin_files_scanned, lin_rows_scanned,
           COALESCE(ex.n_rows_matched, 0) AS n_rows_matched
    FROM zs
    JOIN ls ON zs.probe_id = ls.probe_id
    LEFT JOIN ex ON zs.probe_id = ex.probe_id
    ORDER BY zs.probe_id
    """


@register("lineitem_zorder_skipping", _zorder_oracle())
def q_lineitem_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout, scored by measured data skipping.

    Buckets lineitem two ways — a 256-bucket Morton (Z-order)
    interleave of (l_partkey, l_suppkey) and a 256-bucket
    partkey-only sort (operators/zorder) — derives each layout's
    bucket-level min/max "file stats", and probes both with the four
    quadrant range predicates of the 2-D key space. Output per probe:
    files/rows a stats-driven scan planner must touch under each
    layout plus the true match count. The Z-order curve bounds every
    bucket to a small rectangle, so 2-D predicates skip most buckets;
    the linear layout can only prune on its sort column — the measured
    gap IS the OPTIMIZE ZORDER win, here as hash-checked integers.
    All bucket ids and stats are exact integer arithmetic, replayed
    by the oracle.

    The fact table is scanned ONCE: a composite (z-bucket,
    lin-bucket) aggregate carries counts, both layouts' min/max
    stats, and the four per-probe exact match counts; everything
    downstream (each layout's file stats = a regroup merging exact
    mins/maxes/sums, probe scan costs, true match totals) derives
    from that <= 4096-row summary. The oracle replays the logically
    identical three-scan formulation — two-level min/sum regrouping
    is exact, so the results hash-match."""
    li = _t(spark, sf_dir, "lineitem", spread=True).select(
        "l_partkey", "l_suppkey"
    )
    mx = max_bounds(li, "l_partkey", "l_suppkey")
    px = grid_coord_sql("l_partkey", "_mx", ZBITS)
    py = grid_coord_sql("l_suppkey", "_my", ZBITS)
    zb = morton_sql(px, py, ZBITS)
    lin = grid_coord_sql("l_partkey", "_mx", 2 * ZBITS)

    def rect(p: int) -> tuple[str, str, str, str]:
        return (
            f"({p % 2}) * ((_mx + 1) div 2)",
            f"({p % 2} + 1) * ((_mx + 1) div 2) - 1",
            f"({p // 2}) * ((_my + 1) div 2)",
            f"({p // 2} + 1) * ((_my + 1) div 2) - 1",
        )

    match_flags = []
    for p in range(N_PROBES):
        xlo, xhi, ylo, yhi = rect(p)
        match_flags.append(
            f"CAST(COALESCE(l_partkey BETWEEN ({xlo}) AND ({xhi}) "
            f"AND l_suppkey BETWEEN ({ylo}) AND ({yhi}), FALSE) "
            f"AS INT) AS m{p}"
        )
    comp = (
        li.crossJoin(F.broadcast(mx))
        .selectExpr(
            f"CAST({zb} AS BIGINT) AS zbucket",
            f"CAST({lin} AS BIGINT) AS lbucket",
            "CAST(l_partkey AS BIGINT) AS _x",
            "CAST(l_suppkey AS BIGINT) AS _y",
            *match_flags,
        )
        .groupBy("zbucket", "lbucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("_x").alias("min_x"),
            F.max("_x").alias("max_x"),
            F.min("_y").alias("min_y"),
            F.max("_y").alias("max_y"),
            *[
                F.sum(f"m{p}").cast("long").alias(f"m{p}")
                for p in range(N_PROBES)
            ],
        )
        .localCheckpoint()  # <= 4096 rows; read 3x below
    )
    probes = (
        spark.range(N_PROBES)
        .withColumnRenamed("id", "probe_id")
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "probe_id",
            "(probe_id % 2) * ((_mx + 1) div 2) AS xlo",
            "((probe_id % 2) + 1) * ((_mx + 1) div 2) - 1 AS xhi",
            "(probe_id div 2) * ((_my + 1) div 2) AS ylo",
            "((probe_id div 2) + 1) * ((_my + 1) div 2) - 1 AS yhi",
        )
    )
    overlap = F.coalesce(
        ~(
            (F.col("max_x") < F.col("xlo"))
            | (F.col("min_x") > F.col("xhi"))
            | (F.col("max_y") < F.col("ylo"))
            | (F.col("min_y") > F.col("yhi"))
        ),
        F.lit(False),
    )

    def scan_cost(bucket_col: str, prefix: str) -> DataFrame:
        stats = comp.groupBy(bucket_col).agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("min_x").alias("min_x"),
            F.max("max_x").alias("max_x"),
            F.min("min_y").alias("min_y"),
            F.max("max_y").alias("max_y"),
        )
        return (
            stats.crossJoin(F.broadcast(probes))
            .groupBy("probe_id")
            .agg(
                F.sum(F.when(overlap, 1).otherwise(0))
                .cast("long")
                .alias(f"{prefix}_files_scanned"),
                F.coalesce(
                    F.sum(F.when(overlap, F.col("n_rows"))), F.lit(0)
                )
                .cast("long")
                .alias(f"{prefix}_rows_scanned"),
            )
        )

    zs = scan_cost("zbucket", "z")
    ls = scan_cost("lbucket", "lin")
    ex = comp.selectExpr(
        "stack("
        + str(N_PROBES)
        + ", "
        + ", ".join(f"CAST({p} AS BIGINT), m{p}" for p in range(N_PROBES))
        + ") AS (probe_id, m)"
    ).groupBy("probe_id").agg(
        F.sum("m").cast("long").alias("n_rows_matched")
    )
    return (
        zs.join(ls, "probe_id")
        .join(ex, "probe_id", "left")
        .select(
            "probe_id",
            "z_files_scanned",
            "z_rows_scanned",
            "lin_files_scanned",
            "lin_rows_scanned",
            F.coalesce(F.col("n_rows_matched"), F.lit(0))
            .cast("long")
            .alias("n_rows_matched"),
        )
        .transform(ordered, "probe_id")
    )


# ---------------------------------------------------------------------------
# Mergeable grid-histogram quantiles
# ---------------------------------------------------------------------------

GRID_BIN = 100  # histogram bin width over l_extendedprice
GRID_QS = (5000, 9000, 9900)  # quantiles in basis points: p50, p90, p99


def _grid_quantile_oracle() -> str:
    qs = ", ".join(f"({q})" for q in GRID_QS)
    return f"""
    WITH h AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice / {GRID_BIN}.0) AS BIGINT) AS bin,
             COUNT(*) AS n
      FROM lineitem WHERE l_extendedprice IS NOT NULL
      GROUP BY 1, 2
    ),
    c AS (
      SELECT l_returnflag, bin, n,
             SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    ),
    t AS (SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS total
          FROM h GROUP BY 1),
    q AS (SELECT * FROM (VALUES {qs}) v(q_bp)),
    hit AS (
      SELECT c.l_returnflag, q.q_bp, c.bin, c.cum, t.total,
        ROW_NUMBER() OVER (PARTITION BY c.l_returnflag, q.q_bp
          ORDER BY c.bin) AS rn
      FROM c JOIN t ON c.l_returnflag IS NOT DISTINCT FROM t.l_returnflag, q
      WHERE c.cum * 10000 >= q.q_bp * t.total
    )
    SELECT l_returnflag, CAST(q_bp AS BIGINT) AS q_bp, bin,
           CAST(bin * {GRID_BIN} AS BIGINT) AS lo,
           CAST((bin + 1) * {GRID_BIN} AS BIGINT) AS hi_excl,
           CAST(cum AS BIGINT) AS cum_n, total AS total_n
    FROM hit WHERE rn = 1
    ORDER BY l_returnflag NULLS LAST, q_bp
    """


@register("lineitem_grid_quantiles", _grid_quantile_oracle())
def q_lineitem_grid_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag p50/p90/p99 price quantiles from a mergeable fixed-grid
    histogram — the bounded-shuffle quantile shape for 100 TB.

    An exact percentile needs a full sort (or a driver-merged sketch
    with engine-specific float internals); the grid histogram is ONE
    map-side-combined aggregation whose group count is bounded by
    |flags| * |bins| no matter the row count, merges across
    shards/days/streams by adding bin counts, and answers any
    quantile afterwards by scanning the cumulative histogram — here
    with pure integer arithmetic (cum * 10000 >= q_bp * total avoids
    ceil/rounding entirely). Output is the half-open quantile BRACKET
    [lo, hi_excl) (bin boundaries, exact integers): the true —
    possibly fractional — percentile provably lies inside, giving a
    certified max error of one bin width. tests/test_scale_ops.py
    asserts the containment against exact percentiles."""
    li = _t(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_extendedprice").isNotNull()
    )
    h = li.groupBy(
        "l_returnflag",
        F.expr(
            f"CAST(floor(l_extendedprice / {GRID_BIN}.0) AS BIGINT)"
        ).alias("bin"),
    ).agg(F.count("*").cast("long").alias("n"))
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = h.select("*", F.sum("n").over(wcum).alias("cum"))
    t = h.groupBy("l_returnflag").agg(
        F.sum("n").cast("long").alias("total")
    )
    qs = spark.createDataFrame([(q,) for q in GRID_QS], "q_bp long")
    # eqNullSafe: a NULL return-flag group must survive the
    # histogram-to-total join exactly like the oracle's
    # IS NOT DISTINCT FROM (a plain equi-join would drop it and
    # diverge on NULL-bearing data)
    hit = (
        c.join(
            t.withColumnRenamed("l_returnflag", "_tf"),
            F.col("l_returnflag").eqNullSafe(F.col("_tf")),
        )
        .drop("_tf")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("cum") * 10000 >= F.col("q_bp") * F.col("total"))
    )
    wfirst = W.partitionBy("l_returnflag", "q_bp").orderBy("bin")
    return (
        hit.select("*", F.row_number().over(wfirst).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("q_bp").cast("long").alias("q_bp"),
            "bin",
            (F.col("bin") * GRID_BIN).cast("long").alias("lo"),
            ((F.col("bin") + 1) * GRID_BIN).cast("long").alias("hi_excl"),
            F.col("cum").cast("long").alias("cum_n"),
            F.col("total").alias("total_n"),
        )
        .transform(ordered, "l_returnflag", "q_bp")
    )


# ---------------------------------------------------------------------------
# BM25 inverted-index retrieval
# ---------------------------------------------------------------------------

BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_TOPK = 10
BM25_NQ = 3  # three two-term queries from the top-6 corpus terms

# ONE formula template rendered into BOTH engines' SQL so the
# floating-point expression tree (parenthesization, literal text,
# operation order) is token-identical — the only non-shared op is ln,
# absorbed by the final q6 quantization.
_BM25_TERM_SCORE = (
    "ln(({N} - {df} + 0.5) / ({df} + 0.5) + 1.0)"
    " * ({tf} * ({k1} + 1.0))"
    " / ({tf} + {k1} * (1.0 - {b} + {b} * {dl} / {avgdl}))"
)


def _bm25_oracle() -> str:
    score = _BM25_TERM_SCORE.format(
        N="n.n_docs",
        df="dfs.df",
        tf="tf.tf",
        dl="dl.dl",
        avgdl="(n.sdl / n.n_docs)",
        k1=BM25_K1,
        b=BM25_B,
    )
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE doc_id IS NOT NULL),
    toks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(text, '\\s+'), x -> x != '')) AS token
      FROM d
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(CAST(dl AS DECIMAL(30,4))) AS DOUBLE) AS sdl
          FROM dl),
    dfs AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    tot AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt
            FROM tf GROUP BY 1),
    top6 AS (
      SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn
      FROM tot QUALIFY rn <= {2 * BM25_NQ}
    ),
    qt AS (SELECT (rn - 1) % {BM25_NQ} AS query_id, token FROM top6),
    sc AS (
      SELECT qt.query_id, tf.doc_id, {score} AS s
      FROM qt
      JOIN tf USING (token)
      JOIN dfs USING (token)
      JOIN dl ON tf.doc_id = dl.doc_id, n
    ),
    agg AS (SELECT query_id, doc_id, SUM(s) AS score
            FROM sc GROUP BY 1, 2),
    r AS (
      SELECT query_id, doc_id,
             CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS score_q6,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY CAST(floor(score * 1000000 + 0.5) AS BIGINT) DESC,
                        doc_id) AS rnk
      FROM agg
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
           doc_id, score_q6
    FROM r WHERE rnk <= {BM25_TOPK}
    ORDER BY query_id, rnk
    """


@register("doc_bm25_topk", _bm25_oracle())
def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for three derived two-term queries, fully
    in-plan: inverted index (tf), document lengths, df/idf and the
    exact-decimal average document length are each one hash
    aggregation; queries are the corpus' top-6 terms paired 1+4 / 2+5
    / 3+6 (deterministic: ties break on the token), so the whole
    run — index build, query selection, scoring, ranking — is a pure
    function of the corpus replayed by the oracle. Scoring shares a
    single formula template with the DuckDB SQL (same literal text,
    same parenthesization) so every IEEE multiply/divide matches
    bitwise; the ln() idf is the one libm-sensitive op, absorbed by
    q6 fixed-point quantization of the final score. At 100 TB the
    shuffles are the standard retrieval shapes: tf keyed by (doc,
    term), postings joined only for the |queries| * df matching rows,
    top-k per query via a bounded window."""
    from nbody6_data_pipeline_spark.operators.text import token_array

    d = (
        _t(spark, sf_dir, "documents", spread=True)
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    toks = d.select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    # tf feeds three branches (dfs, top6 terms, scoring join); the
    # repeated tokenize+count is cheaper than a localCheckpoint
    # materialization barrier (measured 2.9 s vs 6.5 s first-run at
    # sf0.1 — the barrier also blocks AQE from coalescing the probe
    # side). At 100 TB persist(DISK_ONLY) on tf would be the knob.
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    n = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("dl").cast("decimal(30,4)")).cast("double").alias("sdl"),
    )
    tot = tf.groupBy("token").agg(F.sum("tf").cast("long").alias("cnt"))
    # deterministic top-6 terms WITHOUT a global single-partition
    # window over the vocabulary: orderBy().limit() is a distributed
    # take-ordered; the rank window then runs on 6 rows
    wtop = W.orderBy(F.col("cnt").desc(), "token")
    qt = (
        tot.orderBy(F.col("cnt").desc(), "token")
        .limit(2 * BM25_NQ)
        .select("token", F.row_number().over(wtop).alias("rn"))
        .select(
            ((F.col("rn") - 1) % BM25_NQ).cast("long").alias("query_id"),
            "token",
        )
    )
    # df only for the 6 query terms: semi-reduce the postings FIRST so
    # the df aggregation never shuffles the full vocabulary (tot above
    # already pays the one unavoidable whole-vocab pass)
    dfs = (
        tf.join(F.broadcast(qt.select("token")), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("df"))
    )
    score = _BM25_TERM_SCORE.format(
        N="n_docs",
        df="df",
        tf="tf",
        dl="dl",
        avgdl="(sdl / n_docs)",
        k1=BM25_K1,
        b=BM25_B,
    )
    sc = (
        tf.join(F.broadcast(qt), "token")
        .join(F.broadcast(dfs), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .selectExpr("query_id", "doc_id", f"{score} AS s")
    )
    agg = sc.groupBy("query_id", "doc_id").agg(F.sum("s").alias("score"))
    wrnk = W.partitionBy("query_id").orderBy(
        F.expr("CAST(floor(score * 1000000 + 0.5) AS BIGINT)").desc(),
        "doc_id",
    )
    return (
        agg.select(
            "query_id",
            "doc_id",
            F.expr("CAST(floor(score * 1000000 + 0.5) AS BIGINT)").alias(
                "score_q6"
            ),
            F.row_number().over(wrnk).alias("rnk"),
        )
        .filter(F.col("rnk") <= BM25_TOPK)
        .select(
            "query_id", F.col("rnk").cast("long").alias("rnk"),
            "doc_id", "score_q6",
        )
        .transform(ordered, "query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch with set operations
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000
_AKEY = "user_id * 4096 + ((us div 86400000000) % 4096)"  # user-day activity
_AKEY_SQL = "user_id * 4096 + ((epoch_us(ts) // 86400000000) % 4096)"


def _kmv_oracle() -> str:
    from nbody6_data_pipeline_spark.operators.sketch import KMV_K

    h = (
        "CAST(('0x' || substring(md5(CAST(akey AS VARCHAR)), 1, 15)) "
        "AS BIGINT)"
    )
    return f"""
    WITH base AS (
      SELECT DISTINCT event_type, {_AKEY_SQL} AS akey
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    hv AS (SELECT DISTINCT event_type, {h} AS hv FROM base),
    sk AS (
      SELECT event_type, hv,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM hv QUALIFY rn <= {KMV_K}
    ),
    tp AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM (SELECT DISTINCT event_type FROM base) a
      JOIN (SELECT DISTINCT event_type FROM base) b
        ON a.event_type < b.event_type
    ),
    mu AS (
      SELECT DISTINCT ta, tb, hv FROM (
        SELECT tp.ta, tp.tb, s.hv FROM tp JOIN sk s ON s.event_type = tp.ta
        UNION ALL
        SELECT tp.ta, tp.tb, s.hv FROM tp JOIN sk s ON s.event_type = tp.tb
      )
    ),
    uk AS (
      SELECT ta, tb, hv,
        ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
      FROM mu QUALIFY rn <= {KMV_K}
    ),
    mem AS (
      SELECT uk.ta, uk.tb, uk.hv,
        COALESCE(sa.hv IS NOT NULL, FALSE) AS in_a,
        COALESCE(sb.hv IS NOT NULL, FALSE) AS in_b
      FROM uk
      LEFT JOIN sk sa ON sa.event_type = uk.ta AND sa.hv = uk.hv
      LEFT JOIN sk sb ON sb.event_type = uk.tb AND sb.hv = uk.hv
    ),
    sks AS (
      SELECT ta AS type_a, tb AS type_b,
        CAST(COUNT(*) AS BIGINT) AS n_union_k,
        CAST(MAX(hv) AS BIGINT) AS kth_union_hv,
        CAST(COUNT(*) FILTER (WHERE in_a AND in_b) AS BIGINT) AS n_both
      FROM mem GROUP BY ta, tb
    ),
    ex AS (SELECT event_type, COUNT(*) AS exact_n FROM base GROUP BY 1),
    exi AS (
      SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n
      FROM base a JOIN base b
        ON a.akey = b.akey AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT s.type_a, s.type_b, CAST({KMV_K} AS BIGINT) AS kmv_k,
           s.n_union_k, s.kth_union_hv, s.n_both,
           xa.exact_n AS exact_a, xb.exact_n AS exact_b,
           COALESCE(xi.n, 0) AS exact_common
    FROM sks s
    JOIN ex xa ON xa.event_type = s.type_a
    JOIN ex xb ON xb.event_type = s.type_b
    LEFT JOIN exi xi ON xi.ta = s.type_a AND xi.tb = s.type_b
    ORDER BY s.type_a, s.type_b
    """


@register("events_kmv_setops", _kmv_oracle())
def q_events_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketches over per-type user-day
    activity sets, with SET OPERATIONS — the algebra HLL registers
    cannot do. For every event-type pair: the union sketch (k smallest
    of the merged k-minima), its kth hash (the union cardinality's
    sufficient statistic), and the count of union-k values present in
    BOTH input sketches (the Jaccard numerator; intersection estimate
    = (n_both/k) x union estimate). Exact distinct counts ride along
    for calibration.

    Scale shape (operators/sketch.kmv_sketches): a bounded-memory
    per-partition prune (k smallest distinct per group via
    mapInPandas — the global k-minima of per-partition k-minima ARE
    the global k-minima) means the raw event stream never shuffles;
    only <= |types| * k * n_partitions candidate rows do. All sketch
    contents are exact integer hashes, so the whole construction
    hash-matches the SQL replay; float estimates derive driver-side
    (kmv_estimate) and are accuracy-tested in test_scale_ops.py."""
    from nbody6_data_pipeline_spark.operators.sketch import (
        KMV_K,
        hll_hash,
        kmv_sketches,
    )
    from nbody6_data_pipeline_spark.queries import event_us

    ev = _t(spark, sf_dir, "events", spread=True)
    filt = (
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    withus = ev.filter(filt).select(
        "event_type", event_us(ev).alias("us"), "user_id"
    )
    keyed = withus.selectExpr("event_type", f"{_AKEY} AS akey")
    # ONE events scan for the whole query: the distinct activity set
    # feeds the sketch build, the type list, the exact counts AND both
    # sides of the exact-intersection self-join — unpersisted, each of
    # those five branches re-ran the scan+filter+distinct (the before
    # plan held 24 parquet scans; guide §2.4 duplicated subtrees).
    # Hashing after the distinct also computes |base| md5s instead of
    # |events| — identical sketch input because KMV is a function of
    # the DISTINCT hv set per type.
    base = keyed.distinct().persist()
    sk = kmv_sketches(
        base.select("event_type", hll_hash(F.col("akey")).alias("hv")),
        "event_type",
        "hv",
    ).withColumnRenamed("grp", "event_type")
    # the final per-type sketch is <= |types| x k rows: materialize it
    # once (localCheckpoint) instead of re-running the mapInPandas
    # prune for each of its four consumers (mu x2, mem x2)
    sk = sk.localCheckpoint()
    types = base.select("event_type").distinct()
    tp = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
    )
    mu = (
        tp.join(
            sk.alias("s"), F.col("s.event_type") == F.col("ta")
        ).select("ta", "tb", "hv")
        .unionByName(
            tp.join(
                sk.alias("s"), F.col("s.event_type") == F.col("tb")
            ).select("ta", "tb", "hv")
        )
        .distinct()
    )
    wuk = W.partitionBy("ta", "tb").orderBy("hv")
    uk = (
        mu.select("ta", "tb", "hv", F.row_number().over(wuk).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
    )
    mem = (
        uk.join(
            F.broadcast(
                sk.select(
                    F.col("event_type").alias("ta"),
                    F.col("hv").alias("hv"),
                    F.lit(True).alias("_ina"),
                )
            ),
            ["ta", "hv"],
            "left",
        )
        .join(
            F.broadcast(
                sk.select(
                    F.col("event_type").alias("tb"),
                    F.col("hv").alias("hv"),
                    F.lit(True).alias("_inb"),
                )
            ),
            ["tb", "hv"],
            "left",
        )
        .select(
            "ta",
            "tb",
            "hv",
            F.coalesce(F.col("_ina"), F.lit(False)).alias("in_a"),
            F.coalesce(F.col("_inb"), F.lit(False)).alias("in_b"),
        )
    )
    sks = mem.groupBy("ta", "tb").agg(
        F.count("*").cast("long").alias("n_union_k"),
        F.max("hv").cast("long").alias("kth_union_hv"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
    )
    ex = base.groupBy("event_type").agg(
        F.count("*").cast("long").alias("exact_n")
    )
    exi = (
        base.alias("a")
        .join(
            base.alias("b"),
            (F.col("a.akey") == F.col("b.akey"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return (
        sks.select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.lit(KMV_K).cast("long").alias("kmv_k"),
            "n_union_k",
            "kth_union_hv",
            "n_both",
        )
        .join(
            F.broadcast(
                ex.select(
                    F.col("event_type").alias("type_a"),
                    F.col("exact_n").alias("exact_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                ex.select(
                    F.col("event_type").alias("type_b"),
                    F.col("exact_n").alias("exact_b"),
                )
            ),
            "type_b",
        )
        .join(
            exi.select(
                F.col("ta").alias("type_a"),
                F.col("tb").alias("type_b"),
                F.col("n").alias("exact_common"),
            ),
            ["type_a", "type_b"],
            "left",
        )
        .select(
            "type_a",
            "type_b",
            "kmv_k",
            "n_union_k",
            "kth_union_hv",
            "n_both",
            "exact_a",
            "exact_b",
            F.coalesce(F.col("exact_common"), F.lit(0))
            .cast("long")
            .alias("exact_common"),
        )
        .transform(ordered, "type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# CMS inner product: join-cardinality estimation from sketches
# ---------------------------------------------------------------------------


def _cms_join_oracle() -> str:
    ho = _MD5_LONG.format(i="i", key="o_orderkey")
    hl = _MD5_LONG.format(i="i", key="l_orderkey")
    return f"""
    WITH hr AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS i),
    co AS (
      SELECT i, bucket, COUNT(*) AS cnt FROM (
        SELECT i, {ho} % {CMS_W} AS bucket FROM orders, hr)
      GROUP BY i, bucket
    ),
    cl AS (
      SELECT i, bucket, COUNT(*) AS cnt FROM (
        SELECT i, {hl} % {CMS_W} AS bucket FROM lineitem, hr)
      GROUP BY i, bucket
    ),
    ip AS (
      SELECT co.i, CAST(SUM(co.cnt * cl.cnt) AS BIGINT) AS dot
      FROM co JOIN cl ON co.i = cl.i AND co.bucket = cl.bucket
      GROUP BY co.i
    ),
    ex AS (
      SELECT COUNT(*) AS true_join_rows
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT CAST({CMS_D} AS BIGINT) AS cms_d, CAST({CMS_W} AS BIGINT) AS cms_w,
           (SELECT CAST(MIN(dot) AS BIGINT) FROM ip) AS est_join_rows,
           (SELECT CAST(true_join_rows AS BIGINT) FROM ex)
             AS true_join_rows,
           (SELECT CAST(MIN(dot) AS BIGINT) FROM ip)
             - (SELECT CAST(true_join_rows AS BIGINT) FROM ex) AS overcount
    """


@register("lineitem_cms_join_estimate", _cms_join_oracle())
def q_lineitem_cms_join_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-cardinality estimation from count-min sketches — the
    optimizer-style primitive: |A join B on k| is estimated as the
    CMS INNER PRODUCT min_i sum_b cntA[i][b] * cntB[i][b], computed
    from two D x W counter grids without touching the join itself.
    The estimate is one-sided (>= true size: every true match pair
    collides in every hash row; extra collisions only add), integer
    throughout, and costs two bounded-shuffle grid builds plus a
    D*W-row join — vs actually executing a 100 TB fact-fact join to
    learn its size. The exact join count rides along as calibration,
    and overcount >= 0 is hash-checked by the oracle replay."""
    o = _t(spark, sf_dir, "orders", spread=True)
    li = _t(spark, sf_dir, "lineitem", spread=True)
    co = cms_counters(o, F.col("o_orderkey"))
    cl = cms_counters(li, F.col("l_orderkey"))
    ip = (
        co.join(cl.withColumnRenamed("cnt", "cnt_b"), ["row_i", "bucket"])
        .groupBy("row_i")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).cast("long").alias("dot"))
    )
    ex = o.join(li, o["o_orderkey"] == li["l_orderkey"]).agg(
        F.count("*").cast("long").alias("true_join_rows")
    )
    return (
        ip.agg(F.min("dot").cast("long").alias("est_join_rows"))
        .crossJoin(F.broadcast(ex))
        .select(
            F.lit(CMS_D).cast("long").alias("cms_d"),
            F.lit(CMS_W).cast("long").alias("cms_w"),
            "est_join_rows",
            "true_join_rows",
            (F.col("est_join_rows") - F.col("true_join_rows"))
            .cast("long")
            .alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling-window HLL: sketch MERGE across daily sketches
# ---------------------------------------------------------------------------

HLL_ROLL_DAYS = 7


def _hll_rolling_oracle() -> str:
    from nbody6_data_pipeline_spark.operators.sketch import HLL_M

    return f"""
    WITH h AS (
      SELECT epoch_us(ts) // {_DAY_US} AS day,
        CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    daily AS (
      SELECT day, hv % {HLL_M} AS bucket,
        MAX(CASE WHEN hv // {HLL_M} = 0 THEN 52
                 ELSE strpos(lpad(bin(hv // {HLL_M}), 51, '0'), '1') END)
          AS reg
      FROM h GROUP BY day, bucket
    ),
    days AS (SELECT DISTINCT day FROM daily),
    merged AS (
      SELECT d.day, r.bucket, MAX(r.reg) AS reg
      FROM days d
      JOIN daily r ON r.day BETWEEN d.day - {HLL_ROLL_DAYS - 1} AND d.day
      GROUP BY d.day, r.bucket
    )
    SELECT day,
      CAST(COUNT(*) AS BIGINT) AS used_registers,
      CAST({HLL_M} - COUNT(*) AS BIGINT) AS zero_registers,
      CAST(SUM(reg) AS BIGINT) AS sum_rank
    FROM merged GROUP BY day
    ORDER BY day
    """


@register("events_hll_rolling_distinct", _hll_rolling_oracle())
def q_events_hll_rolling_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-7-day distinct users per day, computed by MERGING
    daily HLL sketches — the operation mergeable sketches exist for:
    daily register tables are built once (one bounded aggregation,
    state <= 512 ints per day), and ANY trailing window then derives
    by register-wise MAX over the window's days — no re-scan of the
    raw events, no 7x fan-out of the event stream. At 100 TB this is
    the difference between storing tiny daily sketches and re-running
    COUNT(DISTINCT) over a week of raw data per report day. The
    register merge is a ~|days| x 512-row join, exact integers,
    hash-checked against the SQL replay; the float estimate derives
    driver-side (hll_estimate_from_registers) as for the other HLL
    queries."""
    from nbody6_data_pipeline_spark.operators.sketch import (
        HLL_M,
        hll_bucket_rank,
    )
    from nbody6_data_pipeline_spark.queries import event_us

    ev = _t(spark, sf_dir, "events", spread=True)
    filt = F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    bucket, rank = hll_bucket_rank(F.col("user_id"))
    daily = (
        ev.filter(filt)
        .select(
            event_us(ev).alias("us"),
            bucket.alias("bucket"),
            rank.alias("rank"),
        )
        .select(
            F.expr(f"us div {_DAY_US}").alias("day"), "bucket", "rank"
        )
        .groupBy("day", "bucket")
        .agg(F.max("rank").alias("reg"))
    )
    days = daily.select("day").distinct()
    merged = (
        days.alias("d")
        .join(
            daily.alias("r"),
            F.col("r.day").between(
                F.col("d.day") - (HLL_ROLL_DAYS - 1), F.col("d.day")
            ),
        )
        .groupBy(F.col("d.day").alias("day"), F.col("r.bucket"))
        .agg(F.max("reg").alias("reg"))
    )
    return (
        merged.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("used_registers"),
            (F.lit(HLL_M) - F.count("*")).cast("long").alias(
                "zero_registers"
            ),
            F.sum("reg").cast("long").alias("sum_rank"),
        )
        .transform(ordered, "day")
    )


# ---------------------------------------------------------------------------
# Distribution drift monitoring: PSI and a two-sample KS test
# ---------------------------------------------------------------------------

_DRIFT_SPLIT_US = 883_612_800_000_000  # 1998-01-01 UTC
_PSI_BIN = 5000  # o_totalprice bin width
_KS_BIN = 100  # l_extendedprice bin width

# ONE smoothed-PSI formula template rendered into both engines so the
# float expression tree matches token-for-token (ln absorbed by q6):
# p = (c_early+1)/(n_early+B), q = (c_late+1)/(n_late+B), Laplace
# smoothing over the B union bins keeps empty bins finite.
_PSI_P = "(CAST({c} + 1 AS DOUBLE) / ({n} + {nb}))"
_PSI_TERM = "((({p}) - ({q})) * ln(({p}) / ({q})))"


def _psi_term_sql(nb: str) -> str:
    p = _PSI_P.format(c="c_early", n="n_early", nb=nb)
    q = _PSI_P.format(c="c_late", n="n_late", nb=nb)
    return _PSI_TERM.format(p=p, q=q)


def _psi_oracle() -> str:
    term = _psi_term_sql("nb")
    return f"""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / {_PSI_BIN}.0) AS BIGINT) AS bin,
             epoch_us(o_orderdate) < {_DRIFT_SPLIT_US} AS early
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ),
    g AS (
      SELECT bin,
        CAST(COUNT(*) FILTER (WHERE early) AS BIGINT) AS c_early,
        CAST(COUNT(*) FILTER (WHERE NOT early) AS BIGINT) AS c_late
      FROM b GROUP BY bin
    ),
    n AS (
      SELECT CAST(SUM(c_early) AS BIGINT) AS n_early,
             CAST(SUM(c_late) AS BIGINT) AS n_late,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM g
    )
    SELECT bin, c_early, c_late,
           CAST(floor({term} * 1000000 + 0.5) AS BIGINT) AS psi_term_q6
    FROM g, n
    ORDER BY bin
    """


@register("orders_psi_drift", _psi_oracle())
def q_orders_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the pre/post-1998 order
    populations over total-price bins — the drift monitor a training
    pipeline runs between snapshot N and N+1 before trusting a
    refreshed corpus. One map-side-combined conditional aggregation
    builds both histograms in a single scan (bounded by |bins|
    groups); the Laplace-smoothed per-bin PSI terms are rendered from
    ONE formula template into both engines (the BM25 recipe), so
    every divide/subtract matches bitwise and only ln() needs the q6
    fixed-point absorber. Sum of psi_term_q6/1e6 over bins IS the PSI
    (> 0.25 conventionally = major drift); the per-bin terms localize
    WHERE the distribution moved."""
    from nbody6_data_pipeline_spark.queries import event_us

    o = _t(spark, sf_dir, "orders", spread=True)
    b = (
        o.filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderdate").isNotNull()
        )
        .select(
            F.expr(
                f"CAST(floor(o_totalprice / {_PSI_BIN}.0) AS BIGINT)"
            ).alias("bin"),
            (event_us(o, "o_orderdate") < _DRIFT_SPLIT_US).alias("early"),
        )
    )
    g = b.groupBy("bin").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("c_early"),
        F.sum(F.when(~F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("c_late"),
    )
    n = g.agg(
        F.sum("c_early").cast("long").alias("n_early"),
        F.sum("c_late").cast("long").alias("n_late"),
        F.count("*").cast("long").alias("nb"),
    )
    term = _psi_term_sql("nb")
    return (
        g.crossJoin(F.broadcast(n))
        .selectExpr(
            "bin",
            "c_early",
            "c_late",
            f"CAST(floor({term} * 1000000 + 0.5) AS BIGINT) AS psi_term_q6",
        )
        .transform(ordered, "bin")
    )


def _ks_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT CAST(floor(l_extendedprice / {_KS_BIN}.0) AS BIGINT) AS bin,
             epoch_us(l_shipdate) < {_DRIFT_SPLIT_US} AS early
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_shipdate IS NOT NULL
    ),
    g AS (
      SELECT bin,
        CAST(COUNT(*) FILTER (WHERE early) AS BIGINT) AS c_early,
        CAST(COUNT(*) FILTER (WHERE NOT early) AS BIGINT) AS c_late
      FROM b GROUP BY bin
    ),
    c AS (
      SELECT bin,
        SUM(c_early) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_e,
        SUM(c_late) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_l
      FROM g
    ),
    n AS (
      SELECT CAST(SUM(c_early) AS BIGINT) AS n_early,
             CAST(SUM(c_late) AS BIGINT) AS n_late
      FROM g
    ),
    d AS (
      -- HUGEINT cross-multiply: the numerator is bounded by
      -- n_early * n_late, which exceeds int64 once both sides pass
      -- ~3.1e9 rows — 128-bit arithmetic keeps the supremum and its
      -- argmax exact at any scale (Spark side: DECIMAL(38,0))
      SELECT bin,
        abs(CAST(cum_e AS HUGEINT) * n_late
            - CAST(cum_l AS HUGEINT) * n_early) AS d_num,
        ROW_NUMBER() OVER (
          ORDER BY abs(CAST(cum_e AS HUGEINT) * n_late
                       - CAST(cum_l AS HUGEINT) * n_early) DESC,
                   bin) AS rn
      FROM c, n
    )
    SELECT n.n_early, n.n_late,
           CAST(d.d_num AS DOUBLE) AS d_num,
           d.bin AS d_bin,
           CASE WHEN n.n_early = 0 OR n.n_late = 0 THEN NULL
                ELSE CAST(d.d_num AS DOUBLE)
                  / (CAST(n.n_early AS DOUBLE) * CAST(n.n_late AS DOUBLE))
           END AS ks_stat
    FROM d, n WHERE d.rn = 1
    """


@register("lineitem_ks_drift", _ks_oracle())
def q_lineitem_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between pre/post-1998
    shipment price distributions, computed EXACTLY in integers: the
    KS supremum over binned CDFs is max_b |cum_early[b] * n_late -
    cum_late[b] * n_early| — cross-multiplication replaces the two
    float CDF divisions. The cross-products are computed in 128-bit
    integer arithmetic (Spark DECIMAL(38,0), DuckDB HUGEINT — the
    numerator is bounded by n_early * n_late, past int64 once both
    sides exceed ~3.1e9 rows), so the argmax bin stays exact at any
    scale; the reported d_num/ks_stat are correctly-rounded doubles
    of those exact integers (identical bits in both engines). One
    conditional-aggregation scan builds both histograms; the
    cumulative pass runs over |bins| rows. The drift complement to
    orders_psi_drift: KS gives the single worst CDF gap and its
    location, PSI the per-bin decomposition."""
    from nbody6_data_pipeline_spark.queries import event_us

    li = _t(spark, sf_dir, "lineitem", spread=True)
    b = (
        li.filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_shipdate").isNotNull()
        )
        .select(
            F.expr(
                f"CAST(floor(l_extendedprice / {_KS_BIN}.0) AS BIGINT)"
            ).alias("bin"),
            (event_us(li, "l_shipdate") < _DRIFT_SPLIT_US).alias("early"),
        )
    )
    g = b.groupBy("bin").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("c_early"),
        F.sum(F.when(~F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("c_late"),
    )
    # Global (partition-less) window is SAFE here: it runs over the
    # aggregated bin table `g`, whose row count is bounded by the
    # VALUE RANGE of l_extendedprice / _KS_BIN (a few hundred bins),
    # not by input size — at 100 TB this window still sees the same
    # handful of rows. Do not lift it onto unreduced input.
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select(
        "bin",
        F.sum("c_early").over(wcum).alias("cum_e"),
        F.sum("c_late").over(wcum).alias("cum_l"),
    )
    n = g.agg(
        F.sum("c_early").cast("long").alias("n_early"),
        F.sum("c_late").cast("long").alias("n_late"),
    )
    d = c.crossJoin(F.broadcast(n)).select(
        "bin",
        "n_early",
        "n_late",
        F.abs(
            F.col("cum_e").cast("decimal(38,0)") * F.col("n_late")
            - F.col("cum_l").cast("decimal(38,0)") * F.col("n_early")
        ).alias("d_num"),
    )
    # Same bounded-|bins| argument as wcum above: `d` has one row per
    # price bin, so this global rank touches O(|bins|) rows regardless
    # of data scale.
    wr = W.orderBy(F.col("d_num").desc(), "bin")
    return (
        d.select("*", F.row_number().over(wr).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "n_early",
            "n_late",
            F.col("d_num").cast("double").alias("d_num"),
            F.col("bin").alias("d_bin"),
            # one-sided split (all rows early or all late): ANSI Spark
            # throws on the 0 denominator, DuckDB yields NULL — both
            # now NULL via the identical CASE; OR-comparisons, not a
            # long product, which ANSI would overflow past ~3e9 rows
            # per side (one-row twin sweep)
            F.when(
                (F.col("n_early") == 0) | (F.col("n_late") == 0),
                F.lit(None),
            )
            .otherwise(
                F.col("d_num").cast("double")
                / (
                    F.col("n_early").cast("double")
                    * F.col("n_late").cast("double")
                )
            )
            .alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table statistics (optimizer/CBO stats collection)
# ---------------------------------------------------------------------------

_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _table_stats_oracle() -> str:
    unions = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {c} AS val FROM lineitem"
        for c in _STATS_COLS
    )
    return f"""
    WITH dist AS MATERIALIZED (
      SELECT col_name, val, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ({unions})
      GROUP BY col_name, val
    ),
    s AS (
      SELECT col_name,
        CAST(SUM(cnt) AS BIGINT) AS n_rows,
        CAST(COALESCE(SUM(cnt) FILTER (WHERE val IS NULL), 0) AS BIGINT)
          AS n_null,
        CAST(COUNT(val) AS BIGINT) AS ndv,
        MIN(val) AS min_val,
        MAX(val) AS max_val,
        CAST(MAX(cnt) FILTER (WHERE val IS NOT NULL) AS BIGINT) AS mcv_freq
      FROM dist GROUP BY col_name
    ),
    mcv AS (
      SELECT d.col_name, MIN(d.val) AS mcv_val
      FROM dist d JOIN s ON d.col_name = s.col_name
      WHERE d.val IS NOT NULL AND d.cnt = s.mcv_freq
      GROUP BY d.col_name
    )
    SELECT s.col_name, s.n_rows, s.n_null, s.ndv, s.min_val, s.max_val,
           m.mcv_val, s.mcv_freq
    FROM s JOIN mcv m ON s.col_name = m.col_name
    ORDER BY s.col_name
    """


@register("lineitem_table_stats", _table_stats_oracle())
def q_lineitem_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style column statistics — the stats a cost-based
    optimizer (or a data-quality profiler) collects per column: row
    count, null count, exact NDV, min/max, and the most common value
    with its frequency (deterministic MCV tie-break: smallest value at
    the max frequency).

    One wide scan feeds a stacked (col_name, val) projection into ONE
    map-side-combinable value-distribution aggregate — the classic
    exact-ANALYZE plan; every statistic then derives from that bounded
    distribution table (|dist| = sum of per-column NDVs), including
    the MCV via a rank window rather than an engine-specific argmax
    (arg_max tie order is unspecified in both engines). At 100 TB the
    exact path is what ANALYZE runs per partition; the approximate
    complements already exist in this engine (HLL registers for NDV,
    CMS/Misra-Gries for frequency) when a single pass over dist rows
    is itself too large. min/max/mcv are stored doubles copied
    bit-for-bit, so the cross-engine hash needs no float idiom."""
    li = _t(spark, sf_dir, "lineitem", spread=True)
    stack_expr = ", ".join(f"'{c}', {c}" for c in _STATS_COLS)
    pairs = li.selectExpr(
        f"stack({len(_STATS_COLS)}, {stack_expr}) AS (col_name, val)"
    )
    dist = (
        pairs.groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # |dist| is bounded by the per-column NDV sum; both consumers
        # below (summary agg + MCV rank) reuse this one aggregation
        .localCheckpoint()
    )
    s = dist.groupBy("col_name").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("cnt"))), F.lit(0)
        ).cast("long").alias("n_null"),
        F.count("val").cast("long").alias("ndv"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.max(F.when(F.col("val").isNotNull(), F.col("cnt")))
        .cast("long")
        .alias("mcv_freq"),
    )
    wmcv = W.partitionBy("col_name").orderBy(
        F.col("cnt").desc(), F.col("val").asc()
    )
    mcv = (
        dist.filter(F.col("val").isNotNull())
        .select(
            "col_name", "val", F.row_number().over(wmcv).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("col_name", F.col("val").alias("mcv_val"))
    )
    return (
        s.join(F.broadcast(mcv), "col_name")
        .select(
            "col_name", "n_rows", "n_null", "ndv", "min_val", "max_val",
            "mcv_val", "mcv_freq",
        )
        .transform(ordered, "col_name")
    )


# ---------------------------------------------------------------------------
# OLS linear fit from exact sufficient statistics (distributed training
# of a linear model as ONE aggregation — the moment-sum recipe of
# lineitem_corr extended to slope/intercept/R^2)
# ---------------------------------------------------------------------------

# ONE formula template rendered into both engines (the BM25/PSI
# recipe): identical double operands + identical operation structure
# => bit-identical floats, no q6 needed. Degenerate variance (a
# single-row group: n*sxx = sx*sx) is guarded to NULL in the SHARED
# template — ANSI Spark throws DIVIDE_BY_ZERO where DuckDB yields
# NULL, so the guard must live in both engines (one-row twin sweep).
_OLS_SLOPE = (
    "(CASE WHEN (n * sxx - sx * sx) = 0 THEN NULL"
    " ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END)"
)
_OLS_INTERCEPT = f"((sy - {_OLS_SLOPE} * sx) / n)"
_OLS_R2 = (
    "(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL"
    " ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy) / "
    "((n * sxx - sx * sx) * (n * syy - sy * sy)) END)"
)


def _ols_oracle() -> str:
    return f"""
    WITH s AS (
      SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4)))
          AS DOUBLE) AS sxx,
        CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4)))
          AS DOUBLE) AS syy,
        CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4)))
          AS DOUBLE) AS sxy
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND({_OLS_SLOPE}, 6) AS slope,
           ROUND({_OLS_INTERCEPT}, 6) AS intercept,
           ROUND({_OLS_R2}, 6) AS r2
    FROM s
    ORDER BY l_returnflag NULLS LAST
    """


@register("lineitem_ols_fit", _ols_oracle())
def q_lineitem_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (price ~ quantity) from
    exact decimal moment sums — distributed model training as ONE
    map-side-combinable aggregation. The five sufficient statistics
    (sx, sy, sxx, syy, sxy) are exact decimals cast to double, and
    slope/intercept/R^2 derive from ONE closed-form template rendered
    into both engines, so every float is bit-identical by construction
    (lineitem_corr's recipe, extended to the full fit). This is the
    100 TB shape for linear models: no gradient iterations, no second
    pass, shuffle bounded by |groups| x 6 numbers — and the same
    moments merge across shards/days by addition."""
    li = _t(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")

    def dmom(col, alias):
        return F.sum(col.cast("decimal(38,4)")).cast("double").alias(alias)

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dmom(x, "sx"),
        dmom(y, "sy"),
        dmom(x * x, "sxx"),
        dmom(y * y, "syy"),
        dmom(x * y, "sxy"),
    )
    return s.selectExpr(
        "l_returnflag",
        "n",
        f"ROUND({_OLS_SLOPE}, 6) AS slope",
        f"ROUND({_OLS_INTERCEPT}, 6) AS intercept",
        f"ROUND({_OLS_R2}, 6) AS r2",
    ).transform(ordered, "l_returnflag")


# ---------------------------------------------------------------------------
# Chi-square homogeneity drift test (categorical complement of the
# numeric PSI/KS drift monitors: did the event-type MIX change?)
# ---------------------------------------------------------------------------

_CHISQ_SPLIT_US = 1_705_363_200_000_000  # 2024-01-16 00:00 UTC

# ONE per-category term template rendered into both engines.  The
# (c_e*N_l - c_l*N_e)^2 numerator is exact 128-bit integer arithmetic
# (DECIMAL(38,0) / HUGEINT — bigint*bigint would wrap silently past
# 2^63 in non-ANSI Spark, the KS-drift lesson); the denominator
# N_e*N_l*(c_e+c_l) stays within bigint; the single division runs in
# double on identical operands and lands in q6 fixed point.  The
# denom=0 guard matters cross-engine: Spark renders x/0.0 as NULL,
# DuckDB as inf — never let that division happen.
# Per-category homogeneity term. Derivation for a 2 x B table with
# row totals N_e, N_l and D_b = c_e*N_l - c_l*N_e: summing
# (O-E)^2/E over BOTH rows of category b collapses to exactly
# D_b^2 / (N_e * N_l * (c_e + c_l)) — no extra N factor (a review
# pass caught an N-inflated first version that both engines happily
# agreed on: a shared formula template makes cross-engine hashing
# blind to SHARED algebra mistakes, so derive + spot-check against a
# hand-computed table, as test_chisq_statistic_matches_reference now
# does). The zero guard is three separate comparisons, NOT a product
# — n_early * n_late * m_b would itself overflow int64 past ~3.1e9
# rows/side, the same wrap class the 128-bit numerator avoids.
_CHISQ_TERM = (
    "CASE WHEN n_early = 0 OR n_late = 0 OR c_early + c_late = 0 THEN 0 "
    "ELSE CAST(floor("
    "(CAST(CAST(c_early AS DECIMAL(38,0)) * n_late "
    "- CAST(c_late AS DECIMAL(38,0)) * n_early AS DOUBLE) "
    "* CAST(CAST(c_early AS DECIMAL(38,0)) * n_late "
    "- CAST(c_late AS DECIMAL(38,0)) * n_early AS DOUBLE)) "
    "/ (CAST(n_early AS DOUBLE) * CAST(n_late AS DOUBLE) "
    "* CAST(c_early + c_late AS DOUBLE)) "
    "* 1000000 + 0.5) AS BIGINT) END"
)


def _chisq_oracle() -> str:
    return f"""
    WITH g AS (
      SELECT event_type,
        CAST(COUNT(*) FILTER (WHERE epoch_us(ts) < {_CHISQ_SPLIT_US})
             AS BIGINT) AS c_early,
        CAST(COUNT(*) FILTER (WHERE epoch_us(ts) >= {_CHISQ_SPLIT_US})
             AS BIGINT) AS c_late
      FROM events
      WHERE ts IS NOT NULL
      GROUP BY event_type
    ),
    n AS (
      SELECT CAST(SUM(c_early) AS BIGINT) AS n_early,
             CAST(SUM(c_late) AS BIGINT) AS n_late
      FROM g
    )
    SELECT event_type, c_early, c_late,
           {_CHISQ_TERM} AS chisq_term_q6
    FROM g, n
    ORDER BY event_type NULLS LAST
    """


@register("events_chisq_drift", _chisq_oracle())
def q_events_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity test on the event-type mix
    before/after a fixed cut — the CATEGORICAL drift monitor next to
    the numeric PSI (binned totals) and KS (CDF supremum): PSI/KS see
    a price distribution slide, this sees the class balance of a
    labeled corpus rotate. Sum of chisq_term_q6/1e6 over rows is the
    X^2 statistic (compare against chi-square critical values at
    |types|-1 DOF); per-type terms localize WHICH class drifted.

    ONE map-side-combined conditional aggregation builds both
    histograms in a single scan, bounded by |event_type| groups; the
    totals broadcast back. Exactness: 128-bit integer cross products
    (the KS recipe — bigint*bigint wraps SILENTLY in non-ANSI Spark),
    one double division on identical operands, q6 fixed point; the
    denominator-zero guard is load-bearing cross-engine (Spark x/0.0
    -> NULL, DuckDB -> inf). NULL event_type forms its own category
    in both engines."""
    from nbody6_data_pipeline_spark.queries import event_us

    ev = _t(spark, sf_dir, "events", spread=True)
    e = ev.filter(F.col("ts").isNotNull()).select(
        "event_type",
        (event_us(ev) < _CHISQ_SPLIT_US).alias("early"),
    )
    g = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("c_early"),
        F.sum(F.when(~F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("c_late"),
    )
    n = g.agg(
        F.sum("c_early").cast("long").alias("n_early"),
        F.sum("c_late").cast("long").alias("n_late"),
    )
    return (
        g.crossJoin(F.broadcast(n))
        .selectExpr(
            "event_type",
            "c_early",
            "c_late",
            f"{_CHISQ_TERM} AS chisq_term_q6",
        )
        .transform(ordered, "event_type")
    )


# ---------------------------------------------------------------------------
# Exact covariance matrix of the embedding dimensions (PCA/whitening
# prep as ONE aggregation — integer outer products, no float drift)
# ---------------------------------------------------------------------------

_COV_DIM = 64


def _cov_oracle() -> str:
    from nbody6_data_pipeline_spark.operators.similarity import KM_QUANT

    d = _COV_DIM
    q = KM_QUANT  # same quantizer as the Spark side's _quantize
    return f"""
    WITH e AS (
      SELECT list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * {q}.0 + 0.5) AS BIGINT)) AS vq
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {d}
    ),
    ij AS (
      SELECT i.i, j.j FROM range(1, {d + 1}) i(i), range(1, {d + 1}) j(j)
      WHERE i.i <= j.j
    ),
    s AS (
      SELECT ij.i - 1 AS i, ij.j - 1 AS j,
             CAST(SUM(vq[ij.i] * vq[ij.j]) AS BIGINT) AS sij
      FROM e, ij GROUP BY ij.i, ij.j
    ),
    m AS (
      SELECT i.i - 1 AS i, CAST(SUM(vq[i.i]) AS BIGINT) AS si
      FROM e, range(1, {d + 1}) i(i) GROUP BY i.i
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e)
    SELECT s.i, s.j, n.n, s.sij, mi.si AS si, mj.si AS sj,
           -- sign-split: DuckDB's NEGATIVE hugeint -> double cast is
           -- not correctly rounded past 2^53 (75/2080 rows were 1 ulp
           -- off at sf1; positives and Spark's decimal cast are
           -- correct), so negate-before-cast — negation of a 128-bit
           -- integer and of a double are both exact
           (CASE WHEN CAST(n.n AS HUGEINT) * s.sij
                      - CAST(mi.si AS HUGEINT) * mj.si < 0
                 THEN -CAST(-(CAST(n.n AS HUGEINT) * s.sij
                              - CAST(mi.si AS HUGEINT) * mj.si) AS DOUBLE)
                 ELSE CAST(CAST(n.n AS HUGEINT) * s.sij
                           - CAST(mi.si AS HUGEINT) * mj.si AS DOUBLE)
            END) AS cov_num
    FROM s JOIN m mi ON s.i = mi.i JOIN m mj ON s.j = mj.i, n
    ORDER BY s.i, s.j
    """


@register("embedding_covariance", _cov_oracle())
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance structure of the embedding dimensions — the
    sufficient statistics for PCA / whitening / decorrelating a
    feature space before indexing, computed as ONE pass: an
    Arrow-batched mapInPandas kernel accumulates the integer outer
    product m.T @ m per batch (one [64,64] int64 matmul per Arrow
    batch — 4096 partial rows per PARTITION cross the wire, never the
    corpus), and the scaled covariance numerator n*Sij - Si*Sj is
    assembled in 128-bit integer arithmetic (DECIMAL(38,0) /
    HUGEINT). The final cast to double is of an exact INTEGER —
    correctly rounded in Spark and, after the oracle's sign-split (the
    sf1 sweep found DuckDB's negative-HUGEINT cast off by 1 ulp past
    2^53), in DuckDB too. The OLS recipe's
    moment-sum design at matrix scale: the statistics merge across
    shards/days by addition.

    Overflow headroom: |vq| <= ~2^20 and the kernel emits one partial
    per ARROW BATCH, so the int64 accumulator is bounded by
    batch_rows * 2^40 (safe by ~3 orders at the 10k default) no
    matter how many rows a partition carries; the global sums ride
    128-bit."""
    import pandas as pd

    from nbody6_data_pipeline_spark.operators.similarity import _quantize

    d = _COV_DIM
    # spread=True, not an unconditional repartition: the conditional
    # helper widens the scan only when its natural parallelism is
    # below core count (the local single-file case); on a cluster the
    # corpus flows straight from the scan into the kernel with NO
    # exchange — only the 2080-row partials ever shuffle
    e = (
        _t(spark, sf_dir, "embeddings", spread=True)
        .filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == d)
        )
        .select(_quantize(F.col("embedding")).alias("vq"))
    )

    def outer_partials(batches):
        import numpy as np

        iu = np.triu_indices(d)
        # one partial frame PER ARROW BATCH (not per partition): the
        # int64 bound B * 2^40 then holds for the Arrow batch size
        # (~10k rows) regardless of how many rows a PARTITION carries —
        # a per-partition accumulator would overflow silently around
        # 8e6 rows/partition. The map-side combine of the downstream
        # groupBy collapses the extra partials for free.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["vq"].to_numpy()).astype("int64")
            acc = m.T @ m
            yield pd.DataFrame(
                {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"),
                 "s": acc[iu]}
            )

    partials = e.mapInPandas(outer_partials, schema="i int, j int, s long")
    # aggregate the int64 partials in DECIMAL(38,0): a plain long SUM
    # would wrap silently in non-ANSI Spark once the corpus passes
    # ~2^23 rows of near-full-scale components (the oracle's
    # CAST(SUM AS BIGINT) throws instead of wrapping — the final
    # BIGINT cast here keeps schema parity and is exact at any SF the
    # gates run; the 128-bit numerator below consumes the same sums)
    sij = partials.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).cast("long").alias("sij")
    )
    m = (
        e.select(F.posexplode("vq").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum(F.col("x").cast("decimal(38,0)")).cast("long").alias("si"))
    )
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    mi = m.select(F.col("i").alias("_i"), F.col("si").alias("si"))
    mj = m.select(F.col("i").alias("_j"), F.col("si").alias("sj"))
    return (
        sij.join(F.broadcast(mi), sij["i"] == mi["_i"])
        .join(F.broadcast(mj), sij["j"] == mj["_j"])
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "i", "j", "n", "sij", "si", "sj",
            "CAST(CAST(n AS DECIMAL(38,0)) * sij"
            " - CAST(si AS DECIMAL(38,0)) * sj AS DOUBLE) AS cov_num",
        )
        .transform(ordered, "i", "j")
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals: uncertainty quantification
# over unbounded data in ONE pass (Chamandy et al., "Estimating
# Uncertainty for Massive Data Streams", Google 2012 — the resampling
# scheme that works on MapReduce because each row draws its replica
# weights independently)
# ---------------------------------------------------------------------------

_BOOT_B = 64  # bootstrap replicas
# Poisson(1) CDF literals, python-computed once and embedded VERBATIM
# in both engines (math.exp never runs inside either engine, so the
# inverse-CDF weights are exact integer functions of the hash)
_BOOT_CDF = [
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253", "0.999998874797402",
]
# u in [0,1): the row's 60-bit content hash, salted by the replica id
_BOOT_U = (
    "(CAST({hv} AS DOUBLE) / 1152921504606846976.0)"
)
_BOOT_W = (
    "(CASE "
    + " ".join(
        f"WHEN {{u}} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
    )
    + " ELSE 9 END)"
)


# The 60-bit salted row hash: the md5/substring construction is shared
# character-for-character; only the hex-to-int spelling differs per
# engine (DuckDB parses '0x' string casts, Spark needs conv(..,16,10)
# — both produce the same integer, the established md5-long idiom).
_BOOT_MD5 = (
    "substring(md5(CAST({i} AS STRING) || ':' || "
    "CAST(l_orderkey AS STRING) || ':' || "
    "CAST(l_linenumber AS STRING)), 1, 15)"
)


def _boot_hv_sql(i: str) -> str:
    return f"CAST(('0x' || {_BOOT_MD5.format(i=i)}) AS BIGINT)"


def _bootstrap_oracle() -> str:
    u = _BOOT_U.format(hv=_boot_hv_sql("i.i"))
    w = _BOOT_W.format(u=u)
    lo_rk, hi_rk = 2, _BOOT_B - 1  # ~2.5% / ~97.5% order statistics
    return f"""
    WITH li AS (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    ),
    rep AS (
      SELECT l_returnflag, i.i AS rep_i,
        CAST(SUM({w} * CAST(l_extendedprice AS DECIMAL(30,6)))
             AS DOUBLE) AS wsum,
        CAST(SUM({w}) AS BIGINT) AS wn
      FROM li, range(0, {_BOOT_B}) i(i)
      GROUP BY l_returnflag, i.i
    ),
    means AS (
      SELECT l_returnflag, rep_i,
        CASE WHEN wn = 0 THEN 0 ELSE wsum / wn END AS m,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag
          ORDER BY CASE WHEN wn = 0 THEN 0 ELSE wsum / wn END, rep_i)
          AS rk
      FROM rep
    ),
    pt AS (
      SELECT l_returnflag,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
          / COUNT(*) AS mean_price,
        CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM li GROUP BY l_returnflag
    )
    SELECT p.l_returnflag, p.n_rows, p.mean_price,
           lo.m AS ci_lo, hi.m AS ci_hi
    FROM pt p
    JOIN means lo ON lo.l_returnflag = p.l_returnflag AND lo.rk = {lo_rk}
    JOIN means hi ON hi.l_returnflag = p.l_returnflag AND hi.rk = {hi_rk}
    ORDER BY p.l_returnflag NULLS LAST
    """


@register("lineitem_bootstrap_ci", _bootstrap_oracle())
def q_lineitem_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the per-flag mean price,
    in ONE pass over the data: each row draws an independent
    Poisson(1) weight per replica from its content hash (the Poisson
    bootstrap — replica totals need no fixed-n resample, so the whole
    procedure is a single map-side-combined aggregation to
    |flags| x B groups, the only uncertainty-quantification shape
    that survives unbounded data). The CI is the 2nd / 63rd order
    statistic of the 64 replica means.

    Exactness: the Poisson inverse-CDF thresholds are PYTHON-computed
    literals embedded verbatim in both engines (no exp() runs in
    either), weights are exact integers off the 60-bit md5 hash,
    weighted sums ride decimals, and each replica mean is one double
    division on identical operands. Replica means tie-break on rep_i
    so the order statistics are total-order deterministic."""
    from pyspark.sql import Window as W

    li = (
        _t(spark, sf_dir, "lineitem", spread=True)
        .filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_orderkey").isNotNull()
            & F.col("l_linenumber").isNotNull()
        )
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
        )
    )
    # Project the salted hash -> uniform -> Poisson weight ONCE per
    # (row, replica) BEFORE the aggregation. Inlining the weight CASE
    # into both SUMs expands the md5/conv subtree into every WHEN
    # branch of every aggregate copy (144 md5 nodes in the physical
    # plan): the generated whole-stage code blew past Janino's
    # comfortable size and its first-run compile cost ~130-150 s
    # (steady-state 8 s) at any scale factor. With the weight as a
    # projected column the aggregate consumes one INT column; same
    # expression tree per value, bit-identical results (guide §4.4
    # duplicated-evaluation / §2.3 project-before-exchange).
    #
    # Two more per-row constants are hoisted ABOVE the 64-way explode
    # (guide §2.3 project early): the md5 input's ':orderkey:linenum'
    # suffix (two casts + two concats per row instead of per
    # row-replica) and the DECIMAL(30,6) price cast (the BigDecimal
    # allocation is 64x cheaper before the explode; the multiply
    # consumes the identical decimal value, so sums are bit-equal).
    u = _BOOT_U.format(
        hv="CAST(conv(substring(md5(CAST(rep_i AS STRING) || _sfx), 1, 15),"
           " 16, 10) AS BIGINT)"
    )
    w = _BOOT_W.format(u="_u")
    base = li.select(
        "l_returnflag",
        F.expr(
            "':' || CAST(l_orderkey AS STRING) || ':' || "
            "CAST(l_linenumber AS STRING)"
        ).alias("_sfx"),
        F.expr("CAST(l_extendedprice AS DECIMAL(30,6))").alias("_pd"),
    )
    rep = (
        base.select(
            "*",
            F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("rep_i"),
        )
        .select("*", F.expr(u).alias("_u"))
        .select(
            "l_returnflag",
            "rep_i",
            "_pd",
            F.expr(w).alias("_w"),
        )
        .groupBy("l_returnflag", "rep_i")
        .agg(
            F.expr("CAST(SUM(_w * _pd) AS DOUBLE)").alias("wsum"),
            F.expr("CAST(SUM(_w) AS BIGINT)").alias("wn"),
        )
    )
    means = rep.selectExpr(
        "l_returnflag",
        "rep_i",
        "CASE WHEN wn = 0 THEN 0 ELSE wsum / wn END AS m",
    )
    wrk = W.partitionBy("l_returnflag").orderBy("m", "rep_i")
    ranked = means.select(
        "l_returnflag", "m", F.row_number().over(wrk).alias("rk")
    )
    # Both CI bounds come out of ONE pass over the ranked replica
    # means: the old shape joined two separate filters (rk=2, rk=63)
    # of `ranked`, and each broadcast branch re-executed the whole
    # 64x-explode md5 pipeline — the plan held TWO identical
    # Scan->Generate->HashAggregate->Window subtrees (the dominant
    # cost twice; plans/r10/lineitem_bootstrap_ci_{before,after}.txt).
    # A conditional pivot aggregation keeps one subtree (guide §2.4
    # remove duplicated work outright rather than trusting runtime
    # exchange reuse). Each flag group always ranks exactly _BOOT_B
    # rows (every row explodes to all replicas), so both MAX(CASE)
    # pick exactly one non-null value per flag — identical inner-join
    # semantics, NULL flags dropped by the name join as before.
    ci = (
        ranked.filter(F.col("rk").isin(2, _BOOT_B - 1))
        .groupBy("l_returnflag")
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_lo"),
            F.max(
                F.when(F.col("rk") == _BOOT_B - 1, F.col("m"))
            ).alias("ci_hi"),
        )
    )
    # pt aggregates the SAME projected base (SUM(_pd) is exactly
    # SUM(CAST(l_extendedprice AS DECIMAL(30,6)))), so its plan shares
    # the spread-repartition exchange with the replica pipeline
    # instead of re-scanning lineitem through a different projection.
    pt = base.groupBy("l_returnflag").agg(
        (F.sum("_pd").cast("double") / F.count(F.lit(1))).alias(
            "mean_price"
        ),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return (
        pt.join(F.broadcast(ci), "l_returnflag")
        .select("l_returnflag", "n_rows", "mean_price", "ci_lo", "ci_hi")
        .transform(ordered, "l_returnflag")
    )
