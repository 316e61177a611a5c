"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every variant is one or two shuffles on a compact key
(fingerprint / band hash / simhash), never an all-pairs comparison.
The only pairwise work happens inside LSH buckets, whose size is
bounded by the band scheme.

Portability: hashes are built from md5 hex strings (identical in
every engine) rather than engine-native hash functions, so the same
logic is oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nbody6_data_pipeline_spark.operators.text import ascii_lower, fingerprint, token_array

# MinHash parameters: NUM_HASHES = BANDS * ROWS_PER_BAND.
SHINGLE_LEN = 12
NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = 3

# Universal-hash family over the Mersenne prime 2^31-1: sig_j =
# min((A_j*h + B_j) mod P) for a 32-bit base hash h per shingle.
# Constants fixed (numpy RandomState(42) draws), hardcoded so the
# DuckDB oracle can embed the identical values.
# Degenerate-band-bucket cap (see lsh_candidate_pairs): buckets with
# more members than this are dropped before pair expansion. Named so
# the DuckDB oracle SQL (queries_dedup._DD_PAIRS) and the corpus
# manifest can embed the SAME value the engine computes with.
LSH_BUCKET_CAP = 512

MINHASH_P = 2_147_483_647
MINHASH_A = [
    1608637543, 1273642420, 1935803229, 787846415, 996406379, 1201263688,
    423734973, 415968277, 670094951, 1914837114, 669991379, 429389015,
]
MINHASH_B = [
    249467210, 1972458954, 1572714583, 1433267572, 434285667, 613608295,
    893664919, 648061058, 88409749, 242285876, 2018247425, 953477463,
]


def normalize(text: Column) -> Column:
    return ascii_lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def _spread(df: DataFrame, key) -> DataFrame:
    """Hash-repartition with an EXPLICIT partition count so AQE does
    not coalesce the (byte-small but compute-heavy) shingle explosion
    into one task."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, key)


def _normed_docs(df: DataFrame, text: Column, id_col: str) -> DataFrame:
    """(doc, norm) with the normalized text materialized through a
    repartition Exchange — a project-collapse barrier, so downstream
    shingle lambdas reference a computed column instead of re-running
    the normalization regex per element."""
    return _spread(
        df.select(F.col(id_col).alias("doc"), normalize(text).alias("norm")),
        F.col("doc"),
    )


def shingle_base_hash(s: Column) -> Column:
    """32-bit base hash of a shingle: first 8 hex digits of md5, as a
    LONG. Portable: DuckDB gets the identical value via
    CAST('0x' || substring(md5(s),1,8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_signatures(df: DataFrame, text: Column, id_col: str) -> DataFrame:
    """Per-document k-wide MinHash signature: (id, mh_0..mh_{k-1}).

    Idiomatic-Spark shape for scale: EXPLODE shingles to rows, then
    ONE codegen'd hash-aggregate computing all k mins — one md5 per
    shingle + k affine transforms ((A_j*h + B_j) mod P), instead of k
    salted md5 passes inside interpreted higher-order-function
    expressions (which measured ~40ms/doc). Partial aggregation
    happens map-side, so the shuffle carries only (id, k longs).

    The repartition spreads the md5 work when the input arrives as a
    single small file; on real multi-split inputs it is a no-op cost
    relative to the scan.
    """
    # explode(sequence) + substring instead of a higher-order
    # transform: stays inside whole-stage codegen (HOF lambdas measured
    # a ~20s one-time interpretation/compile penalty per fresh plan).
    rows = (
        _normed_docs(df, text, id_col)
        # NULL text has no shingles: drop it here, matching the SQL
        # oracle's unnest(NULL) semantics. Without this, every
        # NULL-text doc gets an all-NULL signature -> identical
        # md5('') band hashes -> they all pair with each other.
        # (Empty-string text keeps its single '' shingle on BOTH
        # sides, so it is NOT filtered.)
        .filter(F.col("norm").isNotNull())
        .select(
            "doc",
            "norm",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("norm") - (SHINGLE_LEN - 1), F.lit(1)),
                )
            ).alias("i"),
        )
        .select(
            "doc",
            shingle_base_hash(
                F.substring(F.col("norm"), F.col("i"), SHINGLE_LEN)
            ).alias("h"),
        )
    )
    h = F.col("h")
    aggs = [
        F.min((F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)).alias(
            f"mh_{j}"
        )
        for j in range(NUM_HASHES)
    ]
    return rows.groupBy("doc").agg(*aggs)


def exact_duplicates(df: DataFrame, text: Column, id_col: str) -> DataFrame:
    """Exact dedup via normalized-text fingerprint: one hash-groupBy
    shuffle on a 32-char key regardless of document size."""
    return (
        df.groupBy(fingerprint(text).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_bands(
    df: DataFrame, text: Column, id_col: str, sig: DataFrame | None = None
) -> DataFrame:
    """Per-document LSH band hashes: (id, band, band_hash) rows.

    Documents sharing any band hash are near-duplicate candidates.
    Band hash = md5 of the concatenated signature rows in that band.

    ``sig``: optionally pass an existing ``minhash_signatures(df, ...)``
    result (e.g. persisted because the caller also consumes the raw
    signatures) so the shingle+hash pipeline is not built twice.
    """
    if sig is None:
        sig = minhash_signatures(df, text, id_col)
    band_cols = []
    for b in range(BANDS):
        parts = [f"mh_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *parts)).alias("band_hash"),
            )
        )
    return sig.select(
        "doc", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    bands: DataFrame,
    bucket_cap: int = LSH_BUCKET_CAP,
    observation=None,
) -> DataFrame:
    """Band buckets -> distinct candidate pairs (doc_a < doc_b).

    Implemented as ONE shuffle (groupBy band bucket + collect the
    member ids) followed by expression-level pair expansion within
    each bucket — not a self-join: a self-join would re-evaluate the
    minhash expression tree on both sides (the signatures are
    expensive non-codegen HOF expressions), and at scale would shuffle
    the band table twice.

    Degenerate-bucket discipline (same as the embedding sign-LSH path,
    ``similarity.py lsh_candidate_pairs``): a boilerplate template
    shared by millions of documents puts them all in one band bucket,
    and the within-bucket expansion alone is O(members^2). So bucket
    membership is counted FIRST with a streaming window (WindowExec
    never materializes the bucket as an array), buckets larger than
    ``bucket_cap`` are dropped BEFORE collect_set, and the expansion
    only ever sees <= cap-sized arrays. True near-dup pairs collide in
    several of the 16 bands, so only pathological buckets are cut; the
    cap never binds on the driver testdata (largest observed bucket is
    the skew twin's ~151-doc mega-cluster vs the 512 default).

    No silent truncation: pass a ``pyspark.sql.Observation`` as
    ``observation`` and, after the first action on the result, read
    ``observation.get`` -> {band_rows, dropped_rows, dropped_buckets}
    (tools/bench_heavy.py logs this per run).

    Known Spark 4.1 caveat: if the RESULT is completely empty (every
    bucket dropped or singleton), AQE's empty-relation propagation
    replaces the observed subtree and the metrics row comes back
    corrupt (``toPyRow`` assertion). When telemetry must survive that
    pathological case, exclude the rule for the session:
    ``spark.conf.set("spark.sql.adaptive.optimizer.excludedRules",
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")``.
    Non-empty outputs (every real corpus) are unaffected.
    """
    from pyspark.sql import Window as W

    sized = bands.withColumn(
        "_bsize", F.count(F.lit(1)).over(W.partitionBy("band", "band_hash"))
    )
    if observation is not None:
        sized = sized.observe(
            observation,
            # every metric coalesced to 0: on an EMPTY bands input the
            # observed row carries NULLs (and count can be absent under
            # AQE empty-relation propagation), which would blow up the
            # int(...) consumers in tools/bench_heavy.py and the corpus
            # manifest
            F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("band_rows"),
            F.coalesce(
                F.sum(F.when(F.col("_bsize") > bucket_cap, 1).otherwise(0)),
                F.lit(0),
            ).alias("dropped_rows"),
            # COUNT(DISTINCT) is not allowed in observed metrics;
            # each dropped bucket contributes _bsize rows of weight
            # 1/_bsize, so the rounded sum IS the exact bucket count.
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("_bsize") > bucket_cap,
                            F.lit(1.0) / F.col("_bsize"),
                        )
                    ),
                    F.lit(0.0),
                )
            ).cast("long").alias("dropped_buckets"),
        )
    buckets = (
        sized.filter(F.col("_bsize") <= bucket_cap)
        .groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_set("doc")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    docs = F.col("docs")
    pair_structs = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, docs: DataFrame, text: Column, id_col: str
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (the verify stage of
    MinHash dedup). Shingle arrays are computed only for documents
    that appear in a candidate pair (semi-join first) — at scale the
    candidate set is a tiny fraction of the corpus."""
    ids = (
        pairs.select(F.col("doc_a").alias("doc"))
        .union(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    sh = (
        _normed_docs(
            docs.join(ids, docs[id_col] == ids["doc"], "left_semi"), text, id_col
        )
        .filter(F.col("norm").isNotNull())  # no shingles, no verify
        .select(
            "doc",
            "norm",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("norm") - (SHINGLE_LEN - 1), F.lit(1)),
                )
            ).alias("i"),
        )
        .select("doc", F.substring(F.col("norm"), F.col("i"), SHINGLE_LEN).alias("s"))
        .groupBy("doc")
        .agg(F.collect_set("s").alias("shingles"))
    )
    a = sh.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # NULL (not 0/0) when both shingle sets are empty — the
            # pair then fails any jaccard >= t gate instead of raising
            # DIVIDE_BY_ZERO under ANSI mode
            F.when(union > 0, inter.cast("double") / union).alias("jaccard"),
        )
    )


def _union_find_local(edge_rows, spark, id_type):
    """Driver-side union-find with path compression for SMALL edge
    lists (the post-LSH near-dup graph is usually orders of magnitude
    smaller than the corpus). Same (node, comp=min member) contract as
    the distributed path — test_connected_components_paths_agree
    proves the two produce identical labelings."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the canonical min label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = sorted((n, find(n)) for n in parent)
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("comp", id_type)]
    )
    return spark.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "vec_a",
    b_col: str = "vec_b",
    max_iter: int = 50,
    jumps: int = 3,
    small_graph_edges: int = 250_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph: the step
    that turns near-duplicate PAIRS into duplicate CLUSTERS (component
    id = the minimum member id, the usual canonical-keep key).

    Min-label propagation with POINTER JUMPING: each round every node
    takes the minimum label among itself and its neighbors, then
    labels are compressed ``jumps`` more hops (comp := comp(comp)) —
    the label-doubling trick that turns O(diameter) rounds into
    O(log diameter). Rounds are plain joins/groupBys
    (shuffle-parallel); the driver loop runs ONE count action per
    round and localCheckpoint truncates the growing lineage. Near-dup
    clusters are dense, so in practice 2-3 rounds converge regardless
    of corpus size; a pathological chain of length L needs ~log2(L)
    rounds.

    Every round's result is ``localCheckpoint().persist()`` — BOTH are
    load-bearing, for different reasons:

    - localCheckpoint truncates the logical plan, or the self-join
      fan-out nests a copy of every prior round (analysis blows up).
    - persist (materialized by the round's convergence count) replaces
      the checkpoint's INHERITED size estimate with the relation's
      REAL byte size. Catalyst's size-only join estimate is the
      PRODUCT of the children's sizeInBytes, and a localCheckpoint
      carries its origin plan's estimate — so without the persist the
      estimate's bit-length MULTIPLIES every round (~8x with 3 nested
      self-joins), and by round ~6 the driver spends minutes doing
      BigInteger arithmetic on million-bit "sizes" inside
      SizeInBytesOnlyStatsPlanVisitor while every executor sits idle.
      Real cached sizes also let small label tables broadcast.

    Size-adaptive dispatch: the post-threshold near-dup graph is
    typically orders of magnitude smaller than the corpus (LSH +
    cosine cut has already run distributed), so when it has at most
    ``small_graph_edges`` undirected edges the labeling itself runs as
    driver-side union-find — one collect of the edge list versus
    several join rounds, each with fixed scheduling latency. The
    default (250k edges ≈ low tens of MB of Row tuples) keeps the
    collect far from driver-OOM territory with default driver memory;
    raise it only with a sized driver. Larger
    graphs take the propagation path below; both produce identical
    labelings (parity-tested).

    Returns (node, comp) for every node that appears in ``pairs``.
    If ``stats`` is a dict, it is filled with run telemetry:
    ``n_edges`` (directed, post-dedup), ``path`` ("union-find" |
    "propagation"), and ``rounds`` (propagation rounds executed,
    including the final no-change round; 0 for union-find).
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(
                F.col(b_col).alias("src"), F.col(a_col).alias("dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    # Size the round partitioning to the GRAPH, not the session
    # default: each round is several stages over the label table, and
    # 32-task stages on a few thousand rows cost ~10x the work itself
    # in scheduling latency. ~500k edges per partition keeps rounds
    # single-digit-task at oracle scale and still spreads a trillion-
    # edge graph across a cluster.
    n_edges = edges.count()
    if stats is not None:
        stats["n_edges"] = n_edges
        stats["rounds"] = 0
    if n_edges <= small_graph_edges:
        if stats is not None:
            stats["path"] = "union-find"
        id_type = edges.schema["src"].dataType
        return _union_find_local(
            [(r["src"], r["dst"]) for r in edges.collect()],
            pairs.sparkSession,
            id_type,
        )
    if stats is not None:
        stats["path"] = "propagation"
    parts = max(1, n_edges // 500_000)
    edges = edges.repartition(parts, "dst").localCheckpoint().persist()
    edges.count()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .coalesce(parts)
        .localCheckpoint()
        .persist()
    )
    labels.count()
    to_unpersist: list[DataFrame] = []
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("comp").alias("ncomp"))
        )
        prop = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                ).alias("comp"),
                (F.coalesce(F.col("ncomp"), F.col("comp")) < F.col("comp"))
                .alias("_chg"),
            )
            # prop feeds BOTH sides of every jump join: a LAZY persist
            # computes the neighbor-join subtree once within the
            # round-end job instead of once per branch, without paying
            # an extra eager action (lineage is truncated at round end)
            .coalesce(parts)
            .persist()
        )
        to_unpersist.append(prop)
        # pointer jumping: follow the label ``jumps`` more hops so long
        # chains collapse exponentially instead of one hop per round
        # (each jump joins only the small label table against itself)
        updated = prop
        for _j in range(jumps):
            lab2 = updated.select(
                F.col("node").alias("n2"), F.col("comp").alias("c2")
            )
            updated = updated.join(
                lab2, updated["comp"] == lab2["n2"], "left"
            ).select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("c2"), F.col("comp"))
                ).alias("comp"),
                (
                    F.col("_chg")
                    | (F.coalesce(F.col("c2"), F.col("comp")) < F.col("comp"))
                ).alias("_chg"),
            )
        updated = updated.coalesce(parts).localCheckpoint().persist()
        # one action per round: the convergence count doubles as the
        # persist's materialization, so the NEXT round plans against
        # real cached sizes
        changed = updated.filter("_chg").count()
        if stats is not None:
            stats["rounds"] += 1
        to_unpersist.append(labels)
        labels = updated.drop("_chg")
        if changed == 0:
            break
    # release intermediate round caches; the final labels cache stays
    # alive for the caller (cleared by session cache management)
    for df in to_unpersist:
        df.unpersist(blocking=False)
    return labels


def simhash(df: DataFrame, text: Column, id_col: str, nbits: int = 16) -> DataFrame:
    """Per-document SimHash: (id, simhash bitstring).

    Bit j is the majority vote of bit j of each token's md5 (tokens
    with multiplicity). Same explode+aggregate shape as
    minhash_signatures: one md5 per token row, nbits conditional sums
    in a single codegen'd hash-aggregate, shuffle carries only small
    longs. Bit j of a token = high bit of hex digit j of md5(token),
    i.e. hexchar >= '8' ('0'-'9' sort below 'a'-'f'). Documents with
    zero tokens produce no row.
    """
    rows = (
        _spread(df, F.col(id_col))
        .select(F.col(id_col).alias("doc"), F.explode(token_array(text)).alias("t"))
        .select("doc", F.md5(F.col("t")).alias("m"))
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.count(F.when(F.substring(F.col("m"), j, 1) >= "8", 1)).alias(f"ones_{j}")
        for j in range(1, nbits + 1)
    ]
    agg = rows.groupBy("doc").agg(*aggs)
    bits = [
        F.when(F.col(f"ones_{j}") * 2 >= F.col("n"), F.lit("1")).otherwise(F.lit("0"))
        for j in range(1, nbits + 1)
    ]
    return agg.select("doc", F.concat(*bits).alias("simhash"))


def prefix_block_pairs(
    df: DataFrame,
    text: Column,
    id_col: str,
    prefix_len: int = 16,
    block_cap: int = 64,
    ids_only: bool = False,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs for edit-distance fuzzy matching via prefix
    blocking: documents sharing their first ``prefix_len`` normalized
    characters are candidates (near-identical texts almost always share
    a long prefix; a fuller recall story unions several blocking keys —
    prefix, suffix, sorted-token prefix — each through this same path).

    Same scale discipline as the LSH pair generators: ONE hash shuffle
    on the block key, a streamed window count drops degenerate blocks
    (> ``block_cap`` members) before anything is materialized, and the
    within-block pair explosion happens on <= cap-sized arrays. The
    expensive edit-distance verify then runs on candidates only —
    never all pairs.

    Returns (id_a, id_b, text_a, text_b) with id_a < id_b.
    """
    return block_pairs(
        df,
        text,
        id_col,
        lambda norm: F.substring(norm, 1, prefix_len),
        block_cap,
        ids_only=ids_only,
        normed=normed,
    )


def sorted_token_block_pairs(
    df: DataFrame,
    text: Column,
    id_col: str,
    n_tokens: int = 3,
    block_cap: int = 64,
    ids_only: bool = False,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Second blocking key for fuzzy matching: the first ``n_tokens``
    of the SORTED token multiset. Catches near-identical texts whose
    edits fall inside the leading characters (which defeat prefix
    blocking) but whose vocabulary is unchanged — the standard
    multi-key blocking recipe from record linkage: run several cheap
    keys, union the candidate sets, verify once."""
    return block_pairs(
        df,
        text,
        id_col,
        lambda norm: F.array_join(
            F.slice(F.sort_array(F.split(norm, " ")), 1, n_tokens), " "
        ),
        block_cap,
        ids_only=ids_only,
        normed=normed,
    )


def block_pairs(
    df: DataFrame,
    text: Column,
    id_col: str,
    block_key,
    block_cap: int = 64,
    ids_only: bool = False,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Shared candidate-pair core for any blocking key (a callable from
    the normalized-text column to the key column).

    ``ids_only=True`` emits (id_a, id_b) without the texts: the block
    shuffle then carries only (block key, id) — a few dozen bytes per
    document instead of the full normalized text. Multi-key callers
    that must DEDUP the union of several keys' candidates want this
    shape (the dedup Exchange moves ids, the payload is joined back
    exactly once after it); single-key callers keep the default, where
    each text crosses the one block Exchange once and pairs are
    emitted without any further shuffle.

    ``normed``: a pre-built ``_normed_docs(df, text, id_col)`` result
    (persist it when several blocking keys share it) so the
    normalization regex pipeline is not re-run per key.
    """
    from pyspark.sql import Window as W

    if normed is None:
        normed = _normed_docs(df, text, id_col)
    cols = [F.col("doc").alias("_id"), block_key(F.col("norm")).alias("_block")]
    if not ids_only:
        cols.insert(1, F.col("norm").alias("_norm"))
    base = normed.select(*cols)
    sized = base.withColumn(
        "_bsize", F.count(F.lit(1)).over(W.partitionBy("_block"))
    ).filter(F.col("_bsize") <= block_cap)
    member = (
        F.col("_id")
        if ids_only
        else F.struct(F.col("_id"), F.col("_norm"))
    )
    grouped = (
        sized.groupBy("_block")
        .agg(F.sort_array(F.collect_list(member)).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if ids_only:
        return grouped.select(
            F.explode("members").alias("id_a"), F.col("members")
        ).select(
            "id_a",
            F.explode(
                F.filter("members", lambda m: m > F.col("id_a"))
            ).alias("id_b"),
        )
    pairs = grouped.select(
        F.explode("members").alias("a"), F.col("members")
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("a._norm").alias("text_a"),
        F.explode(
            F.filter("members", lambda m: m["_id"] > F.col("a._id"))
        ).alias("b"),
    )
    # No distinct() needed: a document belongs to exactly ONE block
    # (the key is a function of its own prefix) and the m > a filter
    # emits each unordered pair once — a dedup shuffle here would drag
    # both full normalized texts through an Exchange for nothing.
    return pairs.select(
        "id_a",
        F.col("b._id").alias("id_b"),
        "text_a",
        F.col("b._norm").alias("text_b"),
    )
