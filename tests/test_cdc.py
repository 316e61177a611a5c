"""Semantic invariants for the CDC / maintenance queries, beyond the
cross-engine parity already enforced by test_queries.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def _q(name):
    from nbody6_data_pipeline_spark.queries import registry

    return registry()[name]["spark"]


def test_latest_per_key_is_unique_and_max(spark, sf_dir):
    out = _q("events_latest_per_key")(spark, sf_dir)
    rows = out.collect()
    keys = [(r.user_id, r.event_type) for r in rows]
    assert len(keys) == len(set(keys)), "one row per (user_id, event_type)"

    from nbody6_data_pipeline_spark.queries import _t, event_us

    e = _t(spark, sf_dir, "events")
    maxes = {
        (r.user_id, r.event_type): r.max_ts
        for r in e.groupBy("user_id", "event_type")
        .agg(F.max(event_us(e)).alias("max_ts"))
        .collect()
    }
    assert len(rows) == len(maxes)
    for r in rows:
        assert r.ts_us == maxes[(r.user_id, r.event_type)]


def test_upsert_merge_partitions_rows(spark, sf_dir):
    out = _q("orders_upsert_merge")(spark, sf_dir).collect()
    from nbody6_data_pipeline_spark.queries import _t

    n_orders = _t(spark, sf_dir, "orders").count()
    # every source row lands in exactly one of the three merge classes,
    # and no key is dropped or duplicated by the full-outer merge
    assert sum(r.n_rows for r in out) == n_orders
    for r in out:
        assert r.n_rows == r.n_updated + r.n_inserted + r.n_carried


def test_cube_grouping_sets_consistent(spark, sf_dir):
    rows = _q("cube_order_stats")(spark, sf_dir).collect()
    from nbody6_data_pipeline_spark.queries import _t

    n_orders = _t(spark, sf_dir, "orders").count()
    grand = [r for r in rows if r.g_status == 1 and r.g_priority == 1]
    assert len(grand) == 1 and grand[0].n_orders == n_orders
    # each grouping set independently partitions the table
    for gs, gp in ((0, 0), (0, 1), (1, 0)):
        level = [r for r in rows if r.g_status == gs and r.g_priority == gp]
        assert sum(r.n_orders for r in level) == n_orders


def test_topk_per_source_shape(spark, sf_dir):
    rows = _q("doc_topk_per_source")(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, grp in by_source.items():
        ranks = sorted(r.rank for r in grp)
        assert ranks == list(range(1, len(grp) + 1)) and len(grp) <= 3
        lengths = [r.n_chars for r in sorted(grp, key=lambda r: r.rank)]
        assert lengths == sorted(lengths, reverse=True)


def test_winsorize_clips_about_ten_percent(spark, sf_dir):
    rows = _q("doc_length_winsorize")(spark, sf_dir).collect()
    n_docs = sum(r.n_docs for r in rows)
    n_clipped = sum(r.n_clipped for r in rows)
    # p5/p95 bounds clip ~10% overall (exact fraction depends on ties)
    assert 0.02 <= n_clipped / n_docs <= 0.25
    for r in rows:
        assert r.winsorized_sum > 0


def test_norm_stats_bounds(spark, sf_dir):
    rows = _q("embedding_norm_stats")(spark, sf_dir).collect()
    for r in rows:
        assert 0 < r.norm_min <= r.norm_mean <= r.norm_max


def test_incremental_rollup_matches_full_recompute(spark, sf_dir):
    """The registry query already proves merge==recompute vs DuckDB;
    here assert the same within Spark (partial-merge vs direct agg)."""
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.queries import _t, event_us

    out = {
        (r.day, r.event_type): (r.n_events, r.total_value)
        for r in _q("events_incremental_rollup")(spark, sf_dir).collect()
    }
    e = _t(spark, sf_dir, "events")
    direct = {
        (r.day, r.event_type): (r.n_events, r.total_value)
        for r in e.select(
            (event_us(e) / F.lit(86_400_000_000)).cast("long").alias("day"),
            "event_type",
            "value",
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert out == direct


def test_prefix_block_pairs_semantics(spark):
    from pyspark.sql import Row

    from nbody6_data_pipeline_spark.operators.dedup import prefix_block_pairs

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),
            Row(doc_id=2, text="The  quick brown fox jumped"),  # same block
            Row(doc_id=3, text="the quick brown cat sits"),     # same block
            Row(doc_id=4, text="completely different text"),    # alone
        ]
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in prefix_block_pairs(
            docs, F.col("text"), "doc_id", prefix_len=16, block_cap=64
        ).collect()
    }
    # docs 1-3 share the 16-char normalized prefix "the quick brown " -> 3 pairs
    assert pairs == {(1, 2), (1, 3), (2, 3)}

    # cap drops the degenerate block entirely
    capped = prefix_block_pairs(
        docs, F.col("text"), "doc_id", prefix_len=16, block_cap=2
    ).collect()
    assert capped == []


def test_block_pairs_ids_only_parity(spark):
    """The ids_only shape (round-10: the multikey dedup Exchange moves
    id pairs, not texts) must emit exactly the default shape's id
    pairs — for both blocking keys, with and without the cap binding —
    and accept a pre-built normed table without changing the result."""
    from pyspark.sql import Row

    from nbody6_data_pipeline_spark.operators.dedup import (
        _normed_docs,
        prefix_block_pairs,
        sorted_token_block_pairs,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),
            Row(doc_id=2, text="The  quick brown fox jumped"),
            Row(doc_id=3, text="the quick brown cat sits"),
            Row(doc_id=4, text="completely different text"),
            Row(doc_id=5, text="quick the brown fox jumps"),  # token twin of 1
        ]
    )
    normed = _normed_docs(docs, F.col("text"), "doc_id")
    for fn in (prefix_block_pairs, sorted_token_block_pairs):
        for cap in (64, 2):
            full = {
                (r.id_a, r.id_b)
                for r in fn(
                    docs, F.col("text"), "doc_id", block_cap=cap
                ).collect()
            }
            ids = fn(
                docs,
                F.col("text"),
                "doc_id",
                block_cap=cap,
                ids_only=True,
                normed=normed,
            )
            assert set(ids.columns) == {"id_a", "id_b"}
            assert {(r.id_a, r.id_b) for r in ids.collect()} == full


def test_sorted_token_block_recovers_prefix_edits(spark):
    """A near-dup whose edit hits the leading characters defeats prefix
    blocking; the sorted-token key must still pair it."""
    from pyspark.sql import Row

    from nbody6_data_pipeline_spark.operators.dedup import (
        prefix_block_pairs,
        sorted_token_block_pairs,
    )

    # leading token edited (z->y) but it SORTS LAST, so the sorted
    # first-3-token key ("brown fox high") is identical for both
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="zebra quick brown fox jumps high"),
            Row(doc_id=2, text="yebra quick brown fox jumps high"),
        ]
    )
    by_prefix = prefix_block_pairs(docs, F.col("text"), "doc_id").collect()
    assert by_prefix == []  # prefix key is blind to this pair
    by_tokens = {
        (r.id_a, r.id_b)
        for r in sorted_token_block_pairs(docs, F.col("text"), "doc_id").collect()
    }
    assert by_tokens == {(1, 2)}
