"""Approximate-sketch operators (HLL distinct, approx percentile,
Bloom-style semi-join pruning): the sketches are engine-specific so
they cannot be oracle-paired bit-for-bit; instead each is verified
against its exact counterpart within the sketch's error bound — the
check a production pipeline itself would run before trusting a sketch
at 100 TB (where the exact form needs a shuffle the sketch avoids).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _events(spark, sf_dir):
    from nbody6_data_pipeline_spark.queries import _t

    return _t(spark, sf_dir, "events")


def test_hll_distinct_within_rsd(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) per event_type vs exact.
    HLL partials merge without a distinct-shuffle — at scale the exact
    form shuffles every key, the sketch ships ~1.5 KB per group."""
    e = _events(spark, sf_dir)
    rsd = 0.02
    rows = (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= max(5.0, 4 * rsd * r.exact), (
            r.event_type,
            r.approx,
            r.exact,
        )


def test_approx_percentile_within_accuracy(spark, sf_dir):
    """percentile_approx (KLL-style sketch) vs exact interpolating
    percentile. accuracy=10000 bounds rank error at n/10000."""
    e = _events(spark, sf_dir)
    row = e.agg(
        F.percentile_approx("value", [0.5, 0.95], 10000).alias("approx"),
        F.expr("percentile(value, array(0.5, 0.95))").alias("exact"),
    ).first()
    n = e.count()
    # rank error -> value error via local density; just assert the
    # approx value sits within the exact [p-eps, p+eps] value band
    for q, a in zip((0.5, 0.95), row.approx):
        eps = max(1.0 / 10000, 1.0 / n)
        lo, hi = (
            e.agg(
                F.expr(f"percentile(value, {max(0.0, q - 2 * eps)})"),
                F.expr(f"percentile(value, {min(1.0, q + 2 * eps)})"),
            ).first()
        )
        assert lo <= a <= hi, (q, a, lo, hi)
