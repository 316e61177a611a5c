"""Salted joins for skewed keys.

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin``) handles
most skew at runtime by splitting oversized shuffle partitions — it is
the engine's first line of defense and needs no code. But AQE can only
split a partition of an ALREADY-SHUFFLED side; it cannot help when

- the skewed side feeds an aggregation-with-join pipeline where one
  hot key (a null-ish default id, a viral document, a degenerate LSH
  bucket) dwarfs every other key by orders of magnitude, or
- the join is a broadcast-ineligible large-dim lookup where one key's
  rows must still fan out across tasks.

``salted_join`` implements the classic explicit remedy: add a salt to
the skewed (big) side's key, and EXPLODE the small side once per salt
value so every (key, salt) combination still matches. The small side
grows by a factor of up to ``n_salts`` (fine — it is the small side by
assumption).

How salt values are chosen. The join's exchange sends ``(k, salt)`` to
partition ``pmod(hash(k, salt), P)`` (``HashPartitioning``: seed-42
Murmur3, the same function as ``F.hash``), so salts ``0..n_salts-1``
would collide: distinct salts of one key often hash to the same
partition, and the key reaches fewer than ``n_salts`` tasks (at P = 8,
salts 0..7 of key 0 reach 5 partitions). Instead, each key's salt
values are picked from the exchange's own partition function: hash the
candidates ``v = 0, 1, ..., C-1`` with the key, keep the first
candidate that lands in each new partition, stop at
``min(n_salts, P)`` partitions. ``C`` comes from a coupon-collector
bound (``_n_candidates``). Both sides derive the same list from the key
alone, hashed as the join compares it (after type widening), so the
small side explodes exactly that list and each big-side row picks one
entry. A key thus spreads over ``min(n_salts, P)`` shuffle partitions.
``P`` is read from the session when the join is built. With AQE on,
partition coalescing may merge small partitions afterwards, the hot
key's included while they are under the advisory size. When the
optimizer folds the big side's key to a constant, the exchange hashes
the salt alone and the spread is not promised.

A big-side row picks its entry by ``pmod(hash(monotonically_increasing_id()),
len)`` — spread is what matters, not randomness, and avoiding ``rand()``
keeps the plan deterministic for retries/speculative tasks (a
re-executed task re-derives the same salt, so no row is double-counted
after a failure — the documented hazard of rand()-salting).

Verification: tests/test_skew.py asserts exact result parity with the
plain join on a synthetically skewed dataset (also across key types
the join widens), the per-task row bound, and that the hot key reaches
exactly ``min(n_salts, P)`` partitions at several partition counts.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["salted_join"]

# Chance that one key's candidates cover fewer than min(n_salts, P)
# partitions; such a key spreads over the partitions it did find.
_MISS = 1e-3
# Cap on candidates per key: each is one hash in the generated code of
# both join inputs. On a 4-core host, a warm join of 20k rows at
# n_salts = P took 0.8 s with 68 candidates, 3.3 s with 703, and 12 s
# with 2436, where the generated method no longer compiled and Spark
# fell back to interpreting it.
# At the cap, m = P = 16 still misses with chance 16 * (15/16)**128 < 0.5%.
_MAX_CANDIDATES = 128


def _exchange_partitions(df: DataFrame) -> int:
    """Partition count of the join's shuffle exchange: AQE's initial
    partition number when AQE is on and it is set, else
    ``spark.sql.shuffle.partitions``."""
    conf = df.sparkSession.conf
    if conf.get("spark.sql.adaptive.enabled", "true").lower() == "true":
        initial = conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
        )
        if initial:
            return int(initial)
    return int(conf.get("spark.sql.shuffle.partitions"))


def _n_candidates(m: int, p: int) -> int:
    """Candidates per key so that their partitions, uniform on
    ``[0, p)``, cover ``m`` distinct ones except with chance ``_MISS``
    (at most ``_MAX_CANDIDATES``).

    Coupon-collector union bound: fewer than ``m`` distinct means all
    ``C`` candidates fall in some set of ``m - 1`` partitions, so

        P(miss) <= binom(p, m - 1) * ((m - 1) / p) ** C <= _MISS
        C >= (ln binom(p, m - 1) + ln(1 / _MISS)) / ln(p / (m - 1))

    e.g. m = p = 8: (ln 8 + ln 1000) / ln(8/7) = 8.99 / 0.134 -> 68;
    m = 16, p = 200: (ln binom(200, 15) + 6.91) / ln(200/15) -> 23.
    """
    if m <= 1:
        return 1
    ln_binom = math.lgamma(p + 1) - math.lgamma(m) - math.lgamma(p - m + 2)
    c = math.ceil((ln_binom + math.log(1 / _MISS)) / math.log(p / (m - 1)))
    return min(c, _MAX_CANDIDATES)


# Key types whose mixed-type equality does not cast both sides to the
# coalesce type when ANSI mode is off (a string against a number is
# cast to the number's type), or has no coalesce type at all.
_NO_WIDENING = (T.StringType, T.BooleanType, T.BinaryType)


def _compared_keys(big: DataFrame, small: DataFrame, keys: list[str]):
    """The key columns as the equi-join compares them, to be resolved on
    either side: where the two sides' types differ, cast to the type the
    equality widens to (for numeric and datetime keys, the ``coalesce``
    type)."""
    cols = []
    for k in keys:
        tb, ts = big.schema[k].dataType, small.schema[k].dataType
        if tb == ts:
            cols.append(F.col(k))
            continue
        if isinstance(tb, _NO_WIDENING) or isinstance(ts, _NO_WIDENING):
            raise ValueError(
                f"salted_join key {k!r} is {tb.simpleString()} on one side and "
                f"{ts.simpleString()} on the other; cast both to one type first"
            )
        wide = big.select(F.coalesce(F.col(k), F.lit(None).cast(ts))).schema[0]
        cols.append(F.col(k).cast(wide.dataType))
    return cols


def _with_salt_values(df: DataFrame, key_cols: list[Column], p: int, m: int):
    """``df`` plus ``_cand`` (candidate v -> its partition, hashed once
    per row) and ``_spread`` (the first ``m`` distinct partitions in
    candidate order). Candidate v's partition is the exchange's
    ``pmod(hash(*keys, v), p)`` with v an int, the ``_salt`` type."""
    c = _n_candidates(m, p)
    cand = F.array(
        *[F.pmod(F.hash(*key_cols, F.lit(v)), F.lit(p)) for v in range(c)]
    )
    return df.withColumn("_cand", cand).withColumn(
        "_spread", F.slice(F.array_distinct("_cand"), 1, m)
    )


def _salt_of(part: Column) -> Column:
    """The first candidate that lands in partition ``part``."""
    return (F.array_position("_cand", part) - 1).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    how: str = "inner",
    n_salts: int = 16,
) -> DataFrame:
    """Join ``big`` (skewed on the join key) with ``small``, spreading
    each of ``big``'s keys across ``min(n_salts, P)`` shuffle
    partitions, ``P`` being the partition count of the join's exchange
    when this is called (AQE's ``initialPartitionNum`` if AQE is on and
    it is set, else ``spark.sql.shuffle.partitions``).

    Each key's salt values are the first candidates ``0, 1, ...`` that
    hash with the key to a new partition of that exchange; a key whose
    candidates find fewer partitions (chance ``_MISS``) uses the ones
    they found. Keys whose types differ between the sides are hashed
    after the widening the join applies; mixed string/boolean/binary
    key types raise ``ValueError``.

    ``on`` lists equi-join key column(s) present on both sides. The
    result equals ``big.join(small, on, how)`` exactly (row
    multiplicity included); only the physical distribution differs.
    Supported ``how``: inner / left / left_outer (the shapes where the
    big side's rows survive — for right/full joins salt the other
    side).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    p = _exchange_partitions(big)
    m = min(n_salts, p)
    key_cols = _compared_keys(big, small, keys)

    pick = F.pmod(F.hash(F.monotonically_increasing_id()), F.size("_spread")) + 1
    big_s = (
        _with_salt_values(big, key_cols, p, m)
        .withColumn("_salt", _salt_of(F.element_at("_spread", pick)))
        .drop("_cand", "_spread")
    )
    small_s = (
        _with_salt_values(small, key_cols, p, m)
        .withColumn("_part", F.explode("_spread"))
        .withColumn("_salt", _salt_of(F.col("_part")))
        .drop("_cand", "_spread", "_part")
    )
    out = big_s.join(small_s, [*keys, "_salt"], how)
    return out.drop("_salt")
