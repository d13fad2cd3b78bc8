"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled``); explicit salting is the static
fallback for the two shapes AQE cannot fix:

- an aggregation whose per-key state is large (collect_list-like, exact
  distinct) concentrated on few keys → ``salted_two_phase_agg`` splits each hot
  key across ``n_salts`` reducers, then merges;
- a shuffle join where one key dominates → ``salted_join`` replicates the small
  side per salt so the big side's hot key spreads over ``n_salts`` tasks.

Salt is ``pmod(hash(entire row), n)`` — deterministic (reruns are idempotent,
no RNG), uniform, and free (no extra column carried past the first shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic uniform salt in [0, n_salts) from the full row hash."""
    return df.withColumn(
        salt_col, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_two_phase_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Aggregate in two shuffles: (keys + salt) → partial, then (keys) → final.

    ``partial_aggs`` run per (key, salt); ``final_aggs`` merge the partials and
    must reference the partial aliases (e.g. partial ``sum(x) as s`` + final
    ``sum(s) as total``). The second shuffle moves one row per (key, salt) —
    n_salts rows per key, regardless of how hot the key was.
    """
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join with the large side's hot keys spread across ``n_salts`` tasks.

    The large side gets a row-hash salt; the small side is exploded ×n_salts so
    every (key, salt) pair finds its match. Use when the small side is too big
    to broadcast outright but small enough to replicate n_salts-fold across the
    shuffle, and one large-side key dominates.
    """
    salted_large = with_salt(large, n_salts)
    exploded_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted_large.join(exploded_small, [on, "_salt"], how)
    return joined.drop("_salt")
