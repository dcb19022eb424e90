"""Explicit skew handling: salting + range repartitioning.

The dense-urban-cell skew is structural in OSM-like data (the synthetic world
plants ~40% of roads in 0.4% of cells to reproduce it).  Two mitigations on
top of AQE (tests exercise them; no registered query calls them):

  * ``salted_distinct_count`` — COUNT(DISTINCT x) per hot key: the distinct
    expansion cannot partial-aggregate, so one reducer receives the whole hot
    cell.  Salting by ``x % n_salts`` splits each key's distinct set into
    disjoint shards (counts add exactly), turning the hot key into n_salts
    uniform reducers.
  * ``repartition_by_cell_density`` — range-repartition on cell id using the
    observed density histogram so each task gets a comparable row budget
    (the reference's chunk loops sized by grid_id, add_custom_tags.py:36).

Both are result-identical to their naive forms (asserted in tests) — they
change the shuffle topology only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_distinct_count(df: DataFrame, key: str, val: str,
                          n_salts: int = 16,
                          out: str = "n_distinct") -> DataFrame:
    """COUNT(DISTINCT val) GROUP BY key, skew-safe.

    Stage 1 groups by (key, salt) where salt = val % n_salts — disjoint value
    shards, so stage 2's SUM of per-shard distinct counts is exact."""
    salted = df.withColumn("_salt", F.col(val) % F.lit(n_salts))
    s1 = salted.groupBy(key, "_salt").agg(
        F.countDistinct(val).alias("_partial"))
    return s1.groupBy(key).agg(F.sum("_partial").cast("long").alias(out))


def repartition_by_cell_density(df: DataFrame, cell_col: str,
                                target_partitions: int) -> DataFrame:
    """Range-repartition on cell id with AQE-friendly partition count; dense
    cells land in their own narrow ranges instead of hashing into one task."""
    return df.repartitionByRange(target_partitions, F.col(cell_col))


def cell_density(df: DataFrame, cell_col: str) -> DataFrame:
    """Engine-level statistics: rows per cell (the histogram that drives
    salting decisions — the analogue of ANALYZE-driven planning,
    add_custom_tags.py:307-329)."""
    return df.groupBy(cell_col).agg(F.count("*").alias("n_rows"))


def hot_cells(df: DataFrame, cell_col: str, threshold_rows: int) -> list:
    """Cells whose row count exceeds the per-task budget — the salting set.
    Driver-side collect is safe: bounded by the number of cells, not rows."""
    return [r[0] for r in cell_density(df, cell_col)
            .filter(F.col("n_rows") > threshold_rows).select(cell_col).collect()]


def salted_join(skewed: DataFrame, other: DataFrame, key: str,
                salt_src: str, n_salts: int = 16,
                how: str = "inner") -> DataFrame:
    """Hot-key equi-join: salt the skewed side deterministically by an
    existing uniform column (``salt_src``, e.g. osm_id — never rand(), which
    breaks retry determinism), replicate the other side across the salt
    range, and join on (key, salt).  Result-identical to the naive join;
    each hot key fans across n_salts reducers.

    This is the explicit form of what AQE skew-split does for sort-merge
    joins — needed when the join must be hash/broadcast or when the skew is
    in the build side where AQE cannot split."""
    s = skewed.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)))
    o = other.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    return s.join(o, [key, "_salt"], how).drop("_salt")
