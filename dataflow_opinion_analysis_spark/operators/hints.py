"""Skew control for rank windows over hot keys."""

from __future__ import annotations

from pyspark.sql import DataFrame


def salted_top_k(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    k: int,
    salt_src: str,
    n_salts: int = 8,
):
    """Exact top-k rows per key without putting a hot key through one
    serial partition — the north rule's 'salted repartitioning' for the
    rank-window shape (a plain row_number() OVER (PARTITION BY key) sends
    EVERY row of the hottest key to a single task; at 10^12 rows that one
    task is the job).

    Two phases, both windows:
    1. per-(key, salt) local top-k — salt = xxhash64(salt_src) % n_salts
       spreads the hot key over n_salts tasks; each keeps only its local
       top-k, so at most k * n_salts survivors per key leave the phase;
    2. exact top-k over the survivors — provably equal to the unsalted
       result because every global top-k row is a local top-k row of its
       salt bucket.

    Returns df's columns plus ``rk`` (1-based). ``salt_src`` is any
    roughly-uniform column (e.g. the row's unique id) — correctness never
    depends on the salt, only balance does.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts))
    )
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("_lrk", F.row_number().over(w1))
        .filter(F.col("_lrk") <= k)
        .drop("_lrk", "_salt")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
    )
