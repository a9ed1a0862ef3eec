"""Skew-handling aggregation helpers (100 TB posture).

AQE's skew-join splitting covers joins; skewed GROUP BY keys (one
strategy or one user dominating) still funnel into one reducer. The
classic fix is salting: aggregate on (key, salt) first (spreading the
hot key over ``buckets`` reducers), then combine the partials. Works
for any algebraic aggregate; exposed here for sum/count/min/max.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column] | None = None,
    count_alias: str | None = None,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase (salted) aggregation.

    ``sums``: output alias -> input expression (summed exactly in both
    phases). ``count_alias``: add a row count. Deterministic salt
    (hash of all columns) so results are reproducible.
    """
    sums = sums or {}
    salt = (F.xxhash64(*[F.col(c) for c in df.columns]) % buckets).alias("_salt")
    phase1 = df.select(*keys, salt, *[e.alias(f"_s_{a}") for a, e in sums.items()])
    partial_aggs = [F.sum(f"_s_{a}").alias(f"_p_{a}") for a in sums]
    if count_alias:
        partial_aggs.append(F.count(F.lit(1)).alias("_p_cnt"))
    partial = phase1.groupBy(*keys, "_salt").agg(*partial_aggs)
    final_aggs = [F.sum(f"_p_{a}").alias(a) for a in sums]
    if count_alias:
        final_aggs.append(F.sum("_p_cnt").alias(count_alias))
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    buckets: int = 16,
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, replicate the small side.

    AQE's skew splitting only kicks in post-shuffle and only for
    sort-merge joins; when one key holds a double-digit share of the
    fact table, pre-salting guarantees the hot key spreads over
    ``buckets`` tasks regardless of strategy. The big side gets a
    deterministic per-row salt; the small side is exploded ``buckets``×
    (fine — it is the small side) so every (key, salt) pair finds its
    match. Inner-join semantics on ``key``.
    """
    # pmod, not %: Spark's % keeps the sign of xxhash64, and a negative
    # salt would never meet the replicated side's 0..buckets-1 range
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), buckets)
    )
    replicated = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<long>")),
    )
    return salted_big.join(replicated, [key, "_salt"]).drop("_salt")


def adaptive_salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    buckets: int = 16,
    hot_threshold: int = 10_000,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Skew join that salts ONLY the hot keys — detected with a
    count-min sketch, not an exact pre-aggregation.

    Blanket salting (salted_join) replicates the whole small side
    ``buckets``x and forces every row through the wider (key, salt)
    shuffle even when 99.9% of keys are cold. This variant spends one
    extra MAP-SIDE pass with KB-bounded state instead: the big side's
    key frequencies fold into a CMS (depth x width counters — the
    sketch never grows with key cardinality, unlike the exact groupBy
    whose hash state is #keys), the SMALL side's keys — the complete
    candidate universe, already small — probe it, and keys whose
    estimate clears ``hot_threshold`` get the salt treatment. CMS
    error is one-sided (overestimates), so a borderline-cold key can
    only be salted unnecessarily — never a hot key missed: the
    correctness-critical direction is safe by construction.

    Cold keys keep salt 0 (no replication, no fan-out); hot keys
    spread over ``buckets`` tasks and their dim rows replicate
    ``buckets``x. Inner-join semantics on ``key``; output equals the
    plain join exactly (tests/test_round5_ops.py asserts it)."""
    from defimap_data_pipelines_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    counters = cms_counters(
        big.select(F.col(key).alias("token")), depth=depth, width=width
    )
    # localCheckpoint: BOTH join arms below consume the hot set;
    # uncached, each arm would rebuild the CMS — i.e. re-scan the
    # fact table — doubling the detection pass the operator exists to
    # keep cheap. The frame is at most |dim keys| rows.
    hot = (
        cms_estimate(
            counters,
            small.select(F.col(key).alias("token")).distinct(),
            depth=depth,
            width=width,
        )
        .filter(F.col("cms_estimate") >= hot_threshold)
        .select(F.col("token").alias(key), F.lit(True).alias("_hot"))
        .localCheckpoint()
    )
    tagged_big = big.join(F.broadcast(hot), key, "left")
    salted_big = tagged_big.withColumn(
        "_salt",
        F.when(
            F.col("_hot"),
            F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), buckets),
        ).otherwise(F.lit(0).cast("long")),
    ).drop("_hot")
    tagged_small = small.join(F.broadcast(hot), key, "left")
    replicated = tagged_small.withColumn(
        "_salt",
        F.explode(
            F.when(
                F.col("_hot"),
                F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<long>"),
            ).otherwise(F.array(F.lit(0)).cast("array<long>"))
        ),
    ).drop("_hot")
    return salted_big.join(replicated, [key, "_salt"]).drop("_salt")


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Join-key skew diagnostic: per log2-sized frequency bucket, how
    many distinct keys fall there, how many rows they carry, and the
    bucket's heaviest key — the one-page report that tells you
    whether a key needs the salted-join treatment BEFORE the shuffle
    falls over (the adaptive_salted_join operator's CMS detects hot
    keys online; this is the offline audit twin).

    bucket = floor(log2(count)): exact for every int64 count in both
    engines (log2 of a power of two is IEEE-exact, and between powers
    the floor is unambiguous). One groupBy(key) + one groupBy(bucket)
    over the O(keys) counts frame; max_by picks the example key with
    smallest-key tie-break via the (count, -key) trick avoided — ties
    broken by max_by on a (count, key) struct, deterministic because
    struct comparison is lexicographic.
    """
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    b = counts.withColumn(
        "bucket", F.floor(F.log2("c")).cast("long")
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max(F.struct(F.col("c"), F.col("k"))).alias("_m"),
        )
        .select(
            "bucket",
            "n_keys",
            "n_rows",
            F.col("_m.c").alias("max_count"),
            F.col("_m.k").alias("heaviest_key"),
        )
    )
