"""Distinct-count sketching (KMV — k minimum values).

Exact COUNT(DISTINCT x) shuffles every distinct value; at 100 TB the
distinct frame of a high-cardinality column (shingles, URLs, n-grams) is
itself terabytes. The KMV estimator [Bar-Yossef et al. 2002] keeps only
the k smallest hash values per group: if the kth smallest of a uniform
hash over D distinct values is h_k, then D ≈ (k-1) * H / h_k for hash
space [0, H).

Spark has `approx_count_distinct` (HLL++), but its binary sketch is not
reproducible across engines, so it can't be oracle-checked. This KMV is
md5-deterministic: the DuckDB oracle reproduces the estimate BIT FOR BIT,
and the same property makes pipeline reruns stable.

Scale design — the trick is getting the k minima WITHOUT shuffling all
distinct values: a narrow pre-filter `hash < H * prefilter` drops all but
~D*prefilter candidate rows before any shuffle (the k minima survive it
whenever D*prefilter >> k). Survivors are deduplicated and ranked with a
partitioned window — a frame ~D*prefilter rows, prefilter× cheaper than
the exact distinct. If a group has fewer than k survivors, every surviving
hash is below the cutoff, so the survivor count IS a distinct-sample
count and `n_survivors / prefilter` is the standard distinct-sampling
estimate — both branches are closed-form and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from beacon_indexer_spark.operators.dedup import _md5_long

# 60-bit hash space (md5 prefix via conv(); see dedup._md5_long)
_H = 2**60
_KMV_SALT = 7


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
    prefilter_denom: int = 16,
) -> DataFrame:
    """Per-group KMV distinct-count estimate over `key_col`.

    Returns (group, n_kept, kth_hash, distinct_est):
      - n_kept == k      → estimate (k-1) * H / h_k  (KMV proper)
      - n_kept <  k      → estimate n_kept * prefilter_denom (the cutoff
                           acted as a 1/prefilter_denom distinct-sample)
    Estimates are double arithmetic over exactly-agreed integers, so the
    oracle matches bit-for-bit. kth_hash is NULL on the sampling branch.
    """
    cutoff = _H // prefilter_denom
    surv = (
        df.select(
            F.col(group_col).alias("grp"),
            _md5_long(F.col(key_col).cast("string"), _KMV_SALT).alias("__h"),
        )
        .filter(F.col("__h") < F.lit(cutoff))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("__h")
    kept = surv.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= k
    )
    agg = kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("__h").alias("__maxh"),
    )
    full = F.col("n_kept") == k
    kth = F.when(full, F.col("__maxh"))
    est = F.when(
        full,
        F.lit(float(k - 1)) * (F.lit(float(_H)) / F.col("__maxh").cast("double")),
    ).otherwise(F.col("n_kept").cast("double") * F.lit(float(prefilter_denom)))
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n_kept").cast("long").alias("n_kept"),
        kth.cast("long").alias("kth_hash"),
        F.round(est, 4).alias("distinct_est"),
    )


def kmv_jaccard(
    df: DataFrame,
    key_col: str,
    group_col: str,
    grp_a: str,
    grp_b: str,
    k: int = 64,
    prefilter_denom: int = 16,
) -> DataFrame:
    """KMV set-operation estimator [Beyer et al. 2007]: Jaccard,
    union-distinct, and intersection-distinct of two groups' key SETS
    from two mergeable bottom-k sketches — the sketch-level analogue of
    an exact distinct-intersection, whose shuffle at 100 TB carries
    every distinct key instead of 2k hashes.

    Method: per group, the k smallest md5 hashes of its distinct keys;
    combine both sketches, keep the k smallest of the union (τ = the
    kth). Each kept hash is a uniform sample of the UNION's distinct
    keys, so the fraction present in BOTH sketches estimates Jaccard;
    union ≈ (k-1)·H/τ (KMV proper), intersection ≈ J·union. One row:
    (n_kept, tau, inter_kept, jaccard_est, union_est, inter_est).

    Plan — same scale bound as `kmv_distinct`: the narrow
    `__h < H/prefilter_denom` pre-filter runs BEFORE any shuffle, so
    the distinct + per-group bottom-k window sees ~D/prefilter_denom
    rows, never a group's full distinct key set (the k minima survive
    any cutoff that keeps ≥ k hashes). When the filtered UNION holds
    fewer than k hashes, every group kept ALL of its survivors, so the
    cutoff acted as a 1/prefilter_denom distinct-sample of the union:
    union ≈ n_kept·prefilter_denom and Jaccard is still the in-both
    fraction of the sample. Empty input yields the defined zero verdict
    (jaccard/union/inter = 0.0) rather than NULL 0/0. All remaining
    arithmetic happens on ≤2k rows via orderBy+limit (TakeOrdered, no
    full sort). md5-deterministic end to end: the DuckDB oracle
    reproduces every estimate bit for bit.

    Cardinality floor: the prefilter makes this a SKETCH for unions of
    at least ~k·prefilter_denom distinct keys (the regime where the
    bottom-k fills). Below that the estimator degrades to a
    1/prefilter_denom distinct-sample — unbiased for union_est but
    coarse for jaccard_est (few or zero survivors). For small sets
    where exact behavior is wanted, pass
    ``prefilter_denom=1``: the prefilter becomes a no-op and every
    distinct key reaches the bottom-k window (fine at small scale; the
    default 16 exists so 100 TB unions never shuffle their full
    distinct key sets)."""
    cutoff = _H // prefilter_denom
    hashed = (
        df.filter(F.col(group_col).isin(grp_a, grp_b))
        .select(
            (F.col(group_col) == grp_a).alias("__a"),
            _md5_long(F.col(key_col).cast("string"), _KMV_SALT).alias("__h"),
        )
        .filter(F.col("__h") < F.lit(cutoff))
        .distinct()
    )
    w = Window.partitionBy("__a").orderBy("__h")
    kept = hashed.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= k
    )
    merged = (
        kept.groupBy("__h")
        .agg(
            F.max(F.col("__a").cast("int")).alias("__in_a"),
            F.max((~F.col("__a")).cast("int")).alias("__in_b"),
        )
        .orderBy("__h")
        .limit(k)
    )
    agg = merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("__h").cast("long").alias("tau"),
        F.coalesce(
            F.sum(F.col("__in_a") * F.col("__in_b")), F.lit(0)
        ).cast("long").alias("inter_kept"),
    )
    full = F.col("n_kept") == k
    union_est = F.when(
        full,
        F.lit(float(k - 1)) * (F.lit(float(_H)) / F.col("tau").cast("double")),
    ).otherwise(
        F.col("n_kept").cast("double") * F.lit(float(prefilter_denom))
    )
    jac = F.when(
        F.col("n_kept") > 0,
        F.col("inter_kept").cast("double") / F.col("n_kept").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_kept",
        "tau",
        "inter_kept",
        F.round(jac, 6).alias("jaccard_est"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jac * union_est, 4).alias("inter_est"),
    )
