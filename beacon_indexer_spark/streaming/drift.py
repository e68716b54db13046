"""Streaming distribution-drift monitors, and the drift rules they and
the batch drift queries share.

The reference has nothing like this (its pipeline trusts the beacon node);
a training-data ingest loop needs the classic model-monitoring read — "is
what I'm ingesting TODAY still distributed like the corpus I validated" —
continuously, not as a post-hoc batch audit. The monitors build a
reference ONCE (`psi_reference`, `quantile_reference`), then score every
micro-batch against it inside `foreachBatch` (`batch_psi`,
`batch_quantile_drift`) and append the verdict row to a monitor table.

Each rule is written here once:

- the decile rule (`value_deciles`): exact lower deciles of a value at
  cent resolution, off `operators/histogram.py:hist_quantiles`;
- the PSI rule: equidepth edges (`equidepth_edges`), bin assignment
  (`assign_bins`), the score over per-bin counts with 0.5-Laplace terms
  quantized to 1e-9 and the `PSI_STABLE`/`PSI_MODERATE` verdict
  (`psi_score`).

The oracle-checked queries `doc_length_psi_drift` and
`events_value_quantile_sketch` in plans/queries.py are built from these
rules, so the DuckDB oracle gate checks the monitors' own code.

Scale: the reference build is one |distinct values| histogram +
equidepth thresholds (the optimizer-statistics shape); each batch pays
one |distinct values in batch| histogram and a 10-row broadcast join —
no state store, no corpus re-read. The PSI terms are 1e-9-quantized
integer sums (the repo's order-free float-reduction convention), so a
monitor row is reproducible regardless of batch partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beacon_indexer_spark.operators.histogram import hist_quantiles

PSI_STABLE = 0.1
PSI_MODERATE = 0.25

QD_STABLE = 0.10
QD_MODERATE = 0.25


def value_deciles(values: DataFrame) -> DataFrame:
    """(q10, dec): the exact lower deciles q10/10 (q10 = 1..9) of the
    ``value`` column, rounded to cents: the smallest value whose
    cumulative count reaches ceil(q10·n/10)."""
    hist = values.groupBy(
        F.round(F.col("value") * 100, 0).cast("long").alias("__k")
    ).agg(F.count(F.lit(1)).cast("long").alias("__f"))
    _, q = hist_quantiles(hist, "__k", "__f", range(1, 10), 10)
    return q.select(
        F.col("r").alias("q10"),
        (F.col("__k").cast("double") / 100.0).alias("dec"),
    )


def quantile_reference(
    df: DataFrame, value_col: str, id_col: str, k: int = 256
) -> DataFrame:
    """(q10, ref) reference deciles (`value_deciles`) of a bottom-k
    priority sample (operators/sketches.py) — persist once, feed
    batch_quantile_drift."""
    from beacon_indexer_spark.operators.sketches import bottomk_sample

    samp = bottomk_sample(df, value_col, id_col, k=k)
    return value_deciles(samp).withColumnRenamed("dec", "ref")


def batch_quantile_drift(
    batch_df: DataFrame,
    reference: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 256,
) -> DataFrame:
    """One monitor row (n_rows, max_rel_shift, verdict) scoring a
    micro-batch's sample deciles against a `quantile_reference`: the
    score is the worst relative decile shift |cur−ref| / max(|ref|, 1)
    — location drift the bin-based PSI can miss when mass moves within
    a reference bin. A zero-row batch reads 'empty' (quiet periods are
    not drift); the per-decile arithmetic is 9 rows, the sample is
    k-bounded, nothing scales with the batch beyond the TakeOrdered."""
    from beacon_indexer_spark.operators.sketches import bottomk_sample

    n = batch_df.select(F.count(F.lit(1)).cast("long").alias("n_rows"))
    samp = bottomk_sample(batch_df, value_col, id_col, k=k)
    cur = value_deciles(samp)
    shift = (
        reference.join(cur, "q10", "left")
        .select(
            (
                F.abs(F.col("dec") - F.col("ref"))
                / F.greatest(F.abs("ref"), F.lit(1.0))
            ).alias("__d")
        )
        .agg(F.max("__d").alias("__m"))
    )
    out = n.crossJoin(F.broadcast(shift))
    return out.select(
        "n_rows",
        F.round(F.coalesce("__m", F.lit(0.0)), 6).alias("max_rel_shift"),
        F.when(F.col("n_rows") == 0, "empty")
        .when(F.coalesce("__m", F.lit(0.0)) < QD_STABLE, "stable")
        .when(F.coalesce("__m", F.lit(0.0)) < QD_MODERATE, "moderate")
        .otherwise("shifted")
        .alias("verdict"),
    )


def equidepth_edges(hist: DataFrame, key: str, count: str, bins: int):
    """(bin, edge): the upper edges of ``bins`` equidepth bins of a
    histogram — edge b is the exact lower quantile b/bins of the key.
    Returns ``(hist, edges)``, the histogram checkpointed as
    `hist_quantiles` returns it."""
    hist, q = hist_quantiles(hist, key, count, range(1, bins + 1), bins)
    return hist, q.select(F.col("r").alias("bin"), F.col(key).alias("edge"))


def assign_bins(hist: DataFrame, edges: DataFrame, key: str, bins: int) -> DataFrame:
    """Every row of ``hist`` with ``bin``: the first bin whose upper edge
    holds its key; the last bin also takes every key above its edge."""
    return (
        hist.crossJoin(F.broadcast(edges.select("bin", "edge")))
        .filter((F.col(key) <= F.col("edge")) | (F.col("bin") == bins))
        .groupBy(*hist.columns)
        .agg(F.min("bin").alias("bin"))
    )


def psi_score(dense: DataFrame, ref: str, cur: str, bins: int) -> DataFrame:
    """One row (n_ref, n_cur, psi, verdict) from per-bin counts ``dense``
    (one row per bin, reference count ``ref`` and current count ``cur``):
    PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) with 0.5-Laplace smoothing,
    which keeps empty bins finite, each term quantized to an integer
    count of 1e-9. The verdict reads the unrounded PSI against
    `PSI_STABLE` and `PSI_MODERATE`; psi is rounded to 6 places."""
    tots = dense.agg(
        F.sum(ref).cast("long").alias("n_ref"),
        F.sum(cur).cast("long").alias("n_cur"),
    )
    jd = dense.crossJoin(F.broadcast(tots))
    pr = (F.col(ref).cast("double") + 0.5) / (
        F.col("n_ref").cast("double") + 0.5 * bins
    )
    pc = (F.col(cur).cast("double") + 0.5) / (
        F.col("n_cur").cast("double") + 0.5 * bins
    )
    term = F.round((pc - pr) * F.log(pc / pr) * 1e9, 0).cast("long")
    out = jd.agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        (F.sum(term).cast("double") / 1e9).alias("__psi"),
    )
    psi = F.col("__psi")
    return out.select(
        "n_ref",
        "n_cur",
        F.round(psi, 6).alias("psi"),
        F.when(psi < PSI_STABLE, "stable")
        .when(psi < PSI_MODERATE, "moderate")
        .otherwise("shifted")
        .alias("verdict"),
    )


def psi_reference(df: DataFrame, value_col: str, bins: int = 10) -> DataFrame:
    """(bin, edge, ref_n): equidepth bin upper edges of `value_col` on the
    reference corpus plus the reference count per bin. Persist this once
    (it IS the monitoring contract) and feed it to `batch_psi`."""
    hist = df.groupBy(F.col(value_col).cast("long").alias("__w")).agg(
        F.count(F.lit(1)).cast("long").alias("__f")
    )
    hist, edges = equidepth_edges(hist, "__w", "__f", bins)
    per_bin = assign_bins(hist, edges, "__w", bins).groupBy("bin").agg(
        F.sum("__f").cast("long").alias("ref_n")
    )
    return edges.join(per_bin, "bin", "left").select(
        "bin", "edge", F.coalesce("ref_n", F.lit(0)).alias("ref_n")
    )


def batch_psi(
    batch_df: DataFrame,
    reference: DataFrame,
    value_col: str,
    bins: int | None = None,
) -> DataFrame:
    """One monitor row (n_rows, psi, verdict) scoring `batch_df` against
    a `psi_reference` frame (`psi_score`); bins has one row per reference
    decile so the join is a tiny broadcast. Pass `bins` (the reference
    row count, fixed for the life of the monitoring contract) when wiring
    into foreachBatch to avoid an extra Spark action per micro-batch;
    left None it is counted once per call. A zero-row batch reads verdict
    'empty' — quiet periods are not distribution shift."""
    if bins is None:
        bins = reference.count()
    hist = batch_df.groupBy(
        F.col(value_col).cast("long").alias("__w")
    ).agg(F.count(F.lit(1)).cast("long").alias("__f"))
    cur = assign_bins(hist, reference, "__w", bins).groupBy("bin").agg(
        F.sum("__f").cast("long").alias("__c")
    )
    dense = reference.join(cur, "bin", "left").select(
        "bin", "ref_n", F.coalesce("__c", F.lit(0)).alias("__c")
    )
    return psi_score(dense, "ref_n", "__c", bins).select(
        F.col("n_cur").alias("n_rows"),
        "psi",
        F.when(F.col("n_cur") == 0, "empty")
        .otherwise(F.col("verdict"))
        .alias("verdict"),
    )


ANN_HEALTHY = 0.9
ANN_DEGRADED = 0.6


def ann_recall_monitor(
    corpus: DataFrame,
    centroids: list,
    batch_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    max_queries: int | None = None,
) -> DataFrame:
    """Streaming ANN index-freshness monitor: one row
    (n_queries, mean_recall, verdict) scoring the FITTED IVF index
    against a micro-batch of new query vectors — recall@k of the
    probe-limited IVF search vs the batch-exact top-k over the same
    corpus. When freshly ingested vectors drift away from the fitted
    centroids, their nearest lists stop containing their true
    neighbors and recall decays — the signal that the index needs
    retraining, before retrieval quality degrades silently.

    Same fit-once/score-per-batch contract as `psi_reference`/
    `batch_psi`: ``centroids`` (and the corpus index) are built once at
    deploy time; each batch costs one broadcast probe-limited list join
    (the production search path) plus one exact control scan of the
    corpus for the batch's queries — the control is the expensive side,
    and ``max_queries`` bounds it: the monitor scores only the
    ``max_queries`` batch vectors with the smallest md5(id) — the house
    deterministic sample (`ivf_centroids`' idiom), so the control cost
    is max_queries × corpus regardless of batch size (monitoring needs
    an estimate, not every query; measured: unbounded control was 157 s
    at sf1 where the sampled monitor is ~3 s). A zero-row batch reads
    'empty' (quiet periods are not staleness). mean_recall =
    Σ hits / (n·k) — exact integer arithmetic until one final double
    division."""
    from beacon_indexer_spark.operators.similarity import (
        _HIER_THRESHOLD,
        brute_force_topk,
        ivf_exact_scored,
        ivf_topk,
    )

    if max_queries is not None:
        # staged: the sampled batch feeds the scoring join AND the
        # n_queries count — the md5 sort-limit job runs once, not twice
        batch_df = (
            batch_df.withColumn(
                "__r", F.md5(F.col(id_col).cast("string"))
            )
            .orderBy("__r", id_col)
            .limit(max_queries)
            .drop("__r")
            .localCheckpoint(eager=False)
        )
    if len(centroids) < _HIER_THRESHOLD:
        # ONE corpus scan for both rankings: the exact
        # control already scores every pair the IVF side could surface,
        # so IVF membership is a flag on the control's scored frame and
        # the exact∩approx join collapses into a window predicate.
        pairs = ivf_exact_scored(
            corpus, batch_df, centroids, id_col=id_col, vec_col=vec_col,
            k=k, nprobe=nprobe,
        )
        hits = pairs.filter(
            (F.col("rank") <= k)
            & (F.col("is_cand") == 1)
            & (F.col("ivf_rank") <= k)
        ).agg(F.count(F.lit(1)).cast("long").alias("__hits"))
    else:
        # two-level coarse path: candidate sets depend on the hierarchical
        # assignment — keep the audited operator composition
        approx = ivf_topk(
            corpus, batch_df, centroids, id_col=id_col, vec_col=vec_col,
            k=k, nprobe=nprobe,
        ).select("query_id", "neighbor_id")
        exact = brute_force_topk(
            corpus, batch_df, id_col=id_col, vec_col=vec_col, k=k
        ).select("query_id", "neighbor_id")
        hits = (
            exact.join(approx, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("__hits"))
        )
    nq = batch_df.select(F.count(F.lit(1)).cast("long").alias("n_queries"))
    out = nq.crossJoin(F.broadcast(hits))
    recall = F.coalesce(F.col("__hits"), F.lit(0)).cast("double") / (
        F.col("n_queries") * F.lit(k)
    )
    return out.select(
        "n_queries",
        F.round(
            F.when(F.col("n_queries") > 0, recall).otherwise(F.lit(0.0)), 6
        ).alias("mean_recall"),
        F.when(F.col("n_queries") == 0, "empty")
        .when(recall >= ANN_HEALTHY, "healthy")
        .when(recall >= ANN_DEGRADED, "degraded")
        .otherwise("stale")
        .alias("verdict"),
    )
