"""Streaming curation decision: the per-micro-batch ``admit`` verdict,
the Structured Streaming analogue of ``CurationRun.decision()``
(plans/pipeline.py).

Batch curation clusters the WHOLE corpus (LSH->CC). A streaming ingest
can't re-pair the stored corpus per batch, so dedup and decontamination
run in their incremental form, with per-batch cost O(batch) against a
stored index:

- **dedup**: the batch's `minhash_band_keys` equi-join the ACCUMULATED
  band-key index (plus the batch's own earlier-id keys, so within-batch
  copies don't slip through); any match makes the doc a duplicate of its
  minimum matching id. First-seen-wins ONLINE semantics: equivalent to
  batch `CurationRun`'s min-id keep whenever every non-first cluster
  member shares a band with an earlier member (always true for exact
  copies); a cluster chained ONLY through a later-arriving middleman can
  admit one extra doc vs batch CC — the standard online-dedup deviation,
  pinned by the parity tests.
- **decontamination**: the held-out eval corpus reduces ONCE to a stored
  DISTINCT k-gram index; each batch's `token_kgram_positions` equi-join
  it and spans merge per doc. The eval corpus is static, so this index
  never grows with the stream.

Everything else is the batch policy itself: the token count, quality
gate, split, keep/trim/drop verdict, ``include`` and ``admit`` columns
come from the rules next to `CurationRun` in plans/pipeline.py, so batch
and streaming apply them identically by construction.

``admit`` = not-duplicate AND quality-pass AND contamination verdict !=
'drop' — column-compatible with `CurationRun.decision()` (``dup_of``
stands where batch emits ``cluster_id``; an admitted doc's dup_of is its
own id).

At 100 TB scale the indexes are bucketed tables on (band, key) / (gram):
each micro-batch is one shuffle-light equi-join per index plus narrow
maps — no stage touches more than O(batch + matched index rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beacon_indexer_spark.operators.dedup import (
    _merge_marked_spans,
    minhash_band_keys,
    token_kgram_positions,
)
from beacon_indexer_spark.operators.sampling import split_assign
from beacon_indexer_spark.operators.text import quality_score
from beacon_indexer_spark.plans.pipeline import (
    DEFAULT_SPLIT_FRACS,
    admitted,
    contaminated_tokens,
    contamination,
    doc_token_count,
    included,
    quality_pass,
)


def admit_decision(
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    stored_keys: DataFrame | None = None,
    batch_keys: DataFrame | None = None,
    eval_grams: DataFrame | None = None,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    quality_threshold: float = 0.5,
    split_fracs: list[tuple[str, float]] | None = None,
    decon_k: int = 8,
    drop_threshold: float = 0.5,
    trim_threshold: float = 0.05,
) -> DataFrame:
    """The pure per-batch curation decision — a function of (batch,
    stored band-key index, eval-corpus distinct grams), no file IO:
    (doc_id, dup_of, n_matches, keep, q6, q_pass, split, include,
    contam_tokens, contam_rate, contam_verdict, admit).

    ``stored_keys`` is the accumulated (id, band, key) LSH index (None =
    empty corpus); ``batch_keys`` optionally supplies the batch's own
    band keys pre-staged (callers sharing one `minhash_band_keys` frame
    across both sides; without it the batch's keys are banded here and
    localCheckpointed, since both sides of the dedup join read them);
    ``eval_grams`` the eval corpus's DISTINCT ``gram`` column (None = no
    decon stage). Used by `StreamingCuration` inside foreachBatch and
    exposed directly so the decision is oracle-checkable as a batch query
    (`doc_streaming_admit` in plans/queries.py runs it against a
    recursive-free DuckDB mirror of the online semantics)."""
    idc = id_col
    # ---- dedup: batch keys vs stored index + earlier-id batch keys
    if batch_keys is None:
        batch_keys = minhash_band_keys(
            batch_df, idc, text_col, k=k, bands=bands, shingle_n=shingle_n
        ).localCheckpoint()
    cand = batch_keys.select(
        "band", "key",
        F.col(idc).alias("__old"),
        F.lit(False).alias("__prior"),
    )
    if stored_keys is not None:
        cand = stored_keys.select(
            "band", "key",
            F.col(idc).alias("__old"),
            F.lit(True).alias("__prior"),
        ).unionByName(cand)
    dups = (
        batch_keys.join(cand, ["band", "key"])
        # stored docs always precede the batch; within the batch,
        # smaller id = earlier (online first-seen-wins order)
        .filter(F.col("__prior") | (F.col("__old") < F.col(idc)))
        .groupBy(idc)
        .agg(
            F.min("__old").alias("dup_of"),
            F.countDistinct("__old").alias("n_matches"),
        )
    )
    # ---- decon: batch grams vs the eval-gram set
    if eval_grams is not None:
        grams = token_kgram_positions(batch_df, idc, text_col, decon_k)
        marked = grams.join(eval_grams, "gram").select("doc_id", "pos")
        covered = contaminated_tokens(
            _merge_marked_spans(marked, decon_k)
        ).withColumnRenamed("doc_id", idc)
    else:
        covered = batch_df.select(
            F.col(idc).cast("long").alias(idc)
        ).limit(0).withColumn("contam_tokens", F.lit(0).cast("long"))
    # ---- narrow per-row stages + assembly
    spine = batch_df.select(
        F.col(idc).cast("long").alias(idc),
        F.round(quality_score(text_col), 6).alias("q6"),
        split_assign(F.col(idc), split_fracs or DEFAULT_SPLIT_FRACS).alias("split"),
        doc_token_count(text_col).alias("__doc_tokens"),
    )
    joined = spine.join(dups, idc, "left").join(covered, idc, "left")
    keep = F.col("dup_of").isNull().cast("int")
    q_pass = quality_pass(F.col("q6"), quality_threshold)
    include = included(keep, q_pass)
    contam_tokens, rate, verdict = contamination(
        F.col("contam_tokens"), F.col("__doc_tokens"),
        drop_threshold, trim_threshold,
    )
    return joined.select(
        idc,
        F.coalesce("dup_of", F.col(idc)).cast("long").alias("dup_of"),
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        keep.alias("keep"),
        "q6",
        q_pass.alias("q_pass"),
        "split",
        include.alias("include"),
        contam_tokens.alias("contam_tokens"),
        rate.alias("contam_rate"),
        verdict.alias("contam_verdict"),
        admitted(include, verdict).alias("admit"),
    )


class StreamingCuration:
    """foreachBatch curation: build once, call ``ingest`` per micro-batch.

    Parameters mirror ``CurationRun``; ``band_index_path`` /
    ``gram_index_path`` are parquet directories holding the accumulated
    (band, key, doc_id) LSH index and the static eval-corpus distinct
    k-gram index. ``test_docs`` (the held-out eval corpus) seeds the gram
    index at construction; omit both to run without a decon stage (every
    doc gets verdict 'keep').
    """

    def __init__(
        self,
        spark: SparkSession,
        band_index_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 8,
        bands: int = 4,
        shingle_n: int = 3,
        quality_threshold: float = 0.5,
        split_fracs: list[tuple[str, float]] | None = None,
        test_docs: DataFrame | None = None,
        gram_index_path: str | None = None,
        decon_k: int = 8,
        drop_threshold: float = 0.5,
        trim_threshold: float = 0.05,
    ) -> None:
        self.spark = spark
        self.band_index_path = band_index_path
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.bands = bands
        self.shingle_n = shingle_n
        self.quality_threshold = quality_threshold
        self.split_fracs = split_fracs
        self.decon_k = decon_k
        self.drop_threshold = drop_threshold
        self.trim_threshold = trim_threshold
        self.gram_index_path = gram_index_path
        if test_docs is not None:
            if gram_index_path is None:
                raise ValueError(
                    "test_docs given without gram_index_path to store "
                    "the eval-corpus gram index"
                )
            # the decon index is the eval corpus's DISTINCT grams —
            # written once here, read per batch; it never grows with the
            # stream (the eval benchmark is fixed)
            token_kgram_positions(
                test_docs, id_col, text_col, decon_k
            ).select("gram").distinct().write.mode("overwrite").parquet(
                gram_index_path
            )

    # ------------------------------------------------------------------

    def _index_nonempty(self, path: str | None) -> bool:
        return bool(path) and os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )

    def decide_batch(self, batch_df: DataFrame) -> DataFrame:
        """The decision frame for one micro-batch, WITHOUT index
        mutation — delegates to the pure `admit_decision` with the
        stored indexes read from parquet. Idempotent: callers that need
        exactly-once semantics can re-run it before
        `append_batch_keys`."""
        stored = (
            self.spark.read.parquet(self.band_index_path)
            if self._index_nonempty(self.band_index_path)
            else None
        )
        eval_grams = (
            self.spark.read.parquet(self.gram_index_path)
            if self._index_nonempty(self.gram_index_path)
            else None
        )
        return admit_decision(
            batch_df,
            self.id_col,
            self.text_col,
            stored_keys=stored,
            eval_grams=eval_grams,
            k=self.k,
            bands=self.bands,
            shingle_n=self.shingle_n,
            quality_threshold=self.quality_threshold,
            split_fracs=self.split_fracs,
            decon_k=self.decon_k,
            drop_threshold=self.drop_threshold,
            trim_threshold=self.trim_threshold,
        )

    def append_batch_keys(self, batch_df: DataFrame) -> None:
        """Grow the band-key index with this batch's keys (EVERY doc's
        keys, admitted or not: future copies of a rejected duplicate
        must still hit SOME stored fingerprint, and the min-id aggregate
        keeps verdicts deterministic)."""
        minhash_band_keys(
            batch_df, self.id_col, self.text_col,
            k=self.k, bands=self.bands, shingle_n=self.shingle_n,
        ).write.mode("append").parquet(self.band_index_path)

    def ingest(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """foreachBatch body: decide, then grow the index. Returns the
        COLLECT-READY decision frame (localCheckpoint-backed so the
        caller's sink writes don't recompute against the grown index)."""
        decision = self.decide_batch(batch_df).localCheckpoint()
        self.append_batch_keys(batch_df)
        return decision
