"""End-to-end batch pipeline: beacon API → raw lake → transform → structured lake.

``load_chunks`` is the load half (SURVEY §3.1): ledger chunks → one
distributed fetch → one raw write → chunks marked completed or failed.
The transform half is the Spark shape of the reference's ``transform run``
lifecycle (SURVEY §3.2): discovery (anti-join) → range read → latest-wins
parse projections → one write per table → progress record. Steps that
were processes/asyncio in the reference collapse into one Spark job per
chunk range; the repair entry point (reference ``maintain fix``,
``src/services/maintenance.py:77-138``) becomes re-transform + dynamic
partition overwrite.
"""

from __future__ import annotations

import time
from functools import cached_property, partial, reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from beacon_indexer_spark.config import ForkSchedule
from beacon_indexer_spark.control.ledger import (
    COMPLETED,
    FAILED,
    ChunkLedger,
    ProgressManifest,
    untransformed_chunks,
)
from beacon_indexer_spark.functions.core import run_concurrently
from beacon_indexer_spark.measure import stage
from beacon_indexer_spark.operators.dedup import (
    broadcast_if_small,
    connected_components,
    cross_corpus_contamination_spans,
    minhash_lsh_candidates,
)
from beacon_indexer_spark.operators.sampling import leakage_safe_split, split_assign
from beacon_indexer_spark.operators.text import quality_score, token_count, tokens
from beacon_indexer_spark.plans.transform import TRANSFORMS, TransformResult, transform_blocks
from beacon_indexer_spark.schemas.structured import RAW_TO_STRUCTURED
from beacon_indexer_spark.sources import beacon_api as B
from beacon_indexer_spark.sources.storage import ParquetLake, ParquetSink


def _coalesce_ranges(
    ranges: list[tuple[int, int]]
) -> list[list[tuple[int, int]]]:
    """Group sorted chunk ranges into runs of contiguous ranges
    (end + 1 == next start). Each run becomes one merged transform job,
    and one fetch range of ``load_chunks``."""
    runs: list[list[tuple[int, int]]] = []
    for r in sorted(ranges):
        if runs and runs[-1][-1][1] + 1 == r[0]:
            runs[-1].append(r)
        else:
            runs.append([r])
    return runs


def transform_tables(
    raw: DataFrame,
    raw_table: str,
    schedule: ForkSchedule,
    tables: list[str] | None = None,
    insert_version: int | None = None,
) -> TransformResult:
    """Uniform transform entry: any raw table → {structured_table: build}."""
    if raw_table == "raw_blocks":
        return transform_blocks(raw, schedule, tables=tables, insert_version=insert_version)
    fn = TRANSFORMS[raw_table]
    name = RAW_TO_STRUCTURED[raw_table][0]
    if tables is not None and name not in tables:
        return TransformResult()
    return TransformResult({name: partial(fn, raw, schedule, insert_version=insert_version)})


def write_tables(sink, outs: TransformResult, mode: str = "append") -> dict[str, int]:
    """Write each transformed table once; returns {table: rows_written}.
    Each count is an ``Observation`` on the written frame (no job of its
    own), so ``sink.write`` must execute the frame.

    The first table's write fills the shared parse cache of
    ``transform_blocks``, so it runs alone; the other tables are then built
    and written from a pool of at most ``defaultParallelism`` driver
    threads, so ``sink.write`` is called from several threads at once. A
    failure is re-raised once every write has settled, and the parse cache
    is released after all of them. Each write's jobs are described
    ``bis:<scope>:write.<table>``."""
    from beacon_indexer_spark import observability as O

    def write(name: str) -> int:
        obs = Observation()
        with stage(f"write.{name}"):
            sink.write(name, outs[name].observe(obs, F.count(F.lit(1)).alias("rows")), mode=mode)
        rows = obs.get["rows"]
        O.METRICS.inc("beacon_indexer_rows_written_total", {"table": name}, rows)
        return rows

    first, rest = list(outs)[:1], list(outs)[1:]
    try:
        counts = {name: write(name) for name in first}
        if rest:
            workers = min(len(rest), SparkSession.active().sparkContext.defaultParallelism)
            counts.update(zip(rest, run_concurrently(
                [partial(write, name) for name in rest], workers)))
    finally:
        outs.unpersist()
    return counts


def load_chunks(
    lake: ParquetLake,
    ledger: ChunkLedger,
    loader: B.LoaderSpec,
    chunks: list[dict],
    fetch_cfg: B.FetchConfig,
    chunk_size: int,
    api_factory=None,
) -> None:
    """Load exactly the ledger ``chunks`` of ``loader`` into its raw table:
    every slot of each contiguous run of chunks (daily-snapshot loaders:
    the UTC day ends in it) is fetched by one distributed stage of
    ``chunk_size``-slot tasks and written once, then the chunks are marked
    completed. On any failure they are marked failed, counted, and
    reported on ``/health``, and the error propagates."""
    from beacon_indexer_spark import observability as O

    if not chunks:
        return
    spark, sched = lake.spark, lake.schedule
    runs = [(r[0][0], r[-1][1]) for r in
            _coalesce_ranges([(c["start_slot"], c["end_slot"]) for c in chunks])]
    try:
        fm = B.FetchMetrics(spark, loader.name)
        if loader.daily:
            slots = [s for lo, hi in runs for s in sched.day_end_slots(lo, hi)]
            frames = [B.fetch_slot_list_distributed(
                spark, fetch_cfg, loader,
                spark.createDataFrame([(s,) for s in slots], "slot long"), sched,
                slots_per_task=chunk_size, api_factory=api_factory, metrics=fm,
            )] if slots else []
        else:
            frames = [B.fetch_slots_distributed(
                spark, fetch_cfg, loader, lo, hi, sched,
                slots_per_task=chunk_size, api_factory=api_factory, metrics=fm,
            ) for lo, hi in runs]
        if frames:
            lake.write(loader.raw_table, reduce(DataFrame.union, frames))
            fm.fold()
        ledger.mark(chunks, COMPLETED)
    except Exception as e:  # noqa: BLE001 — record then re-raise
        ledger.mark(chunks, FAILED)
        O.METRICS.inc("beacon_indexer_chunks_total",
                      {"loader": loader.name, "status": FAILED}, len(chunks))
        O.update_health(status="failed", operation=f"load {loader.name}",
                        error=O.error_text(e),
                        failed_range=[loader.name, runs[0][0], runs[-1][1]])
        raise
    O.METRICS.inc("beacon_indexer_chunks_total",
                  {"loader": loader.name, "status": COMPLETED}, len(chunks))


class BeaconPipeline:
    def __init__(
        self,
        lake: ParquetLake,
        progress: ProgressManifest | None = None,
        tables: dict[str, list[str]] | None = None,
        sink=None,
    ):
        self.lake = lake
        self.schedule = lake.schedule
        self.progress = progress
        self.allow = tables or {}  # raw_table → allowed structured tables (P8)
        # storage-backend selection (reference storage_factory.py:4-13):
        # raw always lives in the lake; structured output goes to the sink
        self.sink = sink if sink is not None else ParquetSink(lake)

    def transform_range(
        self,
        raw_table: str,
        start_slot: int,
        end_slot: int,
        mode: str = "append",
        record_ranges: list[tuple[int, int]] | None = None,
    ) -> dict[str, int]:
        """Transform one chunk range and write every structured table it
        feeds. Returns {table: rows_written}. Any failure marks the whole
        range failed (reference semantics, transformer.py:299-302).

        The range is read as stored, duplicates included: the transform's
        ``dedup_raw`` is its one latest-wins step. ``write_tables`` writes
        each table once and counts its rows during that write. ``/health``
        reports ``failed`` (error and range) or ``ok`` (last good slot).

        ``record_ranges`` records progress per constituent chunk while the
        transform itself runs as ONE Spark job over the merged range — the
        batched-discovery path (at 100× chunk counts, per-chunk job launch
        overhead dominates; the merged job keeps discovery granularity
        intact because completion rows still match chunk boundaries).
        """
        from beacon_indexer_spark import observability as O

        ranges = record_ranges or [(start_slot, end_slot)]
        t0 = time.monotonic()
        try:
            raw = self.lake.read(raw_table).filter(F.col("slot").between(start_slot, end_slot))
            outs = transform_tables(raw.drop("date"), raw_table, self.schedule,
                                    tables=self.allow.get(raw_table),
                                    insert_version=time.time_ns())
            counts = write_tables(self.sink, outs, mode)
            if self.progress:
                total = sum(counts.values())
                # merged runs attribute the row total to the first chunk so
                # stats() sums stay exact without a per-chunk recount
                self.progress.record_many(
                    [
                        (raw_table, s, e, COMPLETED, total if i == 0 else 0, 0, None)
                        for i, (s, e) in enumerate(ranges)
                    ]
                )
            O.METRICS.inc("beacon_indexer_chunks_total",
                          {"loader": raw_table, "status": COMPLETED}, len(ranges))
            O.METRICS.observe("beacon_indexer_chunk_duration_seconds",
                              time.monotonic() - t0,
                              {"loader": raw_table, "operation": "transform"},
                              buckets=O.CHUNK_DURATION_BUCKETS)
            O.update_health(status="ok", operation=f"transform {raw_table}",
                            last_good_slot=end_slot, error=None, failed_range=None)
            return counts
        except Exception as e:  # noqa: BLE001 — record then re-raise
            err = O.error_text(e)
            if self.progress:
                self.progress.record_many(
                    [(raw_table, lo, hi, FAILED, 0, 0, err) for lo, hi in ranges]
                )
            O.METRICS.inc("beacon_indexer_transform_failures_total",
                          {"loader": raw_table})
            O.update_health(status="failed", operation=f"transform {raw_table}",
                            error=err,
                            failed_range=[raw_table, start_slot, end_slot])
            raise

    def transform_pending(self, ledger_current: list[dict], raw_table: str, limit: int = 50):
        """Discovery + execution: the reference's transform-batch loop body.

        Contiguous pending chunks coalesce into one merged `transform_range`
        job per run (progress still recorded per chunk) — N adjacent chunks
        cost one Spark job + one write per table instead of N.
        """
        if self.progress is None:
            raise ValueError("transform_pending requires a ProgressManifest")
        todo = untransformed_chunks(
            ledger_current, self.progress.current(), raw_table, limit=limit
        )
        results = []
        for run_ranges in _coalesce_ranges([(r["start_slot"], r["end_slot"]) for r in todo]):
            s, e = run_ranges[0][0], run_ranges[-1][1]
            counts = self.transform_range(
                raw_table, s, e, record_ranges=run_ranges
            )
            results.append((s, e, counts))
        return results

    def repair_range(self, raw_table: str, start_slot: int, end_slot: int) -> dict[str, int]:
        """Re-transform a range and overwrite only the affected daily
        partitions — the DELETE-free repair (reference C9→ SURVEY §4).

        The overwrite replaces whole ``date=`` partitions, so the
        re-transform covers every slot of the range's UTC days; progress
        is recorded for the requested range only."""
        first, last = self.schedule.utc_day_bounds(start_slot, end_slot)
        return self.transform_range(
            raw_table, first, last, mode="overwrite",
            record_ranges=[(start_slot, end_slot)],
        )


# ---------------------------------------------------------------- curation
#
# The curation policy. Each rule is written once, here: `CurationRun`'s
# methods and the streaming decision (`streaming.curation.admit_decision`)
# build their columns from these, so batch and streaming curation cannot
# drift apart.

DEFAULT_SPLIT_FRACS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def doc_token_count(text_col: str) -> Column:
    """A document's lowercase whitespace token count: the unit the
    decontamination spans are measured in, so the denominator of its
    contamination rate."""
    return F.size(tokens(F.lower(F.col(text_col)))).cast("long")


def quality_pass(q6: Column, threshold: float) -> Column:
    """1 when the rounded quality score reaches ``threshold``, else 0."""
    return (q6 >= threshold).cast("int")


def included(keep: Column, q_pass: Column) -> Column:
    """1 for a kept copy that passes the quality gate, else 0."""
    return (keep.cast("boolean") & q_pass.cast("boolean")).cast("int")


def contaminated_tokens(spans: DataFrame) -> DataFrame:
    """(doc_id, contam_tokens) from contamination spans. Spans are
    disjoint maximal runs, so their lengths sum to the exact count."""
    return spans.groupBy("doc_id").agg(
        F.sum("n_tokens").cast("long").alias("contam_tokens")
    )


def contamination(
    contam_tokens: Column,
    doc_tokens: Column,
    drop_threshold: float,
    trim_threshold: float,
) -> tuple[Column, Column, Column]:
    """(contam_tokens, contam_rate, verdict) of a document, from its
    contaminated-token count (NULL when no span touches it) and its
    token count: 'drop' above ``drop_threshold``, 'trim' at
    ``trim_threshold`` or above, otherwise 'keep'. The rate is reported
    rounded to 6 places; the verdict reads it unrounded."""
    ct = F.coalesce(contam_tokens, F.lit(0)).cast("long")
    rate = ct / F.greatest(doc_tokens, F.lit(1))
    verdict = (
        F.when(rate > drop_threshold, "drop")
        .when(rate >= trim_threshold, "trim")
        .otherwise("keep")
    )
    return ct, F.round(rate, 6), verdict


def admitted(include: Column, verdict: Column) -> Column:
    """1 for an included document that decontamination does not drop. A
    trimmed document stays admitted; `strip_spans` removes its spans on
    the way out."""
    return (include.cast("boolean") & (verdict != "drop")).cast("int")


class CurationRun:
    """Batch curation of one corpus: LSH→connected-components duplicate
    clusters, the keep policy, the quality gate, the split and, with
    ``test_docs``, benchmark decontamination. It is the only
    implementation of these outputs: the spine and decontamination
    queries in plans/queries.py (`doc_curation_manifest`,
    `corpus_dedup_summary`, `doc_contamination_verdict`, ...) each build
    a run and return one of its frames, so the DuckDB oracle gate checks
    this code.

    Building a run launches no Spark job. The cluster frame is staged on
    first access of ``clusters``, once per run: it is
    `localCheckpoint`-backed and carries its observed row count, so
    `broadcast_if_small` decides broadcast or shuffle join without a
    probe job, and every method that reads it shares one signature and
    banding pass (tests/test_custom_joins_curation.py). A run used only
    for decontamination never stages it.

    The contamination-span frame is staged only by `decision`, the one
    method that reads both frames; it stages the two from two driver
    threads. `contamination_spans` and `contamination_verdict` have a
    single consumer each and read the spans unstaged.

    The staging jobs are described ``bis:<scope>:curation.clusters`` and
    ``bis:<scope>:curation.contamination``; the connected-components
    jobs inside the first are ``cc.init`` and ``cc.round<i>``.
    """

    def __init__(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 8,
        bands: int = 4,
        shingle_n: int = 3,
        quality_threshold: float = 0.5,
        split_fracs: list[tuple[str, float]] | None = None,
        max_bucket: int | None = 65536,
        keep_policy: str = "min_id",
        test_docs: DataFrame | None = None,
        decon_k: int = 8,
        drop_threshold: float = 0.5,
        trim_threshold: float = 0.05,
    ) -> None:
        if keep_policy not in ("min_id", "best_quality"):
            raise ValueError(
                f"keep_policy must be 'min_id' or 'best_quality', got {keep_policy!r}"
            )
        self.docs = docs
        self.id_col = id_col
        self.text_col = text_col
        self.quality_threshold = quality_threshold
        self.keep_policy = keep_policy
        self.split_fracs = split_fracs or DEFAULT_SPLIT_FRACS
        self._pairs = partial(
            minhash_lsh_candidates, docs, id_col, text_col, k=k, bands=bands,
            shingle_n=shingle_n, max_bucket=max_bucket,
        )
        # decontamination (optional): the held-out eval corpus whose
        # k-gram spans must be flagged/stripped from the training docs
        self.test_docs = test_docs
        self.decon_k = decon_k
        self.drop_threshold = drop_threshold
        self.trim_threshold = trim_threshold

    @cached_property
    def clusters(self) -> DataFrame:
        """(doc_id, cluster_id) of every document in a duplicate cluster,
        staged on first access: checkpoint-backed and broadcast-hinted
        below the ceiling (raw-crawl dup rates fall back to a shuffle
        join). ``node_col`` at the source keeps CC's observed row count
        on the frame, so `broadcast_if_small` skips its probe job."""
        with stage("curation.clusters"):
            return broadcast_if_small(
                connected_components(self._pairs(), node_col=self.id_col),
                expect_rows_known=True,
            )

    def _clustered(self, spine: DataFrame) -> tuple[DataFrame, Column]:
        """``spine`` left-joined to the cluster frame, and the resolved
        cluster id (a singleton is its own cluster)."""
        joined = spine.join(self.clusters, self.id_col, "left")
        return joined, F.coalesce(F.col("cluster_id"), F.col(self.id_col))

    def _id(self) -> Column:
        return F.col(self.id_col).cast("long").alias(self.id_col)

    def _q6(self) -> Column:
        return F.round(quality_score(self.text_col), 6).alias("q6")

    def _policy_cols(self) -> list[Column]:
        """The id, and q6 when the keep policy ranks by it."""
        if self.keep_policy == "best_quality":
            return [self._id(), self._q6()]
        return [self._id()]

    def _keep_col(self, cid):
        """The keep verdict under the configured policy, evaluated over a
        frame that carries ``cid`` (resolved cluster id) and — for
        ``best_quality`` — a ``q6`` column. ``min_id`` keeps the cluster's
        minimum id (the CC label, zero extra work); ``best_quality`` keeps
        the highest-q6 copy (`doc_keep_best`'s Dolma/FineWeb policy) via a
        per-cluster PARTITIONED window — never global."""
        from pyspark.sql import Window

        if self.keep_policy == "min_id":
            return (cid == F.col(self.id_col)).cast("int")
        w = Window.partitionBy(cid).orderBy(
            F.desc("q6"), F.asc(self.id_col)
        )
        return (F.row_number().over(w) == 1).cast("int")

    def keep_list(self) -> DataFrame:
        """(doc_id, cluster_id, [q6,] keep) — `doc_keep_list` (min_id
        policy) / `doc_keep_best` (best_quality policy), reading the
        staged cluster frame."""
        joined, cid = self._clustered(self.docs.select(*self._policy_cols()))
        cols = [self.id_col, cid.cast("long").alias("cluster_id")]
        if self.keep_policy == "best_quality":
            cols.append(F.col("q6"))
        return joined.select(*cols, self._keep_col(cid).alias("keep"))

    def _manifest(self, *extra: Column) -> DataFrame:
        """`manifest`'s columns, followed by the ``extra`` docs columns."""
        spine = self.docs.select(
            self._id(),
            self._q6(),
            split_assign(F.col(self.id_col), self.split_fracs).alias("split"),
            *extra,
        )
        joined, cid = self._clustered(spine)
        keep = self._keep_col(cid)
        q_pass = quality_pass(F.col("q6"), self.quality_threshold)
        return joined.select(
            self.id_col,
            cid.cast("long").alias("cluster_id"),
            keep.alias("keep"),
            "q6",
            q_pass.alias("q_pass"),
            "split",
            included(keep, q_pass).alias("include"),
            *spine.columns[3:],
        )

    def manifest(self) -> DataFrame:
        """(doc_id, cluster_id, keep, q6, q_pass, split, include) —
        `doc_curation_manifest`; under ``best_quality`` the keep flag
        follows `doc_keep_best`."""
        return self._manifest()

    def summary(self) -> DataFrame:
        """One-row rollup — `corpus_dedup_summary`."""
        tot = self.docs.agg(F.count(F.lit(1)).alias("n_docs"))
        stats = (
            self.clusters.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("__sz"))
            .agg(
                F.coalesce(F.sum("__sz"), F.lit(0)).alias("n_dup_docs"),
                F.count(F.lit(1)).alias("n_clusters"),
                F.coalesce(F.max("__sz"), F.lit(0)).alias("max_cluster_size"),
            )
        )
        j = tot.crossJoin(F.broadcast(stats))
        removed = F.col("n_dup_docs") - F.col("n_clusters")
        return j.select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("max_cluster_size").cast("long").alias("max_cluster_size"),
            (F.col("n_docs") - removed).cast("long").alias("n_kept"),
            # NULL on an empty corpus, like the SQL oracle (ANSI `/` raises)
            F.round(F.try_divide(removed.cast("double"), F.col("n_docs")), 6)
            .alias("dup_rate"),
        )

    def cluster_size_dist(self) -> DataFrame:
        """(cluster_size, n_clusters, n_docs) — `dedup_cluster_size_dist`,
        reading the staged cluster frame (singletons included via the
        coalesce-to-own-id spine)."""
        joined, cid = self._clustered(self.docs.select(self._id()))
        sizes = joined.select(cid.alias("__cid")).groupBy("__cid").agg(
            F.count(F.lit(1)).alias("__sz")
        )
        return (
            sizes.groupBy("__sz")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_clusters"),
                F.sum("__sz").cast("long").alias("n_docs"),
            )
            .select(
                F.col("__sz").cast("long").alias("cluster_size"),
                "n_clusters",
                "n_docs",
            )
        )

    def _keep_frame(self, source_col: str = "source") -> DataFrame:
        """Docs spine + resolved cluster id + configured keep verdict —
        the shared base for the budget/length rollups. Carries q6 when
        the policy needs it."""
        joined, cid = self._clustered(self.docs.select(
            *self._policy_cols(),
            F.col(source_col).alias("source"),
            token_count(self.text_col).cast("long").alias("__nt"),
        ))
        return joined.select(
            self.id_col,
            "source",
            "__nt",
            self._keep_col(cid).alias("__keep"),
        )

    def token_budget(self, source_col: str = "source") -> DataFrame:
        """(source, n_docs, n_kept, tokens_total, tokens_kept, kept_frac)
        — `source_token_budget` under the min_id policy; under
        best_quality the kept copy is the highest-q6 one."""
        kf = self._keep_frame(source_col)
        return (
            kf.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("__keep").cast("long").alias("n_kept"),
                F.sum("__nt").cast("long").alias("tokens_total"),
                F.sum(F.when(F.col("__keep") == 1, F.col("__nt")).otherwise(0))
                .cast("long")
                .alias("tokens_kept"),
            )
            .withColumn(
                "kept_frac",
                # NULL for a source whose docs have no tokens
                F.round(
                    F.try_divide(
                        F.col("tokens_kept").cast("double"),
                        F.col("tokens_total").cast("double"),
                    ),
                    6,
                ),
            )
        )

    def dup_rate_by_length(self) -> DataFrame:
        """(len_band, n_docs, n_dups, dup_rate) —
        `corpus_dup_rate_by_length` (fixed token-length CASE bands)."""
        # no source column needed: the id stands in for the unused
        # "source" slot of the shared keep frame
        kf = self._keep_frame(source_col=self.id_col)
        band = (
            F.when(F.col("__nt") <= 32, "a_le32")
            .when(F.col("__nt") <= 64, "b_le64")
            .when(F.col("__nt") <= 128, "c_le128")
            .when(F.col("__nt") <= 256, "d_le256")
            .otherwise("e_gt256")
        )
        return (
            kf.select(band.alias("len_band"), F.col("__keep"))
            .groupBy("len_band")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.lit(1) - F.col("__keep")).cast("long").alias("n_dups"),
                F.round(
                    F.sum(F.lit(1) - F.col("__keep")).cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("dup_rate"),
            )
        )

    def leakage_split(
        self, train_rate: float = 0.9, salt: int = 7
    ) -> DataFrame:
        """(doc_id, cluster_id, split, naive_split, moved) —
        `split_leakage_guard`: split verdicts hash the staged CLUSTER id
        so near-copies never straddle the eval boundary."""
        return leakage_safe_split(
            self.docs, self.clusters, self.id_col,
            train_rate=train_rate, salt=salt,
        )

    # ------------------------------------------------ decontamination

    def _spans(self) -> DataFrame:
        """`cross_corpus_contamination_spans` of the training docs
        against ``test_docs``, unstaged."""
        if self.test_docs is None:
            raise ValueError(
                "CurationRun built without test_docs; pass the held-out "
                "eval corpus to enable the decontamination stage"
            )
        return cross_corpus_contamination_spans(
            self.docs, self.test_docs, self.id_col, self.text_col,
            k=self.decon_k,
        )

    @cached_property
    def _staged_spans(self) -> DataFrame:
        """The span frame, staged once per run (localCheckpoint)."""
        with stage("curation.contamination"):
            return self._spans().localCheckpoint()

    def contamination_spans(self) -> DataFrame:
        """(doc_id, span_start, span_end, n_tokens) —
        `corpus_decontamination_spans`."""
        return self._spans().select(
            "doc_id", "span_start", "span_end", "n_tokens"
        )

    def contamination_verdict(self) -> DataFrame:
        """(doc_id, doc_tokens, contam_tokens, contam_rate, verdict) —
        `doc_contamination_verdict`: each training doc's
        contaminated-token share and the keep/trim/drop verdict."""
        base = self.docs.select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            doc_token_count(self.text_col).alias("doc_tokens"),
        )
        ct, rate, verdict = contamination(
            F.col("contam_tokens"), F.col("doc_tokens"),
            self.drop_threshold, self.trim_threshold,
        )
        covered = contaminated_tokens(self._spans())
        return base.join(covered, "doc_id", "left").select(
            "doc_id",
            "doc_tokens",
            ct.alias("contam_tokens"),
            rate.alias("contam_rate"),
            verdict.alias("verdict"),
        )

    def decision(self) -> DataFrame:
        """The full curation decision: `manifest`'s columns extended with
        the decontamination verdict — (doc_id, cluster_id, keep, q6,
        q_pass, split, include, contam_tokens, contam_rate,
        contam_verdict, admit). It stages the clusters and the spans
        concurrently; every column then reads their checkpoint blocks.

        One corpus scan computes q6, split and the token count the
        contamination rate divides by; the small per-doc coverage
        aggregate (contaminated docs only) left-joins in, so the verdict
        costs no second corpus scan or corpus-sized join."""
        run_concurrently(
            [lambda: self.clusters, lambda: self._staged_spans], max_workers=2
        )
        man = self._manifest(doc_token_count(self.text_col).alias("__doc_tokens"))
        covered = contaminated_tokens(self._staged_spans).withColumnRenamed(
            "doc_id", self.id_col
        )
        ct, rate, verdict = contamination(
            F.col("contam_tokens"), F.col("__doc_tokens"),
            self.drop_threshold, self.trim_threshold,
        )
        return man.join(covered, self.id_col, "left").select(
            *man.columns[:-1],  # all but __doc_tokens
            ct.alias("contam_tokens"),
            rate.alias("contam_rate"),
            verdict.alias("contam_verdict"),
            admitted(F.col("include"), verdict).alias("admit"),
        )
