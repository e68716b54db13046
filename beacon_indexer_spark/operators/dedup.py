"""Deduplication operators for training-data pipelines.

Five families, all shuffle-aware for the 100 TB case:

- exact:      hash-groupBy on a content fingerprint (one shuffle, map-side
              partial agg; the shuffle carries (hash, id) pairs only).
- minhash:    shingle → k minhash signatures → LSH banding → bucket join.
              Candidate generation never compares all pairs: docs meet only
              inside a band bucket.
- simhash:    64-bit majority-vote fingerprint; near-dups share band keys.
- ngram jaccard: exact Jaccard over shingle sets for candidate pairs —
              used as the verify stage after LSH, or standalone at small
              scale.
- embedding:  cosine near-dup (see operators/similarity.py for ANN).

Every hash is derived from md5 so results are engine-portable (the DuckDB
oracle computes identical signatures) and cluster-deterministic (no
JVM-hash-seed dependence).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beacon_indexer_spark.measure import stage
from beacon_indexer_spark.operators.text import fingerprint, tokens, word_shingles

# 15 hex chars = 60 bits — fits signed 64-bit exactly, both engines.
_HEX_PREFIX_LEN = 15

# The row ceiling below which a measured node- or cluster-sized frame is
# broadcast into its join: ~tens of MB for two long columns, low hundreds
# at the ceiling. Shared by `connected_components`, `broadcast_if_small`
# and `graph.pagerank`.
BROADCAST_ROWS = 4_000_000

def _md5_long(c: Column, salt: int) -> Column:
    """Deterministic 60-bit integer hash of a string, salted: engine-portable
    (md5 + base-16 conv exist in Spark and DuckDB)."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), c))
    return F.conv(F.substring(h, 1, _HEX_PREFIX_LEN), 16, 10).cast("long")


# Universal-hash family for minhash: h_i(x) = (a_i * (md5_60(x) mod P) + b_i)
# mod P with P = 2^31-1 (Mersenne prime). ONE md5 per shingle; the k salted
# variants are integer arithmetic (products stay < 2^62 — no overflow in
# either engine). Constants derived from Knuth's multiplicative constant,
# fixed here so Spark and the DuckDB oracle agree byte-for-byte.
MINHASH_P = 2**31 - 1


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    return [
        (((i + 1) * 2654435761) % MINHASH_P | 1, ((i + 1) * 40503) % MINHASH_P)
        for i in range(k)
    ]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of identical (normalized) content: one row per duplicated
    fingerprint with the member ids and the keeper (min id).

    Scale: the groupBy shuffles only (fingerprint, id); text never moves.
    """
    fp = df.select(F.col(id_col).cast("long").alias(id_col), fingerprint(text_col).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) — min over shingles of k salted hashes.

    Computed without exploding: min-over-array per hash is a pure expression,
    so the stage is a narrow map (no shuffle at all). Docs shorter than one
    shingle get signature -1 (their own bucket family).

    Two-stage evaluation, each materialized as a projection so work is done
    once: (1) tokenize+shingle (regexp-heavy) → shingle array; (2) ONE md5
    per shingle reduced mod P; then each of the k signatures is just
    ``min((a_i*h + b_i) mod P)`` — integer arithmetic, no further hashing.

    ``shingled``: pass a pre-built ``(id_col, __sh)`` shingle-array frame
    (e.g. a checkpoint shared with an exact-Jaccard side) to skip the
    tokenize+shingle stage here — callers that consume the shingle sets
    AND the signatures pay the regexp-heavy pass once. Its
    columns must be exactly ``(id_col, "__sh")`` (a schema check, no job).
    """
    if shingled is None:
        shingled = df.select(
            F.col(id_col).cast("long").alias(id_col),
            word_shingles(text_col, shingle_n).alias("__sh"),
        )
    elif tuple(shingled.columns) != (id_col, "__sh"):
        raise ValueError(
            f"shingled frame must have columns ({id_col!r}, '__sh'), "
            f"got {tuple(shingled.columns)}"
        )
    hashed = shingled.select(
        F.col(id_col),
        F.transform(F.col("__sh"), lambda s: _md5_long(s, 0) % MINHASH_P).alias("__h"),
    )

    def affine(a: int, b: int):
        # closure factory: a default-arg lambda would become arity-2 and
        # receive the element index as its second argument
        return lambda h: (h * a + b) % MINHASH_P

    cols = [F.col(id_col)]
    for i, (a, b) in enumerate(minhash_coeffs(k)):
        mins = F.array_min(F.transform(F.col("__h"), affine(a, b)))
        cols.append(F.coalesce(mins, F.lit(-1)).alias(f"sig_{i}"))
    return hashed.select(*cols)


def _bucket_pairs(ids: Column) -> Column:
    """All (id_a < id_b) pairs within a sorted id array — in-bucket pair
    expansion, array<struct<id_a,id_b>>. The entries may be structs that
    lead with the id; each pair side is then the whole struct."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _pairs_from_buckets(
    keyed: DataFrame,
    id_col: str,
    *bucket_cols: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """(bucket → ids) groupBy, then expand pairs inside each bucket.

    One shuffle carrying (bucket_key, id) only — the upstream signature
    computation runs ONCE (a self-join would execute the whole branch
    twice).

    ``max_bucket`` is the 100-TB OOM guard: a bucket whose member set
    exceeds it is NOT expanded in-row (one aggregation row holding the
    whole bucket plus its quadratic pair array would blow an executor).
    Oversized buckets instead re-explode to (bucket, id) rows and pair via
    a distributed equi-join on the bucket key — identical pairs, but the
    quadratic output is spread across shuffle partitions instead of one
    row (AQE skew-split then subdivides it further). Semantics-preserving:
    the cap changes the physical plan only, never the result.

    Cost gating: with a cap set, the bucket aggregation is materialized
    ONCE (localCheckpoint — the overflow plan would otherwise recompute
    the whole upstream per branch; verified 0 ReusedExchange), and an
    ``observe`` metric measures the max bucket size IN the checkpoint
    job, deciding whether any bucket actually overflows — no separate
    probe job. The common clean case (no bucket > cap — every
    non-pathological corpus) skips the overflow branches and their union
    entirely, so the plan matches the uncapped one reading from the
    checkpoint. The probe is an eager action at plan-construction time —
    deliberate: it is how the physical plan is chosen, exactly like AQE's
    runtime re-planning.
    """
    return _pair_occurrences(
        keyed, id_col, *bucket_cols, max_bucket=max_bucket
    ).distinct()


def _pair_occurrences(
    keyed: DataFrame,
    id_col: str,
    *bucket_cols: str,
    df_cap: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Shared core of `_pairs_from_buckets` (distinct pairs) and
    `_counted_pairs_from_buckets` (shared-key counts): one row per
    (bucket, pair) occurrence, with the in-row/overflow split and the
    observe-in-checkpoint probe maintained in exactly ONE place.

    The probe is skipped entirely — no checkpoint, no extra job — when
    ``df_cap`` already bounds every bucket at or below ``max_bucket``
    (overflow is impossible by construction).
    """
    grouped = (
        keyed.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    if df_cap is not None:
        grouped = grouped.filter(F.size("__ids") <= df_cap)
    cap_active = max_bucket is not None and not (
        df_cap is not None and df_cap <= max_bucket
    )
    has_overflow = False
    if cap_active:
        from pyspark.sql import Observation

        obs = Observation()
        grouped = grouped.observe(
            obs, F.max(F.size("__ids")).alias("max_sz")
        ).localCheckpoint()
        has_overflow = (obs.get["max_sz"] or 0) > max_bucket
    in_row = grouped if not has_overflow else grouped.filter(
        F.size("__ids") <= max_bucket
    )
    pairs = (
        in_row.select(F.explode(_bucket_pairs(F.col("__ids"))).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    )
    if has_overflow:
        big = grouped.filter(F.size("__ids") > max_bucket)
        ex = big.select(*bucket_cols, F.explode("__ids").alias("__id"))
        big_pairs = (
            ex.select(*bucket_cols, F.col("__id").alias("id_a"))
            .join(ex.select(*bucket_cols, F.col("__id").alias("id_b")), list(bucket_cols))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        pairs = pairs.unionByName(big_pairs)
    return pairs


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 65536,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via LSH banding.

    k signatures split into `bands` bands of k/bands rows; docs sharing any
    band key are candidates. Implemented as band-bucket groupBy + in-bucket
    pair expansion: signatures are computed once and the only shuffle
    carries (band, key, id) triples. ``max_bucket`` routes pathologically
    large buckets (a near-identical boilerplate cluster) through the
    distributed overflow join in `_pairs_from_buckets`.

    ``sigs``: pass an existing `minhash_signatures(df, id_col, ...)` frame
    to band it directly — callers that also consume the signatures (e.g.
    estimator validation) avoid computing the shingle+hash pipeline twice.
    """
    keyed = minhash_band_keys(
        df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n, sigs=sigs
    )
    return _pairs_from_buckets(
        keyed, id_col, "band", "key", max_bucket=max_bucket
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(id, band, key) LSH band keys — the indexable dedup fingerprint.
    Shared by `minhash_lsh_candidates` (full-corpus pairing) and
    incremental ingest (band a NEW batch and equi-join it against the
    stored corpus keys — O(batch) work against an indexed corpus,
    never a corpus re-pair)."""
    assert k % bands == 0, "k must divide evenly into bands"
    rows_per_band = k // bands
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, k, shingle_n)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *parts)).alias("key"))
        )
    return sigs.select(
        id_col, F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def incremental_duplicates(
    corpus_keys: DataFrame, batch_keys: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Incremental-ingest dedup verdict: for each NEW document (in
    `batch_keys`, a `minhash_band_keys` frame), the minimum existing
    corpus doc sharing any LSH band key, plus how many distinct corpus
    docs matched. The production shape: the corpus side is the STORED
    band-key index (written once at ingest, e.g. a bucketed table on
    (band, key)); each new batch costs one equi-join of O(batch) keys
    against it — the corpus is never re-paired against itself."""
    j = batch_keys.join(
        corpus_keys.withColumnRenamed(id_col, "__old"), ["band", "key"]
    )
    return j.groupBy(id_col).agg(
        F.min("__old").alias("dup_of"),
        F.countDistinct("__old").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verify stage)
# ---------------------------------------------------------------------------

def shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct shingle sets."""
    return (
        df.select(
            F.col(id_col).cast("long").alias(id_col),
            F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("shingle"),
        )
    )


def candidate_common_shingles(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "id",
    shingle_col: str = "shingle",
) -> DataFrame:
    """Exact shingle-intersection sizes for CANDIDATE pairs only:
    (id_a, id_b, n_common) for each row of `pairs`, computed by joining
    the shingle frame THROUGH the pair frame — expand each pair by
    doc_a's shingles (Σ|S_a| over pairs rows), then keep the ones doc_b
    also has via an equi-join on (id_b, shingle). Work is bounded by
    candidate pairs × shingles-per-doc; a hot shingle present in d
    documents contributes nothing beyond the pairs that actually
    reference it — unlike a shingle self-join, whose d²/2 rows per
    stop-shingle are the classic exact-verify scale-killer. Pairs with
    an empty intersection produce NO row (callers left-join + coalesce
    to 0). `shingles` must be distinct per (id, shingle), as
    `shingle_sets` produces."""
    a = shingles.select(
        F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__s")
    )
    b = shingles.select(
        F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__s")
    )
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "__s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def frequent_shingles(
    df: DataFrame, id_col: str, text_col: str,
    df_cap: int = 10_000, shingle_n: int = 3,
) -> DataFrame:
    """Audit companion to `ngram_jaccard_pairs(df_cap=...)`: the shingles a
    given cap would drop from blocking, with their document frequency.
    Run (or `.count()`) this alongside a capped dedup job to log exactly
    what the cap discarded."""
    return (
        shingle_sets(df, id_col, text_col, shingle_n)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") > df_cap)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    df_cap: int | None = 10_000,
) -> DataFrame:
    """Exact Jaccard similarity over n-gram shingle sets for pairs above
    `threshold`. Without `candidates`, pairs are generated by joining on
    shared shingles (blocking on content, never a cross join); with
    `candidates` (e.g. LSH output), only those pairs are scored.

    ``df_cap`` is the quadratic-blow-up guard for real corpora: a stopword
    shingle shared by 10^6 documents would expand ~10^12 pairs from one
    blocking bucket. Shingles whose document frequency exceeds the cap are
    dropped from BLOCKING only (standard MinHash-verify practice) — their
    docs still pair through every rarer shared shingle, but a pair whose
    overlap is exclusively cap-exceeding shingles is missed, and
    `n_common` undercounts by the dropped shingles, so `df_cap` trades
    exactness for boundedness. Audit the trade with `frequent_shingles`
    (the dropped set is tiny — near-universal boilerplate). Set
    ``df_cap=None`` for exact semantics at small scale.

    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    counted = _shingle_pair_counts(
        df, id_col, text_col, shingle_n, candidates, df_cap
    )
    return (
        counted.select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    candidates: DataFrame | None,
    df_cap: int | None,
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for pairs sharing >= 1 blocking
    shingle — the shared engine under Jaccard and containment scoring.

    Shingle-blocked pair generation WITHOUT a self-join: group each
    shingle's (sorted, distinct) doc list, expand in-block pairs, count
    pair occurrences = |intersection|. Each list entry carries its doc's
    shingle-set size ``n``, so the sizes ride along with the pairs and the
    documents are tokenized and shingled once, with no size join."""
    sh = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("__sh"),
    ).select(
        F.struct("id", F.size("__sh").alias("n")).alias("__doc"),
        F.explode("__sh").alias("shingle"),
    )
    blocked = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("__doc")).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    if df_cap is not None:
        blocked = blocked.filter(F.size("__ids") <= df_cap)
    inter = (
        blocked.select(F.explode(_bucket_pairs(F.col("__ids"))).alias("p"))
        .groupBy(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_b.id").alias("id_b"),
            F.col("p.id_a.n").alias("n_a"),
            F.col("p.id_b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"], "left_semi")
    return inter


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    df_cap: int | None = 10_000,
) -> DataFrame:
    """One-sided near-duplication: containment C = |A∩B| / min(|A|,|B|) —
    the metric that catches a document EMBEDDED in another (quoted posts,
    boilerplate-wrapped copies, article + comments), which symmetric
    Jaccard dilutes toward 0 as the host document grows. Same blocked
    plan, ``df_cap`` caveats, and output shape as `ngram_jaccard_pairs`:
    (id_a, id_b, containment), id_a < id_b, containment >= threshold."""
    counted = _shingle_pair_counts(
        df, id_col, text_col, shingle_n, candidates, df_cap
    )
    return (
        counted.select(
            "id_a",
            "id_b",
            (F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def cross_corpus_overlap(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_common: int = 2,
    max_broadcast_shingles: int | None = 5_000_000,
) -> DataFrame:
    """Training-data decontamination: (train_id, eval_id, n_common) for
    every train document sharing at least ``min_common`` distinct n-gram
    shingles with an eval/benchmark document.

    Scale shape: the eval side is a BENCHMARK SET — thousands of docs
    against a 100 TB corpus — so its exploded (shingle, eval_id) set is
    broadcast and the corpus side never shuffles for the join; the only
    corpus-wide shuffle is the (train_id, eval_id) hit count, whose
    cardinality is bounded by actual contamination. Standard 13-gram
    decontamination is this exact plan with ``shingle_n=13``.

    Broadcast guard: an eval suite of ~10k docs × ~1k 13-gram shingles is
    ~10M (shingle, eval_id) rows ≈ low hundreds of MB — near the practical
    broadcast ceiling. ``max_broadcast_shingles`` probes the eval shingle
    count in the same job that materializes the eval side (an ``observe``
    metric on a localCheckpoint, the `_pairs_from_buckets` pattern) and
    falls back to a plain shuffle join above it; the eval side is
    checkpointed either way, so the probe is not an extra pass. Set
    ``None`` to broadcast unconditionally (caller asserts the bound).
    """
    tr = shingle_sets(train, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    ev = shingle_sets(evalset, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    if max_broadcast_shingles is not None:
        from pyspark.sql import Observation

        obs = Observation()
        ev = ev.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        if (obs.get["n"] or 0) <= max_broadcast_shingles:
            ev = F.broadcast(ev)
    else:
        ev = F.broadcast(ev)
    return (
        tr.join(ev, "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def _counted_pairs_from_buckets(
    keyed: DataFrame,
    id_col: str,
    *bucket_cols: str,
    df_cap: int | None = None,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """(bucket → ids) groupBy, in-bucket pair expansion, then a pair
    OCCURRENCE count — the counted sibling of `_pairs_from_buckets` for
    engines that need |shared keys| per pair (winnowing, containment).

    ``df_cap`` drops buckets above the cap ENTIRELY (a semantic choice —
    boilerplate keys; audit like `frequent_shingles`). ``max_bucket`` is
    the physical single-row guard below that: a bucket between the caps
    is expanded through a distributed self-equi-join on the bucket key
    (one row per shared key per pair — identical counts) instead of
    building C(n,2) structs inside ONE aggregation row. Shares
    `_pair_occurrences` with `_pairs_from_buckets` — ONE copy of the
    probe/overflow machinery — and the probe is skipped outright when
    df_cap <= max_bucket makes overflow impossible.
    """
    return _pair_occurrences(
        keyed, id_col, *bucket_cols, df_cap=df_cap, max_bucket=max_bucket
    ).groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared"))


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int | None = 10_000,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Local-overlap candidate pairs via winnowing fingerprints
    (`operators/text.py winnow_fingerprints`): (id_a, id_b, n_shared) for
    document pairs sharing at least ``min_shared`` distinct selected
    shingle-window minima — the MOSS-style detector for a COPIED PASSAGE
    inside otherwise-different documents, which whole-document minhash
    dilutes below threshold.

    Scale shape: identical to the shingle-blocked engine — fingerprints
    are a narrow map (no shuffle), blocking groups (fingerprint → sorted
    id set) in ONE shuffle carrying (fingerprint, id) only, in-bucket
    pair expansion, then a pair-count aggregation bounded by actual
    overlap. ``df_cap`` drops fingerprints shared by more documents than
    the cap from blocking (boilerplate minima — same trade and audit
    story as `ngram_jaccard_pairs`); ``max_bucket`` routes buckets below
    that cap but above the single-row bound through the distributed
    overflow join (`_counted_pairs_from_buckets`).
    """
    from beacon_indexer_spark.operators.text import winnow_fingerprints

    fps = winnow_fingerprints(df, id_col, text_col, n=n, w=w)
    counted = _counted_pairs_from_buckets(
        fps, "id", "fingerprint", df_cap=df_cap, max_bucket=max_bucket
    )
    return counted.filter(F.col("n_shared") >= min_shared)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    node_col: str = "node",
    label_col: str = "cluster_id",
    broadcast_rows: int | None = BROADCAST_ROWS,
) -> DataFrame:
    """Duplicate-cluster assignment from candidate pairs: (node, cluster_id)
    where cluster_id = the minimum id reachable through the pair graph —
    the standard label step after LSH (keep cluster_id, drop the rest).

    Min-label propagation with pointer jumping: each round every node takes
    the min of its own label, its neighbors' labels, AND its label's label
    (path halving) — convergence in O(log diameter) rounds, so max_iter=25
    covers any component a dedup job can produce (2^25-hop chains). Raises
    if the cap is still hit: silently returning partially-converged labels
    would split one duplicate cluster into several. Each round is ONE
    equi-join (the neighbor and pointer-jump lookups union their request
    sets first) + a map-side-combined min agg — O(|E|+|V|) shuffle per
    round, nothing driver-side but the convergence counter. Convergence is
    detected in the job that materializes the round: each node's previous
    label rides through the union as ``__old`` (max-folded in the same
    aggregate), and an ``observe`` metric counts improved labels while the
    checkpoint executes — no separate join+count job.

    Every round's result is ``localCheckpoint``ed: an iterative plan that
    references the previous round twice (label union + convergence join)
    otherwise nests its logical plan EXPONENTIALLY — by ~iteration 10 the
    driver OOMs just stringifying it. Checkpointing truncates lineage to
    the materialized result (on a durable cluster job, swap in
    ``checkpoint()`` with a checkpoint dir for executor-loss resilience).

    The label frame's row count rides each round's existing
    ``observe`` (plus one count on the init aggregation), and while it
    stays at or below ``broadcast_rows`` (the `broadcast_if_small`
    ceiling; ~tens of MB for a two-long-column frame) the per-round
    lookup join takes an explicit ``F.broadcast`` hint on the label
    side — each round then plans ONE exchange (the final min agg)
    instead of five (two shuffle joins' four plus the agg), which at
    bench scale removes four serial AQE stage materialisations per
    round and at cluster scale removes four shuffles of the label set.
    Above the ceiling (raw-crawl dup rates)
    every join falls back to the shuffle plan unchanged — the guard is
    the measured row count, not an estimate. Pass ``broadcast_rows=None``
    to pin the pure-shuffle plan. The returned frame carries the final
    observed row count as ``_bis_rows`` so `broadcast_if_small` can skip
    its probe job; ``node_col``/``label_col`` name the output columns at
    the source (a ``withColumnRenamed`` on top would shed the count).

    Jobs, read from their stage lists: init runs two, described
    ``bis:<scope>:cc.init`` (the init aggregate's shuffle-map stage and
    the checkpoint). Below the ceiling each round runs three, described
    ``bis:<scope>:cc.round<i>``: the label frame's broadcast, the min
    aggregate's shuffle-map stage, and the checkpoint's result stage,
    which carries the ``observe`` metrics. Adaptive execution submits
    each query stage as a job of its own.
    """
    from pyspark.sql import Observation

    # lazy checkpoint: edges are consumed by several branches of every
    # round's plan, but they don't need their own job — the init-label
    # checkpoint job materializes them once, and later rounds reuse the
    # stored blocks.
    # No distinct: every in-repo pair generator already emits
    # DISTINCT (id_a < id_b) pairs, so the two directed projections
    # cannot collide and an edge-level distinct would be a pure extra
    # exchange + dedupe of the whole edge set. Duplicate edges from a
    # hypothetical non-distinct caller stay CORRECT (min-label over a
    # multigraph equals min-label over its simple graph) — they only pay
    # their multiplicity in the per-round join.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .localCheckpoint(eager=False)
    )
    # init label = min(self, neighbors) — one aggregation over the
    # checkpointed edges (bidirectional, so groupBy(src) covers every
    # node) instead of the identity. A one-hop head start: clique-shaped
    # dup clusters (the common LSH output) converge in ONE round — the
    # confirmation pass — instead of two; chains still halve per round.
    # Correctness is invariant to init as long as each label is the min
    # of a reachable set containing the node itself.
    # Eager checkpoint + observed count: a lazy checkpoint would run
    # these stages at plan→RDD conversion anyway; eager materialisation
    # is what makes the row count available to pick the per-round join
    # strategy below.
    obs0 = Observation("cc_init")
    with stage("cc.init"):
        labels = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select(
                F.col("src").alias("node"),
                F.least(F.col("src"), F.col("__mn")).alias("label"),
            )
            .observe(obs0, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
    n_labels = int(obs0.get["n"] or 0)
    null_l = F.lit(None).cast(pairs.schema[id_a].dataType)
    for i in range(max_iter):
        # the label frame is node-deduplicated and exactly counted by the
        # previous round's observation — broadcast it into the per-round
        # lookup join while it provably fits
        bcast = broadcast_rows is not None and n_labels <= broadcast_rows
        lab = F.broadcast(labels) if bcast else labels
        # ONE lookup join per round: the neighbor propagation
        # (node dst learns label[src]) and the pointer jump / path
        # halving (node n learns label[label[n]] — doubles propagation
        # distance per round, turning long chains from O(diameter) into
        # O(log diameter)) are both "label[key] delivered to out-node"
        # lookups, so their request sets union FIRST (a narrow scan of
        # the two checkpoints) and resolve through a single equi-join
        # against the label frame — one broadcast (or one exchange pair)
        # per round instead of two.
        #
        # No separate `own` union branch: it would be redundant — the
        # pointer-jump delivery label[label[n]] <= label[n] (labels only
        # shrink toward the component min), so a node's own label never
        # wins the min; and the labels-branch request row (__out = n,
        # __key = label[n]) already KNOWS n's previous label, so __old
        # rides the request instead of a third |V|-row union branch.
        # Every node has exactly ONE labels-branch row, so max(__old)
        # still recovers its previous label inside the same aggregate.
        requests = edges.select(
            F.col("dst").alias("__out"),
            F.col("src").alias("__key"),
            null_l.alias("__old"),
        ).unionByName(
            labels.select(
                F.col("node").alias("__out"),
                F.col("label").alias("__key"),
                F.col("label").alias("__old"),
            )
        )
        looked_up = requests.join(
            lab, requests["__key"] == lab["node"]
        ).select(F.col("__out").alias("node"), "label", "__old")
        obs = Observation(f"cc_round_{i}")
        with stage(f"cc.round{i}"):
            merged = (
                looked_up
                .groupBy("node")
                .agg(F.min("label").alias("label"), F.max("__old").alias("__old"))
                .observe(
                    obs,
                    F.sum(
                        F.when(F.col("label") < F.col("__old"), 1).otherwise(0)
                    ).alias("changed"),
                    F.count(F.lit(1)).alias("n"),
                )
                .localCheckpoint()
            )
        labels = merged.select("node", "label")
        n_labels = int(obs.get["n"] or 0)
        # empty graph ⇒ sum over zero rows is NULL, which must read as
        # converged (0 changes), not "never converges"
        if (obs.get["changed"] or 0) == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "component diameter exceeds 2^max_iter hops (raise max_iter)"
        )
    out = labels.select(
        F.col("node").alias(node_col), F.col("label").alias(label_col)
    )
    out._bis_rows = n_labels  # read by broadcast_if_small; metadata only
    return out


def broadcast_if_small(
    df: DataFrame,
    max_rows: int = BROADCAST_ROWS,
    expect_rows_known: bool = False,
) -> DataFrame:
    """Conditional broadcast for frames whose size is DATA-dependent —
    the duplicate-cluster frame above all. "Dup clusters are a few
    percent of the corpus" holds for curated text but NOT for raw web
    crawls, where near-dup rates of 30-80% are normal; an unconditional
    ``F.broadcast`` there is a driver/executor OOM in the dedup ACTION
    path itself. This probes the actual row count and attaches the hint
    only below ``max_rows`` (default 4M rows ≈ low hundreds of MB for a
    two-long-column frame — the practical broadcast ceiling); above it
    the join falls back to a plain shuffle join, and AQE may still pick
    a runtime broadcast if the byte size allows.

    The probe is one count job over a lazily-localCheckpointed frame —
    for `connected_components` output (already checkpointed per round)
    that is a scan of cached blocks, not a recompute; either way the
    checkpointed frame is what the caller joins, so the probe's
    materialization is reused, never repeated. Same observe/probe
    pattern as `cross_corpus_overlap`'s eval-side guard.

    Frames that already KNOW their row count (CC output carries the
    final round's observed count as ``_bis_rows``) skip the probe job
    entirely, with the same verdict (the observed count IS the count the
    probe would measure).

    ``_bis_rows`` is a plain Python attribute, so ANY intervening
    DataFrame transformation sheds it and the probe job silently
    returns — correct, but a silent de-optimization. Callers that hand
    this function a frame that SHOULD carry the count (CC output taken
    straight from `connected_components`) pass ``expect_rows_known=True``:
    a shed count then raises under ``SPARK_GRAFT_DEV_ASSERT=1`` (the test
    suite sets it) and logs a warning otherwise, instead of silently
    re-adding the probe."""
    known = getattr(df, "_bis_rows", None)
    if known is not None:
        # CC output is already checkpoint-backed; no extra barrier needed
        return F.broadcast(df) if known <= max_rows else df
    if expect_rows_known:
        msg = (
            "broadcast_if_small(expect_rows_known=True) received a frame "
            "without _bis_rows — an intervening transformation shed the "
            "observed row count; falling back to the probe job. Take the "
            "connected_components output unmodified (name columns via "
            "node_col/label_col at the source) to keep the count."
        )
        if os.environ.get("SPARK_GRAFT_DEV_ASSERT") == "1":
            raise AssertionError(msg)
        import logging

        logging.getLogger(__name__).warning(msg)
    checkpointed = df.localCheckpoint(eager=False)
    if checkpointed.count() <= max_rows:
        return F.broadcast(checkpointed)
    return checkpointed


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document as a 16-hex-char string.

    Per token: 64 bits of md5(token)[:16]. Per bit: majority vote (+1/-1)
    across tokens. Pure expressions over arrays — a narrow map stage, no
    shuffle, no UDF.

    Staged for evaluation cost: (1) materialize the token-hash array once;
    (2) per hex position, ONE ``aggregate`` whose accumulator is a single
    long packing the four set-bit counters in 16-bit lanes (counts < 2^16
    tokens — far beyond any document) — a +1/-1 vote is positive iff the
    set-count exceeds half the tokens; (3) unpack lanes, assemble digits.
    16 cheap array traversals per row instead of 64 struct-merging ones.
    """
    from beacon_indexer_spark.operators.text import tokens

    LANE = 2**16
    tk = F.array_distinct(tokens(F.lower(F.col(text_col))))
    staged = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.transform(tk, lambda t: F.substring(F.md5(t), 1, 16)).alias("__h"),
    )

    # digits are generated as SQL text and parsed once per position —
    # building the same tree through the Column API costs thousands of
    # py4j round-trips of driver time (measured ~3s of plan construction)
    def digit_sql(pos: int) -> tuple[str, str]:
        sv = f"CAST(conv(substring(h, {pos}, 1), 16, 10) AS BIGINT)"
        packed = (
            f"aggregate(__h, CAST(0 AS BIGINT), (acc, h) -> acc"
            f" + ({sv} div 8 % 2) * {LANE**3}"
            f" + ({sv} div 4 % 2) * {LANE**2}"
            f" + ({sv} div 2 % 2) * {LANE}"
            f" + {sv} % 2)"
        )
        lanes = [
            f"(__c{pos} div {LANE**3}) % {LANE}",
            f"(__c{pos} div {LANE**2}) % {LANE}",
            f"(__c{pos} div {LANE}) % {LANE}",
            f"__c{pos} % {LANE}",
        ]
        # vote > 0 ⟺ 2*set_count > n_tokens
        bits = [f"(CASE WHEN ({lane}) * 2 > size(__h) THEN 1 ELSE 0 END)"
                for lane in lanes]
        digit_val = f"({bits[0]} * 8 + {bits[1]} * 4 + {bits[2]} * 2 + {bits[3]})"
        return packed, f"lower(conv(CAST({digit_val} AS STRING), 10, 16))"

    packed_cols, digit_exprs = [], []
    for pos in range(1, 17):  # hex digit positions in the md5 prefix
        packed, digit = digit_sql(pos)
        packed_cols.append(F.expr(packed).alias(f"__c{pos}"))
        digit_exprs.append(digit)
    counted = staged.select(F.col(id_col), F.col("__h"), *packed_cols)
    return counted.select(
        F.col(id_col),
        F.expr("concat(" + ", ".join(digit_exprs) + ")").alias("simhash"),
    )


def hamming_hex(a: str, b: str, n_digits: int = 16) -> Column:
    """Exact Hamming distance between two equal-length hex-string columns
    (SQL identifiers), digit-wise: per position, map each hex digit to
    0-15 via an ``instr`` lookup (no 64-bit parse — sign-safe at any
    width, the `hex_popcount` approach) and popcount the XOR. Pure
    expressions; DuckDB mirrors it with instr/xor/bit_count for oracle
    parity."""
    digit = "(instr('0123456789abcdef', substring({c}, i, 1)) - 1)"
    return F.expr(
        f"aggregate(sequence(1, {n_digits}), 0, (acc, i) -> "
        f"acc + bit_count({digit.format(c=a)} ^ {digit.format(c=b)}))"
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 12,
    bands: int = 4,
    max_bucket: int | None = 65536,
) -> DataFrame:
    """SimHash near-dup pairs with EXACT Hamming verification: banded
    blocking proposes candidates (`simhash_candidates` — docs agreeing on
    any contiguous simhash segment), then the true 64-bit Hamming
    distance filters them to ``<= max_dist``. The candidate shuffle
    carries (band, key, id) only; simhash values re-attach to the
    surviving pairs via two id equi-joins (computed once per side, never
    per pair) — the verify stage's cost is O(candidates), not O(n²).
    Output: (id_a, id_b, hamming), id_a < id_b.

    The corpus simhash is staged ONCE (lazy localCheckpoint): the banded
    candidate branch and the two verify-side re-attach joins all read the
    same materialized (id, simhash) projection — without it the 16-digit
    packed-lane vote aggregate runs over the corpus twice (measured 6.9 s
    → 3.4 s at sf0.1)."""
    sh = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    return hamming_hash_pairs(
        sh, id_col, "simhash", max_dist=max_dist, bands=bands,
        max_bucket=max_bucket,
    )


def hamming_hash_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_dist: int = 12,
    bands: int = 4,
    max_bucket: int | None = 65536,
) -> DataFrame:
    """Hamming near-dup pairs over ANY precomputed 64-bit hash rendered
    as 16 lowercase hex chars — shared by text SimHash
    (`simhash_hamming_pairs`) and perceptual image hashes
    (`operators/multimodal.py image_ahash`). Output: (id_a, id_b,
    hamming), id_a < id_b — every unordered pair at distance
    ``<= max_dist`` (for max_dist < bands; wider distances additionally
    require a shared contiguous segment, the documented banded recall
    envelope) exactly once.

    Scale shape (at sf1 a doc-level banded scheme measured 147 s / 159M
    candidates on 50k concentrated signatures):

    1. SIGNATURE COMPRESSION. Fingerprints repeat — precisely when the
       corpus is dup-dense — so ALL pair generation runs over DISTINCT
       hash values (35k classes for 50k docs at sf1; far fewer on real
       near-dup-heavy crawls). Doc pairs are recovered at the end by
       expanding class pairs through two hash-keyed equi-joins plus an
       in-class self-join — both bounded by OUTPUT size, the one term no
       complete pair listing can avoid.
    2. CANDIDATES. For ``max_dist <= 3`` (every shipped caller): exact
       multi-index Hamming (the Norouzi–Fleet pigeonhole split) — two
       32-bit halves; some half carries <= floor(3/2) = 1 flipped bits,
       so an asymmetric equi-join of exact half-keys against radius-1
       key-expanded variants (33 keys/half) reaches recall 1.0. 32-bit
       keys collide far less than 16-bit segments on concentrated
       signature sets (2.1M vs 159M sf1 candidates, measured), and
       candidate rows carry both hash strings through the join, so the
       verify stage needs NO re-attach joins. Wider distances fall back
       to contiguous-segment banding over the compressed classes through
       the capped `_pairs_from_buckets` engine.
    3. VERIFY: hex → two BIGINT halves per side, xor + bit_count —
       O(candidate classes), never O(n²) and never O(doc-level
       candidates).

    API scope (read before tuning):

    * ``bands`` and ``max_bucket`` apply ONLY to the banded fallback
      (``max_dist > 3``). The multi-index path ignores both: its recall
      is exact (1.0 for dist <= 3) regardless of banding, and its
      32-bit keys make overflow buckets a non-issue by construction —
      a caller tuning ``bands`` for recall at max_dist <= 3 is tuning a
      no-op (contract pinned by
      ``test_dedup_scale.py::test_hamming_recall_independent_of_bands``).
    * Input must be ONE row per (id, hash). Exact duplicate input rows
      yield duplicate output pairs (the class-expansion joins multiply
      multiplicities); de-dup upstream — every shipped caller (simhash,
      image_ahash) produces one row per doc by construction, so no
      defensive distinct is paid here.
    """
    mem = hashes.select(
        F.col(hash_col).alias("__sig"), F.col(id_col).alias("__mid")
    )
    dsig = mem.select("__sig").distinct()

    def half(col: str, start: int) -> Column:
        return F.expr(f"CAST(conv(substring({col}, {start}, 8), 16, 10) AS BIGINT)")

    ham = (
        F.bit_count(half("__sa", 1).bitwiseXOR(half("__sb", 1)))
        + F.bit_count(half("__sa", 9).bitwiseXOR(half("__sb", 9)))
    ).cast("int")
    if max_dist <= 3:
        halves_keyed = [
            F.struct(F.lit(b).alias("band"), half("__sig", 1 + 8 * b).alias("key"))
            for b in (0, 1)
        ]
        lef = dsig.select(
            F.col("__sig").alias("__sa"),
            F.explode(F.array(*halves_keyed)).alias("bk"),
        ).select("__sa", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        rig = (
            dsig.select(
                F.col("__sig").alias("__sb"),
                F.explode(F.array(*halves_keyed)).alias("bk"),
            )
            .select(
                "__sb",
                F.col("bk.band").alias("band"),
                # the half itself + its 32 single-bit flips: each true
                # pair lands on the exact key of the side it differs
                # from by the flipped bit, in exactly one band variant
                F.explode(
                    F.concat(
                        F.array(F.col("bk.key")),
                        F.expr(
                            "transform(sequence(0, 31), i ->"
                            " bk.key ^ shiftleft(CAST(1 AS BIGINT), i))"
                        ),
                    )
                ).alias("key"),
            )
        )
        close = (
            lef.join(rig, ["band", "key"])
            .filter(F.col("__sa") < F.col("__sb"))
            .select("__sa", "__sb")
            .distinct()
            .select("__sa", "__sb", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_dist)
        )
    else:
        reps = mem.groupBy("__sig").agg(F.min("__mid").alias("__rid"))
        seg = 16 // bands
        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.substring("__sig", b * seg + 1, seg).alias("key"),
            )
            for b in range(bands)
        ]
        keyed = reps.select(
            "__rid", F.explode(F.array(*band_cols)).alias("bk")
        ).select("__rid", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        rp = _pairs_from_buckets(keyed, "__rid", "band", "key", max_bucket=max_bucket)
        ra = reps.select(F.col("__rid").alias("id_a"), F.col("__sig").alias("__sa"))
        rb = reps.select(F.col("__rid").alias("id_b"), F.col("__sig").alias("__sb"))
        close = (
            rp.join(ra, "id_a")
            .join(rb, "id_b")
            .select("__sa", "__sb", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_dist)
        )
    ma = mem.select(F.col("__sig").alias("__sa"), F.col("__mid").alias("__ida"))
    mb = mem.select(F.col("__sig").alias("__sb"), F.col("__mid").alias("__idb"))
    cross = (
        close.join(ma, "__sa")
        .join(mb, "__sb")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "hamming",
        )
    )
    within = (
        ma.join(mb.withColumnRenamed("__sb", "__sa"), "__sa")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, bands: int = 4,
    max_bucket: int | None = 65536,
) -> DataFrame:
    """Near-dup candidates: docs sharing any of `bands` contiguous simhash
    segments (Hamming-ball blocking). Same join shape as minhash LSH."""
    sh = simhash(df, id_col, text_col)
    seg = 16 // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("simhash", b * seg + 1, seg).alias("key"),
        )
        for b in range(bands)
    ]
    keyed = sh.select(id_col, F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    return _pairs_from_buckets(keyed, id_col, "band", "key", max_bucket=max_bucket)


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_dist: int = 3,
    band_lengths: bool | None = None,
    band_threshold_rows: int = 100_000,
    band_min_spread: int = 8,
) -> DataFrame:
    """Entity-resolution candidate pairs: rows whose `name_col` values are
    within `max_dist` Levenshtein edits, restricted to rows sharing the
    blocking key. Returns (id_a, id_b, name_a, name_b, dist).

    Scale shape: classic blocked ER — the O(n²) edit-distance comparison
    never runs globally; the self-join is an EQUI-join on the blocking
    key (one key shuffle), so cost is Σ block_size² over blocks. Two
    semantics-preserving refinements keep that sum in check when block
    keys are coarser than the corpus growth:

    * LENGTH BANDING (adaptive). dist ≤ d implies |len(a) − len(b)| ≤ d,
      so each block is subdivided by name-length bands of width d+1: the
      left side carries its band, the right side replicates ×3 into bands
      {b−1, b, b+1}. Every qualifying pair matches in EXACTLY one
      replica (band_a − band_b is a single fixed value), so no dedup
      pass is needed, and candidate volume drops from Σ block² to
      Σ (block ∩ length-band)² × 3. The replication pays a fixed ~3×
      shuffle volume, so it only wins when subdivision actually splits
      blocks — which requires the NAME-LENGTH SPREAD to cover many bands.
      Measured both ways: at sf0.1 (20k rows) unconditional banding cost
      ~2×; at sf1 (200k rows, homogeneous two-word names spanning ~3
      bands) banded 139 s vs unbanded 122 s — subdivision gained nothing
      and the replication roughly cancelled it. ``band_lengths=None``
      (the default) therefore probes ONE small aggregate over a lazily
      localCheckpointed frame (count, min/max name length — the frame
      the join then reuses) and bands only when rows >
      ``band_threshold_rows`` AND the length range spans at least
      ``band_min_spread`` bands (wide-spread corpora: titles, addresses,
      product descriptions). Pass True/False to force either plan.
    * THRESHOLDED VERIFY. `levenshtein(a, b, threshold)` abandons the
      DP once the distance provably exceeds d — O(len·d) per pair, not
      O(len²) — and rejects |len(a) − len(b)| > d in O(1) before
      touching the DP, so no explicit length pre-filter is applied: a
      measured sf0.1 A/B showed the "cheap" `abs(length−length) ≤ d`
      guard costing ~1.8× (two per-pair O(len) char counts duplicating
      the check levenshtein performs internally). Applied on BOTH plans.

    Pick block keys the way record-linkage does (coarse attribute +
    cheap name prefix); audit block sizes with the `frequent_shingles` /
    `dedup_graph_degrees` pattern before widening a block. Levenshtein
    is a JVM builtin (no UDF) computed only inside sub-blocks, after the
    id_a < id_b triangle filter halves the candidates. The block columns
    ride along in the output (constant within a pair by construction), so
    per-block rollups need no re-join against the input.
    """
    w = max_dist + 1
    if band_lengths is None:
        df = df.localCheckpoint(eager=False)
        # .rdd builds the checkpoint RDD without running a job;
        # getNumPartitions is metadata, and the probe's collect below is
        # what materializes the blocks the join then reuses — the split
        # count is free here
        n_parts = df.rdd.getNumPartitions()
        probe = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.length(F.col(name_col))).alias("mn"),
            F.max(F.length(F.col(name_col))).alias("mx"),
            # block-key cardinality rides the same probe: a keyed spread
            # on a low-cardinality key collapses to |blocks| populated
            # partitions — worse than round-robin
            # (a struct, so a key with a NULL part still counts)
            F.countDistinct(F.struct(*[F.col(c) for c in block_cols])).alias("nb"),
        ).collect()[0]
        spread_bands = ((probe["mx"] or 0) - (probe["mn"] or 0)) // w + 1
        band_lengths = (
            probe["n"] > band_threshold_rows
            and spread_bands >= band_min_spread
        )
        # Spread: a small-file scan hands the edit-distance stage a
        # SINGLE partition (the verify kernel is CPU-dense, its bytes are
        # tiny — AQE's byte-based coalescing cannot help). Repartition by
        # the BLOCK KEY up to the session parallelism so a sort-merge
        # block join reuses the exchange and a broadcast join's probe
        # side runs wide. No-op whenever the input already has >= cores
        # partitions (any real deployment), like plans/queries._spread.
        # When the key is too coarse to fill the cores (docstring
        # tells callers to pick COARSE blocks), a keyed spread would run
        # |blocks|-wide — round-robin instead; the broadcast-join probe
        # side then runs full-width and the SMJ path pays the same block
        # exchange it always did.
        n_cores = df.sparkSession.sparkContext.defaultParallelism
        if n_parts < n_cores:
            if (probe["nb"] or 0) >= n_cores:
                df = df.repartition(n_cores, *[F.col(c) for c in block_cols])
            else:
                df = df.repartition(n_cores)
    if band_lengths:
        band = (F.length(F.col(name_col)) / w).cast("long")
        left = df.select(
            *[F.col(c) for c in block_cols],
            band.alias("__lb"),
            F.col(id_col).cast("long").alias("id_a"),
            F.col(name_col).alias("name_a"),
        )
        right = df.select(
            *[F.col(c) for c in block_cols],
            F.explode(
                F.array(band - 1, band, band + 1)
            ).alias("__lb"),
            F.col(id_col).cast("long").alias("id_b"),
            F.col(name_col).alias("name_b"),
        )
        join_keys = [*block_cols, "__lb"]
    else:
        left = df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).cast("long").alias("id_a"),
            F.col(name_col).alias("name_a"),
        )
        right = df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).cast("long").alias("id_b"),
            F.col(name_col).alias("name_b"),
        )
        join_keys = list(block_cols)
    return (
        left.join(right, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b", max_dist).cast("long")
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(*block_cols, "id_a", "id_b", "name_a", "name_b", "dist")
    )


def pair_attribute_matrix(
    pairs: DataFrame,
    attrs: DataFrame,
    id_col: str = "doc_id",
    attr_col: str = "source",
) -> DataFrame:
    """Cross-attribute duplicate leakage matrix: label each duplicate
    candidate pair with the ``attr_col`` (source, domain, shard, split …)
    of BOTH members and count pairs / distinct member docs per unordered
    attribute combination — the "which sources plagiarize each other"
    report that decides where dedup budget goes and whether an eval split
    leaks into training sources. Output: (attr_a <= attr_b, n_pairs,
    n_docs).

    100-TB shape: two equi-joins keyed on the id (pair side is the
    candidate list — orders of magnitude smaller than the corpus after
    banding; the attribute dim is a 2-column projection of the corpus, so
    each join shuffles |pairs| + |corpus x 2 cols|, never full rows). The
    two aggregations are map-side combined and keyed by the attribute
    combination (bounded by n_attrs^2) and by combination x doc — output
    sized, never corpus-squared.
    """
    dim = attrs.select(
        F.col(id_col).alias("__id"), F.col(attr_col).alias("__attr")
    )
    labeled = (
        pairs.select("id_a", "id_b")
        .join(
            dim.select(
                F.col("__id").alias("id_a"), F.col("__attr").alias("__aa")
            ),
            "id_a",
        )
        .join(
            dim.select(
                F.col("__id").alias("id_b"), F.col("__attr").alias("__ab")
            ),
            "id_b",
        )
        .select(
            F.least("__aa", "__ab").alias("attr_a"),
            F.greatest("__aa", "__ab").alias("attr_b"),
            "id_a",
            "id_b",
        )
    )
    n_pairs = labeled.groupBy("attr_a", "attr_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        labeled.select(
            "attr_a", "attr_b", F.explode(F.array("id_a", "id_b")).alias("__d")
        )
        .groupBy("attr_a", "attr_b")
        .agg(F.countDistinct("__d").cast("long").alias("n_docs"))
    )
    return n_pairs.join(n_docs, ["attr_a", "attr_b"]).select(
        "attr_a", "attr_b", "n_pairs", "n_docs"
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (suffix-array family, Lee et al. 2022)
# ---------------------------------------------------------------------------

def token_kgram_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc_id, pos, gram): every length-``k`` token shingle with its
    0-based start position. Tokenization is lowercase, whitespace-split,
    empties dropped — the corpus-wide normalization shared with the
    shingle engine. Narrow map only (no shuffle); documents shorter than
    ``k`` tokens emit nothing."""
    toks = tokens(F.lower(F.col(text_col)))
    return (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            toks.alias("__toks"),
        )
        .filter(F.size("__toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - F.lit(k)),
                    lambda i: F.array_join(
                        F.slice("__toks", i + F.lit(1), F.lit(k)), " "
                    ),
                )
            ).alias("pos", "gram"),
        )
    )


def _merge_marked_spans(marked: DataFrame, k: int) -> DataFrame:
    """Shared span-merge rule of the suffix-array family (the Lee et al.
    coverage semantics, pinned by the brute-force fuzz oracle): given
    marked k-gram start positions (doc_id, pos), merge runs whose
    coverage intervals [p, p+k-1] touch (break when the gap between
    consecutive starts exceeds ``k``) into maximal spans
    (doc_id, span_start, span_end, n_tokens).

    One per-doc sessionize: a doc_id-partitioned lag/cumsum window, then
    a groupBy over (doc_id, run) — linear in marked positions."""
    seq = Window.partitionBy("doc_id").orderBy("pos")
    grp = (
        marked.withColumn(
            "__new",
            F.when(
                F.col("pos") - F.lag("pos").over(seq) > k, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__grp",
            F.sum("__new").over(
                seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        grp.groupBy("doc_id", "__grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_tokens"),
        )
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans, the suffix-array dedup of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models Better")
    re-expressed as a Spark shuffle instead of a corpus-wide suffix array:
    (doc_id, span_start, span_end, n_tokens) — maximal token runs covered
    by some length-``k`` token shingle occurring ``min_occurrences``+ times
    corpus-wide (cross-doc or repeated within one doc, exactly the
    suffix-array criterion "this k-token string appears elsewhere").

    Equivalence: a suffix array finds maximal repeated substrings of
    length >= k; a token position p starts such a substring iff its
    k-gram is non-unique. Marking those positions and merging runs whose
    coverage intervals [p, p+k-1] touch reproduces the maximal duplicated
    spans (the set of tokens a suffix-array pass would remove).

    Scale shape (the part the suffix array can't do distributed):
    occurrence counting is a ``groupBy(gram).count()`` — partial (map-
    side) aggregation shrinks the count shuffle to distinct grams — and
    the surviving dup-gram list equi-joins back to positions on gram,
    where AQE's skew-join splitting applies. A gram-partitioned window
    count would shuffle every occurrence to one task per gram with
    neither defense: a boilerplate gram with 10⁸ occurrences at corpus
    scale becomes one straggler task. Span merging is the
    shared per-doc sessionize (`_merge_marked_spans`). No all-pairs
    stage anywhere; hot grams (boilerplate) cost their occurrence count,
    never its square.
    """
    grams = token_kgram_positions(df, id_col, text_col, k)
    dup_grams = (
        grams.groupBy("gram")
        .count()
        .filter(F.col("count") >= min_occurrences)
        .select("gram")
    )
    marked = grams.join(dup_grams, "gram").select("doc_id", "pos")
    return _merge_marked_spans(marked, k)


def substring_dup_rate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-document duplicated-token coverage from `substring_dup_spans`:
    (doc_id, doc_tokens, dup_tokens, dup_rate). Spans are disjoint maximal
    runs, so summing their lengths is the exact covered-token count; docs
    with no duplicated span report 0. The standard curation signal: drop
    or trim documents whose training text is mostly copied."""
    spans = substring_dup_spans(df, id_col, text_col, k, min_occurrences)
    covered = spans.groupBy("doc_id").agg(
        F.sum("n_tokens").cast("long").alias("dup_tokens")
    )
    toks = tokens(F.lower(F.col(text_col)))
    sizes = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(toks).cast("long").alias("doc_tokens"),
    )
    return (
        sizes.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "doc_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest("doc_tokens", F.lit(1)),
                6,
            ).alias("dup_rate"),
        )
    )


def cross_corpus_contamination_spans(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination (the OTHER use of the suffix-array
    machinery): maximal token spans in TRAIN documents covered by a
    length-``k`` token shingle that appears ANYWHERE in the TEST corpus
    — the spans to strip before training so evaluation data cannot leak.
    (doc_id, span_start, span_end, n_tokens), train ids only.

    Scale shape: the test side reduces to DISTINCT grams (bounded by the
    benchmark, tiny next to the corpus) and the train side streams
    through one equi-join on the gram — no train-side self-pairing at
    all, so this is strictly cheaper than `substring_dup_spans`. Span
    merging is the same per-doc sessionize."""
    tr = token_kgram_positions(train, id_col, text_col, k)
    te = token_kgram_positions(test, id_col, text_col, k).select(
        "gram"
    ).distinct()
    marked = tr.join(te, "gram").select("doc_id", "pos")
    return _merge_marked_spans(marked, k)


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Apply span removal: rebuild each document's text WITHOUT the
    tokens inside its spans (disjoint [span_start, span_end] token
    ranges, as `substring_dup_spans`/`cross_corpus_contamination_spans`
    emit). Returns (doc_id, clean_text, orig_tokens, kept_tokens).

    Plan: spans aggregate to one array per doc (few spans per doc by
    construction — they are maximal merged runs), broadcast-or-shuffle
    left join back, then a single JVM HOF filters the token array by
    index with an exists() over the span array — no explode of tokens,
    no Python. Documents with no spans pass through verbatim (modulo
    the canonical lowercase/whitespace normalization both sides of the
    dedup pipeline share)."""
    sp = spans.groupBy(F.col("doc_id").alias("__sid")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("__toks")
    )
    joined = base.join(
        sp, base.doc_id == F.col("__sid"), "left"
    ).drop("__sid")
    # keep token i unless some span covers it; positions are 0-based
    kept = F.expr(
        "filter(__toks, (t, i) -> NOT exists(coalesce(__spans,"
        " array()), s -> i >= s.span_start AND i <= s.span_end))"
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__toks").cast("long").alias("orig_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
    )


def substring_dup_spans_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Keep-first exact substring dedup — `substring_dup_spans` marks
    EVERY occurrence of a duplicated k-gram; this variant marks only the
    NON-FIRST occurrences (first = smallest (doc_id, pos) corpus-wide),
    which is the actual Lee et al. removal policy: one copy of every
    passage survives, so stripping these spans loses no content.

    The first occurrence is the per-gram argmin of (doc_id, pos) —
    computed as ``min(struct(doc_id, pos))`` INSIDE the same partial-
    aggregated ``groupBy(gram)`` that counts occurrences ((doc_id, pos)
    is unique within a gram, so the struct minimum IS row_number()==1
    over a per-gram window). No gram-partitioned window anywhere: the count
    shuffle carries distinct grams (map-side combine), the join back to
    positions gets AQE skew-splitting, and the marked positions flow
    into the shared per-doc sessionize (`_merge_marked_spans`)."""
    grams = token_kgram_positions(df, id_col, text_col, k)
    firsts = (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("__occ"),
            F.min(F.struct("doc_id", "pos")).alias("__first"),
        )
        .filter(F.col("__occ") >= min_occurrences)
        .select("gram", "__first")
    )
    marked = (
        grams.join(firsts, "gram")
        .filter(
            (F.col("doc_id") != F.col("__first.doc_id"))
            | (F.col("pos") != F.col("__first.pos"))
        )
        .select("doc_id", "pos")
    )
    return _merge_marked_spans(marked, k)
