"""Scale-guard tests for dedup/similarity candidate generation: the
max_bucket overflow join and the ngram df-cap must bound per-bucket work
without changing results (overflow) / while bounding pair expansion (cap)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from beacon_indexer_spark.measure import job_count
from beacon_indexer_spark.operators import dedup as D
from beacon_indexer_spark.operators import similarity as S


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect())


def test_pairs_from_buckets_overflow_equivalent(spark):
    # one huge bucket (60 ids) + several small ones; the capped plan routes
    # the huge bucket through the distributed join — pairs must be identical
    rows = [("hot", "k1", i) for i in range(60)]
    rows += [("b%d" % b, "k2", 1000 + b * 10 + i) for b in range(5) for i in range(3)]
    keyed = spark.createDataFrame(rows, "band string, key string, id long")
    plain = _pairs(D._pairs_from_buckets(keyed, "id", "band", "key", max_bucket=None))
    capped = _pairs(D._pairs_from_buckets(keyed, "id", "band", "key", max_bucket=10))
    assert plain == capped
    assert len(plain) == 60 * 59 // 2 + 5 * 3


def test_pairs_from_buckets_cap_above_sizes_is_noop(spark):
    rows = [("b", "k", i) for i in range(8)]
    keyed = spark.createDataFrame(rows, "band string, key string, id long")
    assert _pairs(
        D._pairs_from_buckets(keyed, "id", "band", "key", max_bucket=100)
    ) == _pairs(D._pairs_from_buckets(keyed, "id", "band", "key", max_bucket=None))


def _docs(spark, n=20):
    # every doc shares the universal prefix shingle; each also has a unique tail
    rows = [
        (i, "common shared prefix unique%d tail%d word%d" % (i, i, i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_df_cap_bounds_pair_expansion(spark):
    docs = _docs(spark, 20)
    # uncapped: the universal "common shared prefix" shingle blocks all
    # 20*19/2 pairs into one bucket
    uncapped = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.0, df_cap=None
    )
    assert uncapped.count() == 20 * 19 // 2
    # capped below the universal shingle's df: the stopword-like shingle is
    # dropped from blocking, no other shingle is shared -> no pairs at all
    capped = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.0, df_cap=10
    )
    assert capped.count() == 0
    # cap above every shingle's df: exact semantics preserved
    wide = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.0, df_cap=1000
    )
    assert _pairs(wide) == _pairs(uncapped)


def test_frequent_shingles_audit(spark):
    docs = _docs(spark, 20)
    dropped = D.frequent_shingles(docs, "doc_id", "text", df_cap=10).collect()
    assert {r["shingle"] for r in dropped} == {"common shared prefix"}
    assert dropped[0]["doc_freq"] == 20


def _vectors(spark, n=40, dim=16):
    def vec(i):
        h = hashlib.md5(b"v%d" % i).digest()
        return [float(b) / 255.0 for b in h[:dim]]

    return spark.createDataFrame(
        [(i, vec(i)) for i in range(n)], "vec_id long, embedding array<float>"
    )


def test_embedding_near_dupes_cap_is_semantics_preserving(spark):
    vecs = _vectors(spark)
    base = S.embedding_near_duplicates(
        vecs, dim=16, threshold=0.9, n_bits=8, bands=4, max_bucket=None
    )
    capped = S.embedding_near_duplicates(
        vecs, dim=16, threshold=0.9, n_bits=8, bands=4, max_bucket=3
    )
    got_base = sorted(map(repr, base.collect()))
    got_capped = sorted(map(repr, capped.collect()))
    assert got_base == got_capped
    assert len(got_base) > 0  # all-positive vectors: plenty of high-cos pairs


def test_embedding_near_dupes_no_unbounded_rows(spark):
    # the candidate plan must never aggregate vectors into a bucket row:
    # collect_set in the plan carries ids only (max_bucket=None keeps the
    # aggregation visible — the capped path hides it behind the checkpoint
    # boundary but builds the identical aggregation)
    vecs = _vectors(spark)
    plan = (
        S.embedding_near_duplicates(vecs, dim=16, n_bits=8, bands=4, max_bucket=None)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "collect_set" in plan
    assert "collect_set(embedding" not in plan
    assert "collect_list" not in plan


# ---------------------------------------------------------------------------
# round-4c operator scale guards
# ---------------------------------------------------------------------------

def test_kmv_scales_with_prefilter_not_corpus(spark):
    """The KMV shuffle is bounded by survivors (~distinct/denom), not rows:
    a 100k-row frame with 20k distinct values must keep the survivor
    frame ~20k/denom regardless of duplication factor."""
    from beacon_indexer_spark.operators.sketch import _H, _KMV_SALT, kmv_distinct
    from beacon_indexer_spark.operators.dedup import _md5_long

    df = spark.range(0, 100_000).select(
        (F.col("id") % 20_000).cast("string").alias("v"), F.lit("g").alias("grp")
    )
    cutoff = _H // 16
    survivors = (
        df.select(_md5_long(F.col("v"), _KMV_SALT).alias("h"))
        .filter(F.col("h") < cutoff)
        .distinct()
        .count()
    )
    assert survivors < 20_000 / 16 * 2  # ~1/16 of distincts, 2x head-room
    row = kmv_distinct(df, "v", "grp", k=64, prefilter_denom=16).collect()[0]
    assert 0.55 * 20_000 < row["distinct_est"] < 1.6 * 20_000


def test_pagerank_rounds_scale_with_edges_not_pairsq(spark):
    """A 5,000-edge random graph converges through fixed 3 iterations with
    rank mass conserved (integer truncation only loses < 100 units/node
    per round) — the O(|E|)-per-iteration contract."""
    import random

    from beacon_indexer_spark.operators.graph import PAGERANK_SCALE, pagerank

    rng = random.Random(7)
    edges = list({(rng.randrange(0, 800), rng.randrange(800, 1600)) for _ in range(5000)})
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = pagerank(pairs, iterations=3).collect()
    nodes = {r["node"] for r in got}
    assert len(nodes) == len(set(a for a, _ in edges) | set(b for _, b in edges))
    total = sum(r["rank_scaled"] for r in got)
    # mass ≈ |V|·S, shrunk only by floor-div truncation
    assert 0.98 * len(nodes) * PAGERANK_SCALE < total <= len(nodes) * PAGERANK_SCALE


def test_per_group_cap_hot_group(spark):
    """One group holding 90% of rows still yields exactly cap keeps and a
    full verdict frame (the hot-group degradation is one sorted task,
    not an error)."""
    from beacon_indexer_spark.operators.sampling import per_group_cap

    rows = [(i, "hot" if i < 9000 else "g%d" % (i % 7), float(i)) for i in range(10_000)]
    df = spark.createDataFrame(rows, "id long, grp string, score double")
    out = per_group_cap(df, "grp", [F.desc("score"), F.asc("id")], cap=100)
    agg = {r["grp"]: r["kept"] for r in out.groupBy("grp").agg(
        F.sum("keep").alias("kept")).collect()}
    assert agg["hot"] == 100
    assert out.count() == 10_000


def test_candidate_common_shingles_bounded_by_pairs_not_df2(spark):
    """A planted hot shingle shared by 40 docs must NOT quadratically
    expand the exact-Jaccard side: with one candidate pair, the pair-driven
    join's expansion is Σ|S_a| over pairs (≤ pairs × shingles/doc), while a
    shingle self-join would produce 40·39/2 = 780 rows for the hot shingle
    alone. Counts must equal the brute-force self-join restricted to the
    candidate pairs."""
    # 40 docs share shingle "hot"; docs 0 and 1 additionally share s0..s4
    rows = [(i, "hot") for i in range(40)]
    rows += [(0, "s%d" % j) for j in range(5)] + [(1, "s%d" % j) for j in range(5)]
    rows += [(0, "only0"), (1, "only1")]
    sh = spark.createDataFrame(rows, "id long, shingle string")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")

    got = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in D.candidate_common_shingles(pairs, sh).collect()
    }
    assert got == {(0, 1): 6}  # "hot" + s0..s4

    # the expansion stage is literally pairs ⋈ shingles(id_a): its row
    # count is |S_0| = 7, independent of the hot shingle's df (40)
    expansion = pairs.join(
        sh.select(F.col("id").alias("id_a"), "shingle"), "id_a"
    )
    assert expansion.count() == 7

    # brute-force reference: self-join then restrict to the pair
    brute = (
        sh.select(F.col("id").alias("id_a"), "shingle")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(pairs, ["id_a", "id_b"], "leftsemi")
    )
    assert {(r["id_a"], r["id_b"]): r["n_common"] for r in brute.collect()} == got


def test_broadcast_if_small_fallback_same_verdicts(spark):
    """A raw-crawl-shaped dup graph (every doc clustered — 100% dup rate)
    must produce IDENTICAL keep verdicts whether the cluster frame is
    broadcast (row count under the ceiling) or falls back to a shuffle
    join (over it). Mirrors test_cross_corpus_overlap_shuffle_fallback_
    same_result for the dedup ACTION path."""
    n = 40
    pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(n // 2)], "id_a long, id_b long"
    )
    clusters = D.connected_components(pairs).withColumnRenamed("node", "doc_id")
    spine = spark.range(n).withColumnRenamed("id", "doc_id")

    def verdicts(clu):
        j = spine.join(clu, "doc_id", "left")
        cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        return {
            (r["doc_id"], r["cluster_id"], r["keep"])
            for r in j.select(
                "doc_id",
                cid.alias("cluster_id"),
                (cid == F.col("doc_id")).cast("int").alias("keep"),
            ).collect()
        }

    hinted = D.broadcast_if_small(clusters, max_rows=10**9)
    fallback = D.broadcast_if_small(clusters, max_rows=0)
    joined_fb = spine.join(fallback, "doc_id", "left")
    plan = joined_fb._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan  # the hint is genuinely absent
    assert verdicts(hinted) == verdicts(fallback)
    expected = {(2 * i, 2 * i, 1) for i in range(n // 2)} | {
        (2 * i + 1, 2 * i, 0) for i in range(n // 2)
    }
    assert verdicts(fallback) == expected


def test_pagerank_overflow_guard(spark):
    """A graph too large for the fixed-point scale must raise (silent
    int64 wrap would corrupt ranks), and the error must name a scale
    that fits; the suggested scale must then run."""
    import pytest as _pytest

    from beacon_indexer_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    # 51 nodes: 85 * 51 * 10**18 > 2**63 — must refuse
    with _pytest.raises(ValueError, match="scale <="):
        pagerank(pairs, iterations=1, scale=10**18)
    got = pagerank(pairs, iterations=1, scale=10**9).collect()
    assert len(got) == 51


def test_pairs_from_buckets_lazy_no_probe_job(spark):
    """probe=False must build the capped both-branches plan WITHOUT
    running any Spark job at construction (explain/audit callers), and
    still produce identical pairs when executed."""
    rows = [("hot", "k1", i) for i in range(30)]
    rows += [("b%d" % b, "k2", 1000 + b * 10 + i) for b in range(3) for i in range(3)]
    keyed = spark.createDataFrame(rows, "band string, key string, id long")

    first = job_count(spark)
    lazy = D._pairs_from_buckets(
        keyed, "id", "band", "key", max_bucket=10, probe=False
    )
    assert job_count(spark) == first  # zero jobs at plan-construction time
    # both branches are planned (in-row explode + overflow join union)
    plan = lazy._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan
    assert _pairs(lazy) == _pairs(
        D._pairs_from_buckets(keyed, "id", "band", "key", max_bucket=10)
    )
    # the lazy plan's persist() handle is registered for deterministic
    # release — a long-lived session executing many probe=False plans must
    # not accumulate cached blocks until LRU pressure (ADVICE r6)
    released = D.release_lazy_caches()
    assert released >= 1
    assert D.release_lazy_caches() == 0  # registry drains


def test_hamming_recall_independent_of_bands(spark):
    """API contract: on the max_dist <= 3 multi-index path, `bands` is a
    no-op — recall is exact by the two-half pigeonhole regardless of the
    banding parameter (which only tunes the max_dist > 3 fallback)."""
    base = int("a5a5a5a5a5a5a5a5", 16)
    sigs = [base]
    for bits in [(0,), (3, 17), (5, 33, 60), (1, 2, 31)]:  # dist 1..3
        v = base
        for b in bits:
            v ^= 1 << b
        sigs.append(v)
    sigs.append(base ^ 0b11110000)  # dist 4: must NOT pair with base
    rows = [(i, format(s, "016x")) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "id long, h string")
    results = [
        _pairs(D.hamming_hash_pairs(df, "id", "h", max_dist=3, bands=b))
        for b in (2, 4, 8)
    ]
    assert results[0] == results[1] == results[2]
    assert all((0, i) in results[0] for i in range(1, 5))
    assert (0, 5) not in results[0]


def test_fuzzy_spread_counts_block_keys_with_a_null_part(spark):
    """The block-key cardinality probe counts keys with a NULL part: with
    one block column always NULL and at least defaultParallelism distinct
    values in the other, the under-parallel input is spread by the block
    key, not round-robin."""
    n = spark.sparkContext.defaultParallelism
    rows = [(i, "name %d" % i, None, "c%d" % i) for i in range(2 * n)]
    df = spark.createDataFrame(
        rows, "id long, name string, region string, city string").coalesce(1)
    out = D.fuzzy_name_pairs(df, "id", "name", ["region", "city"], max_dist=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan
    assert "hashpartitioning(region#" in plan
    assert out.collect() == []  # a NULL key part never joins


def test_fuzzy_band_adaptive_plans_equivalent(spark):
    """Adaptive length banding: below the row threshold the plan must NOT
    carry the x3 band replication (no __lb join key / explode), above it
    (forced) it must — and both plans return identical pairs."""
    rows = []
    for i in range(40):
        rows.append((i, "widget number %d" % (i % 7), "blk%d" % (i % 3)))
    df = spark.createDataFrame(rows, "id long, name string, blk string")

    auto = D.fuzzy_name_pairs(df, "id", "name", ["blk"], max_dist=3)
    banded = D.fuzzy_name_pairs(
        df, "id", "name", ["blk"], max_dist=3, band_lengths=True
    )
    plain = D.fuzzy_name_pairs(
        df, "id", "name", ["blk"], max_dist=3, band_lengths=False
    )
    auto_plan = auto._jdf.queryExecution().optimizedPlan().toString()
    banded_plan = banded._jdf.queryExecution().optimizedPlan().toString()
    assert "__lb" not in auto_plan  # 40 rows < threshold: unbanded plan
    assert "__lb" in banded_plan  # forced banding engages the replication

    def key(d):
        return sorted((r["id_a"], r["id_b"], r["dist"]) for r in d.collect())

    assert key(auto) == key(banded) == key(plain)


def test_fuzzy_band_threshold_engages(spark):
    """Above band_threshold_rows AND with a wide name-length spread the
    auto path must pick the banded plan; with homogeneous lengths it must
    NOT (banding's fixed 3x replication buys nothing — measured at sf1)."""
    wide = [
        (i, "x" * (5 + (i * 7) % 60), "b") for i in range(40)
    ]  # lengths 5..64 → ~16 bands of width 4
    df = spark.createDataFrame(wide, "id long, name string, blk string")
    auto = D.fuzzy_name_pairs(
        df, "id", "name", ["blk"], max_dist=3, band_threshold_rows=10
    )
    plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "__lb" in plan
    banded = D.fuzzy_name_pairs(
        df, "id", "name", ["blk"], max_dist=3, band_lengths=True
    )

    def key(d):
        return sorted((r["id_a"], r["id_b"], r["dist"]) for r in d.collect())

    assert key(auto) == key(banded)

    # homogeneous lengths: many rows but ~1 band → stay unbanded
    flat = [(i, "name %d" % (i % 5), "b") for i in range(30)]
    df2 = spark.createDataFrame(flat, "id long, name string, blk string")
    auto2 = D.fuzzy_name_pairs(
        df2, "id", "name", ["blk"], max_dist=3, band_threshold_rows=10
    )
    plan2 = auto2._jdf.queryExecution().optimizedPlan().toString()
    assert "__lb" not in plan2
    assert key(auto2) == key(
        D.fuzzy_name_pairs(df2, "id", "name", ["blk"], max_dist=3,
                           band_lengths=False)
    )
