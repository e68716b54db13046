"""Unit tests for the custom join operators (as-of, range) and the
curation operators (connected components, hash sampling, TF-IDF)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from beacon_indexer_spark.operators import dedup as D
from beacon_indexer_spark.operators import histogram as H
from beacon_indexer_spark.operators import relational as R
from beacon_indexer_spark.operators import sampling as SP
from beacon_indexer_spark.operators import text as X


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def _asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 205, "b"), (2, 100, "c"), (3, 100, "d")],
        "k long, lts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 90, 10.0, 7), (1, 100, 20.0, 8), (1, 100, 30.0, 9), (1, 200, 40.0, 1),
         (2, 150, 50.0, 2)],
        "k long, rts long, val double, rid long",
    )
    return left, right


def test_asof_join_backward_with_ties(spark):
    left, right = _asof_fixture(spark)
    out = {
        (r["k"], r["lts"]): (r["val"], r["rid"], r["asof_ts"])
        for r in R.asof_join(left, right, ["k"], "lts", "rts", tiebreak="rid").collect()
    }
    # ties at rts=100 → max rid (9) wins; rts == lts matches (<=)
    assert out[(1, 100)] == (30.0, 9, 100)
    assert out[(1, 205)] == (40.0, 1, 200)
    # right row strictly after left ts does not match
    assert out[(2, 100)] == (None, None, None)
    # key with no right rows at all
    assert out[(3, 100)] == (None, None, None)


def test_asof_join_tolerance(spark):
    left, right = _asof_fixture(spark)
    out = {
        (r["k"], r["lts"]): r["rid"]
        for r in R.asof_join(
            left, right, ["k"], "lts", "rts", tiebreak="rid", tolerance=4
        ).collect()
    }
    assert out[(1, 100)] == 9       # same-ts match inside tolerance
    assert out[(1, 205)] is None    # 205-200=5 > 4 → nulled
    assert out[(2, 100)] is None


def test_asof_join_null_payload_not_stitched(spark):
    # the matched right row travels atomically: a NULL column in the
    # matched row must stay NULL, not backfill from an older right row
    left = spark.createDataFrame([(1, 20)], "k long, lts long")
    right = spark.createDataFrame(
        [(1, 5, 3.0, "x"), (1, 10, 5.0, None)],
        "k long, rts long, val double, typ string",
    )
    r = R.asof_join(left, right, ["k"], "lts", "rts").collect()[0]
    assert (r["val"], r["typ"], r["asof_ts"]) == (5.0, None, 10)


def test_asof_join_null_tiebreak_loses(spark):
    # a NULL-tiebreak right row at a tied timestamp must lose to any
    # non-null tiebreak (matches the oracle's DESC NULLS LAST pick)
    left = spark.createDataFrame([(1, 100)], "k long, lts long")
    right = spark.createDataFrame(
        [(1, 100, 5, "real"), (1, 100, None, "null-tb")],
        "k long, rts long, rid long, tag string",
    )
    r = R.asof_join(left, right, ["k"], "lts", "rts", tiebreak="rid").collect()[0]
    assert (r["rid"], r["tag"]) == (5, "real")


def test_asof_join_string_tiebreak(spark):
    # non-numeric tiebreaks order natively (no numeric cast)
    left = spark.createDataFrame([(1, 100)], "k long, lts long")
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 100, "b")], "k long, rts long, rid string"
    )
    r = R.asof_join(left, right, ["k"], "lts", "rts", tiebreak="rid").collect()[0]
    assert r["rid"] == "b"


def test_asof_join_rejects_column_clash(spark):
    left, right = _asof_fixture(spark)
    import pytest

    with pytest.raises(ValueError, match="clash"):
        R.asof_join(left, right.withColumnRenamed("val", "tag"),
                    ["k"], "lts", "rts")


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------

def test_range_join_matches_inequality_join(spark):
    import random

    rnd = random.Random(7)
    rows_l = [(i % 5, rnd.randrange(0, 1000), i) for i in range(200)]
    rows_r = [(i % 5, rnd.randrange(0, 1000), 1000 + i) for i in range(200)]
    left = spark.createDataFrame(rows_l, "k long, lts long, lid long")
    right = spark.createDataFrame(rows_r, "k long, rts long, rid long")
    lo, hi = -50, 120
    expected = sorted(
        (lk, lid, rid)
        for (lk, lts, lid) in rows_l
        for (rk, rts, rid) in rows_r
        if lk == rk and lo <= rts - lts <= hi
    )
    for bucket in (None, 37, 500):
        got = sorted(
            (r["k"], r["lid"], r["rid"])
            for r in R.range_join(
                left, right, ["k"], "lts", "rts", lo, hi, bucket=bucket
            ).collect()
        )
        assert got == expected, f"bucket={bucket}"


def test_asof_join_matches_naive(spark):
    import random

    rnd = random.Random(11)
    rows_l = [(i % 7, rnd.randrange(0, 500), i) for i in range(300)]
    rows_r = [(i % 7, rnd.randrange(0, 500), 1000 + i) for i in range(300)]
    left = spark.createDataFrame(rows_l, "k long, lts long, lid long")
    right = spark.createDataFrame(rows_r, "k long, rts long, rid long")

    def naive(lk, lts):
        cands = [(rts, rid) for (rk, rts, rid) in rows_r if rk == lk and rts <= lts]
        return max(cands) if cands else (None, None)

    got = {
        r["lid"]: (r["asof_ts"], r["rid"])
        for r in R.asof_join(left, right, ["k"], "lts", "rts", tiebreak="rid").collect()
    }
    assert len(got) == len(rows_l)
    for lk, lts, lid in rows_l:
        assert got[lid] == naive(lk, lts), (lk, lts, lid)


def test_asof_join_hot_key_correct_and_sentinel_prefilter(spark):
    # one key (the null-ish sentinel 0) holds 50% of all rows — the shape
    # that straggles the per-key window at scale. Correctness must hold
    # regardless, and the documented mitigation (pre-filter the sentinel,
    # as-of the rest, re-attach with null matches) must be equivalent for
    # the non-sentinel keys.
    import random

    rnd = random.Random(7)
    n = 400
    rows_l = [
        (0 if i < n // 2 else 1 + i % 5, rnd.randrange(0, 300), i)
        for i in range(n)
    ]
    rows_r = [
        (0 if i < n // 2 else 1 + i % 5, rnd.randrange(0, 300), 1000 + i)
        for i in range(n)
    ]
    left = spark.createDataFrame(rows_l, "k long, lts long, lid long")
    right = spark.createDataFrame(rows_r, "k long, rts long, rid long")

    def naive(lk, lts):
        cands = [(rts, rid) for (rk, rts, rid) in rows_r if rk == lk and rts <= lts]
        return max(cands) if cands else (None, None)

    full = {
        r["lid"]: (r["asof_ts"], r["rid"])
        for r in R.asof_join(left, right, ["k"], "lts", "rts", tiebreak="rid").collect()
    }
    assert len(full) == n
    for lk, lts, lid in rows_l:
        assert full[lid] == naive(lk, lts), (lk, lts, lid)

    # mitigation (1): sentinel rows skip the window entirely and re-attach
    # with null match columns — identical output for every other key
    mitigated = R.asof_join(
        left.filter(F.col("k") != 0),
        right.filter(F.col("k") != 0),
        ["k"], "lts", "rts", tiebreak="rid",
    ).unionByName(
        left.filter(F.col("k") == 0)
        .withColumn("rts", F.lit(None).cast("long"))
        .select(
            "k", "lts", "lid",
            F.lit(None).cast("long").alias("rid"),
            F.lit(None).cast("long").alias("asof_ts"),
        ).drop("rts")
    )
    got = {r["lid"]: (r["asof_ts"], r["rid"]) for r in mitigated.collect()}
    assert len(got) == n
    for lk, lts, lid in rows_l:
        if lk == 0:
            assert got[lid] == (None, None)
        else:
            assert got[lid] == naive(lk, lts)


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3) + clique {10,11,12} + isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # diameter 40 ≫ typical dup clusters: without pointer jumping this
    # needs 40 rounds; with path halving it converges well under max_iter
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in D.connected_components(pairs, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_empty_graph(spark):
    # no duplicate pairs (clean corpus) must converge to an empty result in
    # one round, not spin max_iter rounds and raise: F.sum over zero rows is
    # NULL, which the convergence check must read as 0 changes
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(pairs, max_iter=3).collect() == []


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=2)


# ---------------------------------------------------------------------------
# hash sampling
# ---------------------------------------------------------------------------

def test_hash_sample_deterministic_and_nested(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    s10 = {r["k"] for r in SP.hash_sample(df, "k", 0.10).collect()}
    s20 = {r["k"] for r in SP.hash_sample(df, "k", 0.20).collect()}
    assert s10 == {r["k"] for r in SP.hash_sample(df, "k", 0.10).collect()}
    assert s10 <= s20  # nested: smaller rate is a subset of larger
    assert 0.05 < len(s10) / 2000 < 0.15
    assert 0.15 < len(s20) / 2000 < 0.25
    # different salt → different (independent) sample
    assert s10 != {r["k"] for r in SP.hash_sample(df, "k", 0.10, salt=2).collect()}


def test_stratified_hash_sample_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "zz") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    got = SP.stratified_hash_sample(
        df, "k", "lang", {"en": 1.0}, default_rate=0.0
    ).collect()
    assert len(got) == 1000
    assert all(r["lang"] == "en" for r in got)


def test_pack_documents_matches_naive_cumsum(spark):
    import random

    rnd = random.Random(3)
    rows = [(i, " ".join("w" for _ in range(rnd.randrange(1, 40)))) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for range_size in (1, 7, 50, 1000):
        got = {
            r["id"]: r["pack_id"]
            for r in X.pack_documents(
                docs, "doc_id", "text", capacity=100, range_size=range_size
            ).collect()
        }
        prefix, expected = 0, {}
        for i, text in rows:  # already in id order
            expected[i] = prefix // 100
            prefix += len(text.split())
        assert got == expected, f"range_size={range_size}"


def test_exclusive_prefix_data_aware_depth(spark):
    # with fan=4 and keys 0..20 the data-aware bound needs 3 levels
    # (20 -> 5 -> 1 -> 0); values are distinct powers so any dropped or
    # double-counted key is detectable. Also exercised: sparse keys.
    keys = [0, 1, 2, 3, 5, 8, 13, 20]
    rows = [(k, 1 << i) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "k long, v long")
    for max_key in (20, None):
        got = {
            r["k"]: r["out"]
            for r in H.exclusive_prefix(
                df, "k", "v", "out", fan=4, max_key=max_key
            ).collect()
        }
        prefix, expected = 0, {}
        for k, v in rows:
            expected[k] = prefix
            prefix += v
        assert got == expected, f"max_key={max_key}"


def test_pack_documents_negative_ids_fall_back_to_static_depth(spark):
    # negative ids disqualify the data-aware bound (keys >= 0 assumption);
    # the static-depth path must still produce the global-order cumsum
    rows = [(i, " ".join("w" for _ in range(3))) for i in range(-10, 10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r["pack_id"]
        for r in X.pack_documents(docs, "doc_id", "text", capacity=7, range_size=5).collect()
    }
    prefix, expected = 0, {}
    for i, text in rows:
        expected[i] = prefix // 7
        prefix += 3
    assert got == expected


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------

def test_repetition_stats_matches_naive(spark):
    rows = [
        # 9 tokens -> 7 shingles cycling "a b c"/"b c a"/"c a b": 3 distinct
        (1, "a b c a b c a b c"),
        (2, "x y z w v u"),            # all distinct
        (3, "q r"),                    # too short for a 3-gram: zeros
        (4, None),                     # null text: zeros
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: (r["n_shingles"], r["n_distinct"], round(r["dup_ratio"], 6), r["top_freq"])
        for r in X.repetition_stats(docs, "doc_id", "text").collect()
    }
    assert got[1] == (7, 3, round(1 - 3 / 7, 6), 3)
    assert got[2] == (4, 4, 0.0, 1)
    assert got[3] == (0, 0, 0.0, 0)
    assert got[4] == (0, 0, 0.0, 0)


def test_cross_corpus_overlap_planted(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here nothing shared at all"),
            (3, "the quick brown cat sleeps"),  # shares only 2 shingles w/ eval
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "the quick brown fox runs")], "doc_id long, text string"
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_common"]
        for r in D.cross_corpus_overlap(
            train, evalset, "doc_id", "text", shingle_n=3, min_common=2
        ).collect()
    }
    # doc 1 shares "the quick brown" + "quick brown fox"; doc 3 shares
    # "the quick brown" only (below min_common); doc 2 shares nothing
    assert got == {(1, 100): 2}


def test_cross_corpus_overlap_shuffle_fallback_same_result(spark):
    # max_broadcast_shingles=0 forces the shuffle-join branch; results must
    # be identical to the broadcast path
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "the quick brown fox runs")], "doc_id long, text string"
    )
    fallback = D.cross_corpus_overlap(
        train, evalset, "doc_id", "text", shingle_n=3, min_common=2,
        max_broadcast_shingles=0,
    )
    assert "BroadcastHashJoin" not in fallback._jdf.queryExecution().executedPlan().toString()
    got = {(r["train_id"], r["eval_id"]): r["n_common"] for r in fallback.collect()}
    assert got == {(1, 100): 2}


def test_tfidf_top_terms_rare_term_wins(spark):
    docs = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common boring words"),
            (3, "common boring stuff"),
        ],
        "doc_id long, text string",
    )
    out = X.tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    top1 = {d: sorted(rs, key=lambda r: r["rank"])[0] for d, rs in by_doc.items()}
    # doc 1: at equal tf, "rare" (df=1) outranks "common" (df=3)
    assert top1[1]["term"] == "rare"
    expected = 1 * (math.log((3 + 1) / (1 + 1)) + 1.0)
    assert math.isclose(top1[1]["score"], expected, rel_tol=1e-12)
    assert all(len(rs) == 2 for rs in by_doc.values())


# ---------------------------------------------------------------------------
# staged curation run
# ---------------------------------------------------------------------------

def _curation_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " extra"),           # near-dup of 1
        (3, base),                      # exact dup of 1
        (4, "completely different text about spark partitioning at scale"),
        (5, "another unique document with its own words entirely here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curation_run_matches_standalone_outputs(spark):
    """keep_list / manifest / summary derived from the staged cluster
    frame must equal the standalone re-computations (the oracle-audited
    query shapes)."""
    from beacon_indexer_spark.plans.pipeline import CurationRun

    docs = _curation_docs(spark)
    run = CurationRun(docs, k=8, bands=4, shingle_n=3)

    pairs = D.minhash_lsh_candidates(docs, "doc_id", "text", k=8, bands=4, shingle_n=3)
    clusters = D.connected_components(pairs).withColumnRenamed("node", "doc_id")
    spine = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    want_keep = {
        tuple(r)
        for r in spine.join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            cid.cast("long").alias("cluster_id"),
            (cid == F.col("doc_id")).cast("int").alias("keep"),
        )
        .collect()
    }
    assert {tuple(r) for r in run.keep_list().collect()} == want_keep

    man = {r["doc_id"]: r for r in run.manifest().collect()}
    assert set(man) == {1, 2, 3, 4, 5}
    for r in man.values():
        assert r["include"] == int(bool(r["keep"]) and bool(r["q_pass"]))
    # dup cluster {1,2,3} keeps min id only
    assert man[1]["keep"] == 1 and man[2]["keep"] == 0 and man[3]["keep"] == 0

    s = run.summary().collect()[0]
    assert s["n_docs"] == 5
    assert s["n_dup_docs"] == 3 and s["n_clusters"] == 1
    assert s["max_cluster_size"] == 3 and s["n_kept"] == 3
    assert abs(s["dup_rate"] - 2 / 5) < 1e-9


def test_curation_run_stages_clusters_once(spark):
    """The derived frames must read the staged checkpoint blocks, not
    re-run LSH→CC: every derived plan scans an ExistingRDD, and the
    manifest's only source scan is the docs spine (ONE LocalTableScan —
    a standalone recomputation carries the whole signature pipeline's
    scans)."""
    from beacon_indexer_spark.plans.pipeline import CurationRun

    run = CurationRun(_curation_docs(spark), k=8, bands=4, shingle_n=3)
    best = CurationRun(_curation_docs(spark), k=8, bands=4, shingle_n=3,
                       keep_policy="best_quality")
    for frame in (run.keep_list(), run.manifest(), run.summary(),
                  best.keep_list()):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan  # staged checkpoint blocks
        # the minhash signature pipeline's fingerprints: the universal-hash
        # coefficient and the banding aggregation must NOT reappear
        assert "2654435761" not in plan
        assert "collect_set" not in plan
    man_plan = run.manifest()._jdf.queryExecution().executedPlan().toString()
    # exactly two sources: the docs spine and the staged cluster blocks —
    # a standalone recomputation would add the whole signature pipeline
    assert man_plan.count("Scan ExistingRDD") == 2


def test_curation_run_ratios_null_on_zero_denominators(spark):
    """Under ANSI division an empty corpus (summary's dup_rate) and a
    source whose docs have no tokens (token_budget's kept_frac) must give
    NULL ratios, as the SQL oracles do, instead of DIVIDE_BY_ZERO."""
    from beacon_indexer_spark.plans.pipeline import CurationRun

    empty = spark.createDataFrame([], "doc_id long, text string")
    [s] = CurationRun(empty, k=8, bands=4, shingle_n=3).summary().collect()
    assert (s["n_docs"], s["n_dup_docs"], s["n_clusters"], s["n_kept"]) == (0, 0, 0, 0)
    assert s["dup_rate"] is None

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, "", "blank"), (2, "   ", "blank"), (3, base, "web")],
        "doc_id long, text string, source string",
    )
    tb = {r["source"]: r for r in
          CurationRun(docs, k=8, bands=4, shingle_n=3).token_budget().collect()}
    assert tb["blank"]["tokens_total"] == 0 and tb["blank"]["kept_frac"] is None
    assert tb["web"]["kept_frac"] == 1.0


def test_curation_run_best_quality_policy(spark):
    """keep_policy='best_quality' must keep the highest-q6 copy per
    cluster (doc_keep_best semantics) and stay consistent between
    keep_list() and manifest(); min_id stays the default."""
    from beacon_indexer_spark.operators.text import quality_score
    from beacon_indexer_spark.plans.pipeline import CurationRun

    docs = _curation_docs(spark)
    run = CurationRun(docs, k=8, bands=4, shingle_n=3,
                      keep_policy="best_quality")
    kl = {r["doc_id"]: r for r in run.keep_list().collect()}
    man = {r["doc_id"]: r for r in run.manifest().collect()}
    # keep flags agree across outputs
    assert all(kl[d]["keep"] == man[d]["keep"] for d in kl)
    # within each cluster the kept doc has the max (q6, -id) key
    q = {
        r["doc_id"]: r["q6"]
        for r in docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.round(quality_score("text"), 6).alias("q6"),
        ).collect()
    }
    by_cluster = {}
    for d, r in kl.items():
        by_cluster.setdefault(r["cluster_id"], []).append(d)
    for cid, members in by_cluster.items():
        best = max(members, key=lambda d: (q[d], -d))
        for d in members:
            assert kl[d]["keep"] == (1 if d == best else 0)
    # exactly one keeper per cluster
    assert all(
        sum(kl[d]["keep"] for d in ms) == 1 for ms in by_cluster.values()
    )
    # default stays min_id
    dflt = CurationRun(docs, k=8, bands=4, shingle_n=3)
    kd = {r["doc_id"]: r for r in dflt.keep_list().collect()}
    assert all(
        kd[d]["keep"] == (1 if kd[d]["cluster_id"] == d else 0) for d in kd
    )


def test_curation_run_rejects_bad_policy(spark):
    import pytest as _pytest

    from beacon_indexer_spark.plans.pipeline import CurationRun

    with _pytest.raises(ValueError):
        CurationRun(_curation_docs(spark), keep_policy="newest")


def _curation_docs_sourced(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "web"),
        (2, base + " extra", "web"),
        (3, base, "books"),
        (4, "completely different text about spark partitioning at scale", "books"),
        (5, "another unique document with its own words entirely here now", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_curation_run_spine_consumers_match_standalone(spark):
    """cluster_size_dist / token_budget / dup_rate_by_length /
    leakage_split derived from the staged cluster frame must equal the
    standalone recomputations (the oracle-audited query shapes)."""
    from beacon_indexer_spark.operators.sampling import leakage_safe_split
    from beacon_indexer_spark.operators.text import token_count
    from beacon_indexer_spark.plans.pipeline import CurationRun

    docs = _curation_docs_sourced(spark)
    run = CurationRun(docs, k=8, bands=4, shingle_n=3)

    pairs = D.minhash_lsh_candidates(docs, "doc_id", "text", k=8, bands=4, shingle_n=3)
    clusters = D.connected_components(pairs).withColumnRenamed("node", "doc_id")
    spine = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))

    # cluster_size_dist
    want_sizes = (
        spine.join(clusters, "doc_id", "left")
        .select(cid.alias("c")).groupBy("c").count()
        .groupBy("count").agg(F.count(F.lit(1)).alias("n"), F.sum("count").alias("d"))
    )
    want = {(r["count"], r["n"], r["d"]) for r in want_sizes.collect()}
    got = {
        (r["cluster_size"], r["n_clusters"], r["n_docs"])
        for r in run.cluster_size_dist().collect()
    }
    assert got == want

    # token_budget
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "source",
        token_count("text").cast("long").alias("nt"),
    ).join(clusters, "doc_id", "left")
    keep = (F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id")).cast("long")
    want_tb = {
        tuple(r)
        for r in base.groupBy("source").agg(
            F.count(F.lit(1)).cast("long"),
            F.sum(keep).cast("long"),
            F.sum("nt").cast("long"),
            F.sum(F.when(keep == 1, F.col("nt")).otherwise(0)).cast("long"),
        ).collect()
    }
    got_tb = {
        (r["source"], r["n_docs"], r["n_kept"], r["tokens_total"], r["tokens_kept"])
        for r in run.token_budget().collect()
    }
    assert got_tb == want_tb

    # dup_rate_by_length: 3-dup cluster -> 2 dups, all docs in one band here
    drl = {r["len_band"]: (r["n_docs"], r["n_dups"]) for r in run.dup_rate_by_length().collect()}
    assert sum(v[0] for v in drl.values()) == 5
    assert sum(v[1] for v in drl.values()) == 2

    # leakage_split equals the standalone operator over the same clusters
    want_ls = {tuple(r) for r in leakage_safe_split(docs, clusters).collect()}
    got_ls = {tuple(r) for r in run.leakage_split().collect()}
    assert got_ls == want_ls


def test_curation_run_spine_consumers_stage_once(spark):
    """The new derived frames must read the staged checkpoint blocks —
    the signature pipeline's fingerprints must not reappear."""
    from beacon_indexer_spark.plans.pipeline import CurationRun

    run = CurationRun(_curation_docs_sourced(spark), k=8, bands=4, shingle_n=3)
    for frame in (
        run.cluster_size_dist(),
        run.token_budget(),
        run.dup_rate_by_length(),
        run.leakage_split(),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan
        assert "2654435761" not in plan
        assert "collect_set" not in plan


def _decon_corpora(spark):
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [
            (1, "intro words here today " + passage
                + " closing remarks follow after that now"),          # trim (10/21)
            (2, passage),                                             # drop (fully covered)
            (3, "completely unrelated training document body text"),  # keep
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "prefix " + passage + " suffix")],
        "doc_id long, text string",
    )
    return train, test


def test_curation_run_decon_matches_standalone(spark):
    """contamination_spans / contamination_verdict from the staged run
    must equal the standalone operator outputs (the oracle-audited query
    shapes), and decision() must extend the manifest with the decon
    verdict: admit = include AND contam_verdict != 'drop'."""
    from beacon_indexer_spark.plans.pipeline import CurationRun

    train, test = _decon_corpora(spark)
    run = CurationRun(train, k=8, bands=4, shingle_n=3,
                      test_docs=test, decon_k=4)

    want_spans = {
        tuple(r)
        for r in D.cross_corpus_contamination_spans(
            train, test, "doc_id", "text", k=4
        ).collect()
    }
    assert {tuple(r) for r in run.contamination_spans().collect()} == want_spans

    ver = {r["doc_id"]: r for r in run.contamination_verdict().collect()}
    assert set(ver) == {1, 2, 3}
    assert ver[2]["verdict"] == "drop"       # fully covered by the passage
    assert ver[2]["contam_tokens"] == ver[2]["doc_tokens"]
    assert ver[1]["verdict"] == "trim"       # passage inside fresh context
    assert ver[3]["verdict"] == "keep"       # untouched doc
    assert ver[3]["contam_tokens"] == 0

    dec = {r["doc_id"]: r for r in run.decision().collect()}
    man = {r["doc_id"]: r for r in run.manifest().collect()}
    assert set(dec) == set(man)
    for d, r in dec.items():
        assert r["contam_verdict"] == ver[d]["verdict"]
        assert r["include"] == man[d]["include"]
        assert r["admit"] == int(
            bool(r["include"]) and r["contam_verdict"] != "drop"
        )
    assert dec[2]["admit"] == 0  # dropped for contamination regardless of dedup


def test_curation_run_decon_stages_once(spark):
    """decision() reads both staged frames: its plan scans checkpoint
    blocks and never re-runs the gram pipeline (token_kgram_positions'
    array_join gram constructor) or the banding aggregation, and a
    second decision() reuses the same staged spans."""
    from beacon_indexer_spark.plans.pipeline import CurationRun

    train, test = _decon_corpora(spark)
    run = CurationRun(train, k=8, bands=4, shingle_n=3,
                      test_docs=test, decon_k=4)
    first = run.decision()
    staged = run._staged_spans
    for frame in (first, run.decision()):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan
        assert "array_join" not in plan, (
            "gram pipeline re-ran instead of reading the staged span frame"
        )
        assert "collect_set" not in plan
    assert run._staged_spans is staged


def test_curation_run_builds_lazily(spark):
    """Building a run launches no Spark job, and a decontamination-only
    method never stages the duplicate clusters."""
    from beacon_indexer_spark.measure import job_count, job_table, measure
    from beacon_indexer_spark.plans.pipeline import CurationRun

    train, test = _decon_corpora(spark)
    first = job_count(spark)
    run = CurationRun(train, k=8, bands=4, shingle_n=3,
                      test_docs=test, decon_k=4)
    assert job_count(spark) == first
    m = measure(spark, run.contamination_verdict, "decon", collect=True)
    assert {r["doc_id"] for r in m.rows} == {1, 2, 3}
    descs = {j.description for j in job_table(spark, m.first_job, m.end_job)}
    assert not any(
        d.startswith(("bis:decon:curation.clusters", "bis:decon:cc."))
        for d in descs
    ), descs


def test_curation_run_without_test_docs_rejects_decon(spark):
    from beacon_indexer_spark.plans.pipeline import CurationRun

    run = CurationRun(_curation_docs(spark), k=8, bands=4, shingle_n=3)
    try:
        run.contamination_spans()
        assert False, "expected ValueError"
    except ValueError as e:
        assert "test_docs" in str(e)
