"""Round-12 optimization internals: focused equivalence tests for the
operator changes the optimization round made. Every test pins a
RESULT-equivalence claim the optimization relies on:

- `_exclusive_prefix` multi-value form == N independent single-value runs
- `_hist_prefix` (probe-bounded depth, zero-base key shift) == the plain
  static-depth prefix, including negative keys, a zero-spread key domain,
  and the empty frame
- `gramian_partials` (Arrow-batch integer matmul) == the JVM
  posexplode-of-outer-products pass, cell for cell, as exact integers
- `connected_components` without the edge-level distinct labels a
  multigraph (duplicate pairs) identically to the simple graph
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------- prefix


@pytest.fixture()
def keyed(spark):
    # keys deliberately sparse, clustered, and including duplicates-free
    # histogram shape (one row per key) across a wide range
    data = [
        (k, v1, v2)
        for i, (k, v1, v2) in enumerate(
            [
                (-70000, 3, 10),
                (-65536, 1, -2),
                (-3, 7, 0),
                (0, 2, 5),
                (1, 4, 1),
                (65535, 9, 9),
                (65536, 11, -4),
                (1_000_000, 5, 2),
            ]
        )
    ]
    return spark.createDataFrame(data, "k long, v1 long, v2 long")


def _brute_prefix(rows, vcol):
    out = {}
    run = 0
    for k, v1, v2 in sorted(rows):
        out[k] = run
        run += v1 if vcol == "v1" else v2
    return out


def test_exclusive_prefix_multival_matches_single(spark, keyed):
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    shifted = keyed.withColumn("k", F.col("k") + F.lit(70000))
    multi = _exclusive_prefix(shifted, "k", ["v1", "v2"], ["p1", "p2"])
    s1 = _exclusive_prefix(shifted, "k", "v1", "p1")
    s2 = _exclusive_prefix(shifted, "k", "v2", "p2")
    assert _rows(multi, "k", "p1", "p2") == sorted(
        (a[0], a[1], b[1])
        for a, b in zip(_rows(s1, "k", "p1"), _rows(s2, "k", "p2"))
    )


def test_hist_prefix_matches_brute_force_with_negative_keys(spark, keyed):
    from beacon_indexer_spark.plans.queries import _hist_prefix

    rows = [(r["k"], r["v1"], r["v2"]) for r in keyed.collect()]
    hist, pre = _hist_prefix(keyed, "k", ["v1", "v2"], ["p1", "p2"])
    got = _rows(pre, "k", "p1", "p2")
    b1, b2 = _brute_prefix(rows, "v1"), _brute_prefix(rows, "v2")
    assert got == sorted((k, b1[k], b2[k]) for k, _, _ in rows)
    # the returned hist frame still carries the ORIGINAL (unshifted) keys
    assert _rows(hist, "k") == sorted((k,) for k, _, _ in rows)


def test_hist_prefix_single_key_and_empty(spark):
    from beacon_indexer_spark.plans.queries import _hist_prefix

    one = spark.createDataFrame([(42, 7)], "k long, v long")
    _, pre = _hist_prefix(one, "k", "v", "p")
    assert _rows(pre, "k", "p") == [(42, 0)]

    empty = spark.createDataFrame([], "k long, v long")
    _, pre = _hist_prefix(empty, "k", "v", "p")
    assert pre.count() == 0
    assert "p" in pre.columns


# --------------------------------------------------------------- gramian


def test_gramian_partials_match_jvm_outer_product(spark):
    import numpy as np

    from beacon_indexer_spark.operators.similarity import gramian_partials

    d = 8
    rng = np.random.Generator(np.random.PCG64(20260817))
    m = rng.integers(-1_000_000, 1_000_000, size=(500, d), dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), [int(x) for x in m[i]]) for i in range(m.shape[0])],
        "id long, q array<long>",
    ).repartition(7)  # several Arrow batches

    parts = gramian_partials(df, "q", d)
    dec = "decimal(38,0)"
    sij = (
        parts.select(F.posexplode("__g").alias("p", "v"))
        .groupBy("p")
        .agg(F.sum(F.col("v").cast(dec)).alias("s"))
    )
    got = {r["p"]: int(r["s"]) for r in sij.collect()}
    want = (m.T.astype(object) @ m.astype(object)).ravel()
    assert got == {i: int(want[i]) for i in range(d * d)}

    csum = (
        parts.select(F.posexplode("__c").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum(F.col("v").cast(dec)).alias("s"))
    )
    gotc = {r["i"]: int(r["s"]) for r in csum.collect()}
    wantc = m.sum(axis=0)
    assert gotc == {i: int(wantc[i]) for i in range(d)}


def test_gramian_partials_rejects_nulls_and_ragged(spark):
    from beacon_indexer_spark.operators.similarity import gramian_partials

    nulls = spark.createDataFrame(
        [(1, [1, 2]), (2, None)], "id long, q array<long>"
    )
    with pytest.raises(Exception, match="null vector"):
        gramian_partials(nulls, "q", 2).collect()

    ragged = spark.createDataFrame(
        [(1, [1, 2]), (2, [3])], "id long, q array<long>"
    )
    with pytest.raises(Exception, match="ragged"):
        gramian_partials(ragged, "q", 2).collect()


# ---------------------------------------------------------------------- cc


def test_connected_components_multigraph_equals_simple_graph(spark):
    from beacon_indexer_spark.operators.dedup import connected_components

    simple = [(1, 2), (2, 3), (5, 6), (8, 9), (7, 9)]
    dup = simple + simple + [(2, 1) if False else (1, 2)] * 3
    sdf = spark.createDataFrame(simple, "id_a long, id_b long")
    ddf = spark.createDataFrame(dup, "id_a long, id_b long")
    a = _rows(connected_components(sdf), "node", "cluster_id")
    b = _rows(connected_components(ddf), "node", "cluster_id")
    assert a == b
    assert a == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 7), (8, 7), (9, 7)]


def test_connected_components_broadcast_equals_shuffle_rounds(spark):
    """The r12 probe-guarded broadcast of the label frame inside each CC
    round must label any graph identically to the pure-shuffle plan —
    including a long chain that needs several pointer-jumping rounds and
    a graph above the broadcast ceiling (forced via broadcast_rows=0)."""
    from beacon_indexer_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(60, 80)]  # diameter 20 → >2 rounds
    extra = [(5, 9), (9, 11), (200, 300)]
    df = spark.createDataFrame(chain + extra, "id_a long, id_b long")
    bcast = _rows(connected_components(df), "node", "cluster_id")
    shuf = _rows(
        connected_components(df, broadcast_rows=0), "node", "cluster_id"
    )
    assert bcast == shuf
    assert all(c == 60 for n, c in bcast if 60 <= n <= 80)


def test_connected_components_carries_row_count_for_broadcast(spark):
    """CC output carries its final observed row count; broadcast_if_small
    reads it instead of running a count job, and the verdict matches the
    true count on both sides of the ceiling."""
    from beacon_indexer_spark.operators.dedup import (
        broadcast_if_small,
        connected_components,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    out = connected_components(df, node_col="doc_id")
    assert out.columns == ["doc_id", "cluster_id"]
    n = out.count()
    assert getattr(out, "_bis_rows", None) == n == 5
    hinted = broadcast_if_small(out)
    # the broadcast hint must survive into the optimized plan
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString() or \
        "broadcast" in hinted._jdf.queryExecution().optimizedPlan().toString().lower()
    # above-ceiling: falls back to the plain frame (no hint), same rows
    plain = broadcast_if_small(out, max_rows=2)
    assert _rows(plain, "doc_id", "cluster_id") == _rows(
        out, "doc_id", "cluster_id"
    )


def test_connected_components_empty_pairs(spark):
    from beacon_indexer_spark.operators.dedup import connected_components

    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_pq_residual_codebooks_accepts_precomputed_sample(spark):
    """Passing the ivf_centroids sample explicitly (the r12 concurrent
    fit+sample staging) must reproduce the internally-sampled codebooks
    exactly."""
    from beacon_indexer_spark.operators.similarity import (
        ivf_centroids,
        pq_residual_codebooks,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), float(i % 2), 1.0])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    cents = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [5.0, 4.0, 1.0, 1.0])]
    inline = pq_residual_codebooks(
        vecs, cents, "vec_id", "embedding", m=2, k=4
    )
    samp = ivf_centroids(vecs, "vec_id", "embedding", k=4)
    staged = pq_residual_codebooks(
        vecs, cents, "vec_id", "embedding", m=2, k=4, sample=samp
    )
    assert inline == staged


# ------------------------------------------------------------ keyed spread


def test_spread_as_keyed_spreads_and_preserves_rows(spark, sf_dir):
    """`_spread_as(..., by=...)` hash-spreads an under-parallel scan by
    the given columns up to the session parallelism, changing NOTHING
    about the rows — and the downstream shuffle keyed the same way
    reuses the spread exchange (one Exchange in the plan)."""
    from beacon_indexer_spark.plans.queries import _t, _ts

    base = _t(spark, sf_dir, "orders")
    keyed = _ts(spark, sf_dir, "orders", by=("o_custkey",))
    assert keyed.rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    agg_b = sorted(
        (r["o_custkey"], r["n"])
        for r in base.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    agg_k = sorted(
        (r["o_custkey"], r["n"])
        for r in keyed.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    assert agg_b == agg_k
    plan = (
        keyed.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the groupBy reuses the spread's hash partitioning: exactly the
    # spread exchange, no second shuffle. == 1, not <= 1: the spread is
    # asserted to have fired above (getNumPartitions), so the single
    # exchange must BE the spread's — a 0-exchange or vacuous pass would
    # mean the assertion stopped pinning exchange reuse.
    assert plan.count("Exchange hashpartitioning") == 1


def test_fuzzy_name_pairs_spread_input_identical(spark):
    """fuzzy_name_pairs' under-parallel block-key spread changes the
    physical placement only: pairs from a 1-partition input equal pairs
    from a pre-spread input."""
    from beacon_indexer_spark.operators.dedup import fuzzy_name_pairs

    rows = [
        (i, f"acme widget {i % 7}{'x' * (i % 3)}", f"b{i % 3}")
        for i in range(120)
    ]
    df1 = spark.createDataFrame(rows, "id long, name string, blk string")
    one = df1.coalesce(1)
    wide = df1.repartition(8)
    p1 = fuzzy_name_pairs(one, "id", "name", ["blk"], max_dist=3)
    p2 = fuzzy_name_pairs(wide, "id", "name", ["blk"], max_dist=3)
    k = lambda df: sorted(
        (r["id_a"], r["id_b"], r["dist"]) for r in df.collect()
    )
    assert k(p1) == k(p2)
