"""Round-11 tests: kmv_jaccard scale fix (narrow prefilter before the
bottom-k window, sampling fallback, defined empty verdict) and the
ivf_assign_two_level empty-super-group fix."""

from __future__ import annotations

import re

from pyspark.sql import functions as F


# ---------------------------------------------------------------- kmv_jaccard


def test_kmv_jaccard_window_input_is_prefiltered(spark):
    """The scale contract (VERDICT r10 #1): the per-group bottom-k window
    must rank the PREFILTERED hash frame, never a group's full distinct
    key set. In the executed plan the cutoff filter (h < H/16) has to sit
    BELOW the Window node."""
    from beacon_indexer_spark.operators.sketch import kmv_jaccard, _H

    df = spark.createDataFrame(
        [("a", i) for i in range(200)] + [("b", i) for i in range(100, 300)],
        "grp string, key long",
    )
    out = kmv_jaccard(df, "key", "grp", "a", "b", k=8, prefilter_denom=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    win = [i for i, l in enumerate(lines) if re.search(r"\bWindow\b", l)]
    assert win, "no Window in kmv_jaccard plan"
    below = "\n".join(lines[win[0]:])
    cutoff = str(_H // 16)
    assert cutoff in below, (
        "prefilter cutoff not below the bottom-k window — the window would "
        "single-task-sort each group's full distinct key set"
    )


def test_kmv_jaccard_underfill_falls_back_to_sampling(spark):
    """When the filtered union keeps fewer than k hashes, every group kept
    ALL of its survivors, so the cutoff acted as a 1/denom distinct-sample:
    union_est = n_kept * denom, jaccard = in-both fraction of the sample."""
    from beacon_indexer_spark.operators.sketch import kmv_jaccard

    rows = [("a", i) for i in range(1, 41)] + [
        ("b", i) for i in range(21, 61)
    ]
    df = spark.createDataFrame(rows, "grp string, key long")
    r = kmv_jaccard(df, "key", "grp", "a", "b", k=64, prefilter_denom=16).collect()[0]
    assert 0 < r.n_kept < 64  # 60 distinct keys / 16 ≈ 4 survivors
    assert r.union_est == float(r.n_kept * 16)
    assert r.jaccard_est == round(r.inter_kept / r.n_kept, 6)
    assert r.inter_est == round(r.jaccard_est * r.union_est, 4)


def test_kmv_jaccard_empty_input_defined_verdict(spark):
    """Zero rows in both groups: a defined zero verdict, not NULL 0/0
    (ADVICE r10). n_kept=0, inter_kept=0, all three estimates 0.0."""
    from beacon_indexer_spark.operators.sketch import kmv_jaccard

    df = spark.createDataFrame([("c", 1)], "grp string, key long")
    r = kmv_jaccard(df, "key", "grp", "a", "b", k=64).collect()[0]
    assert r.n_kept == 0
    assert r.inter_kept == 0
    assert r.jaccard_est == 0.0
    assert r.union_est == 0.0
    assert r.inter_est == 0.0


def test_kmv_jaccard_prefilter_preserves_full_sketch(spark):
    """When every group keeps >= k survivors, the prefiltered sketch IS the
    unfiltered bottom-k (the k minima survive any cutoff keeping >= k
    hashes): denom=1 (no-op filter) and denom=16 must agree exactly."""
    from beacon_indexer_spark.operators.sketch import kmv_jaccard

    rows = [("a", i) for i in range(1, 2001)] + [
        ("b", i) for i in range(1001, 3001)
    ]
    df = spark.createDataFrame(rows, "grp string, key long")
    full = kmv_jaccard(df, "key", "grp", "a", "b", k=64, prefilter_denom=1).collect()[0]
    filt = kmv_jaccard(df, "key", "grp", "a", "b", k=64, prefilter_denom=16).collect()[0]
    assert full == filt


# ------------------------------------------------- ivf_assign_two_level dupes


def test_two_level_assign_skips_empty_super_groups(spark):
    """Duplicate centroids among the supers (two identical vectors sampled
    into the first √k) leave a super-group EMPTY: ties resolve to the
    lower id in both the driver grouping and the ssel expression, so the
    empty sid is unreachable — but emitting its CASE branch used to build
    transform(slice(array_sort(array()), ...)) which fails analysis
    (ADVICE r10). Assignment must succeed and every vector must land in a
    populated group."""
    from beacon_indexer_spark.operators.similarity import (
        centroid_super_groups,
        ivf_assign_two_level,
    )

    cents = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),  # duplicate of super 0 -> group 1 empty
        (2, [0.0, 1.0]),
        (3, [0.9, 0.1]),
    ]
    groups = centroid_super_groups(cents, 2)
    assert groups[1] == []  # the planted empty super-group
    df = spark.createDataFrame(
        [(i, [float(i % 2), float(1 - i % 2)]) for i in range(8)],
        "id long, embedding array<double>",
    )
    out = ivf_assign_two_level(df, cents, "embedding", nprobe=1).collect()
    assert len(out) == 8
    assert {r.ivf_list for r in out} <= {c for c, _ in cents}


def test_semantic_dedup_survives_duplicate_heavy_corpus(spark):
    """semantic_dedup_keep on a corpus of only 3 distinct vectors with
    k_clusters >= hier_threshold: the sampled centroid table is
    duplicate-heavy, guaranteeing identical super-centroids — exactly the
    input that used to crash the two-level path. Verdict must be total
    and group identical vectors together."""
    from beacon_indexer_spark.operators.similarity import semantic_dedup_keep

    base = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    df = spark.createDataFrame(
        [(i, base[i % 3]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup_keep(
        df, "vec_id", "embedding", k_clusters=36, threshold=0.95,
        hier_threshold=32,
    ).collect()
    assert len(out) == 60  # total verdict
    kept = [r.vec_id for r in out if r.keep]
    # identical vectors form 3 groups; exactly one keeper each
    assert sorted(kept) == [0, 1, 2]


# ----------------------------------------------- two-level coarse in the ANN


def _clustered_vectors(spark, n_clusters=36, per_cluster=4, dim=8):
    """Well-separated clusters: one-hot-ish basis directions scaled, with
    tiny deterministic jitter — coarse assignment is unambiguous."""
    rows = []
    vid = 0
    for c in range(n_clusters):
        for j in range(per_cluster):
            v = [0.0] * dim
            v[c % dim] = 10.0 + c  # distinct magnitude per cluster
            v[(c + 3) % dim] = float(c) / 7.0
            v[(c + 5) % dim] = 0.01 * j  # jitter within cluster
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_topk_two_level_gate_matches_flat_on_separable_data(spark):
    """At len(centroids) >= hier_threshold, ivf_topk's coarse step runs
    two-level. At nprobe=1 on cleanly separable clusters the two-level
    choice (nearest super, then nearest member) lands on the SAME list
    as the flat global nearest-centroid scan, so the top-k must be
    identical to the flat path (hier_threshold high enough to disable).
    At nprobe>1 two-level probes within one super-group — a documented
    approximation — so only the output contract is asserted there."""
    from beacon_indexer_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    vecs = _clustered_vectors(spark)
    cents = ivf_centroids(vecs, k=36)
    qs = vecs.filter(F.col("vec_id") % 29 == 0)
    flat = ivf_topk(vecs, qs, cents, k=3, nprobe=1, hier_threshold=10_000)
    two = ivf_topk(vecs, qs, cents, k=3, nprobe=1, hier_threshold=32)
    a = sorted(tuple(r) for r in flat.collect())
    b = sorted(tuple(r) for r in two.collect())
    assert a == b
    assert len(a) > 0
    # nprobe=2 under the gate: contract only (ranks contiguous, no self)
    out = ivf_topk(vecs, qs, cents, k=3, nprobe=2, hier_threshold=32).collect()
    by_q: dict = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivfpq_two_level_gate_runs_and_ranks(spark):
    """ivfpq_residual_topk behind the same gate: with 36 lists the coarse
    step is two-level; output contract (rank 1..k per query, self
    excluded) must hold."""
    from beacon_indexer_spark.operators.similarity import (
        ivf_centroids,
        ivfpq_residual_topk,
        pq_residual_codebooks,
    )

    vecs = _clustered_vectors(spark)
    cents = ivf_centroids(vecs, k=36)
    cbs = pq_residual_codebooks(vecs, cents, vec_col="embedding", m=2, k=4)
    qs = vecs.filter(F.col("vec_id") < 3)
    out = ivfpq_residual_topk(
        vecs, qs, cents, cbs, k=3, nprobe=1, hier_threshold=32
    ).collect()
    assert len(out) > 0
    by_q: dict = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# --------------------------------------------------- global shuffle order


def test_global_shuffle_order_is_total_and_distributed(spark):
    """The two-level rank must (a) be a bijection onto 0..n-1, (b) match
    the naive global ORDER BY (md5, id) rank exactly, and (c) contain NO
    unpartitioned window — the whole point is computing a global rank
    without funneling the corpus through one task."""
    import re

    from beacon_indexer_spark.operators.sampling import global_shuffle_order

    df = spark.createDataFrame(
        [(i,) for i in range(500)], "doc_id long"
    )
    out = global_shuffle_order(df, "doc_id", n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(
        r"windowspecdefinition\([^,()]+ (?:ASC|DESC) NULLS", plan
    ), "unpartitioned window in global_shuffle_order"
    rows = out.collect()
    assert sorted(r.shuffle_pos for r in rows) == list(range(500))
    # naive oracle: global sort by (hash, id)
    import hashlib

    naive = sorted(
        (hashlib.md5(f"shuf:{i}".encode()).hexdigest(), i) for i in range(500)
    )
    want = {i: pos for pos, (_, i) in enumerate(naive)}
    assert all(want[r.doc_id] == r.shuffle_pos for r in rows)
    assert all(r.shard == r.shuffle_pos % 4 for r in rows)
    # round-robin striping: shard sizes differ by at most 1
    from collections import Counter

    sizes = Counter(r.shard for r in rows).values()
    assert max(sizes) - min(sizes) <= 1


def test_curriculum_interleave_strides_groups(spark):
    """Round-robin property: sorting by curriculum_pos, the first
    n_groups rows are each group's best row (one per group), and within
    a group positions are strictly increasing with descending quality."""
    from beacon_indexer_spark.operators.sampling import curriculum_interleave

    rows = [
        (1, "a", 0.9), (2, "a", 0.5), (3, "a", 0.1),
        (4, "b", 0.8), (5, "b", 0.7),
        (6, "c", 0.99),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double")
    out = sorted(
        curriculum_interleave(df, "doc_id", "q", "source").collect(),
        key=lambda r: r.curriculum_pos,
    )
    # first wave: best of a, b, c in source order
    assert [r.doc_id for r in out[:3]] == [1, 4, 6]
    # strided positions: pos = src_rank * 3 + group_index
    for r in out:
        gi = {"a": 0, "b": 1, "c": 2}[r.source]
        assert r.curriculum_pos == r.src_rank * 3 + gi
    # positions are unique (a valid ordering key)
    assert len({r.curriculum_pos for r in out}) == len(out)


def test_query_registry_integrity():
    """The registries are derived from the module's names, so pin the
    declaration rules: a reused q_* function name would make the later
    def shadow the earlier one and silently shrink the surface; every
    query resolves to exactly one oracle; and no ORACLE_* constant is
    left behind by a renamed or deleted query."""
    import re
    from collections import Counter

    import beacon_indexer_spark.plans.queries as Q

    assert len(Q.QUERIES) == 346
    defs = re.findall(r"^def (q_\w+)\(", open(Q.__file__).read(), re.M)
    dup_defs = [k for k, c in Counter(defs).items() if c > 1]
    assert not dup_defs, f"duplicate query function defs: {dup_defs}"
    assert sorted(defs) == sorted(f"q_{n}" for n in Q.QUERIES)
    for name in Q.QUERIES:
        assert Q._oracle(name).strip(), f"{name}: empty oracle"
    orphans = [
        k for k in vars(Q)
        if k.startswith("ORACLE_") and k[len("ORACLE_"):].lower() not in Q.QUERIES
    ]
    assert not orphans, f"oracles without a query: {orphans}"
