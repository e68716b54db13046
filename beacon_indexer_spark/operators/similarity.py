"""Similarity search over embedding columns (array<float>).

Two paths:

- brute-force cosine top-k — the exact baseline. All arithmetic is
  sequential left-to-right double accumulation over the array, which makes
  the result bit-reproducible across engines (the DuckDB oracle computes
  the identical sum) and across partitionings.
- LSH-bucketed (random hyperplane signs) — the scale path: queries only
  compare against vectors sharing a hash bucket, turning the O(N·Q) cross
  join into an equi-join. Hyperplanes are derived deterministically from
  md5 so no RNG state is shipped to executors.
- IVF-style coarse quantization (assign to nearest of k seed centroids,
  probe the closest `nprobe` lists) — centroids picked deterministically.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

# centroid count at which `ivf_topk` switches from the flat nearest-of-k
# coarse scan to the two-level hierarchical assignment
_HIER_THRESHOLD = 32


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential double dot product — deterministic accumulation order."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    The query side is broadcast (queries ≪ corpus); the corpus is scanned
    once, map-side, and the global top-k per query uses a window over the
    (small) survivor set after a per-partition pre-filter is handled by
    TakeOrdered semantics of row_number + filter. Self-matches excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    v = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vvec"))
    scored = (
        v.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__vvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# LSH (random-hyperplane) buckets
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 — portable,
    no RNG object; component c of plane `bit` = ±1 by md5 parity."""
    import hashlib

    comps = []
    for c in range(dim):
        h = hashlib.md5(f"plane:{bit}:{c}".encode()).hexdigest()
        comps.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return comps


def _bits_sql(vec_sql: str, dim: int, n_bits: int) -> str:
    """SQL text for the full n_bits hyperplane sign-bit string, computed as
    ONE ``transform`` over a 2-D plane-literal array.

    Why text + a single HOF instead of n_bits Column-API aggregates: per-
    plane Column trees cost thousands of py4j round trips to build AND
    n_bits independent aggregate expressions to analyze (measured ~3.8 s of
    driver time for 16 planes at dim 64); one transform over
    ``array(plane_0, …, plane_{n-1})`` parses and analyzes a tree 1/n_bits
    the size. Bit b of the result equals ``dot(vec, plane_b) >= 0`` with
    identical sequential-accumulation arithmetic (the DuckDB oracle mirrors
    it plane by plane)."""
    planes = "array(" + ", ".join(
        "array(" + ", ".join(f"{x}D" for x in _hyperplane(dim, b)) + ")"
        for b in range(n_bits)
    ) + ")"
    dots = (
        f"transform({planes}, p -> aggregate(zip_with("
        f"transform({vec_sql}, x -> CAST(x AS DOUBLE)), p, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return (
        f"array_join(transform({dots}, d -> "
        f"CASE WHEN d >= 0 THEN '1' ELSE '0' END), '')"
    )


def lsh_bucket(vec_sql: str, dim: int, n_bits: int = 8) -> Column:
    """Sign-bit bucket key: n_bits-char string of 0/1 by hyperplane side.
    ``vec_sql`` is the vector column's SQL identifier (see _bits_sql for
    why this is text, not a Column)."""
    return F.expr(_bits_sql(vec_sql, dim, n_bits))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_bits: int = 8,
    bands: int | None = None,
) -> DataFrame:
    """Approximate top-k: compare only within matching sign-buckets.

    At 100 TB this replaces the corpus-wide scan with an equi-join on the
    bucket key (2^n_bits buckets). ``bands`` (dividing n_bits) enables
    multi-band probing: a candidate matches if it shares ANY contiguous
    band of n_bits/bands sign bits — recall rises steeply (1-(1-p^r)^b)
    while the join stays an equi-join on (band, key); candidates hit by
    several bands dedup through the score aggregation.
    """
    if bands is None or bands <= 1:
        vkey = lsh_bucket(vec_col, dim, n_bits)
        vb = vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__vvec"),
            F.lit(0).alias("__band"),
            vkey.alias("__key"),
        )
        qb_plain = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.lit(0).alias("__band"),
            lsh_bucket(vec_col, dim, n_bits).alias("__key"),
        )
        qb = F.broadcast(qb_plain)
    else:
        bk = F.explode(lsh_band_keys("__bits", n_bits, bands)).alias("bk")
        vb = vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__vvec"),
            lsh_bucket(vec_col, dim, n_bits).alias("__bits"),
        ).select("neighbor_id", "__vvec", bk).select(
            "neighbor_id", "__vvec",
            F.col("bk.band").alias("__band"), F.col("bk.key").alias("__key"),
        )
        qb = F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
                lsh_bucket(vec_col, dim, n_bits).alias("__bits"),
            ).select("query_id", "__qvec", bk).select(
                "query_id", "__qvec",
                F.col("bk.band").alias("__band"), F.col("bk.key").alias("__key"),
            )
        )
    scored = (
        vb.join(qb, ["__band", "__key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__vvec")).alias("cos_sim"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))  # dedup multi-band hits
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest coarse centroids
    (IVF inverted lists). Centroids ship as literals (they're small by
    construction); assignment is a narrow map — no shuffle.

    The scored array is generated as SQL TEXT and parsed once — the
    `_bits_sql` move: building k centroid structs each holding a
    64-component literal dot product through the Column API costs
    thousands of py4j round trips (measured ~1.6 s of driver time per
    ivf_topk plan at k=8/dim=64); one ``expr`` parses the same tree in
    milliseconds. Float semantics are unchanged: the dot is the identical
    zip_with/aggregate sequential accumulation, centroid components are
    shortest-repr literals (exact double round-trip), so the DuckDB
    oracle mirror stays bit-equal."""
    scored = F.expr(
        "array(" + ", ".join(_d2_structs(centroids, vec_col)) + ")"
    )
    ranked = F.slice(F.array_sort(scored), 1, nprobe)
    return vectors.withColumn(
        "__lists", F.transform(ranked, lambda s: s["cid"])
    ).withColumn("ivf_list", F.explode("__lists")).drop("__lists")


def _d2_structs(
    centroids: list[tuple[int, list[float]]], vec_col: str
) -> list[str]:
    """named_struct('d2', …, 'cid', …) SQL per centroid. The float→double
    cast happens INSIDE the multiply lambda (CAST(x)*y), not via a
    per-centroid ``transform`` — Catalyst inlines projection aliases, so
    the transform form materialized k fresh double arrays per row
    (measured ~25% of assignment time at k=80). Arithmetic is unchanged:
    identical cast, identical multiply, identical sequential fold."""
    structs = []
    for cid, c in centroids:
        arr = "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
        dot_sql = (
            f"aggregate(zip_with({vec_col}, {arr}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        # ||v - c||^2 = ||v||^2 - 2 v·c + ||c||^2; ||v||^2 constant per
        # row → ranking by (-2 v·c + ||c||^2) is exact nearest-centroid
        # order
        structs.append(
            f"named_struct('d2', (-{dot_sql}) * 2 + CAST({_sq(c)!r} AS DOUBLE), "
            f"'cid', {int(cid)})"
        )
    return structs


def _seq_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-to-right double dot — the driver-side twin of the
    zip_with/aggregate fold (Python floats ARE IEEE doubles, so a plain
    loop is bit-identical)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def centroid_super_groups(
    centroids: list[tuple[int, list[float]]], n_super: int
) -> dict[int, list[tuple[int, list[float]]]]:
    """Deterministic two-level grouping: the first ``n_super`` centroids
    (md5 order) are the super-centroids; every centroid joins the
    super-centroid minimizing ``-2 c·s + ||s||²`` (ties to the lower
    super id) — the same ranking formula the assignment uses, computed
    driver-side over the k×dim centroid table (tiny by construction).
    The DuckDB oracle re-derives the identical grouping in SQL."""
    sups = centroids[:n_super]
    groups: dict[int, list[tuple[int, list[float]]]] = {
        sid: [] for sid, _ in sups
    }
    for cid, c in centroids:
        best_sid, best_d2 = None, None
        for sid, s in sups:
            d2 = (-_seq_dot(c, s)) * 2 + _sq(s)
            if best_d2 is None or d2 < best_d2:
                best_sid, best_d2 = sid, d2
        groups[best_sid].append((cid, c))
    return groups


def ivf_assign_two_level(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    nprobe: int = 1,
    n_super: int | None = None,
    super_probe: int = 1,
) -> DataFrame:
    """Hierarchical coarse assignment (FAISS-IMI shape): nearest of
    √k super-centroids first, then nearest member centroid within that
    super-group only — per-row cost ~2√k distance evaluations instead of
    k, which is what turns the SemDeDup corpus-adaptive k = n/250 from
    an n·k ≈ n²/250 assignment into n·√k. Serves the whole ANN family
    through `_coarse_assign` (semantic dedup, `ivf_topk`,
    `ivfpq_residual_topk`) behind the shared ≥32-centroid gate. The
    choice of super then group is a deterministic function of the
    centroid list (see `centroid_super_groups`), so the DuckDB oracle
    mirrors it exactly.
    Approximation is confined to CLUSTER SHAPE (a vector near a group
    boundary may land in the neighbor cluster) — acceptable for coarse
    candidate generation, never used for exact scoring.

    ``super_probe`` widens the first level: the member lists of the
    ``super_probe`` nearest super-groups union before the nprobe
    member selection — per-row cost ~(√k + super_probe·√k) distance
    evaluations, still O(√k). On NON-separable data (one dense blob,
    the regime where every super-group frontier cuts through real
    density) super_probe=1 measured recall@10 at 0.78x the flat coarse
    scan on the hostile corpus of tests/test_round12_ops.py;
    super_probe=2 restores it above the 0.9x floor (SCALE.md). The
    query-facing ANN entry points default to 2; `semantic_dedup_keep`
    stays at 1, whose two-level choice its DuckDB oracle mirrors
    branch for branch."""
    if n_super is None:
        n_super = max(1, math.isqrt(len(centroids)))
    groups = centroid_super_groups(centroids, n_super)
    sup_structs = _d2_structs(
        [(sid, dict(centroids)[sid]) for sid in groups], vec_col
    )
    sorted_sup = "array_sort(array(" + ", ".join(sup_structs) + "))"
    # ONE form for every super_probe: the sorted super array binds
    # to a lambda variable via transform(slice(...)) so it computes once
    # per row; the selected supers' member arrays CASE-dispatch (only
    # the chosen groups' distances evaluate), NULL arms from EMPTY
    # super-groups (duplicate super centroids — unreachable at rank 1 by
    # the lower-id tie rule, reachable at ranks >= 2) filter before the
    # flatten, and one final sort + slice yields the nprobe member
    # lists. Measured at n=20k/k=128 this lambda-bound form is ~3x
    # faster than the per-rank re-inlined CASE chain it replaces and on
    # par with the flat scan even at this modest k (SCALE.md).
    arr_branches = " ".join(
        f"WHEN {int(sid)} THEN array("
        + ", ".join(_d2_structs(members, vec_col))
        + ")"
        for sid, members in groups.items()
        if members
    )
    picked = (
        f"flatten(filter(transform(slice({sorted_sup}, 1, "
        f"{max(1, int(super_probe))}), ss -> CASE ss.cid {arr_branches} "
        f"END), a -> a IS NOT NULL))"
    )
    lists_sql = (
        f"transform(slice(array_sort({picked}), 1, "
        f"{int(nprobe)}), s -> s.cid)"
    )
    return (
        vectors.withColumn("__lists", F.expr(lists_sql))
        .withColumn("ivf_list", F.explode("__lists"))
        .drop("__lists")
    )


def _sq(c: list[float]) -> float:
    total = 0.0
    for x in c:
        total += x * x
    return total


def ivf_centroids(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 16,
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: the k corpus vectors whose md5(id) is
    smallest — a reproducible pseudo-random sample (no RNG state, no
    iteration; real IVF training would k-means these, which at 100 TB runs
    on a sampled subset anyway).

    Two-job sample: the TakeOrdered runs over (md5, id) ONLY — column
    pruning keeps the vector column out of the scan and the sort — and a
    second scan fetches just the k winning vectors through a pushed-down
    id filter. At 100 TB the alternative (sorting with vectors attached)
    moves the entire embedding column through the sample; here it moves
    O(k) rows.

    Duplicate ids (possible on append-only lake reads) must not consume
    sample slots, but a full-column ``distinct()`` to guarantee that is a
    corpus-wide shuffle spent on picking ≤ k rows. Instead: TakeOrdered
    4·k rows WITHOUT distinct (shuffle-free TakeOrderedAndProject), dedup
    the ≤ 4·k ids on the driver, keep the first k distinct. Only if heavy
    duplication leaves < k distinct ids in the oversample (and the corpus
    plausibly has more) does the distinct fallback run — same determinism
    contract either way, since md5 ordering is a total order on ids."""
    if k <= 0:
        # k=0 would make len(oversample) == 4*k hold for an EMPTY list and
        # oversample[-1] raise IndexError below; zero centroids is a
        # well-defined (if useless) request
        return []
    oversample = (
        vectors.select(F.col(id_col).alias("id"))
        .filter(F.col(id_col).isNotNull())
        .withColumn("__r", F.md5(F.col("id").cast("string")))
        .orderBy("__r")
        .limit(4 * k)
        .collect()
    )
    distinct_ids: list = []
    seen: set = set()
    saw_dup = False
    for r in oversample:
        if r["id"] not in seen:
            seen.add(r["id"])
            distinct_ids.append(r)
        else:
            saw_dup = True
    ids = [r["id"] for r in distinct_ids[:k]]
    if len(ids) < k and len(oversample) == 4 * k:
        # the oversample was exhausted by duplicates AND truncated — the
        # corpus may hold more distinct ids; pay the distinct shuffle only
        # in this degenerate (dup-rate > 75%) case
        saw_dup = True
        ids = [
            r["id"]
            for r in vectors.select(F.col(id_col).alias("id"))
            .filter(F.col(id_col).isNotNull())
            .distinct()
            .withColumn("__r", F.md5(F.col("id").cast("string")))
            .orderBy("__r")
            .limit(k)
            .collect()
        ]
    # PROOF the chosen ids are globally unique when `ids_unique` holds:
    # every copy of a chosen id shares its md5 key, so copies can only be
    # missing from the collected window if the window was truncated AT
    # that key value — excluded by requiring the k-th chosen key to sort
    # strictly before the truncation cutoff (or no truncation at all).
    cutoff = oversample[-1]["__r"] if len(oversample) == 4 * k else None
    ids_unique = not saw_dup and (
        cutoff is None
        or (len(distinct_ids) >= k and distinct_ids[k - 1]["__r"] < cutoff)
    )
    base = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .filter(F.col("id").isin(ids))
    )
    if not ids_unique:
        # duplicate ids can carry DIFFERENT vector payloads, and md5(id)
        # alone would tie — which row's vector wins would then be
        # partition-order nondeterminism, breaking the reproducible-
        # centroids contract. min_by on a payload fingerprint is a total,
        # content-deterministic tiebreak (equal fingerprints imply equal
        # payloads). The groupBy shuffle moves only the ≤ k ids' rows —
        # skipped entirely on the proven-unique common path above.
        base = base.groupBy("id").agg(
            F.min_by(
                "v", F.md5(F.to_json(F.struct(F.col("v").alias("v"))))
            ).alias("v")
        )
    rows = (
        base.withColumn("__r", F.md5(F.col("id").cast("string")))
        .orderBy("__r")
        .limit(k)
        .collect()
    )
    return [(i, [float(x) for x in r["v"]]) for i, r in enumerate(rows)]


def _coarse_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    nprobe: int,
    hier_threshold: int | None = _HIER_THRESHOLD,
    super_probe: int = 1,
) -> DataFrame:
    """Coarse-assignment dispatcher shared by the ANN family: flat
    nearest-of-k scan below ``hier_threshold`` centroids (exact coarse
    step, what the oracles mirror at gate SFs), two-level ~2√k scan at or
    above it (`ivf_assign_two_level`) — the switch that keeps corpus-
    adaptive k (n/250 lists at corpus scale) from turning assignment
    into an n·k pass. Same gate as `semantic_dedup_keep`.

    RESULTS-AFFECTING DEFAULT: callers with >=32 centroids get the
    two-level approximation, not the exact flat coarse scan — boundary
    vectors near a super-group frontier can land in a different list,
    moving top-k membership/recall. Pass ``hier_threshold=None`` (or any
    value > len(centroids)) to pin the exact flat path; the measured
    recall floor of the two-level path on non-separable, duplicate-heavy
    embeddings is recorded in SCALE.md and pinned by
    tests/test_round12_ops.py."""
    if hier_threshold is None:
        return ivf_assign(df, centroids, vec_col, nprobe=nprobe)
    if len(centroids) >= hier_threshold:
        return ivf_assign_two_level(
            df, centroids, vec_col, nprobe=nprobe, super_probe=super_probe
        )
    return ivf_assign(df, centroids, vec_col, nprobe=nprobe)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    hier_threshold: int | None = _HIER_THRESHOLD,
    super_probe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors whose inverted list
    matches one of the query's ``nprobe`` probed lists.

    The corpus is bucketed once (narrow); the join is an equi-join on
    ``ivf_list`` with the (small) probed query side broadcast — at 100 TB
    this scans ~nprobe/k_lists of the corpus per query instead of all of it.
    With ``len(centroids) >= hier_threshold`` the coarse step runs
    two-level (`_coarse_assign`), so corpus-adaptive list counts keep the
    assignment at ~2√k distance evaluations per vector. ``super_probe=2``
    widens the two-level first stage on BOTH sides (corpus bucketing and
    query probing) — the recall repair measured on non-separable data in
    tests/test_round12_ops.py; it costs one extra √k member-group scan
    per row and nothing at all below the gate (flat path ignores it).
    """
    vb = _coarse_assign(
        vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vvec")),
        centroids, "__vvec", nprobe=1, hier_threshold=hier_threshold,
        super_probe=super_probe,
    )
    qb = F.broadcast(
        _coarse_assign(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")),
            centroids, "__qvec", nprobe=nprobe, hier_threshold=hier_threshold,
            super_probe=super_probe,
        )
    )
    scored = (
        vb.join(qb, "ivf_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("__qvec"), F.col("__vvec")).alias("cos_sim"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))  # dedup multi-probe hits
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_exact_scored(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ONE corpus scan serving BOTH the probe-limited IVF top-k and the
    exact brute-force control. Every ANN quality gate
    (recall, nDCG, the streaming freshness monitor) composes `ivf_topk`
    + `brute_force_topk` over the SAME corpus and queries — two corpus
    scans, two cosine passes and a pair join — yet the exact control
    already scores every (query, corpus) pair the IVF side could ever
    surface. Here the exact cosine is computed once per pair and the
    IVF side degenerates to a candidacy FLAG (the corpus vector's single
    nearest list ∈ the query's ``nprobe`` probed lists — exactly the
    flat `ivf_topk` candidate set), and both rankings fall out of ONE
    window sort (identical partitioning+ordering → one exchange, one
    sort, two window expressions):

    - ``rank`` — exact rank (row_number, cos desc / neighbor_id asc);
      rows with rank <= k are exactly `brute_force_topk`'s output.
    - ``ivf_rank`` — running count of candidate rows under the SAME
      order; candidate rows with ivf_rank <= k are exactly `ivf_topk`'s
      flat-path output (corpus side assigns nprobe=1, so a pair hits at
      most once and the multi-probe max() dedup is vacuous).

    Only rows in either top-k survive. FLAT PATH ONLY: callers must be
    below the `ivf_topk` two-level gate (``hier_threshold``, default 32)
    — above it the two-level coarse assignment changes candidate sets
    and composing the two operators stays the right shape, so this
    raises rather than silently diverging.
    Returns (query_id, neighbor_id, cos_sim, is_cand, rank, ivf_rank).
    """
    if len(centroids) >= _HIER_THRESHOLD:
        raise ValueError(
            f"ivf_exact_scored is flat-path only (< {_HIER_THRESHOLD} "
            "centroids); compose ivf_topk + brute_force_topk for two-level "
            "corpora"
        )
    q_scored = F.expr(
        "array(" + ", ".join(_d2_structs(centroids, "__qvec")) + ")"
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        ).withColumn(
            "__qlists",
            F.transform(
                F.slice(F.array_sort(q_scored), 1, nprobe),
                lambda s: s["cid"],
            ),
        )
    )
    v_scored = F.expr(
        "array(" + ", ".join(_d2_structs(centroids, "__vvec")) + ")"
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vvec")
    ).withColumn("__vlist", F.element_at(F.array_sort(v_scored), 1)["cid"])
    scored = (
        v.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__vvec")).alias("cos_sim"),
            F.array_contains(F.col("__qlists"), F.col("__vlist"))
            .cast("int")
            .alias("is_cand"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        "cos_sim",
        "is_cand",
        F.row_number().over(w).alias("rank"),
        F.sum("is_cand").over(wsum).alias("ivf_rank"),
    )
    return ranked.filter(
        (F.col("rank") <= k)
        | ((F.col("is_cand") == 1) & (F.col("ivf_rank") <= k))
    )


def hard_negative_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the k most cosine-similar corpus vectors with a DIFFERENT label —
    the negatives that sit closest to the decision boundary, which is
    exactly what a contrastive objective (SimCLR/DPR-style) needs more
    than random negatives. Returns (query_id, neighbor_id,
    neighbor_label, cos_sim, rank).

    Same 100-TB shape as `brute_force_topk`: the (small) query side is
    broadcast with its labels attached, the corpus streams through one
    map-side scan, the label mismatch filters BEFORE the scoring
    expression runs, and the per-query top-k is a partitioned window.
    For billion-vector corpora route the candidate generation through
    `ivf_topk` first and re-rank the union of probed lists with the
    label filter — the scoring stage here is unchanged."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.col(label_col).alias("__qlab"),
        )
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        v.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(F.col("neighbor_label") != F.col("__qlab"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            cosine(F.col("__qvec"), F.col("__vvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def quantize_scale(vec: Column, bits: int = 8) -> Column:
    """Symmetric quantization scale ``max|v| / (2^(bits-1) - 1)``.

    STAGE THIS AS A COLUMN before calling :func:`quantize_codes` — the
    scale is an O(d) aggregate, and Spark performs no subexpression
    elimination inside HOF lambdas, so inlining it into the per-element
    code transform would evaluate it once per component (O(d²) per row —
    measured 80× slower at 512 dims)."""
    qmax = float(2 ** (bits - 1) - 1)
    return (
        F.aggregate(_as_double(vec), F.lit(0.0),
                    lambda acc, x: F.greatest(acc, F.abs(x)))
        / F.lit(qmax)
    )


def quantize_codes(vec: Column, scale: Column) -> Column:
    """Signed-int codes ``q_i = floor(v_i / scale + 0.5)`` — round-half-up
    via floor, the one rounding formulation DuckDB and Spark compute
    identically (library `round()` half-away/half-even semantics differ
    between engines). A zero vector (scale 0) gets all-zero codes.
    ``scale`` must be a previously-staged column (see quantize_scale).

    Pure expressions — a narrow map; 4× (int8) to 8× (int4 packed
    downstream) storage reduction for ANN shortlists and training-data
    shipping, with dequantization error bounded by scale/2 per component.
    """
    dv = _as_double(vec)
    return F.when(
        scale > 0,
        F.transform(dv, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(dv, lambda x: F.lit(0)))


def dequantize_embedding(q: Column, scale: Column) -> Column:
    """Inverse of quantize_embedding: q_i * scale as doubles."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int-code arrays (long accumulate —
    int8 codes over any practical dim stay far below 2^63)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 8,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized codes — the
    memory-bandwidth path: the corpus is scanned as 4×-smaller integer
    codes (at 100 TB of fp32 embeddings that is 75 TB less IO) and scored
    with integer arithmetic; per-vector scales cancel out of the cosine,
    so the score is ``int_dot / sqrt(int_norm_a · int_norm_b)`` — pure
    integers inside one sqrt and one divide, bit-reproducible across
    engines (no float accumulation anywhere).

    Same plan shape as `brute_force_topk`: query codes broadcast, corpus
    scanned once map-side, per-query top-k via window. Returns
    (query_id, neighbor_id, q_sim, rank).
    """
    def codes(df: DataFrame, idn: str, vn: str, qn: str, nn: str) -> DataFrame:
        with_scale = df.select(
            F.col(id_col).alias(idn),
            F.col(vec_col).alias("__v"),
            quantize_scale(F.col(vec_col), bits=bits).alias("__s"),
        )
        staged = with_scale.select(
            idn, quantize_codes(F.col("__v"), F.col("__s")).alias(qn)
        )
        return staged.select(
            idn, qn, _int_dot(F.col(qn), F.col(qn)).alias(nn)
        )

    v = codes(vectors, "neighbor_id", "__vvec", "__vq", "__vn")
    q = F.broadcast(codes(queries, "query_id", "__qvec", "__qq", "__qn"))
    denom = F.sqrt((F.col("__vn") * F.col("__qn")).cast("double"))
    scored = (
        v.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(
                F.col("__vn") * F.col("__qn") > 0,
                _int_dot(F.col("__vq"), F.col("__qq")) / denom,
            ).otherwise(F.lit(0.0)).alias("q_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("q_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def lsh_band_keys(bits_col: str, n_bits: int, bands: int) -> Column:
    """array<struct<band:int, key:string>>: an ALREADY-COMPUTED sign-bit
    string column (from `lsh_bucket`) split into `bands` contiguous
    segments — near-dup candidates share ANY band key (higher recall than
    one exact n_bits match, at the same per-vector hyperplane cost).

    Takes the bits COLUMN, not the vector: HOF lambdas are interpreted
    per element with no subexpression elimination, so inlining the
    hyperplane expression here would re-execute all n_bits dot products
    once per band. Callers stage `lsh_bucket(...)` in a prior select and
    slice it."""
    assert n_bits % bands == 0, "n_bits must divide evenly into bands"
    per = n_bits // bands
    return F.expr(
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"'band', CAST(b AS INT), "
        f"'key', substring({bits_col}, b * {per} + 1, {per})))"
    )


def embedding_band_keys(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, key) banded sign-bit LSH keys — the indexable embedding
    fingerprint, the vector-space analogue of `dedup.minhash_band_keys`.
    Shared by `embedding_near_duplicates` (full-corpus pairing) and
    `embedding_incremental_duplicates` (band a NEW batch and equi-join it
    against the STORED corpus key index — O(batch) work, the corpus is
    never re-paired). The hyperplane dot products run once per vector;
    only (id, band, key) triples ever ride a shuffle."""
    return (
        vectors.select(
            F.col(id_col),
            lsh_bucket(vec_col, dim, n_bits).alias("__bits"),
        )
        .select(
            id_col, F.explode(lsh_band_keys("__bits", n_bits, bands)).alias("bk")
        )
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def embedding_incremental_duplicates(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_bits: int = 16,
    bands: int = 4,
    corpus_keys: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest SEMANTIC dedup verdict: for each NEW vector (in
    `batch`), the minimum existing corpus id whose cosine ≥ `threshold`
    (``dup_of``) and how many distinct corpus vectors verified
    (``n_matches``) — the embedding analogue of
    `dedup.incremental_duplicates`, with a `semantic_dedup_keep`-style
    exact-cosine verify inside the banded hits.

    Production shape: ``corpus_keys`` is the STORED band-key index
    (written once at ingest, e.g. a bucketed table on (band, key));
    each new batch costs one equi-join of O(batch) keys against it plus
    an exact-cosine verify bounded by the hits — the corpus is never
    re-paired against itself, and corpus VECTORS are only fetched for
    hit ids (two id equi-joins, norms computed once per side). Pass
    ``corpus_keys=None`` to derive the index from `corpus` inline (the
    rebuild path)."""
    ck = (
        corpus_keys
        if corpus_keys is not None
        else embedding_band_keys(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim,
            n_bits=n_bits, bands=bands,
        )
    ).withColumnRenamed(id_col, "__old")
    bk = embedding_band_keys(
        batch, id_col=id_col, vec_col=vec_col, dim=dim,
        n_bits=n_bits, bands=bands,
    )
    hits = (
        bk.join(ck, ["band", "key"])
        .select(id_col, "__old")
        .distinct()  # multi-band hits verify once
    )
    va = batch.select(
        F.col(id_col),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    )
    vb = corpus.select(
        F.col(id_col).alias("__old"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    verified = (
        hits.join(va, id_col)
        .join(vb, "__old")
        .select(
            id_col,
            "__old",
            F.when(denom > 0, dot(F.col("__va"), F.col("__vb")) / denom)
            .otherwise(F.lit(0.0))
            .alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
    )
    return verified.groupBy(id_col).agg(
        F.min("__old").alias("dup_of"),
        F.countDistinct("__old").alias("n_matches"),
    )


def embedding_near_duplicates(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_bits: int = 16,
    bands: int = 4,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, banded-LSH blocked:
    pairs sharing any of `bands` sign-bit band keys are scored (high-cosine
    pairs almost always agree on a full band of sign bits). Output
    (id_a, id_b, cos_sim), id_a < id_b.

    100-TB shape: candidate generation carries ONLY (band, key, id) through
    the bucket shuffle — never vectors — and `max_bucket` routes oversized
    buckets (a dense near-identical cluster collapsing onto one key)
    through the distributed overflow join instead of a single unbounded
    aggregation row. Vectors + norms attach to the surviving candidate
    pairs via two id equi-joins (norm computed once per side, not per
    pair)."""
    from beacon_indexer_spark.operators.dedup import _pairs_from_buckets

    keyed = embedding_band_keys(
        vectors, id_col=id_col, vec_col=vec_col, dim=dim,
        n_bits=n_bits, bands=bands,
    ).withColumnRenamed(id_col, "id")
    pairs = _pairs_from_buckets(keyed, "id", "band", "key", max_bucket=max_bucket)
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(denom > 0, dot(F.col("__va"), F.col("__vb")) / denom)
            .otherwise(F.lit(0.0))
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def label_centroids(
    vectors: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Per-label mean embedding, exploded to (label, pos, n_vecs, centroid)
    — the per-cluster statistic under embedding-based curation (SemDeDup
    cluster centers, per-class drift monitors, IVF re-training input).

    100-TB shape: posexplode is a narrow map; the single groupBy(label, pos)
    is map-side-combined and its shuffle carries at most n_labels x dim
    rows regardless of corpus size. Rounding to `round_to` decimals makes
    the mean reproducible across engines/partitionings (the unrounded sum
    varies ~1e-13 with accumulation order).
    """
    ex = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "__v"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("__v"), round_to).alias("centroid"),
        )
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            "centroid",
        )
    )


def label_outliers(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top-k vectors FARTHEST (L2) from their own label's centroid — the
    embedding-outlier screen (mislabeled / off-distribution examples to
    drop or review before training). Returns (label, vec_id, l2_dist,
    rank), rank 1 = farthest, ties broken by vec_id ascending.

    100-TB shape: centroids reduce to n_labels x dim rows (see
    `label_centroids`) and roll up to one array per label — a frame small
    enough to BROADCAST at any corpus size, so the distance pass is a
    narrow map over the vectors with no shuffle; the only corpus-sized
    shuffle is the per-label top-k window, which TakeOrdered-style ranks
    on (label) partitions. Distances accumulate left-to-right over the
    rounded centroid, so the oracle's list_reduce reproduces them bit-for-
    bit; ranking uses the ROUNDED distance so order is engine-stable.
    """
    cents = label_centroids(vectors, vec_col, label_col, round_to)
    carr = cents.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("__cv")
    )
    diff = F.zip_with(
        _as_double(F.col(vec_col)), F.col("__cv"), lambda x, c: (x - c) * (x - c)
    )
    dist = F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))
    vecs = vectors.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias(vec_col),
    )
    scored = vecs.join(F.broadcast(carr), "label").select(
        "label",
        "vec_id",
        F.round(dist, round_to).alias("l2_dist"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("l2_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("label", "vec_id", "l2_dist", F.col("rank").cast("long").alias("rank"))
    )


def semantic_dedup_keep(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 8,
    threshold: float = 0.95,
    max_bucket: int | None = 65536,
    prefilter_bits: int | None = None,
    prefilter_bands: int = 6,
    dim: int = 64,
    hier_threshold: int | None = _HIER_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style semantic deduplication ACTION: coarse-cluster the
    embedding space (nearest of k deterministic centroids), score every
    within-cluster pair by exact cosine, connect pairs >= `threshold`
    into semantic-duplicate groups, and keep the minimum id of each
    group. Returns a total verdict per vector: (vec_id, group_id, keep)
    — group_id falls back to the vector's own id for singletons.

    100-TB shape: candidate generation shuffles (cluster, id) only —
    vectors never ride the bucket shuffle — and within-cluster pair
    expansion goes through `_pairs_from_buckets`' capped/overflow path,
    so a collapsed cluster cannot OOM one aggregation row. Vectors and
    norms attach to surviving candidates via id equi-joins (computed
    once per side). Grouping reuses `connected_components`
    (O(log diameter) rounds); the group frame is bounded by the
    DUPLICATED subset of the corpus and broadcast only when its probed
    row count allows — semantically-redundant crawls can put most of
    the corpus in groups, where the hint would OOM (same guard as
    doc_keep_list: `broadcast_if_small`, shuffle-join fallback).

    ``prefilter_bits`` caps the within-cluster quadratic
    kernel: candidate buckets become (cluster, band, key) with banded
    sign-bit LSH keys (`embedding_band_keys`), so exact cosine runs only
    for pairs that BOTH share the coarse cluster AND collide in one of
    ``prefilter_bands`` hyperplane bands. A collapsed cluster of size m
    then costs Σ per-(band,key) bucket pairs, not m²/2 — the cluster
    size stops being the quadratic driver. Deterministic (md5-seeded
    hyperplanes), so the DuckDB oracle mirrors the pre-filter exactly;
    pair recall at cosine >= 0.95 with 8-bit bands x 6 is
    1-(1-p^8)^6 ~ 0.96 (p = 1 - arccos(0.95)/pi), and the connected-
    components closure recovers most dropped in-group edges. None
    keeps the exhaustive within-cluster scoring.
    """
    from beacon_indexer_spark.operators.dedup import (
        _pairs_from_buckets,
        broadcast_if_small,
        connected_components,
    )

    cents = ivf_centroids(vectors, id_col, vec_col, k=k_clusters)
    vonly = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    )
    # corpus-adaptive k makes flat assignment n·k ≈ n²/250 — the shared
    # dispatcher switches to the two-level ~n·2√k scan once k is large
    # enough to matter (gate SFs stay on the flat path, so gate results
    # are identical)
    assigned = _coarse_assign(
        vonly, cents, "__v", nprobe=1, hier_threshold=hier_threshold
    )
    keyed = assigned.select("id", F.col("ivf_list").alias("cluster"))
    if prefilter_bits is not None:
        bk = embedding_band_keys(
            vectors.select(F.col(id_col).alias("id"), F.col(vec_col)),
            id_col="id", vec_col=vec_col, dim=dim,
            n_bits=prefilter_bits, bands=prefilter_bands,
        )
        keyed = keyed.join(bk, "id")
        pairs = _pairs_from_buckets(
            keyed, "id", "cluster", "band", "key", max_bucket=max_bucket
        )
    else:
        pairs = _pairs_from_buckets(
            keyed, "id", "cluster", max_bucket=max_bucket
        )
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    dup = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(denom > 0, dot(F.col("__va"), F.col("__vb")) / denom)
            .otherwise(F.lit(0.0))
            .alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b")
    )
    # output columns named at the source so CC's observed row count stays
    # on the frame and broadcast_if_small skips its probe job
    groups = connected_components(dup, node_col="vec_id", label_col="group_id")
    spine = vectors.select(F.col(id_col).cast("long").alias("vec_id"))
    joined = spine.join(
        broadcast_if_small(groups, expect_rows_known=True), "vec_id", "left"
    )
    gid = F.coalesce(F.col("group_id"), F.col("vec_id"))
    return joined.select(
        "vec_id",
        gid.cast("long").alias("group_id"),
        (gid == F.col("vec_id")).cast("int").alias("keep"),
    )


def pq_codebooks(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the k corpus vectors
    whose md5(id) is smallest (the `ivf_centroids` sample), each split
    into m contiguous subvectors — ``codebooks[s][j]`` is subspace s of
    sample j. Real PQ k-means-trains each subspace; at 100 TB that
    training runs on a driver-sized sample anyway, and the deterministic
    sample keeps results engine-reproducible for the oracle."""
    cents = ivf_centroids(vectors, id_col, vec_col, k=k)
    dim = len(cents[0][1])
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    sub = dim // m
    return [
        [cents[j][1][s * sub:(s + 1) * sub] for j in range(k)]
        for s in range(m)
    ]


def _pq_cb_sql(codebooks: list[list[list[float]]]) -> str:
    """SQL literal for the m x k x subdim codebook tensor (shortest-repr
    doubles — exact round-trip)."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in cw) + ")"
                for cw in sub_cb
            )
            + ")"
            for sub_cb in codebooks
        )
        + ")"
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode each vector: per subspace, the index of the nearest
    codeword (L2, ties to the smaller index). Returns (id, pq_code
    array<int>) — m small ints replace the full vector (the 100-TB IO
    story: an 8-byte code column scans ~32x less than 64 floats).

    Narrow map, no shuffle. Generated as ONE SQL expression (the
    `ivf_assign` move — the codebook tensor appears once as a literal;
    subspace and codeword indices are lambda variables, so plan size is
    O(m·k·subdim) literals, not O(rows)); per-subspace distances
    accumulate sequentially left-to-right for cross-engine parity."""
    return vectors.select(
        F.col(id_col),
        F.expr(_pq_code_sql(codebooks, vec_col))
        .cast("array<int>")
        .alias("pq_code"),
    )


def _pq_code_sql(codebooks: list[list[list[float]]], vec_col: str) -> str:
    """The per-subspace nearest-codeword SQL expression shared by
    `pq_encode` and the residual IVF-PQ encoder (L2 argmin, ties to the
    smaller codeword index via the (d2, j) struct array_min)."""
    sub = len(codebooks[0][0])
    m, k = len(codebooks), len(codebooks[0])
    cb = _pq_cb_sql(codebooks)
    return (
        f"transform(sequence(0, {m - 1}), s -> array_min("
        f"transform(sequence(0, {k - 1}), j -> named_struct("
        f"'d2', aggregate(zip_with("
        f"slice(transform({vec_col}, x -> CAST(x AS DOUBLE)), s * {sub} + 1, {sub}), "
        f"{cb}[s][j], (x, c) -> (x - c) * (x - c)), "  # [] is 0-based in Spark SQL
        f"CAST(0.0 AS DOUBLE), (a, d) -> a + d), "
        f"'j', j))).j)"
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance (ADC): the corpus is
    scanned as PQ CODES only; per (query, code) the distance is the sum
    over subspaces of ||q_s − codeword[s][code_s]||². Output
    (query_id, neighbor_id, rank, adc_dist), rank 1 = nearest, ranking
    on the ROUNDED distance with neighbor-id tie-break (engine-stable).

    100-TB shape: encoding is a narrow map over the corpus; the scan
    side carries only (id, m-byte code); the (small) query side is
    broadcast — the documented nested-loop exception, exactly the
    brute-force/quantized scan pattern but over 32x less data. Compose
    with `ivf_assign` list pruning for the full IVF-PQ layout."""
    sub = len(codebooks[0][0])
    m = len(codebooks)
    cb = _pq_cb_sql(codebooks)
    enc = pq_encode(vectors, codebooks, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__qvd"),
    )
    dist = F.expr(
        f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), (acc, s) -> acc + "
        f"aggregate(zip_with(slice(__qvd, s * {sub} + 1, {sub}), "
        f"{cb}[s][pq_code[s]], (x, c) -> (x - c) * (x - c)), "  # 0-based []
        f"CAST(0.0 AS DOUBLE), (a, d) -> a + d))"
    )
    scored = (
        enc.crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "adc_dist",
        )
    )


def _cents_sql(centroids: list[tuple[int, list[float]]]) -> str:
    """SQL literal for the centroid table as an array indexed by cid
    (0-based ``[]``) — requires cids to be exactly 0..k-1 in order, which
    `ivf_centroids`/`kmeans_centroids` guarantee by construction."""
    assert [cid for cid, _ in centroids] == list(range(len(centroids)))
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
            for _, c in centroids
        )
        + ")"
    )


def pq_residual_codebooks(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample: list[tuple[int, list[float]]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks trained on RESIDUALS: the
    `pq_codebooks` md5-smallest-k sample, but each sample vector is first
    reduced by its nearest coarse centroid — the codewords then describe
    the within-list displacement distribution instead of the full corpus
    spread (the IVFADC layout of Jégou et al., "Product Quantization for
    Nearest Neighbor Search").

    The nearest-centroid choice replays `ivf_assign`'s exact ranking on
    the driver — sequential left-to-right dot product, d2 = (−v·c)·2 +
    ||c||², ties to the smaller cid — in the same IEEE-double operation
    order, so the k sample residuals (and therefore every downstream ADC
    distance) are bit-identical to an engine-side computation and the
    DuckDB oracle can re-derive them from SQL alone.

    ``sample``: pass a precomputed `ivf_centroids(vectors, ..., k=k)`
    result to skip the sampling jobs here — the sample is INDEPENDENT of
    ``centroids``, so a caller that also fits coarse centroids can build
    both from concurrent driver threads (overlap-independent-jobs) and
    hand the sample in; the residual reduction below is identical."""
    samp = sample if sample is not None else ivf_centroids(
        vectors, id_col, vec_col, k=k
    )
    res = []
    for _, v in samp:
        best_d2: float | None = None
        best_cid, best_c = -1, centroids[0][1]
        for cid, c in centroids:
            acc = 0.0
            for x, y in zip(v, c):
                acc += x * y
            d2 = (-acc) * 2 + _sq(c)
            if best_d2 is None or d2 < best_d2:
                best_d2, best_cid, best_c = d2, cid, c
            # equal d2 keeps the earlier (smaller) cid — ivf_assign's
            # (d2, cid) struct-sort tie-break
        res.append([x - y for x, y in zip(v, best_c)])
    dim = len(res[0])
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    sub = dim // m
    return [
        [res[j][s * sub:(s + 1) * sub] for j in range(k)]
        for s in range(m)
    ]


def ivfpq_residual_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    hier_threshold: int | None = _HIER_THRESHOLD,
    super_probe: int = 2,
) -> DataFrame:
    """IVF-PQ over residuals — the production FAISS ``IVFx,PQy`` layout,
    composed from the audited halves: `ivf_assign` buckets the corpus
    into inverted lists (nprobe=1 — each vector lives in exactly ONE
    list, so probed candidates never need dedup), vectors are reduced to
    residuals against their list centroid, and `_pq_code_sql` encodes the
    residuals as m small ints. A query probes its ``nprobe`` nearest
    lists, forms a PER-LIST query residual, and scores candidates by
    asymmetric distance (ADC) between its residual and each candidate's
    codewords.

    100-TB shape: corpus-side work is two narrow maps (assign + encode) —
    the scan that serves queries carries only (id, list, m-byte code);
    the query side is a broadcast, and the probe join is an EQUI-join on
    ivf_list (unlike plain `pq_topk`'s full crossJoin scan, only ~nprobe/
    n_lists of the corpus is touched per query). Output (query_id,
    neighbor_id, rank, adc_dist), rank 1 = nearest, rounded-distance +
    neighbor-id ordering (engine-stable)."""
    cents = _cents_sql(centroids)
    sub = len(codebooks[0][0])
    m = len(codebooks)
    cb = _pq_cb_sql(codebooks)
    residual = (
        f"zip_with(transform({vec_col}, x -> CAST(x AS DOUBLE)), "
        f"{cents}[ivf_list], (x, c) -> x - c)"
    )
    enc = (
        _coarse_assign(
            vectors, centroids, vec_col, nprobe=1,
            hier_threshold=hier_threshold, super_probe=super_probe,
        )
        .withColumn("__res", F.expr(residual))
        .select(
            F.col(id_col).alias("neighbor_id"),
            "ivf_list",
            F.expr(_pq_code_sql(codebooks, "__res"))
            .cast("array<int>")
            .alias("pq_code"),
        )
    )
    qs = (
        _coarse_assign(
            queries, centroids, vec_col, nprobe=nprobe,
            hier_threshold=hier_threshold, super_probe=super_probe,
        )
        .select(
            F.col(id_col).alias("query_id"),
            "ivf_list",
            F.expr(residual).alias("__qres"),
        )
    )
    dist = F.expr(
        f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), (acc, s) -> acc + "
        f"aggregate(zip_with(slice(__qres, s * {sub} + 1, {sub}), "
        f"{cb}[s][pq_code[s]], (x, c) -> (x - c) * (x - c)), "  # 0-based []
        f"CAST(0.0 AS DOUBLE), (a, d) -> a + d))"
    )
    scored = (
        enc.join(F.broadcast(qs), "ivf_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "adc_dist",
        )
    )


def centroid_similarity(
    vectors: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Pairwise cosine similarity between per-label mean embeddings —
    the class/source drift monitor (which document sources or label
    clusters have converged in embedding space; candidates for merging
    or for mixture re-weighting). Output: (label_a < label_b, cos_sim).

    100-TB shape: builds on `label_centroids` (shuffle bounded by
    n_labels x dim regardless of corpus size); the pairwise stage
    self-joins the EXPLODED centroids on the dimension index — at most
    n_labels^2 x dim rows, corpus-size-independent — and reduces with
    one map-side-combined groupBy(label_a, label_b). Centroids are
    rounded before the product (same contract as `label_centroids`) so
    the pairwise statistic is reproducible across engines; the dot /
    norm sums run over <= dim rounded terms, far inside the round_to
    tolerance.
    """
    c = label_centroids(vectors, vec_col, label_col, round_to=round_to)
    a = c.select(
        F.col("label").alias("label_a"), "pos", F.col("centroid").alias("__va")
    )
    b = c.select(
        F.col("label").alias("label_b"), "pos", F.col("centroid").alias("__vb")
    )
    j = a.join(b, "pos").filter(F.col("label_a") < F.col("label_b"))
    return (
        j.groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("__va") * F.col("__vb")).alias("__dot"),
            F.sum(F.col("__va") * F.col("__va")).alias("__na"),
            F.sum(F.col("__vb") * F.col("__vb")).alias("__nb"),
        )
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("__dot")
                / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))),
                round_to,
            ).alias("cos_sim"),
        )
    )


def standardize_dims(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension z-score standardization (whitening-lite) of the
    first ``k`` embedding coordinates — the feature preprocessing step
    before distance-based curation when dimensions have unequal scales
    (a high-variance dimension otherwise dominates every cosine/L2
    verdict). Output: (id, pos < k, z).

    100-TB shape: dims are pruned to ``k`` BEFORE the stats pass; the
    stats aggregate is map-side combined and keyed by pos (k groups at
    any corpus size) and joins back via broadcast; the transform is a
    narrow map. Stats are ROUNDED before the transform (same contract as
    `label_centroids`) so z is engine-reproducible: both engines divide
    the same float by identical 6-decimal constants.
    """
    x = vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "__x"),
    ).filter(F.col("pos") < k)
    agg = x.groupBy("pos").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).alias("__s2"),
    )
    mean = F.col("__s") / F.col("__n")
    var = F.col("__s2") / F.col("__n") - mean * mean
    stats = agg.select(
        "pos",
        F.round(mean, 6).alias("__mu"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("__sd"),
    )
    z = F.when(
        F.col("__sd") > 0, (F.col("__x") - F.col("__mu")) / F.col("__sd")
    ).otherwise(F.lit(0.0))
    return x.join(F.broadcast(stats), "pos").select(
        "id",
        F.col("pos").cast("long").alias("pos"),
        F.round(z, round_to).alias("z"),
    )


def dim_covariance_topk(
    vectors: DataFrame,
    vec_col: str = "embedding",
    k: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Top-k most-correlated embedding dimension PAIRS by |covariance| —
    the redundancy audit behind whitening/PCA decisions (two dimensions
    that move together waste index capacity and distort L2/cosine).
    Output: (pos_i < pos_j, cov), the k largest |cov| with a total
    (|cov| desc, pos_i, pos_j) order so selection is deterministic.

    100-TB shape: the within-row pair explosion (d²/2 rows per vector)
    feeds ONE map-side-combined aggregate keyed by (i, j) — d²-bounded
    groups regardless of corpus size; top-k is a TakeOrdered, never a
    global sort. For d in the thousands, cap via a dimension sample or
    partial Gram accumulation; at typical embedding widths (<= 1024)
    the explosion is the standard outer-product pass.
    """
    e1 = vectors.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("i", "__xi"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    e2 = e1.select(
        "i", "__xi", F.posexplode(F.col("__v")).alias("j", "__xj")
    ).filter(F.col("i") < F.col("j"))
    agg = e2.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__xi").alias("__sx"),
        F.sum("__xj").alias("__sy"),
        F.sum(F.col("__xi") * F.col("__xj")).alias("__sxy"),
    )
    cov = F.round(
        F.col("__sxy") / F.col("__n")
        - (F.col("__sx") / F.col("__n")) * (F.col("__sy") / F.col("__n")),
        round_to,
    )
    return (
        agg.select(
            F.col("i").cast("long").alias("pos_i"),
            F.col("j").cast("long").alias("pos_j"),
            cov.alias("cov"),
        )
        .orderBy(F.abs(F.col("cov")).desc(), "pos_i", "pos_j")
        .limit(k)
    )


def gramian_partials(df: DataFrame, qcol: str, d: int) -> DataFrame:
    """Exact integer Gramian + column sums of a quantized-vector column,
    as per-Arrow-batch PARTIALS: one output row per input batch with
    ``__g`` (the d*d row-major Gramian contribution, array<long>) and
    ``__c`` (the d column sums, array<long>).

    The scalable two-phase Gramian shape (one data pass builds a d²
    accumulator; everything after is constant-size) with the data pass
    handed to vectorized native code instead of a JVM explode: the
    equivalent ``posexplode(flatten(transform(transform(...))))`` plan
    evaluates interpreted higher-order lambdas and materializes a
    d²-element array PER ROW (measured 3.9 s at bench scale for d=64 —
    the single most expensive executor stage in the surface), where one
    ``numpy`` int64 matmul per batch is exact and near-free. Quantize to
    int64 IN SPARK first (JVM HALF_UP rounding, so cross-engine parity
    is untouched) and pass ONLY the quantized column — the map is
    narrow, shuffle-free, and its output is #batches rows regardless of
    corpus size; downstream partial-sum aggregation shuffles
    #batches × d² cells, never n × d².

    int64-exactness contract: |q| ≤ 1e7 gives per-product ≤ 1e14, so a
    batch must stay under ~9e4 rows (default Arrow batches are 10k) for
    the per-batch partial to be provably overflow-free; the final
    cross-batch sum is the caller's (DECIMAL) aggregate. Null or
    ragged vectors must be filtered/normalized upstream — the pass
    asserts both.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("__g", T.ArrayType(T.LongType()), False),
            T.StructField("__c", T.ArrayType(T.LongType()), False),
        ]
    )

    def part(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            col = batch.column(0)
            n = len(col)
            if n == 0:
                continue
            if col.null_count:
                raise ValueError("null vector reached gramian_partials")
            vals = col.flatten().to_numpy(zero_copy_only=False)
            if vals.size != n * d:
                raise ValueError(
                    f"ragged vectors: {vals.size} values for {n} rows of dim {d}"
                )
            m = vals.astype(np.int64, copy=False).reshape(n, d)
            g = (m.T @ m).ravel()
            c = m.sum(axis=0, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([g.tolist()], type=pa.list_(pa.int64())),
                    pa.array([c.tolist()], type=pa.list_(pa.int64())),
                ],
                names=["__g", "__c"],
            )

    return df.select(qcol).mapInArrow(part, schema)
