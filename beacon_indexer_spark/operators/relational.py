"""Relational operator surface (SURVEY §2.3-2.8).

Each helper is a thin, composable wrapper over DataFrame ops — Catalyst does
the physical planning (pushdown, broadcast selection, partial aggregation).
Reference citations (into /root/reference) mark the behavior being
re-expressed, not translated.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(
    df: DataFrame, order_by: Sequence[Column | str], k: int
) -> DataFrame:
    """ORDER BY ... LIMIT k (reference O1-O5). Spark plans this as
    TakeOrderedAndProject — no full sort, no single-node shuffle of all rows."""
    return df.orderBy(*order_by).limit(k)


def detect_gaps(
    df: DataFrame, key_col: str, start: int | None = None, end: int | None = None
) -> DataFrame:
    """Gap detection via sequence anti-join (reference J3/C12,
    scripts/maintenance.py:127-142): expected = range(min,max); missing =
    expected LEFT ANTI JOIN actual.

    At scale: ``spark.range`` is an in-memory iterator source (no scan); the
    anti-join shuffles only the key column of the actual side (project first).
    """
    spark = df.sparkSession
    keyed = df.select(F.col(key_col).cast("long").alias(key_col))
    if start is None or end is None:
        lo, hi = keyed.agg(F.min(key_col), F.max(key_col)).first()
        start = lo if start is None else start
        end = hi if end is None else end
    if start is None or end is None or end < start:
        return spark.range(0).select(F.col("id").alias(key_col))
    expected = spark.range(start, end + 1).select(F.col("id").alias(key_col))
    return expected.join(keyed, key_col, "left_anti")


def untransformed_ranges(
    loaded: DataFrame, transformed: DataFrame, on: Sequence[str]
) -> DataFrame:
    """Work discovery anti-join (reference J1,
    src/services/transformer.py:240-262): completed load chunks not yet
    transformed. ``left_anti`` replaces the NULL-flag LEFT JOIN hack."""
    return loaded.join(transformed, list(on), "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    tiebreak: str | None = None,
    tolerance: int | None = None,
    matched_ts_col: str = "asof_ts",
) -> DataFrame:
    """As-of (backward) join: for each left row, attach the single most
    recent right row with ``right_ts <= left_ts`` per key (ties on
    right_ts broken by max ``tiebreak``). Left rows with no match keep
    nulls. ``tolerance`` (same units as the ts columns) nulls out matches
    older than ``left_ts - tolerance``.

    Spark-first plan — union + sort + last-non-null window, NOT a range
    self-join: ONE shuffle on the key and an in-partition sort, the same
    cost as any per-key ordering. A join-then-filter formulation would
    expand every (left, right) in-range pair before picking one; this
    never materializes more than left+right rows. Both ts columns must be
    the same orderable type (use epoch longs for cross-type joins).

    Skew: the per-key window sends ALL rows of one key through one task.
    For natural keys (per-customer, per-slot) that is the right bound, but
    a HOT key — a null/default sentinel id holding a large fraction of
    rows — straggles or OOMs that task. Mitigations, in preference order:
    (1) pre-filter sentinel keys (they rarely want an as-of match at all;
    re-attach with null match columns afterwards — see
    tests/test_custom_joins_curation.py's skew test); (2) if the hot key
    is legitimate, salt it: split its LEFT rows into S salt groups, copy
    the key's right rows into every group (right side is usually the
    small one), run the as-of per (key, salt), and union — the window
    arithmetic is unchanged within each salt group because every left row
    still sees the full right history of its key.
    """
    from pyspark.sql import Window

    u, keys, lpay, rpay = _stage_asof_union(
        left, right, keys, left_ts, right_ts, tiebreak
    )
    w = (
        Window.partitionBy(*keys)
        # nulls FIRST: with ascending order the LAST row wins, so a
        # NULL-tiebreak right row must sort earliest and lose to any
        # non-null one (mirrors the oracle's `tiebreak DESC NULLS LAST`
        # pick-first formulation)
        .orderBy(F.asc("__ts"), F.asc("__src"), F.asc_nulls_first("__tb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        u.withColumn("__m", F.last("__rpack", ignorenulls=True).over(w))
        .filter(F.col("__src") == 1)
    )
    if tolerance is not None:
        out = out.withColumn(
            "__m",
            F.when(F.col("__m.__rts") >= F.col("__ts") - tolerance, F.col("__m")),
        )
    return out.select(
        *keys,
        *lpay,
        *[F.col(f"__m.{c}").alias(c) for c in rpay],
        F.col("__m.__rts").alias(matched_ts_col),
    )


def _stage_asof_union(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    tiebreak: str | None,
):
    """Shared union staging for the as-of family (`asof_join`,
    `nearest_join`): left and right stack into one frame ordered by a
    common ``__ts``, with each right row's payload packed into an atomic
    ``__rpack`` struct — a per-column last(ignorenulls) would stitch a
    legitimately-NULL column of the matched row together with an older
    row's value, fabricating a composite row that never existed.

    Right rows with a NULL timestamp are DROPPED: they have no orderable
    position, so they could otherwise surface as a "match" with a null
    matched-ts (pandas merge_asof drops NaT keys the same way), and the
    SQL-oracle formulations (``right_ts <= left_ts`` / ``abs(...)``)
    never select them either.

    Returns (unioned_df, keys, lpay, rpay).
    """
    from pyspark.sql import types as T

    keys = list(keys)
    lpay = [c for c in left.columns if c not in keys]
    rpay = [c for c in right.columns if c not in keys and c != right_ts]
    clash = set(rpay) & set(lpay)
    if clash:
        raise ValueError(f"right payload columns clash with left: {sorted(clash)}")
    pack_type = T.StructType(
        [T.StructField("__rts", right.schema[right_ts].dataType)]
        + [T.StructField(c, right.schema[c].dataType) for c in rpay]
    )
    tb_type = right.schema[tiebreak].dataType if tiebreak else T.IntegerType()
    l2 = left.select(
        *keys,
        *lpay,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__src"),
        F.lit(None).cast(tb_type).alias("__tb"),
        F.lit(None).cast(pack_type).alias("__rpack"),
    )
    r2 = right.filter(F.col(right_ts).isNotNull()).select(
        *keys,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpay],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__src"),
        # native type, never a numeric cast: casting would crash string
        # tiebreaks under ANSI and truncate decimals into spurious ties
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__tb"),
        F.struct(
            F.col(right_ts).alias("__rts"), *[F.col(c) for c in rpay]
        ).alias("__rpack"),
    )
    return l2.unionByName(r2), keys, lpay, rpay


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    tiebreak: str | None = None,
    matched_ts_col: str = "nearest_ts",
) -> DataFrame:
    """Nearest-in-time join (pandas ``merge_asof(direction='nearest')``):
    for each left row, attach the single right row per key whose timestamp
    is CLOSEST in absolute distance — before or after. Ties on equal
    |distance| go to the earlier right row (the backward match); right
    rows sharing one timestamp collapse to the max-``tiebreak`` row first,
    so the pick is total. Left rows with no right rows keep nulls.

    Spark-first plan — the `asof_join` union+sort trick run through BOTH
    window directions in one pass: ``last(ignorenulls)`` over the
    preceding frame finds the latest right row at-or-before, and
    ``first(ignorenulls)`` over the following frame finds the earliest
    right row after; both window functions share ONE partition sort, so
    the whole operator costs a single key shuffle plus the right side's
    per-(key, ts) collapse — never a range/abs-distance self-join (which
    Catalyst could only plan as a broadcast-nested-loop). Right rows with
    a NULL timestamp are dropped (merge_asof NaT semantics — see
    `_stage_asof_union`). The same hot-key caveats and mitigations as
    `asof_join` apply.
    """
    from pyspark.sql import Window

    keys = list(keys)
    rpay = [c for c in right.columns if c not in keys and c != right_ts]
    # collapse rights to one row per (key, ts) BEFORE staging, so backward
    # (last-in-frame) and forward (first-in-frame) agree on which row
    # represents a timestamp. With a tiebreak, max-tiebreak wins; without
    # one, the max payload STRUCT wins — still a deterministic total
    # order, never dropDuplicates' partition-order-dependent pick.
    if tiebreak is not None:
        picked = F.max_by(
            F.struct(*[F.col(c) for c in rpay]), F.col(tiebreak)
        )
    elif rpay:
        # no tiebreak: pick by md5 of the serialized payload — a
        # deterministic total order that works for NON-ORDERABLE payload
        # types (maps) too, and is independent of column order
        pay = F.struct(*[F.col(c) for c in rpay])
        picked = F.max_by(pay, F.md5(F.to_json(pay)))
    else:
        picked = None
    if picked is not None:
        r1 = right.groupBy(*keys, right_ts).agg(picked.alias("__rp")).select(
            *keys, right_ts, *[F.col(f"__rp.{c}").alias(c) for c in rpay]
        )
    else:
        # no payload columns: duplicate (key, ts) rows are identical
        r1 = right.dropDuplicates([*keys, right_ts])
    u, keys, lpay, rpay = _stage_asof_union(
        left, r1, keys, left_ts, right_ts, None
    )
    # rights at equal __ts sort before lefts (src 0 < 1): an exact-ts right
    # lands in the BACKWARD frame with distance 0 and wins every tie
    order = [F.asc("__ts"), F.asc("__src")]
    wb = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    back = F.last("__rpack", ignorenulls=True).over(wb)
    fwd = F.first("__rpack", ignorenulls=True).over(wf)
    dist = lambda m: F.abs(m["__rts"] - F.col("__ts"))  # noqa: E731
    pick = (
        F.when(back.isNull(), fwd)
        .when(fwd.isNull(), back)
        # tie → backward (the earlier right row)
        .when(dist(back) <= dist(fwd), back)
        .otherwise(fwd)
    )
    out = u.withColumn("__m", pick).filter(F.col("__src") == 1)
    return out.select(
        *keys,
        *lpay,
        *[F.col(f"__m.{c}").alias(c) for c in rpay],
        F.col("__m.__rts").alias(matched_ts_col),
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower: int,
    upper: int,
    bucket: int | None = None,
) -> DataFrame:
    """Interval join: all (left, right) pairs per key with
    ``right_ts - left_ts`` in [lower, upper].

    Spark-first plan — bucketed equi-join, NOT an inequality join (which
    Catalyst can only plan as a broadcast-nested-loop): both sides bucket
    their timestamp by ``bucket`` width (default = the window span), the
    left side explodes to the few buckets its window overlaps, and the
    exact range predicate filters after an ordinary shuffled equi-join on
    (keys…, bucket). Explosion factor is span/bucket + 1 ≈ 2 at the
    default width.
    """
    keys = list(keys)
    width = bucket or max(upper - lower, 1)
    lb = F.floor((F.col(left_ts) + F.lit(lower)) / width).cast("long")
    ub = F.floor((F.col(left_ts) + F.lit(upper)) / width).cast("long")
    l2 = left.withColumn("__b", F.explode(F.sequence(lb, ub)))
    r2 = right.withColumn("__b", F.floor(F.col(right_ts) / width).cast("long"))
    delta = F.col(right_ts) - F.col(left_ts)
    return (
        l2.join(r2, [*keys, "__b"])
        .filter((delta >= lower) & (delta <= upper))
        .drop("__b")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    keys: Sequence[str] = (),
    bucket: int = 3600,
) -> DataFrame:
    """Interval OVERLAP join: all (left, right) pairs whose inclusive
    intervals intersect (max(starts) <= min(ends)) — the temporal-join
    family member Spark lacks next to as-of/nearest/range.

    Spark-first plan: both sides explode to the ``bucket``-width time
    buckets their interval touches and meet in an ordinary shuffled
    equi-join on (keys…, bucket) — never an inequality join (Catalyst
    would plan broadcast-nested-loop, a non-starter at corpus scale).
    Duplicate elimination is FREE: an overlapping pair is claimed only in
    the bucket containing max(l_start, r_start) — a point both intervals
    cover — so exactly one of the shared buckets emits the pair and no
    distinct shuffle is needed. Explosion factor is span/bucket + 1;
    per-bucket join volume is bounded by concurrent intervals per bucket
    (spread across shuffle partitions, AQE skew-split beyond that)."""
    keys = list(keys)
    w = int(bucket)
    l2 = left.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.col(l_start) / w).cast("long"),
                F.floor(F.col(l_end) / w).cast("long"),
            )
        ),
    )
    r2 = right.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.col(r_start) / w).cast("long"),
                F.floor(F.col(r_end) / w).cast("long"),
            )
        ),
    )
    claim = F.floor(
        F.greatest(F.col(l_start), F.col(r_start)) / w
    ).cast("long")
    return (
        l2.join(r2, [*keys, "__b"])
        .filter(
            (F.greatest(F.col(l_start), F.col(r_start))
             <= F.least(F.col(l_end), F.col(r_end)))
            & (F.col("__b") == claim)
        )
        .drop("__b")
    )


def cooccurrence_lift(
    df: DataFrame,
    group_col: str,
    item_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Association-rule lift between items co-occurring within a group
    (market-basket / behavior mining: which event types travel
    together beyond chance): for each unordered item pair,
    lift = P(a,b) / (P(a)·P(b)) over groups. Output: (item_a < item_b,
    n_groups_both, lift).

    100-TB shape: items collapse to a per-group sorted set (bounded by
    the item vocabulary, not event volume — map-side combined), pairs
    expand WITHIN the row (|items|²/2 per group, never a self-join that
    would scan and shuffle the input twice), and the pair aggregate is
    |items|²-bounded. The group total is a one-row broadcast attach.
    """
    gi = df.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
    ).distinct()
    per_item = gi.groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    total = gi.select(
        F.countDistinct("__g").cast("double").alias("__ng")
    )
    sets = gi.groupBy("__g").agg(
        F.array_sort(F.collect_set("__i")).alias("__items")
    )
    e1 = sets.select(
        F.posexplode("__items").alias("__pa", "item_a"),
        F.col("__items"),
    )
    pairs = e1.select(
        "__pa", "item_a", F.posexplode("__items").alias("__pb", "item_b")
    ).filter(F.col("__pa") < F.col("__pb"))
    nab = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).alias("n_groups_both")
    )
    return (
        nab.join(
            F.broadcast(
                per_item.select(
                    F.col("__i").alias("item_a"), F.col("__ni").alias("__na")
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                per_item.select(
                    F.col("__i").alias("item_b"), F.col("__ni").alias("__nb")
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            F.col("n_groups_both").cast("long").alias("n_groups_both"),
            F.round(
                F.col("n_groups_both").cast("double")
                * F.col("__ng")
                / (F.col("__na") * F.col("__nb")),
                round_to,
            ).alias("lift"),
        )
    )
