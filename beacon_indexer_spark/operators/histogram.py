"""Exact global statistics over a value histogram.

A histogram here is a small frame with one row per distinct integer key
and its count (cents, minutes, token lengths, ...). Its exclusive prefix
sum runs without an unpartitioned window at any size, so exact global
quantiles never sort or funnel the raw rows through one task:

- `exclusive_prefix`: the bounded fan-in prefix sum, at the static 64-bit
  depth or at a depth bounded by a known key range;
- `hist_prefix`: one checkpoint of the histogram, one probe of its key
  range (their jobs are described ``bis:<scope>:hist.probe``), then the
  prefix at the depth that range needs;
- `hist_quantiles`: the exact lower quantiles r/den of a histogram, from
  one `hist_prefix`, one row per rank;
- `lower_quantile`: the rank rule itself, an aggregate over prefixed rows.

The medians, deciles, percentiles, VaR and equidepth edges of the query
surface and the drift monitors (`streaming/drift.py`) all go through
these, so each rule is written here once.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beacon_indexer_spark.measure import stage


def exclusive_prefix(
    sums: DataFrame, key: str, val, out, fan: int = 65536, _level: int = 0,
    max_key: int | None = None,
) -> DataFrame:
    """Distributed exclusive prefix sum over integer-keyed rows:
    ``out = sum(val) over all rows with key' < key``.

    ``val`` / ``out`` may be single column names or equal-length lists:
    several prefix sums over the SAME key share one window, one
    aggregation and one recursion (callers that would otherwise run the
    machinery twice and equi-join the results pay it once).

    EVERY window is partitioned (bounded fan-in — no unpartitioned window
    anywhere, at any input size): keys group into super-keys of ``fan``
    (integer DIV — trunc-toward-zero, monotone, so grouping preserves key
    order), the within-super exclusive cumsum windows over ≤ 2·fan rows
    per partition, and the super totals recurse. Depth is static from key
    bit-width: ceil(64 / log2(fan)) levels (4 at the default fan=65536),
    after which ANY 64-bit key has collapsed to exactly 0 — the terminal
    level is one group whose exclusive prefix is identically zero, no
    window needed. Each level is a tiny map-side-combined groupBy + a
    broadcast join back.

    ``max_key`` (an upper bound on ``max(key)``, keys assumed >= 0 when
    provided — `hist_prefix` probes it from data) makes the depth
    data-aware without losing the unconditional bound: recursion stops as
    soon as the remaining key domain collapses to the single super-key 0
    (``max_key == 0``), so a domain fitting one fan costs one level
    instead of the full static depth. The static `_level` guard stays as
    the backstop, so a wrong bound can deepen cost, never correctness —
    and depth never exceeds the static depth either way.
    """
    assert fan >= 2, "fan must be >= 2"
    vals = [val] if isinstance(val, str) else list(val)
    outs = [out] if isinstance(out, str) else list(out)
    assert len(vals) == len(outs) and vals, "val/out must pair up"
    if (max_key is not None and max_key <= 0) or _level >= math.ceil(
        64 / math.log2(fan)
    ):
        # keys here have collapsed to the single value 0 (data-aware bound
        # with keys >= 0, or x DIV fan^depth with fan^depth >= 2^64):
        # exactly one group, nothing precedes it
        for o in outs:
            sums = sums.withColumn(o, F.lit(0).cast("long"))
        return sums
    sup = f"__sup{_level}"
    wcols = [f"__within{i}" for i in range(len(vals))]
    lv = sums.withColumn(sup, F.expr(f"CAST({key} DIV {fan} AS BIGINT)"))
    w = (
        Window.partitionBy(sup)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = lv
    for v, wc in zip(vals, wcols):
        within = within.withColumn(
            wc, F.coalesce(F.sum(v).over(w), F.lit(0))
        )
    if max_key is not None and 0 <= max_key < fan:
        # single super-group (sup == 0 for every row, still ≤ fan rows per
        # window partition): no predecessor groups exist, so the within-
        # group cumsum IS the answer — skip the one-row recursion and its
        # broadcast join entirely
        for o, wc in zip(outs, wcols):
            within = within.withColumn(o, F.col(wc).cast("long"))
        return within.drop(sup, *wcols)
    supoffs = [f"__supoff{_level}_{i}" for i in range(len(vals))]
    supsums = [f"__supsum{i}" for i in range(len(vals))]
    sup_sums = lv.groupBy(sup).agg(
        *[F.sum(v).alias(s) for v, s in zip(vals, supsums)]
    )
    sup_off = exclusive_prefix(
        sup_sums, sup, supsums, supoffs, fan, _level + 1,
        max_key=None if max_key is None else max_key // fan,
    ).select(sup, *supoffs)
    res = within.join(F.broadcast(sup_off), sup)
    for o, so, wc in zip(outs, supoffs, wcols):
        res = res.withColumn(o, F.col(so) + F.col(wc))
    return res.drop(sup, *wcols, *supoffs)


def hist_prefix(hist: DataFrame, key: str, val, out):
    """Bounded-depth exclusive prefix over a TINY aggregated histogram.

    Lazily checkpoints ``hist`` (ONE materialization shared by the probe,
    the prefix pass, and whatever totals the caller derives from the
    returned frame), probes the key bounds — a job over the materialized
    histogram blocks, not a corpus pass — and runs `exclusive_prefix` at
    the data-aware depth instead of the static 64-bit depth (4 levels of
    window + broadcast join, the dominant cost of a histogram statistic
    at bench scale). Keys always shift to start at zero first — an
    order-preserving translation, so prefix sums are unchanged — and
    shift back after; the depth is therefore bounded by the key RANGE
    (epoch-minute or 1e9-quantized keys with a narrow spread stay at ONE
    window level), not the key magnitude.

    Returns ``(hist, prefixed)``; callers MUST read totals off the
    returned (checkpointed) ``hist`` so the upstream aggregation is
    computed once. ``val``/``out`` may be lists (multi-val form)."""
    with stage("hist.probe"):
        # under adaptive execution the lazy checkpoint already runs the
        # histogram's shuffle-map stage, so it sits inside the tag too
        hist = hist.localCheckpoint(eager=False)
        b = hist.agg(F.min(key).alias("mn"), F.max(key).alias("mx")).first()
    mn, mx = b["mn"], b["mx"]
    if mn is None:
        return hist, exclusive_prefix(hist, key, val, out, max_key=0)
    if mn == 0:
        return hist, exclusive_prefix(hist, key, val, out, max_key=mx)
    shifted = hist.withColumn(key, F.col(key) - F.lit(mn))
    res = exclusive_prefix(shifted, key, val, out, max_key=mx - mn)
    return hist, res.withColumn(key, F.col(key) + F.lit(mn))


def lower_quantile(key: str, cum: Column, n: Column, r: int, den: int) -> Column:
    """The exact lower quantile r/den as an aggregate over prefixed
    histogram rows: the smallest ``key`` whose inclusive cumulative count
    ``cum`` has den·cum ≥ r·n, for a total ``n``. Integer arithmetic, never
    a float rank: r/den = 1/2 is the lower median, and r = den is the
    largest key. NULL when no key qualifies."""
    return F.min(F.when(den * cum >= r * n, F.col(key)))


def hist_quantiles(
    hist: DataFrame, key: str, count: str, ranks: Iterable[int], den: int
):
    """The exact lower quantiles r/den (`lower_quantile`), for each r in
    ``ranks``, of a histogram with one row per distinct ``key`` and
    ``count`` rows at it: one checkpoint and one probe (`hist_prefix`),
    then one aggregate over the prefixed rows for all ranks at once.

    Returns ``(hist, quantiles)``: the checkpointed histogram, to read
    any other totals or tails off, and one row per rank, ``(r, <key>, n)``
    with n the histogram total. A rank that no key reaches (only possible
    when NULL keys hold part of n) reads a NULL key; an empty histogram
    gives no rows."""
    hist, h = hist_prefix(hist, key, count, "__cum")
    tot = hist.agg(F.sum(count).cast("long").alias("n"))
    cum = F.col("__cum") + F.col(count)
    q = h.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        F.array(*[
            F.struct(
                F.lit(r).cast("long").alias("r"),
                lower_quantile(key, cum, F.col("n"), r, den).alias(key),
            )
            for r in ranks
        ]).alias("__q"),
    )
    return hist, (
        q.filter(F.col("n").isNotNull())
        .select(F.explode("__q").alias("__q"), "n")
        .select("__q.*", "n")
    )
