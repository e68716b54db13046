"""The engine's declared query surface (driver correctness gate).

Each entry couples a Spark implementation ``(spark, sf_dir) -> DataFrame``
with an ANSI-SQL oracle string DuckDB runs on the same parquet tables.
Both registries are derived from the module's names (see the end of the
file): a query is a module-level ``q_<name>`` function, and its oracle is
the ``ORACLE_<NAME>`` string or the zero-argument ``_oracle_<name>_sql()``.
Coverage maps to SURVEY §2's operator inventory (IDs in each docstring)
plus the training-data-pipeline operators (dedup / similarity / text).

Cross-engine determinism rules applied throughout:
- money/quantity aggregations go through DECIMAL casts (exact arithmetic),
  final results cast to DOUBLE — bit-identical across engines;
- vector math uses sequential left-to-right double accumulation on both
  sides (see operators/similarity.py);
- every hash is md5-derived (portable), never engine-native hash();
- all integer outputs cast to BIGINT, timestamps to epoch BIGINT or
  formatted VARCHAR, so schemas align.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from beacon_indexer_spark.functions.core import (
    hex_to_long,
    last_slot_of_day,
    latest,
    popcount_hex,
    run_concurrently,
)
from beacon_indexer_spark.operators import dedup as D
from beacon_indexer_spark.operators import profile as PR
from beacon_indexer_spark.operators import relational as R
from beacon_indexer_spark.operators import sampling as SP
from beacon_indexer_spark.operators import similarity as S
from beacon_indexer_spark.operators import sketch as KV
from beacon_indexer_spark.operators import text as X
from beacon_indexer_spark.plans.pipeline import (
    DEFAULT_SPLIT_FRACS,
    CurationRun,
    quality_pass,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

# Table METADATA memo (schema + scan-split count), keyed per application:
# a production deployment reads fixed table schemas from a catalog/metastore
# instead of re-inferring them from parquet footers on every query build —
# this memo is the local equivalent. Metadata only, never results: every
# action still scans the parquet files (re-inference on this data measures
# ~130-210 ms of driver time per read at sf0.1; the explicit-schema read is
# ~38 ms, and the split-count via df.rdd another ~170 ms saved per call).
_TABLE_SCHEMAS: dict[tuple[str, str, str], object] = {}
_SCAN_PARTS: dict[tuple[str, str, str], int] = {}
_CONF_APPLIED: set[str] = set()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    app = spark.sparkContext.applicationId
    if app not in _CONF_APPLIED:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # the driver's events table stores TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects — read nanos as long and convert
        # exactly (integer `div`, no double round-trip).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _CONF_APPLIED.add(app)
    key = (app, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    sch = _TABLE_SCHEMAS.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _TABLE_SCHEMAS[key] = df.schema
    else:
        df = spark.read.schema(sch).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


_DEC = "decimal(18,2)"

# DuckDB fragments
_DD_TOKENS = r"list_filter(string_split_regex(lower({c}), '\s+'), t -> t <> '')"
_DD_NORM = r"trim(regexp_replace(lower({c}), '\s+', ' ', 'g'))"


def _dd_hex15_to_long(x: str) -> str:
    """First 15 hex chars of `x` → 60-bit integer, positional fold (matches
    Spark's conv(substr(x, 1, 15), 16, 10))."""
    return (
        f"list_reduce(list_transform(string_split(substr({x}, 1, 15), ''),"
        " c -> CAST(strpos('0123456789abcdef', c) AS BIGINT) - 1),"
        " (a, b) -> a * 16 + b)"
    )


def _dd_md5_long(x: str) -> str:
    return _dd_hex15_to_long(f"md5({x})")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's parallelism when the
    scan produced fewer input splits than cores (small files → 1 split →
    single-threaded CPU-heavy expressions). At real scale inputs have many
    splits and this is a no-op; it deliberately runs AFTER the scan so
    filter/column pushdown is unaffected.

    Prefer `_ts` / `_spread_as` for base tables: deriving the split count
    via `df.rdd` forces a full plan→RDD conversion per call."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _scan_parts(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized scan-split count for a base table — a pure function of the
    file layout and session read confs, so deriving it once per
    application is exact."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n = _SCAN_PARTS.get(key)
    if n is None:
        n = _t(spark, sf_dir, name).rdd.getNumPartitions()
        _SCAN_PARTS[key] = n
    return n


def _spread_as(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str,
    by: tuple[str, ...] | None = None,
) -> DataFrame:
    """`_spread` for a NARROW transformation of table ``name`` (filter /
    select keep the scan's partitioning, so the memoized split count of
    the base table applies exactly).

    ``by``: spread by HASH on these columns instead of round-robin — use
    the columns of the query's FIRST downstream shuffle (its groupBy /
    join / window key) so the emulated splits double as that operation's
    exchange (§2.4 "two operations keyed the same way share one
    exchange"): the plan then carries ONE exchange where round-robin
    carries two, and skips round-robin's per-partition
    sort-before-repartition (hash placement is already deterministic
    under retry). Only pass HIGH-cardinality keys — a low-cardinality
    ``by`` collapses the spread to |distinct| partitions, which is worse
    than no spread. Like the round-robin form this is a NO-OP whenever
    the scan already has >= cores splits (any real deployment): at scale
    the operation's own exchange strategy — including map-side partial
    aggregation upstream of it — is exactly what it was without ``by``."""
    n = spark.sparkContext.defaultParallelism
    if _scan_parts(spark, sf_dir, name) < n:
        if by:
            return df.repartition(n, *[F.col(c) for c in by])
        return df.repartition(n)
    return df


def _ts(
    spark: SparkSession, sf_dir: str, name: str,
    by: tuple[str, ...] | None = None,
) -> DataFrame:
    """``_spread(_t(...))`` with the split count memoized per table."""
    return _spread_as(_t(spark, sf_dir, name), spark, sf_dir, name, by=by)


def _hist_prefix(hist: DataFrame, key: str, val, out):
    """Bounded-depth exclusive prefix over a TINY aggregated histogram.

    Lazily checkpoints ``hist`` (ONE materialization shared by the probe,
    the prefix pass, and whatever totals the caller derives from the
    returned frame), probes the key bounds — a job over the materialized
    histogram blocks, not a corpus pass — and runs ``_exclusive_prefix``
    at the data-aware depth instead of the static 64-bit depth (4 levels
    of window + broadcast join, r12 measured as the dominant cost of the
    histogram-statistics family at bench scale). Keys always shift to
    start at zero first — an order-preserving translation, so prefix
    sums are unchanged — and shift back after; the depth is therefore
    bounded by the key RANGE (epoch-minute or 1e9-quantized keys with a
    narrow spread stay at ONE window level), not the key magnitude.

    Returns ``(hist, prefixed)``; callers MUST read totals off the
    returned (checkpointed) ``hist`` so the upstream aggregation is
    computed once. ``val``/``out`` may be lists (multi-val form)."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    hist = hist.localCheckpoint(eager=False)
    b = hist.agg(F.min(key).alias("mn"), F.max(key).alias("mx")).first()
    mn, mx = b["mn"], b["mx"]
    if mn is None:
        return hist, _exclusive_prefix(hist, key, val, out, max_key=0)
    if mn == 0:
        return hist, _exclusive_prefix(hist, key, val, out, max_key=mx)
    shifted = hist.withColumn(key, F.col(key) - F.lit(mn))
    res = _exclusive_prefix(shifted, key, val, out, max_key=mx - mn)
    return hist, res.withColumn(key, F.col(key) + F.lit(mn))


def _dd_minhash_base(x: str) -> str:
    """md5_60(x, salt 0) mod P — the per-shingle base hash of the minhash
    universal-hash family (operators/dedup.py)."""
    from beacon_indexer_spark.operators.dedup import MINHASH_P

    salted = f"concat('0:', {x})"
    return f"({_dd_md5_long(salted)} % {MINHASH_P})"


# ===========================================================================
# Relational surface (TPC-ish tables)
# ===========================================================================

def q_pruned_scan_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P7/O5: pushed-down filter + projection + top-k."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") > 0.05)
        )
        .select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.col("l_extendedprice").alias("l_extendedprice"),
        )
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(10)
    )


ORACLE_PRUNED_SCAN_TOPK = """
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount > 0.05
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 10
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4 (TPC-H Q1 shape): grouped aggregation with exact decimal math."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast(_DEC) - disc)).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5 + A8: multi-way equi-join with broadcast dims + grouped sum."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        orders.join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_REGION_REVENUE = """
SELECT r_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/O5: top-k grouped count with deterministic tie-break."""
    ev = _t(spark, sf_dir, "events")
    return R.top_k(
        ev.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_events")
        ),
        [F.desc("n_events"), F.asc("user_id")],
        10,
    )


ORACLE_TOP_USERS = """
SELECT CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS n_events
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id ASC LIMIT 10
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3/W1/A11: latest-wins dedup (ReplacingMergeTree+FINAL semantics),
    version = (ts, event_id)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "__v", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = latest(ev, ["user_id"], "__v")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("ts").alias("ts_epoch"),
        "event_type",
        F.col("value").alias("value"),
    )


ORACLE_LATEST_EVENT_PER_USER = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      FROM events) WHERE rn = 1
"""


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/C12: gap detection via sequence anti-join (simulated gaps: ids
    divisible by 97 treated as not-loaded)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 97 != 0)
    return R.detect_gaps(ev, "event_id").select(
        F.col("event_id").cast("long").alias("missing_id")
    )


ORACLE_EVENT_GAPS = """
WITH loaded AS (SELECT event_id FROM events WHERE event_id % 97 <> 0),
     bounds AS (SELECT min(event_id) lo, max(event_id) hi FROM loaded),
     expected AS (SELECT unnest(generate_series(lo, hi)) AS x FROM bounds)
SELECT CAST(x AS BIGINT) AS missing_id
FROM expected
WHERE NOT EXISTS (SELECT 1 FROM loaded WHERE loaded.event_id = expected.x)
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2/U2: anti-join (the control plane's work-discovery shape)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return R.untransformed_ranges(
        cust.select(F.col("c_custkey").cast("long").alias("c_custkey"), "c_name"),
        orders.select(F.col("o_custkey").cast("long").alias("c_custkey")),
        ["c_custkey"],
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/F12: time-bucketed aggregates (toStartOfHour analogue)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(F.unix_timestamp("bucket").alias("bucket_epoch"), "n", "sum_value")
    )


ORACLE_EVENTS_HOURLY = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_epoch,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: conditional counts (countIf pivot shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0)).alias("n_high"),
        F.max(F.when(F.col("value") > 50.0, F.col("user_id")).otherwise(None))
        .cast("long")
        .alias("max_high_user"),
    )


ORACLE_EVENT_TYPE_STATS = """
SELECT event_type, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(MAX(CASE WHEN value > 50.0 THEN user_id END) AS BIGINT) AS max_high_user
FROM events GROUP BY event_type
"""


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: COUNT(DISTINCT) per group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_USERS = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/A1: UNION ALL monitoring rollup across tables."""
    parts = []
    for name in ["customer", "orders", "lineitem", "events"]:
        df = _t(spark, sf_dir, name)
        parts.append(
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(name).alias("table_name"), "n_rows"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_TABLE_COUNTS = """
SELECT 'customer' AS table_name, COUNT(*) AS n_rows FROM customer
UNION ALL SELECT 'orders', COUNT(*) FROM orders
UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
UNION ALL SELECT 'events', COUNT(*) FROM events
"""


def q_first_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/O4: row_number per group (chunk-numbering shape), first 3 orders."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").cast("long").alias("o_custkey"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


ORACLE_FIRST_ORDERS_PER_CUSTOMER = """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_epoch,
       CAST(rn AS BIGINT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) rn
      FROM orders) WHERE rn <= 3
"""


def q_nation_status_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: GROUP_CONCAT with deterministic (sorted) ordering."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    return j.groupBy("n_name").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORACLE_NATION_STATUS_CONCAT = """
WITH j AS (
  SELECT n_name, o_orderstatus FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey),
concats AS (
  SELECT n_name, string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
  FROM (SELECT DISTINCT n_name, o_orderstatus FROM j) GROUP BY n_name),
counts AS (SELECT n_name, COUNT(*) AS n_orders FROM j GROUP BY n_name)
SELECT n_name, statuses, n_orders FROM concats JOIN counts USING (n_name)
"""


def q_daily_last_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/F11: last-slot-of-UTC-day predicate (validators daily snapshot),
    event_id as the slot clock (432 s slots → 200 slots/day)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(last_slot_of_day("event_id", 0, 432))
        .select(
            F.col("event_id").cast("long").alias("slot"),
            F.date_format(
                F.timestamp_seconds(F.col("event_id") * 432), "yyyy-MM-dd"
            ).alias("day"),
        )
    )


ORACLE_DAILY_LAST_SLOT = """
SELECT CAST(event_id AS BIGINT) AS slot,
       strftime(make_timestamp(event_id * 432 * 1000000), '%Y-%m-%d') AS day
FROM events
WHERE (event_id * 432) // 86400 <> ((event_id + 1) * 432) // 86400
"""


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: JSON path extraction from a payload column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.col("event_id").cast("long").alias("event_id"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .filter(F.col("k") > 50)
    )


ORACLE_EVENTS_JSON_EXTRACT = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(props->>'$.k' AS BIGINT) AS k
FROM events WHERE CAST(props->>'$.k' AS BIGINT) > 50
"""


def q_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame extension (running sum) — documented beyond-reference op."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double").alias("running_value"),
    )


ORACLE_USER_RUNNING_VALUE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events WHERE user_id < 20
"""


# ===========================================================================
# Scalar-function surface (F4/F6/F8 style) over documents
# ===========================================================================

def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5/F6/F8: content fingerprint (md5 of canonical text), sorted-token
    fingerprint, hex popcount, hex-prefix→int64."""
    docs = _ts(spark, sf_dir, "documents")
    # stage fp as a column so the md5+normalize tree evaluates once, not 3×
    staged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.fingerprint("text").alias("fp"),
        X.sorted_token_fingerprint("text").alias("token_fp"),
    )
    return staged.select(
        "doc_id",
        "fp",
        "token_fp",
        popcount_hex(F.col("fp")).cast("long").alias("fp_popcount"),
        # bare hex (no 0x prefix) → parse base-16 directly
        F.conv(F.substring("fp", 1, 15), 16, 10).cast("long").alias("fp_prefix_int"),
    )


ORACLE_DOC_FINGERPRINTS = f"""
WITH base AS (
  SELECT doc_id,
         md5({_DD_NORM.format(c='text')}) AS fp,
         md5(array_to_string(list_sort(list_distinct({_DD_TOKENS.format(c='text')})), ' ')) AS token_fp
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, fp, token_fp,
       CAST(bit_count(CAST(from_hex(fp) AS BIT)) AS BIGINT) AS fp_popcount,
       {_dd_hex15_to_long('fp')} AS fp_prefix_int
FROM base
"""


def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting (whitespace + BPE-ish regex), quality
    scoring, mean token length."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.token_count("text").cast("long").alias("n_tokens"),
        X.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
        F.round(X.mean_token_length("text"), 6).alias("mean_token_len"),
        F.round(X.quality_score("text"), 6).alias("quality"),
    )


# quality formula mirror: see operators/text.py quality_score
ORACLE_DOC_TEXT_STATS = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS bpe,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens, len(bpe) AS n_bpe_tokens, n_chars, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       round(mtl, 6) AS mean_token_len,
       round((least(n_chars / 500.0, 1.0) * 0.4
             + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
             + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
             * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END), 6) AS quality
FROM m
"""


def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-lexicon argmax, deterministic ties)."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.lang_id("text").alias("pred_lang"),
        F.col("lang").alias("labeled_lang"),
    )


def _dd_lang_score(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in X.LANG_MARKERS[lang])
    toks = _DD_TOKENS.format(c="text")
    return f"len(list_filter({toks}, t -> t IN ({words})))"


ORACLE_DOC_LANGID = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_dd_lang_score('en')} AS s_en,
         {_dd_lang_score('es')} AS s_es,
         {_dd_lang_score('fr')} AS s_fr,
         {_dd_lang_score('de')} AS s_de
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS pred_lang,
       lang AS labeled_lang
FROM s
"""


# ===========================================================================
# Dedup family
# ===========================================================================

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (hash-groupBy on normalized-content fingerprint)."""
    docs = _ts(spark, sf_dir, "documents")
    out = D.exact_duplicates(docs, "doc_id", "text")
    return out.select(
        "fp",
        F.col("n_members").cast("long").alias("n_members"),
        F.col("keep_id").cast("long").alias("keep_id"),
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), ",").alias(
            "members"
        ),
    )


ORACLE_DEDUP_EXACT = f"""
SELECT md5({_DD_NORM.format(c='text')}) AS fp,
       COUNT(*) AS n_members,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM documents
GROUP BY 1 HAVING COUNT(*) > 1
"""


def _dd_shingles(n: int = 3) -> str:
    """DuckDB expression for distinct n-gram word shingles of `text`."""
    toks = _DD_TOKENS.format(c="text")
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)),"
        f" i -> array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (exact set similarity, shingle-blocked
    join — never a cross join)."""
    docs = _ts(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1, shingle_n=3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, unnest({_dd_shingles(3)}) AS shingle FROM documents),
sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT CAST(id_a AS BIGINT) id_a, CAST(id_b AS BIGINT) id_b,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.1
"""


_MINHASH_K = 8
_MINHASH_BANDS = 4


def _run(docs: DataFrame, **kw) -> CurationRun:
    """A curation run with the query surface's LSH constants."""
    return CurationRun(
        docs, k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3, **kw
    )


def _curation(spark: SparkSession, sf_dir: str, **kw) -> CurationRun:
    """The curation run over the documents table."""
    return _run(_ts(spark, sf_dir, "documents"), **kw)


def _src0_curation(spark: SparkSession, sf_dir: str) -> CurationRun:
    """The curation run over the documents outside source 'src0', with
    src0 as the held-out benchmark that decontamination checks them
    against."""
    docs = _ts(spark, sf_dir, "documents")
    return _run(
        docs.filter(F.col("source") != "src0"),
        test_docs=docs.filter(F.col("source") == "src0"),
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (shingle → k salted md5-derived hashes → min)."""
    docs = _ts(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3)
    return sigs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[F.col(f"sig_{i}").cast("long").alias(f"sig_{i}") for i in range(_MINHASH_K)],
    )


def _dd_minhash_sigs() -> tuple[str, str]:
    """(hashed-CTE fragment, sig column list) for the universal-hash
    minhash family — mirrors operators/dedup.py exactly."""
    from beacon_indexer_spark.operators.dedup import MINHASH_P, minhash_coeffs

    hashed = (
        f"SELECT doc_id, list_transform(sh, s -> {_dd_minhash_base('s')}) AS hs "
        "FROM base"
    )
    sig_cols = []
    for i, (a, b) in enumerate(minhash_coeffs(_MINHASH_K)):
        sig_cols.append(
            f"coalesce(list_min(list_transform(hs, h -> (h * {a} + {b}) % "
            f"{MINHASH_P})), -1) AS sig_{i}"
        )
    return hashed, ",\n       ".join(sig_cols)


def _oracle_minhash_sql() -> str:
    hashed, cols = _dd_minhash_sigs()
    return f"""
WITH base AS (SELECT doc_id, {_dd_shingles(3)} AS sh FROM documents),
hashed AS ({hashed})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {cols}
FROM hashed
"""


ORACLE_DEDUP_MINHASH = _oracle_minhash_sql()


def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs (band-bucket equi-join)."""
    docs = _ts(spark, sf_dir, "documents")
    out = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


def _dd_minhash_keyed_ctes(where: str = "") -> str:
    """`base/hashed/sigs/keyed` CTE chain (doc_id → LSH band keys) —
    shared by the LSH-pairs, estimator-validation, and incremental-dedup
    oracles so the banding mirror lives in ONE place. ``where`` (e.g.
    " WHERE source <> 'src0'") restricts the corpus — default unchanged
    so every existing oracle stays byte-identical."""
    rows = _MINHASH_K // _MINHASH_BANDS
    hashed, sig_cols = _dd_minhash_sigs()
    band_rows = []
    for b in range(_MINHASH_BANDS):
        parts = ", ".join(
            f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {parts})) AS key FROM sigs"
        )
    bands_union = "\nUNION ALL ".join(band_rows)
    return f"""base AS (SELECT doc_id, {_dd_shingles(3)} AS sh FROM documents{where}),
hashed AS ({hashed}),
sigs AS (SELECT doc_id, {sig_cols} FROM hashed),
keyed AS ({bands_union})"""


def _oracle_minhash_lsh_sql(where: str = "") -> str:
    return f"""
WITH {_dd_minhash_keyed_ctes(where)}
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""


ORACLE_DEDUP_MINHASH_LSH_PAIRS = _oracle_minhash_lsh_sql()


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit fingerprints (majority vote over token md5 bits)."""
    docs = _ts(spark, sf_dir, "documents")
    out = D.simhash(docs, "doc_id", "text")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "simhash")


def _dd_simhash_ctes() -> str:
    """`base` + `sh` CTEs producing (doc_id, simhash hex16) — shared by
    the simhash-fingerprints oracle and the bit-balance audit oracle so
    the majority-vote mirror lives in ONE place."""
    toks = f"list_distinct({_DD_TOKENS.format(c='text')})"
    digit_exprs = []
    for pos in range(1, 17):
        nib = f"CAST(strpos('0123456789abcdef', substr(md5(t), {pos}, 1)) AS BIGINT) - 1"
        bit_exprs = []
        for bit in (8, 4, 2, 1):
            votes = (
                f"list_sum(list_transform(toks, t -> CASE WHEN (({nib}) // {bit}) % 2 = 1"
                f" THEN 1 ELSE -1 END))"
            )
            bit_exprs.append(f"(CASE WHEN {votes} > 0 THEN 1 ELSE 0 END)")
        digit_val = (
            f"({bit_exprs[0]} * 8 + {bit_exprs[1]} * 4 + {bit_exprs[2]} * 2 + {bit_exprs[3]})"
        )
        digit_exprs.append(f"substr('0123456789abcdef', {digit_val} + 1, 1)")
    concat = " || ".join(digit_exprs)
    return f"""base AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {concat} AS simhash FROM base)"""


def _oracle_simhash_sql() -> str:
    return f"""
WITH {_dd_simhash_ctes()}
SELECT doc_id, simhash FROM sh
"""


ORACLE_DEDUP_SIMHASH = _oracle_simhash_sql()


# ===========================================================================
# Similarity search
# ===========================================================================

def q_similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (brute force baseline) for query vectors id<5."""
    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.brute_force_topk(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


ORACLE_SIMILARITY_BRUTEFORCE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
v AS (SELECT vec_id AS neighbor_id, embedding AS vv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b)
    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (a,b) -> a + b))
      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(vv)), i -> CAST(vv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b))) AS cos_sim
  FROM q, v WHERE query_id <> neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) query_id, CAST(neighbor_id AS BIGINT) neighbor_id,
       CAST(rank AS BIGINT) rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
"""


def q_embedding_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, banded LSH sign-bucket blocked
    (32 sign bits in 4 bands; candidates share any band).

    8-bit band keys (256 buckets/band), not 4-bit: 4-bit keys put N/16 of
    the corpus in every bucket — measured 467k candidate pairs from 2,000
    vectors at sf0.1 (23% of ALL pairs — the blocking blocked nothing), and
    at any corpus size the per-bucket pair count stays quadratic in N.
    Doubling the sign bits squares the bucket count per band; the r4 bench
    cut candidates ~30× while planted-cluster recall at cosine ≈ 0.98
    stays ≥ 0.95 by the band bound 1-(1-p^8)^4 (tests/test_near_dup_recall
    asserts it against numpy ground truth)."""
    emb = _ts(spark, sf_dir, "embeddings")
    out = S.embedding_near_duplicates(
        emb, dim=64, threshold=0.35, n_bits=32, bands=4
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


def _oracle_band_cols(n_bits: int, bands: int) -> str:
    """DuckDB band-key columns ``band0..`` mirroring `lsh_band_keys`
    (dim=64): band b's key is the sign bits of its contiguous segment of
    the deterministic hyperplanes. Each dot product is a sequential fold
    over ``list_zip(embedding, hyperplane)``, so the hyperplane literal is
    built once per row, not once per element."""
    per = n_bits // bands
    bit_sql = []
    for b in range(n_bits):
        hp = "[" + ", ".join(str(x) for x in S._hyperplane(64, b)) + "]"
        dotb = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(embedding,"
            f" {hp}), p -> CAST(p[1] AS DOUBLE) * p[2])), (a,b) -> a + b)"
        )
        bit_sql.append(f"CASE WHEN {dotb} >= 0 THEN '1' ELSE '0' END")
    return ", ".join(
        "(" + " || ".join(bit_sql[b * per : (b + 1) * per]) + f") AS band{b}"
        for b in range(bands)
    )


def _oracle_embedding_near_dupes_sql(n_bits: int = 32, bands: int = 4) -> str:
    # candidate pairs share ANY band key: a UNION of per-band equi-joins
    # over the materialized keys (DuckDB inlines a plain CTE, and an
    # OR-join would recompute every dot product per candidate pair)
    band_cols = _oracle_band_cols(n_bits, bands)
    cand = " UNION ".join(
        f"SELECT a.vec_id AS ia, b.vec_id AS ib FROM kb a JOIN kb b"
        f" ON a.band{b} = b.band{b} AND a.vec_id < b.vec_id"
        for b in range(bands)
    )
    dotp = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, 64),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x + y)"
    )
    norm = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, 64),"
        " i -> CAST({e}.embedding[i] AS DOUBLE) * CAST({e}.embedding[i] AS DOUBLE))), (x,y) -> x + y))"
    )
    return f"""
WITH kb AS MATERIALIZED (SELECT vec_id, {band_cols} FROM embeddings),
cand AS MATERIALIZED ({cand}),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {dotp} / ({norm.format(e='a')} * {norm.format(e='b')}) AS cos
  FROM cand JOIN embeddings a ON a.vec_id = cand.ia JOIN embeddings b ON b.vec_id = cand.ib)
SELECT CAST(id_a AS BIGINT) id_a, CAST(id_b AS BIGINT) id_b, round(cos, 6) AS cos_sim
FROM scored WHERE cos >= 0.35
"""


def q_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest SEMANTIC dedup (operators/similarity.py
    `embedding_incremental_duplicates`): vectors with vec_id % 5 == 4
    play the NEW batch; the rest are the stored corpus. The batch's
    banded sign-bit keys equi-join the corpus band-key index — O(batch)
    work, the corpus is never re-paired — then an exact-cosine verify
    (≥ 0.35, the corpus's near-dup threshold) bounded by the hits gives
    every new vector a total verdict (dup_of, n_matches, is_dup). The
    embedding sibling of `dedup_incremental`: together they give
    streaming ingest both text and semantic dedup."""
    emb = _ts(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 5 == 4
    m = S.embedding_incremental_duplicates(
        emb.filter(~is_new), emb.filter(is_new),
        dim=64, threshold=0.35, n_bits=32, bands=4,
    )
    spine = emb.filter(is_new).select(F.col("vec_id").cast("long").alias("vec_id"))
    return spine.join(m, "vec_id", "left").select(
        "vec_id",
        F.col("dup_of").cast("long").alias("dup_of"),
        F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
        F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
    )


def _oracle_embedding_incremental_sql(n_bits: int = 32, bands: int = 4) -> str:
    # new/stored band-key hits: a UNION of per-band equi-joins over the
    # materialized keys, as in `_oracle_embedding_near_dupes_sql`
    band_cols = _oracle_band_cols(n_bits, bands)
    hits = " UNION ".join(
        f"SELECT a.vec_id AS nid, b.vec_id AS oid FROM newb a JOIN oldb b"
        f" ON a.band{b} = b.band{b}"
        for b in range(bands)
    )
    dotp = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, 64),"
        " i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))), (x,y) -> x + y)"
    )
    nrm = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, 64),"
        " i -> CAST({e}.embedding[i] AS DOUBLE) * CAST({e}.embedding[i] AS DOUBLE))), (x,y) -> x + y))"
    )
    return f"""
WITH kb AS MATERIALIZED (SELECT vec_id, {band_cols} FROM embeddings),
newb AS MATERIALIZED (SELECT * FROM kb WHERE vec_id % 5 = 4),
oldb AS MATERIALIZED (SELECT * FROM kb WHERE vec_id % 5 <> 4),
hits AS MATERIALIZED ({hits}),
ver AS (
  SELECT nid, oid
  FROM hits
  JOIN embeddings ea ON ea.vec_id = nid
  JOIN embeddings eb ON eb.vec_id = oid
  WHERE {dotp} / ({nrm.format(e='ea')} * {nrm.format(e='eb')}) >= 0.35),
m AS (
  SELECT nid, MIN(oid) AS dup_of, COUNT(DISTINCT oid) AS n_matches
  FROM ver GROUP BY nid)
SELECT CAST(k.vec_id AS BIGINT) AS vec_id,
       CAST(m.dup_of AS BIGINT) AS dup_of,
       CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(m.dup_of IS NOT NULL AS INT) AS is_dup
FROM newb k LEFT JOIN m ON k.vec_id = m.nid
"""


# ===========================================================================
# registry
# ===========================================================================

def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min starts a new session): lag + running-sum
    windows — the stateful-stream pattern as a batch window, per-user
    session stats. Beyond-reference window coverage (SURVEY §2.6 notes the
    reference uses no lag/frames; a training-data pipeline needs them)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_sess.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").cast("long").alias("total_events"),
        F.max("n").cast("long").alias("longest_session_events"),
    )


ORACLE_EVENTS_SESSIONIZE = """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(prev)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM ordered),
sess AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flags),
per_sess AS (
  SELECT user_id, session_id, COUNT(*) AS n FROM sess GROUP BY 1, 2)
SELECT CAST(user_id AS BIGINT) AS user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS total_events,
       CAST(MAX(n) AS BIGINT) AS longest_session_events
FROM per_sess GROUP BY user_id
"""


def q_multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: deterministic images synthesized from
    document bytes (mapInPandas encode) → Arrow-batched decode → metadata
    aggregate. The IMG1 synthesis is pure arithmetic over the utf-8 bytes
    of `text`, so the whole pipeline IS oracle-expressible: DuckDB mirrors
    it byte-for-byte via hex(encode(text)) (ORACLE_MULTIMODAL_IMAGE_STATS).
    Full per-image value assertions live in tests/test_multimodal.py."""
    import pandas as pd

    from beacon_indexer_spark.operators import multimodal as M

    # modest parallelism on purpose: two chained Python stages over tiny
    # per-partition batches pay more in Arrow round-trips than they gain
    # from extra cores at this row count. Scales with the cluster (a
    # quarter of the available slots — bigger Arrow batches per worker)
    # with a floor of 8 so small drivers still parallelize the decode.
    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    docs = (
        _t(spark, sf_dir, "documents").repartition(n_parts).select("doc_id", "text")
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                w = 2 + int(did) % 3  # 2..4 px wide, 2 tall, 1 channel
                n = w * 2
                raw = (text or "").encode("utf-8")[:n]
                raw = raw + b" " * (n - len(raw))
                out.append((did, M.encode_image(w, 2, 1, raw)))
            yield pd.DataFrame(out, columns=["doc_id", "content"])

    media = docs.mapInPandas(gen, "doc_id long, content binary")
    meta = M.decode_images(media)
    return (
        meta.groupBy("width", "height", "channels")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.avg("mean_intensity"), 6).alias("avg_intensity"),
            F.sum("byte_length").alias("total_bytes"),
        )
        .orderBy("width")
    )


ORACLE_MULTIMODAL_IMAGE_STATS = """
WITH base AS (
  SELECT doc_id,
         2 + (doc_id % 3) AS w,
         hex(encode(COALESCE(text, ''))) AS hx
  FROM documents),
px AS (
  SELECT doc_id, w,
         -- byte i of utf-8(text), right-padded with 0x20 to n = 2*w pixels
         -- (hex-pair parse via nibble lookup: byte-exact even for non-ASCII)
         list_transform(generate_series(1, 2 * w), i ->
           CASE WHEN 2 * i <= length(hx)
                THEN 16 * (strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1)
                     + (strpos('0123456789ABCDEF', substr(hx, 2 * i, 1)) - 1)
                ELSE 32 END) AS bytes
  FROM base)
SELECT CAST(w AS INT) AS width,
       CAST(2 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       COUNT(*) AS n_images,
       round(AVG(CAST(list_sum(bytes) AS DOUBLE) / (2 * w)), 6) AS avg_intensity,
       CAST(SUM(9 + 2 * w) AS BIGINT) AS total_bytes
FROM px
GROUP BY w
ORDER BY w
"""


def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-path multimodal plumbing end-to-end (the image query's
    sibling): deterministic AUD1 clips synthesized from document bytes
    (mapInPandas encode) → Arrow-batched `extract_audio_features`
    (rate/duration/RMS/peak) → per-rate rollup. The synthesis is pure
    integer arithmetic over utf-8 bytes, so the whole pipeline is
    oracle-expressible; i16 sample squares sum integer-exactly in
    float64 on both engines."""
    import pandas as pd

    from beacon_indexer_spark.operators import multimodal as M

    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    docs = (
        _t(spark, sf_dir, "documents").repartition(n_parts).select("doc_id", "text")
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                rate = 8000 * (1 + int(did) % 3)  # 8/16/24 kHz
                n = 16
                raw = (text or "").encode("utf-8")[:n]
                raw = raw + b" " * (n - len(raw))
                samples = [(b - 128) * 64 for b in raw]
                out.append((did, M.encode_audio(rate, samples)))
            yield pd.DataFrame(out, columns=["doc_id", "content"])

    media = docs.mapInPandas(gen, "doc_id long, content binary")
    feats = M.extract_audio_features(media)
    return (
        feats.groupBy(F.col("sample_rate").cast("long").alias("sample_rate"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.round(F.avg("rms"), 6).alias("avg_rms"),
            F.max("peak").cast("long").alias("max_peak"),
            F.round(F.sum("duration_s"), 6).alias("total_duration_s"),
        )
    )


ORACLE_MULTIMODAL_AUDIO_STATS = """
WITH base AS (
  SELECT doc_id,
         8000 * (1 + doc_id % 3) AS rate,
         hex(encode(COALESCE(text, ''))) AS hx
  FROM documents),
s AS (
  SELECT doc_id, rate,
         list_transform(generate_series(1, 16), i ->
           CASE WHEN 2 * i <= length(hx)
                THEN 16 * (strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1)
                     + (strpos('0123456789ABCDEF', substr(hx, 2 * i, 1)) - 1)
                ELSE 32 END) AS bytes
  FROM base),
f AS (
  SELECT doc_id, rate,
         sqrt(CAST(list_sum(list_transform(bytes,
              b -> (b - 128) * (b - 128) * 4096)) AS DOUBLE) / 16) AS rms,
         CAST(list_max(list_transform(bytes, b -> abs((b - 128) * 64))) AS BIGINT)
           AS peak,
         CAST(16 AS DOUBLE) / rate AS duration_s
  FROM s)
SELECT CAST(rate AS BIGINT) AS sample_rate,
       COUNT(*) AS n_clips,
       round(AVG(rms), 6) AS avg_rms,
       MAX(peak) AS max_peak,
       round(SUM(duration_s), 6) AS total_duration_s
FROM f GROUP BY 1
"""


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-path multimodal plumbing (frame sampling): deterministic VID1
    clips (2-3 frames of 3x2x1 pixels from document bytes) → Arrow-batched
    `sample_frames(every_nth=2)` re-emitting sampled frames as IMG1
    images → JVM-side md5 over the hex of each frame blob. The oracle
    reconstructs the exact IMG1 byte stream (header literal + hex pairs)
    and hashes the same string — byte-exact, no media libs anywhere."""
    import pandas as pd

    from beacon_indexer_spark.operators import multimodal as M

    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    docs = (
        _t(spark, sf_dir, "documents").repartition(n_parts).select("doc_id", "text")
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                nf = 2 + int(did) % 2
                raw = (text or "").encode("utf-8")
                frames = []
                for f in range(nf):
                    piece = raw[f * 6 : (f + 1) * 6]
                    frames.append(piece + b" " * (6 - len(piece)))
                out.append((did, M.encode_video(3, 2, 1, frames)))
            yield pd.DataFrame(out, columns=["doc_id", "content"])

    media = docs.mapInPandas(gen, "doc_id long, content binary")
    frames = M.sample_frames(media, every_nth=2)
    return frames.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.md5(F.hex("frame")).alias("frame_hash"),
    )


# IMG1 header for a 3x2x1 frame: magic + >HHB(w, h, c)
_VID_FRAME_HEADER_HEX = "494D4731" + "0003" + "0002" + "01"

ORACLE_MULTIMODAL_VIDEO_FRAMES = f"""
WITH base AS (
  SELECT doc_id, 2 + doc_id % 2 AS nf,
         hex(encode(COALESCE(text, ''))) AS hx
  FROM documents),
fr AS (SELECT doc_id, nf, hx, unnest([0, 2]) AS fi FROM base),
v AS (
  SELECT doc_id, fi,
         '{_VID_FRAME_HEADER_HEX}' || list_reduce(
           list_transform(generate_series(1, 6), j ->
             CASE WHEN 2 * (fi * 6 + j) <= length(hx)
                  THEN substr(hx, 2 * (fi * 6 + j) - 1, 2)
                  ELSE '20' END), (a, b) -> a || b) AS fh
  FROM fr WHERE fi < nf)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(fi AS BIGINT) AS frame_index,
       CAST(3 AS BIGINT) AS width,
       CAST(2 AS BIGINT) AS height,
       md5(fh) AS frame_hash
FROM v
"""


def q_multimodal_video_scene_cuts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shot-boundary detection (operators/multimodal.py
    detect_scene_changes): deterministic VID1 clips (3-5 frames of 3x2x1
    pixels from consecutive document-byte windows) scored by the sum of
    absolute pixel deltas between consecutive frames; a delta above 200
    is a cut — the pre-pass that decides where to sample frames densely
    for a training set. Integer-only arithmetic end-to-end, so the
    DuckDB oracle reproduces every delta from the hex of the utf-8
    bytes."""
    import pandas as pd

    from beacon_indexer_spark.operators import multimodal as M

    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    docs = (
        _t(spark, sf_dir, "documents").repartition(n_parts).select("doc_id", "text")
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                nf = 3 + int(did) % 3
                raw = (text or "").encode("utf-8")
                frames = []
                for f in range(nf):
                    piece = raw[f * 6 : (f + 1) * 6]
                    frames.append(piece + b" " * (6 - len(piece)))
                out.append((did, M.encode_video(3, 2, 1, frames)))
            yield pd.DataFrame(out, columns=["doc_id", "content"])

    media = docs.mapInPandas(gen, "doc_id long, content binary")
    return M.detect_scene_changes(media, threshold=200).select(
        "doc_id", "n_frames", "n_cuts", "max_delta"
    )


_DD_HEXBYTE = (
    "((strpos('0123456789ABCDEF', substr({hx}, {p}, 1)) - 1) * 16"
    " + strpos('0123456789ABCDEF', substr({hx}, {p} + 1, 1)) - 1)"
)

ORACLE_MULTIMODAL_VIDEO_SCENE_CUTS = f"""
WITH base AS (
  SELECT doc_id, 3 + doc_id % 3 AS nf,
         hex(encode(COALESCE(text, ''))) AS hx
  FROM documents),
px AS (
  SELECT doc_id, nf, t.f, u.j,
         CASE WHEN 2 * (t.f * 6 + u.j + 1) <= length(hx)
              THEN {_DD_HEXBYTE.format(hx='hx', p='2 * (t.f * 6 + u.j) + 1')}
              ELSE 32 END AS b
  FROM base,
       unnest(generate_series(0, CAST(nf - 1 AS INT))) AS t(f),
       unnest(generate_series(0, 5)) AS u(j)),
deltas AS (
  SELECT a.doc_id, a.f, SUM(abs(a.b - p.b)) AS d
  FROM px a JOIN px p
    ON p.doc_id = a.doc_id AND p.f = a.f - 1 AND p.j = a.j
  GROUP BY 1, 2)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(b.nf AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN d.d > 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(MAX(d.d) AS BIGINT) AS max_delta
FROM base b JOIN deltas d ON d.doc_id = b.doc_id
GROUP BY 1, 2
"""


def q_multimodal_audio_silence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio silence-gate (operators/multimodal.py audio_silence_ratio):
    the deterministic AUD1 clips of `multimodal_audio_stats`, profiled
    for the fraction of samples with |amplitude| < 1024 (i.e. source
    bytes within 16 of the 128 midpoint) — the curation signal that
    drops mostly-silent clips before feature extraction. Integer
    comparisons; one double division, rounded JVM-side."""
    import pandas as pd

    from beacon_indexer_spark.operators import multimodal as M

    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    docs = (
        _t(spark, sf_dir, "documents").repartition(n_parts).select("doc_id", "text")
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                rate = 8000 * (1 + int(did) % 3)
                n = 16
                raw = (text or "").encode("utf-8")[:n]
                raw = raw + b" " * (n - len(raw))
                samples = [(b - 128) * 64 for b in raw]
                out.append((did, M.encode_audio(rate, samples)))
            yield pd.DataFrame(out, columns=["doc_id", "content"])

    media = docs.mapInPandas(gen, "doc_id long, content binary")
    out = M.audio_silence_ratio(media, threshold=1024)
    return out.select(
        "doc_id",
        "n_samples",
        "n_silent",
        F.round("silence_ratio", 6).alias("silence_ratio"),
    )


ORACLE_MULTIMODAL_AUDIO_SILENCE = f"""
WITH base AS (
  SELECT doc_id, hex(encode(COALESCE(text, ''))) AS hx FROM documents),
smp AS (
  SELECT doc_id,
         CASE WHEN 2 * u.j <= length(hx)
              THEN {_DD_HEXBYTE.format(hx='hx', p='2 * u.j - 1')}
              ELSE 32 END AS b
  FROM base, unnest(generate_series(1, 16)) AS u(j))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(CASE WHEN abs((b - 128) * 64) < 1024 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_silent,
       round(SUM(CASE WHEN abs((b - 128) * 64) < 1024 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS silence_ratio
FROM smp
GROUP BY 1
"""


def q_multimodal_image_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup end-to-end: deterministic IMG1 images
    synthesized from document bytes (w = 4 + doc_id%5 px, 4 tall, 1
    channel — first 4·w utf-8 bytes of `text`, space-padded) →
    Arrow-batched `image_ahash` (integer-only 8×8 average-hash) → the
    SHARED banded multi-index Hamming engine (`hamming_hash_pairs`,
    bands=4 max_dist=3 ⇒ pigeonhole recall 1.0). The image-side
    analogue of `dedup_simhash_hamming`: near-identical images land
    within 3 bits and survive the exact verify. Integer-only arithmetic
    end-to-end makes the hash — and therefore the pairs — bit-exact in
    the DuckDB oracle."""
    import pandas as pd

    from beacon_indexer_spark.operators import multimodal as M

    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    docs = (
        _t(spark, sf_dir, "documents").repartition(n_parts).select("doc_id", "text")
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                w = 4 + int(did) % 5  # 4..8 px wide, 4 tall, 1 channel
                n = w * 4
                raw = (text or "").encode("utf-8")[:n]
                raw = raw + b" " * (n - len(raw))
                out.append((did, M.encode_image(w, 4, 1, raw)))
            yield pd.DataFrame(out, columns=["doc_id", "content"])

    media = docs.mapInPandas(gen, "doc_id long, content binary")
    out = M.image_near_dupes(media, max_dist=3, bands=4, max_bucket=512)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _oracle_multimodal_image_near_dupes_sql(
    max_dist: int = 3, bands: int = 4
) -> str:
    seg = 16 // bands
    any_band = " OR ".join(
        f"substr(a.ahash, {b * seg + 1}, {seg}) = substr(b.ahash, {b * seg + 1}, {seg})"
        for b in range(bands)
    )
    ham = (
        "list_reduce(list_prepend(0, list_transform(generate_series(1, 16), i -> "
        "bit_count(xor(instr('0123456789abcdef', substr(a.ahash, i, 1)) - 1, "
        "instr('0123456789abcdef', substr(b.ahash, i, 1)) - 1)))), (x, y) -> x + y)"
    )
    return f"""
WITH base AS (
  SELECT doc_id, 4 + (doc_id % 5) AS w,
         hex(encode(COALESCE(text, ''))) AS hx
  FROM documents),
px AS (
  SELECT doc_id, w,
         -- byte i of utf-8(text), right-padded with 0x20 to n = 4*w pixels
         list_transform(generate_series(1, 4 * w), i ->
           CASE WHEN 2 * i <= length(hx)
                THEN 16 * (strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1)
                     + (strpos('0123456789ABCDEF', substr(hx, 2 * i, 1)) - 1)
                ELSE 32 END) AS b
  FROM base),
-- 8x8 nearest-neighbor sample: value[k] = b[row(k)*w + col(k) + 1],
-- row(k) = ((k//8)*4)//8 over h=4, col(k) = ((k%8)*w)//8 (row-major)
samp AS (
  SELECT doc_id, w,
         list_transform(generate_series(0, 63), k ->
           b[((((k // 8) * 4) // 8)) * w + (((k % 8) * w) // 8) + 1]) AS s
  FROM px),
tot AS (SELECT doc_id, s, list_sum(s) AS t FROM samp),
hashed AS (
  SELECT doc_id,
         printf('%08x', CAST(list_sum(list_transform(generate_series(0, 31), k ->
           CASE WHEN 64 * s[k + 1] > t THEN (CAST(1 AS BIGINT) << (31 - k)) ELSE 0 END)) AS BIGINT))
         || printf('%08x', CAST(list_sum(list_transform(generate_series(32, 63), k ->
           CASE WHEN 64 * s[k + 1] > t THEN (CAST(1 AS BIGINT) << (63 - k)) ELSE 0 END)) AS BIGINT)) AS ahash
  FROM tot)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST({ham} AS BIGINT) AS hamming
FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id AND ({any_band})
WHERE {ham} <= {max_dist}
"""


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k over the embeddings corpus (queries = id<5,
    deterministic md5-sampled centroids). Oracle: the centroid sample,
    `-2·v·c + ||c||²` assignment ranking, nprobe dedup, and sequential-
    accumulation cosine are all mirrored in DuckDB SQL
    (_oracle_similarity_ivf_sql); recall vs brute force is additionally
    asserted in tests/test_similarity_ivf.py."""
    emb = _ts(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(emb, k=8)
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.ivf_topk(emb, queries, cents, k=5, nprobe=2)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


# ===========================================================================
# Custom join operators (as-of, range) + curation ops
# ===========================================================================

def q_orders_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each order picks the customer's most recent
    event at or before the order timestamp (ties → max event_id). The
    operator Spark lacks natively, via union+sort+last-non-null window —
    one key shuffle, never a range self-join (operators/relational.py)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("ckey"),
        F.unix_timestamp("o_orderdate").alias("ots"),
    )
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("ckey"),
        F.unix_timestamp("ts").alias("ets"),
        F.col("event_id").cast("long").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )
    out = R.asof_join(
        o, e, ["ckey"], "ots", "ets",
        tiebreak="last_event_id", matched_ts_col="asof_ts",
    )
    return out.select(
        "o_orderkey",
        F.col("ckey").alias("o_custkey"),
        "last_event_id",
        "last_event_type",
        F.col("asof_ts").cast("long").alias("asof_ts"),
    )


ORACLE_ORDERS_ASOF_EVENT = """
WITH o AS (SELECT o_orderkey, o_custkey AS ckey,
                  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ots FROM orders),
e AS (SELECT user_id AS ckey, CAST(floor(epoch(ts)) AS BIGINT) AS ets,
             event_id, event_type FROM events)
SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o.ckey AS BIGINT) AS o_custkey,
       CAST(e.event_id AS BIGINT) AS last_event_id,
       e.event_type AS last_event_type,
       CAST(e.ets AS BIGINT) AS asof_ts
FROM o LEFT JOIN e ON e.ckey = o.ckey AND e.ets <= o.ots
QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
                           ORDER BY e.ets DESC NULLS LAST,
                                    e.event_id DESC NULLS LAST) = 1
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: follow-up event pairs of the same user 1 s –
    6 h apart (on floored epoch seconds, identical in both engines) —
    bucketed equi-join, never a broadcast-nested-loop inequality join
    (operators/relational.py range_join)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        F.col("user_id").cast("long").alias("ckey"),
        F.unix_timestamp("ts").alias("ats"),
        F.col("event_id").cast("long").alias("event_id_a"),
    )
    b = ev.select(
        F.col("user_id").cast("long").alias("ckey"),
        F.unix_timestamp("ts").alias("bts"),
        F.col("event_id").cast("long").alias("event_id_b"),
    )
    out = R.range_join(a, b, ["ckey"], "ats", "bts", lower=1, upper=21600)
    return out.select(
        "event_id_a",
        "event_id_b",
        (F.col("bts") - F.col("ats")).cast("long").alias("gap_s"),
    )


ORACLE_EVENTS_RANGE_JOIN = """
WITH e AS (SELECT user_id AS ckey, CAST(floor(epoch(ts)) AS BIGINT) AS ets,
                  event_id FROM events)
SELECT CAST(a.event_id AS BIGINT) AS event_id_a,
       CAST(b.event_id AS BIGINT) AS event_id_b,
       CAST(b.ets - a.ets AS BIGINT) AS gap_s
FROM e a JOIN e b ON a.ckey = b.ckey
                 AND b.ets - a.ets >= 1 AND b.ets - a.ets <= 21600
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: LSH candidate pairs → connected components
    (min-label propagation, O(diameter) rounds). The oracle computes the
    identical transitive closure with a recursive CTE."""
    clusters = _curation(spark, sf_dir).clusters
    return clusters.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _oracle_dedup_clusters_sql(where: str = "") -> str:
    pairs = _oracle_minhash_lsh_sql(where).strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (SELECT id_a AS s, id_b AS t FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT s, t FROM edges
          UNION SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
                 WHERE e.t <> r.s)
SELECT CAST(s AS BIGINT) AS doc_id,
       CAST(least(s, MIN(t)) AS BIGINT) AS cluster_id
FROM reach GROUP BY s
"""


_STRATA_RATES = {"en": 0.5, "es": 0.25, "fr": 1.0}
_DEFAULT_RATE = 0.1


def q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by md5 key hash: 50% of en, 25%
    of es, all of fr, 10% of everything else — identical row sets across
    runs, partitionings, and engines; nested across rates
    (operators/sampling.py)."""
    docs = _t(spark, sf_dir, "documents")
    out = SP.stratified_hash_sample(
        docs, "doc_id", "lang", _STRATA_RATES, default_rate=_DEFAULT_RATE
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


def _oracle_doc_sample_stratified_sql() -> str:
    salted_key = "concat('1:', CAST(doc_id AS VARCHAR))"
    bucket = f"({_dd_md5_long(salted_key)} % 1000000)"
    cases = " ".join(
        f"WHEN '{k}' THEN {int(v * 1_000_000)}"
        for k, v in sorted(_STRATA_RATES.items())
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
WHERE {bucket} < CASE lang {cases} ELSE {int(_DEFAULT_RATE * 1_000_000)} END
"""


def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (operators/text.py tfidf_top_terms) — corpus stats via two map-side
    aggregations and a broadcast count, no driver action."""
    docs = _ts(spark, sf_dir, "documents")
    out = X.tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


ORACLE_DOC_TFIDF_TOP_TERMS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DD_TOKENS.format(c='text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf,
         t.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (d.df + 1)) + 1.0) AS score
  FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(tf AS BIGINT) AS tf,
       round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (pretraining data prep): docs in id order
    greedily fill 512-token windows — a distributed prefix sum (bucketed
    two-phase cumsum, no global single-partition window;
    operators/text.py pack_documents)."""
    docs = _t(spark, sf_dir, "documents")
    out = X.pack_documents(docs, "doc_id", "text", capacity=512, range_size=100)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_tokens",
        "pack_id",
    )


ORACLE_DOC_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_DD_TOKENS.format(c='text')}) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens,
       CAST(prefix // 512 AS BIGINT) AS pack_id
FROM c
"""


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (curation stats): discrete
    percentiles via the portable rank definition (smallest value whose
    cumulative rank fraction reaches p) — identical in both engines with
    no interpolation arithmetic to disagree on.

    Scale shape — a VALUE HISTOGRAM, never a per-row rank: ranking every
    document inside one per-language window funnels that language's whole
    corpus through a single task (English at ~half a 100 TB corpus = one
    ~50 TB partition). Exact quantiles don't need per-row ranks: the
    map-side-combined groupBy(lang, n_chars) histogram is bounded by
    DISTINCT lengths (thousands of rows per language, not billions), the
    cumulative window runs over those histogram rows, and the max rank of
    a value v is exactly its inclusive cumulative count — so "smallest
    value whose rank reaches p" is unchanged. The only per-row shuffle is
    the partial-aggregated histogram groupBy."""
    docs = _t(spark, sf_dir, "documents")
    hist = (
        docs.select("lang", F.col("n_chars").cast("long").alias("n_chars"))
        .groupBy("lang", "n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # nulls_last matches DuckDB's ORDER BY default so cumulative ranks
    # agree if n_chars is ever NULL
    w = (
        Window.partitionBy("lang")
        .orderBy(F.asc_nulls_last("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("crank", F.sum("cnt").over(w))
    totals = hist.groupBy("lang").agg(F.sum("cnt").alias("n"))
    j = cum.join(F.broadcast(totals), "lang")
    aggs = []
    for p in (25, 50, 75, 95):
        aggs.append(
            F.min(
                F.when(F.col("crank") * 100 >= F.col("n") * p, F.col("n_chars"))
            ).alias(f"p{p}")
        )
    return j.groupBy("lang").agg(F.sum("cnt").alias("n_docs"), *aggs)


ORACLE_DOC_LENGTH_QUANTILES = """
WITH ranked AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       MIN(CASE WHEN rn * 100 >= n * 25 THEN n_chars END) AS p25,
       MIN(CASE WHEN rn * 100 >= n * 50 THEN n_chars END) AS p50,
       MIN(CASE WHEN rn * 100 >= n * 75 THEN n_chars END) AS p75,
       MIN(CASE WHEN rn * 100 >= n * 95 THEN n_chars END) AS p95
FROM ranked GROUP BY lang
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus + reconstruction
    error (training-data shipping / ANN shortlist compression;
    operators/similarity.py quantize_embedding). Narrow map, no shuffle."""
    emb = _ts(spark, sf_dir, "embeddings")
    # two-step: scale staged as a column FIRST, codes reference it (the
    # O(d) scale aggregate inlined in the per-element lambda would be
    # O(d^2) per row — no subexpression elimination inside HOF lambdas)
    with_scale = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").alias("__v"),
        S.quantize_scale(F.col("embedding"), bits=8).alias("__scale"),
    )
    staged = with_scale.select(
        "vec_id",
        "__v",
        "__scale",
        S.quantize_codes(F.col("__v"), F.col("__scale")).alias("__q"),
    )
    deq = S.dequantize_embedding(F.col("__q"), F.col("__scale"))
    err = F.aggregate(
        F.zip_with(
            F.transform(F.col("__v"), lambda x: x.cast("double")),
            deq,
            lambda a, b: F.abs(a - b),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return staged.select(
        "vec_id",
        F.round("__scale", 6).alias("scale"),
        F.aggregate(
            F.col("__q"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
        F.round(err, 6).alias("max_abs_err"),
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH s AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (a, b) -> greatest(a, b)) / 127.0 AS scale,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings),
q AS (
  SELECT vec_id, scale,
         CASE WHEN scale > 0
              THEN list_transform(dv, x -> CAST(floor(x / scale + 0.5) AS INT))
              ELSE list_transform(dv, x -> 0) END AS qv,
         dv
  FROM s)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(scale, 6) AS scale,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(qv, x -> CAST(abs(x) AS BIGINT))), (a, b) -> a + b) AS q_l1,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(generate_series(1, len(dv)),
           i -> abs(dv[i] - CAST(qv[i] AS DOUBLE) * scale))),
         (a, b) -> greatest(a, b)), 6) AS max_abs_err
FROM q
"""


def _oracle_similarity_ivf_sql(k: int = 8, nprobe: int = 2, topk: int = 5) -> str:
    """DuckDB mirror of q_similarity_ivf: md5-sampled centroids, the
    `-2·v·c + ||c||²` nearest-centroid ranking of ivf_assign, nprobe-probed
    query lists, multi-probe dedup, and the same sequential left-to-right
    double accumulation for every dot product / norm (bit-reproducible
    across engines)."""
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    dot_vc = fold.format(
        arr="list_transform(generate_series(1, len(v.embedding)),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i])"
    )
    sq_c = fold.format(arr="list_transform(c.cv, x -> x * x)")
    dot_qv = fold.format(
        arr="list_transform(generate_series(1, len(qe.embedding)),"
        " i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ve.embedding[i] AS DOUBLE))"
    )
    norm = (
        "sqrt("
        + fold.format(
            arr="list_transform({e}.embedding,"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        + ")"
    )
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}),
assigned AS (
  SELECT v.vec_id, c.cid, -({dot_vc}) * 2 + ({sq_c}) AS d2
  FROM embeddings v CROSS JOIN cents c),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
  FROM assigned),
vlist AS (SELECT vec_id AS neighbor_id, cid FROM ranked WHERE rk = 1),
qlist AS (SELECT vec_id AS query_id, cid FROM ranked
          WHERE rk <= {nprobe} AND vec_id < 5),
pairs AS (
  SELECT DISTINCT q.query_id, vl.neighbor_id
  FROM qlist q JOIN vlist vl ON q.cid = vl.cid
  WHERE vl.neighbor_id <> q.query_id),
cos AS (
  SELECT p.query_id, p.neighbor_id,
         ({dot_qv}) / (({norm.format(e='qe')}) * ({norm.format(e='ve')})) AS cos_sim
  FROM pairs p
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ve ON ve.vec_id = p.neighbor_id),
tk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM cos)
SELECT CAST(query_id AS BIGINT) query_id, CAST(neighbor_id AS BIGINT) neighbor_id,
       CAST(rank AS BIGINT) rank, round(cos_sim, 6) AS cos_sim
FROM tk WHERE rank <= {topk}
"""


# ===========================================================================
# Curation round 3: repetition, decontamination, quality gates, churn
# ===========================================================================

def q_doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition profile: duplicate 3-gram
    shingle fraction + hottest shingle frequency per document
    (operators/text.py repetition_stats — explode + two map-side-combined
    aggs, never an in-row quadratic scan)."""
    docs = _ts(spark, sf_dir, "documents")
    out = X.repetition_stats(docs, "doc_id", "text", shingle_n=3)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round("dup_ratio", 6).alias("dup_ratio"),
        F.col("top_freq").cast("long").alias("top_freq"),
    )


def _dd_shingles_all(n: int = 3) -> str:
    """DuckDB expression for ALL (non-distinct) n-gram word shingles."""
    toks = _DD_TOKENS.format(c="text")
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)),"
        f" i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )


ORACLE_DOC_REPETITION_RATIO = f"""
WITH s AS (SELECT doc_id, {_dd_shingles_all(3)} AS sh FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(sh) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
       round(CASE WHEN len(sh) > 0
             THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
             ELSE 0.0 END, 6) AS dup_ratio,
       CAST(CASE WHEN len(sh) = 0 THEN 0 ELSE
         list_max(list_transform(list_distinct(sh),
                                 d -> len(list_filter(sh, x -> x = d))))
       END AS BIGINT) AS top_freq
FROM s
"""


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train documents sharing >= 2 distinct
    3-gram shingles with any eval-set document (eval = doc_id % 50 == 0 —
    a stand-in benchmark sample; production uses 13-gram shingles, same
    plan). The eval shingle set broadcasts; the corpus never shuffles for
    the join (operators/dedup.py cross_corpus_overlap)."""
    docs = _ts(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    out = D.cross_corpus_overlap(tr, ev, "doc_id", "text", shingle_n=3, min_common=2)
    return out.select(
        F.col("train_id").cast("long").alias("train_id"),
        F.col("eval_id").cast("long").alias("eval_id"),
        F.col("n_common").cast("long").alias("n_common"),
    )


ORACLE_DOC_DECONTAMINATE = f"""
WITH s AS (SELECT doc_id, unnest({_dd_shingles()}) AS shingle FROM documents),
ev AS (SELECT doc_id AS eval_id, shingle FROM s WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id AS train_id, shingle FROM s WHERE doc_id % 50 <> 0)
SELECT CAST(train_id AS BIGINT) AS train_id,
       CAST(eval_id AS BIGINT) AS eval_id,
       COUNT(*) AS n_common
FROM tr JOIN ev USING (shingle)
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def q_doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation quality gate pass-rates per language: quality_score >= 0.5
    AND token count in [10, 1000] (Gopher-ish length bounds). Per-doc
    quality is rounded to 6dp and summed as DECIMAL so the cross-engine
    aggregate is exact regardless of partition order."""
    docs = _ts(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.round(X.quality_score("text"), 6).cast("decimal(10,6)").alias("q6"),
        X.token_count("text").alias("nt"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("q6") >= 0.5) & F.col("nt").between(10, 1000), 1
                ).otherwise(0)
            ).cast("long").alias("n_pass"),
            F.sum("q6").cast("double").alias("sum_quality"),
        )
        .withColumn(
            "pass_rate", F.round(F.col("n_pass") / F.col("n_docs"), 6)
        )
    )


# quality formula mirror: see ORACLE_DOC_TEXT_STATS
ORACLE_DOC_QUALITY_FILTER = r"""
WITH t AS (
  SELECT lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT lang, len(toks) AS nt, n_chars, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT lang, nt,
         CAST(round((least(n_chars / 500.0, 1.0) * 0.4
           + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
           + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
           * (CASE WHEN nt > 0 THEN 1.0 ELSE 0.0 END), 6) AS DECIMAL(10,6)) AS q6
  FROM m)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN q6 >= 0.5 AND nt BETWEEN 10 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(q6) AS DOUBLE) AS sum_quality,
       round(CAST(SUM(CASE WHEN q6 >= 0.5 AND nt BETWEEN 10 AND 1000 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS pass_rate
FROM q GROUP BY lang
"""


def q_events_user_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff analytics (the reference's pending-queue day-over-day
    diff pattern, SURVEY §2.6/§1.4, applied to user activity): per day the
    active user count, first-ever-seen users, and users also active the
    previous day. Distinct (user, day) pairs diff against themselves
    shifted one day — two equi-joins, no window over raw events."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.to_date("ts").alias("d"),
    ).distinct()
    first = du.groupBy("user_id").agg(F.min("d").alias("first_d"))
    prev = du.select(
        "user_id", F.date_add("d", 1).alias("d"), F.lit(1).alias("__prev")
    )
    j = du.join(prev, ["user_id", "d"], "left").join(first, "user_id")
    return (
        j.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("first_d") == F.col("d"), 1).otherwise(0))
            .cast("long").alias("n_new"),
            F.sum(F.when(F.col("__prev") == 1, 1).otherwise(0))
            .cast("long").alias("n_returning"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_active", "n_new", "n_returning",
        )
    )


ORACLE_EVENTS_USER_CHURN = """
WITH du AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, CAST(ts AS DATE) AS d
  FROM events),
f AS (SELECT user_id, MIN(d) AS first_d FROM du GROUP BY 1)
SELECT strftime(du.d, '%Y-%m-%d') AS day,
       COUNT(*) AS n_active,
       CAST(SUM(CASE WHEN f.first_d = du.d THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
FROM du
JOIN f USING (user_id)
LEFT JOIN du p ON p.user_id = du.user_id AND p.d = du.d - 1
GROUP BY 1
"""


# ===========================================================================
# round-4 additions: quantized ANN, exact-hamming verify, packing stats,
# per-source curation rollup, corpus vocabulary
# ===========================================================================

def q_similarity_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized cosine top-k (operators/similarity.py quantized_topk):
    the corpus scans as 4×-smaller integer codes and the score is
    int_dot/sqrt(int_norms) — scales cancel, all accumulation is exact
    integer, so cross-engine parity is bit-exact with zero float-sum
    drift. Same broadcast-query plan shape as the brute-force baseline."""
    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.quantized_topk(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("q_sim", 6).alias("q_sim"),
    )


ORACLE_SIMILARITY_QUANTIZED = """
WITH s AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (a, b) -> greatest(a, b)) / 127.0 AS scale,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings),
c AS (
  SELECT vec_id,
         CASE WHEN scale > 0
              THEN list_transform(dv, x -> CAST(floor(x / scale + 0.5) AS INT))
              ELSE list_transform(dv, x -> 0) END AS qv
  FROM s),
n AS (
  SELECT vec_id, qv,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(qv, x -> CAST(x AS BIGINT) * x)), (a, b) -> a + b) AS nrm
  FROM c),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         CASE WHEN v.nrm * q.nrm > 0 THEN
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, len(v.qv)),
               i -> CAST(v.qv[i] AS BIGINT) * q.qv[i])), (a, b) -> a + b)
           / sqrt(CAST(v.nrm * q.nrm AS DOUBLE))
         ELSE 0.0 END AS q_sim
  FROM n v, n q WHERE q.vec_id < 5 AND v.vec_id <> q.vec_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY q_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, round(q_sim, 6) AS q_sim
FROM ranked WHERE rank <= 5
"""


def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidates verified by EXACT 64-bit Hamming distance
    (operators/dedup.py simhash_hamming_pairs / hamming_hash_pairs):
    max_dist=3 routes through the signature-compressed two-half
    multi-index scheme (Norouzi–Fleet pigeonhole: some 32-bit half
    carries <= 1 flipped bit, matched by radius-1 key expansion), so
    candidate recall is 1.0 by construction and pair generation runs
    over DISTINCT signature classes (159M → 2.1M sf1 candidates,
    measured). ``bands``/``max_bucket`` apply only to the banded
    ``max_dist > 3`` fallback — not exercised here."""
    docs = _ts(spark, sf_dir, "documents")
    out = D.simhash_hamming_pairs(docs, "doc_id", "text", max_dist=3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _oracle_simhash_hamming_sql(max_dist: int = 16, bands: int = 4) -> str:
    base = _oracle_simhash_sql().strip().rstrip()
    seg = 16 // bands
    any_band = " OR ".join(
        f"substr(a.simhash, {b * seg + 1}, {seg}) = substr(b.simhash, {b * seg + 1}, {seg})"
        for b in range(bands)
    )
    ham = (
        "list_reduce(list_prepend(0, list_transform(generate_series(1, 16), i -> "
        "bit_count(xor(instr('0123456789abcdef', substr(a.simhash, i, 1)) - 1, "
        "instr('0123456789abcdef', substr(b.simhash, i, 1)) - 1)))), (x, y) -> x + y)"
    )
    return f"""
WITH sh AS ({base})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST({ham} AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND ({any_band})
WHERE {ham} <= {max_dist}
"""


ORACLE_DEDUP_SIMHASH_HAMMING = _oracle_simhash_hamming_sql(3)


def q_doc_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency rollup (operators/text.py pack_stats): docs and
    tokens landing in each 512-token pack window, utilization per pack —
    the batch-shape health check before shipping a packed corpus."""
    docs = _ts(spark, sf_dir, "documents")
    out = X.pack_stats(docs, "doc_id", "text", capacity=512)
    return out.select(
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "utilization",
    )


ORACLE_DOC_PACK_STATS = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_DD_TOKENS.format(c='text')}) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM t)
SELECT CAST(prefix // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(SUM(n_tokens) AS DOUBLE) / 512, 6) AS utilization
FROM c GROUP BY 1
"""


def q_doc_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE curation rollup (the domain-level dashboard every web
    corpus needs): doc count, language spread, decimal-exact mean quality,
    quality-gate pass rate, mean length. One map-side-combined groupBy
    over pure column expressions."""
    docs = _ts(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("nc"),
        F.round(X.quality_score("text"), 6).cast("decimal(10,6)").alias("q6"),
        X.token_count("text").alias("nt"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("q6").cast("double").alias("sum_quality"),
            F.sum(
                F.when(
                    (F.col("q6") >= 0.5) & F.col("nt").between(10, 1000), 1
                ).otherwise(0)
            ).cast("long").alias("n_pass"),
            F.sum("nc").alias("sum_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            F.round(F.col("sum_quality") / F.col("n_docs"), 6).alias("mean_quality"),
            F.round(F.col("n_pass") / F.col("n_docs"), 6).alias("pass_rate"),
            F.round(F.col("sum_chars") / F.col("n_docs"), 6).alias("mean_chars"),
        )
    )


ORACLE_DOC_SOURCE_QUALITY = r"""
WITH t AS (
  SELECT source, lang,
         CAST(n_chars AS BIGINT) AS nc,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars_t,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT source, lang, nc, len(toks) AS nt, n_chars_t, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT source, lang, nc, nt,
         CAST(round((least(n_chars_t / 500.0, 1.0) * 0.4
           + greatest(0.0, 1.0 - (CASE WHEN n_chars_t > 0 THEN CAST(n_punct AS DOUBLE)/n_chars_t ELSE 0.0 END) * 5) * 0.3
           + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
           * (CASE WHEN nt > 0 THEN 1.0 ELSE 0.0 END), 6) AS DECIMAL(10,6)) AS q6
  FROM m)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       round(CAST(SUM(q6) AS DOUBLE) / COUNT(*), 6) AS mean_quality,
       round(CAST(SUM(CASE WHEN q6 >= 0.5 AND nt BETWEEN 10 AND 1000 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS pass_rate,
       round(CAST(SUM(nc) AS DOUBLE) / COUNT(*), 6) AS mean_chars
FROM q GROUP BY 1
"""


def q_corpus_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 tokens by exact document-frequency-
    weighted count (map-side-combined groupBy + TakeOrdered; ties break
    lexically). The shuffle carries (token, partial_count) — bounded by
    vocabulary, not corpus size."""
    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


ORACLE_CORPUS_TOKEN_TOPK = r"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS token
      FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking with overlap (operators/text.py
    chunk_windows): the pre-embedding / long-doc split step. Output keeps
    a chunk fingerprint instead of full text so the result stays
    compare-sized; the chunk text itself feeds downstream embedding.
    Text is lowercased BEFORE chunking so the Spark hash and the oracle's
    lower()-based tokenizer agree on mixed-case corpora too."""
    docs = _ts(spark, sf_dir, "documents").withColumn(
        "text", F.lower("text")
    )
    out = X.chunk_windows(docs, "doc_id", "text", window=32, stride=24)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        "chunk_idx",
        F.col("chunk_tokens").cast("long").alias("chunk_tokens"),
        F.substring(F.md5("chunk_text"), 1, 16).alias("chunk_hash"),
    )


ORACLE_DOC_CHUNK_WINDOWS = rf"""
WITH t AS (
  SELECT doc_id, {_DD_TOKENS.format(c='text')} AS toks,
         len({_DD_TOKENS.format(c='text')}) AS n
  FROM documents),
k AS (
  SELECT doc_id, toks, n,
         CASE WHEN n <= 0 THEN 0
              WHEN n <= 32 THEN 1
              ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
  FROM t),
c AS (
  SELECT doc_id, toks, i AS chunk_idx
  FROM k, unnest(generate_series(0, CAST(n_chunks - 1 AS INT))) AS u(i)
  WHERE n_chunks > 0)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32)) AS BIGINT) AS chunk_tokens,
       substr(md5(array_to_string(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' ')), 1, 16) AS chunk_hash
FROM c
"""


def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided near-duplication (operators/dedup.py
    ngram_containment_pairs): |A∩B| / min(|A|,|B|) — catches a document
    EMBEDDED in another, which symmetric Jaccard dilutes toward zero as
    the host grows. Same shingle-blocked plan as the Jaccard query."""
    docs = _ts(spark, sf_dir, "documents")
    out = D.ngram_containment_pairs(
        docs, "doc_id", "text", threshold=0.8, shingle_n=3
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("containment", 6).alias("containment"),
    )


ORACLE_DEDUP_NGRAM_CONTAINMENT = f"""
WITH sh AS (
  SELECT doc_id, unnest({_dd_shingles(3)}) AS shingle FROM documents),
sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.8
"""


def q_doc_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: canonical-document selection. Keep the minimum
    id of each duplicate cluster plus every unclustered document — the
    filter actually applied to a corpus after dedup analysis. cluster_id
    coalesces to the doc's own id (singleton semantics) so the output is
    a total keep/drop verdict per document."""
    return _curation(spark, sf_dir).keep_list()


_CLUSTERS_FINAL_SELECT = "SELECT CAST(s AS BIGINT) AS doc_id,"


def _oracle_clusters_cte(where: str = "") -> str:
    """`WITH RECURSIVE <...> , cl AS (<closure select>` — the dedup
    clusters oracle re-wrapped so its result is a CTE named ``cl``
    (callers append their own ``)`` + final SELECT). WITH RECURSIVE must
    stay the outermost WITH, so the splice rewrites the final SELECT
    in place; the marker is asserted so a reworded clusters oracle
    fails loudly here instead of emitting malformed SQL downstream."""
    clusters = _oracle_dedup_clusters_sql(where).strip().rstrip(";")
    body = clusters.replace("WITH RECURSIVE", "", 1).strip()
    assert _CLUSTERS_FINAL_SELECT in body, (
        "dedup clusters oracle changed its final SELECT — update "
        "_CLUSTERS_FINAL_SELECT to match"
    )
    return "WITH RECURSIVE " + body.replace(
        _CLUSTERS_FINAL_SELECT, ", cl AS (" + _CLUSTERS_FINAL_SELECT, 1
    )


def _oracle_doc_keep_list_sql() -> str:
    return f"""
{_oracle_clusters_cte()}
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(cl.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN COALESCE(cl.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
"""


_MIXTURE_BUDGET = 100_000  # target tokens


def q_doc_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction planning (Pile/Dolma-style): given a total
    token budget split uniformly across sources, compute each source's
    token inventory, the sampling rate that hits its target (capped at
    1.0 — can't upsample by filtering), and the tokens the plan yields.
    Pure aggregation + deterministic double arithmetic; feeds
    `stratified_hash_sample(source → rate)` to execute the plan."""
    docs = _ts(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", X.token_count("text").alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    # attach the source count as a broadcast ONE-ROW aggregate (the tfidf
    # pattern) — never an unpartitioned window
    ns = per_source.agg(F.count(F.lit(1)).alias("__ns"))
    w = per_source.crossJoin(F.broadcast(ns))
    target = F.lit(float(_MIXTURE_BUDGET)) / F.col("__ns")
    rate = F.when(
        F.col("n_tokens") > 0, F.least(F.lit(1.0), target / F.col("n_tokens"))
    ).otherwise(F.lit(1.0))
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(rate, 6).alias("rate"),
        F.floor(rate * F.col("n_tokens")).cast("long").alias("planned_tokens"),
    )


ORACLE_DOC_MIXTURE_PLAN = rf"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_DD_TOKENS.format(c='text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
w AS (SELECT *, COUNT(*) OVER () AS ns FROM per),
r AS (
  SELECT source, n_docs, n_tokens,
         CASE WHEN n_tokens > 0
              THEN least(1.0, ({_MIXTURE_BUDGET}.0 / ns) / n_tokens)
              ELSE 1.0 END AS rate_raw
  FROM w)
SELECT source, n_docs, n_tokens, round(rate_raw, 6) AS rate,
       CAST(floor(rate_raw * n_tokens) AS BIGINT) AS planned_tokens
FROM r
"""


def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (operators/similarity.py label_centroids):
    the cluster-center statistic under SemDeDup-style curation and drift
    monitoring. posexplode + one map-side-combined groupBy(label, pos) —
    the shuffle is bounded by n_labels x dim, never corpus size."""
    vecs = _ts(spark, sf_dir, "embeddings")
    return S.label_centroids(vecs, "embedding", "label")


ORACLE_EMBEDDING_LABEL_CENTROIDS = """
WITH x AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings)
SELECT label, CAST(pos AS BIGINT) AS pos,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(avg(v), 6) AS centroid
FROM x GROUP BY 1, 2
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 vectors farthest (L2) from their own label centroid
    (operators/similarity.py label_outliers) — the mislabeled/off-
    distribution screen run before training. Centroids broadcast (n_labels
    x dim rows at any corpus size); the distance pass is a narrow map."""
    vecs = _ts(spark, sf_dir, "embeddings")
    out = S.label_outliers(vecs, "vec_id", "embedding", "label", k=3)
    return out.select(
        "label", F.col("vec_id").cast("long").alias("vec_id"), "l2_dist", "rank"
    )


ORACLE_EMBEDDING_OUTLIERS = """
WITH x AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
c AS (SELECT label, pos, round(avg(v), 6) AS cv FROM x GROUP BY 1, 2),
ca AS (SELECT label, list(cv ORDER BY pos) AS cvec FROM c GROUP BY 1),
d AS (
  SELECT e.label, e.vec_id,
         round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, len(e.embedding)),
             i -> (CAST(e.embedding[i] AS DOUBLE) - cvec[i])
                * (CAST(e.embedding[i] AS DOUBLE) - cvec[i]))),
           (a, b) -> a + b)), 6) AS l2_dist
  FROM embeddings e JOIN ca USING (label))
SELECT label, CAST(vec_id AS BIGINT) AS vec_id, l2_dist, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY l2_dist DESC, vec_id) AS rank
      FROM d)
WHERE rank <= 3
"""


def q_token_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token bigrams by pointwise mutual information
    (min count 5) — the collocation/boilerplate detector (high-PMI pairs
    are multiword units; a sudden PMI head shift flags template spam).

    Scale shape: bigram and unigram counts are map-side-combined groupBys
    whose shuffles are vocabulary-bounded; the two count attachments are
    equi-joins on token (vocabulary-sized sides); corpus totals attach via
    broadcast one-row crossJoins so the whole plan stays lazy. Final
    ordering is a 20-row TakeOrdered on the ROUNDED score (engine-stable,
    ties broken lexically)."""
    docs = _ts(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(X.tokens(F.lower(F.col("text")))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    bc = (
        docs.select(F.explode(X.word_shingles("text", 2)).alias("bg"))
        .select(
            F.substring_index("bg", " ", 1).alias("a"),
            F.substring_index("bg", " ", -1).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    tot = uni.agg(F.sum("c").alias("__T"))
    btot = bc.agg(F.sum("c_ab").cast("double").alias("__B"))
    ca = uni.select(F.col("t").alias("a"), F.col("c").alias("__ca"))
    cb = uni.select(F.col("t").alias("b"), F.col("c").alias("__cb"))
    scored = (
        bc.filter(F.col("c_ab") >= 5)
        .join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("__T") * F.col("__T"))
                    / (F.col("__B") * F.col("__ca") * F.col("__cb"))
                ),
                6,
            ),
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(20)
        .select("a", "b", F.col("c_ab").cast("long").alias("c_ab"), "pmi")
    )


ORACLE_TOKEN_PMI_TOP = rf"""
WITH tk AS (SELECT {_DD_TOKENS.format(c='text')} AS toks FROM documents),
uc AS (
  SELECT t, CAST(COUNT(*) AS DOUBLE) AS c
  FROM (SELECT unnest(toks) AS t FROM tk) GROUP BY 1),
bc AS (
  SELECT toks[i] AS a, toks[i + 1] AS b, COUNT(*) AS c_ab
  FROM tk, unnest(generate_series(1, CAST(len(toks) - 1 AS INT))) AS u(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2),
tot AS (SELECT (SELECT SUM(c) FROM uc) AS t_uni,
               (SELECT CAST(SUM(c_ab) AS DOUBLE) FROM bc) AS t_bg)
SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
       round(ln((c_ab * t_uni * t_uni) / (t_bg * ca.c * cb.c)), 6) AS pmi
FROM bc, tot
JOIN uc ca ON ca.t = a
JOIN uc cb ON cb.t = b
WHERE c_ab >= 5
ORDER BY pmi DESC, a ASC, b ASC
LIMIT 20
"""


def q_corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary profile: doc/token counts, distinct-term
    count, type-token ratio — the lexical-diversity dashboard (template-
    generated sources show collapsed TTR). Two map-side-combined
    aggregations joined on source; the distinct-term count shuffles
    (source, term) pairs — vocabulary-bounded, never corpus-row-bounded."""
    docs = _ts(spark, sf_dir, "documents")
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tk = (
        docs.select(
            "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("t")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("t").alias("n_terms"),
        )
    )
    return (
        base.join(tk, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_terms", F.lit(0)).alias("n_terms"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.round(F.col("n_terms") / F.col("n_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("ttr"),
        )
    )


ORACLE_CORPUS_VOCAB_STATS = rf"""
WITH tk AS (
  SELECT source, {_DD_TOKENS.format(c='text')} AS toks FROM documents),
ex AS (SELECT source, unnest(toks) AS t FROM tk),
agg AS (
  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT t) AS n_terms
  FROM ex GROUP BY 1),
base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
SELECT base.source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_terms, 0) AS BIGINT) AS n_terms,
       CASE WHEN COALESCE(n_tokens, 0) > 0
            THEN round(CAST(n_terms AS DOUBLE) / n_tokens, 6)
            ELSE 0.0 END AS ttr
FROM base LEFT JOIN agg ON base.source = agg.source
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: users whose
    first click FOLLOWS their first view, and whose first purchase follows
    that click. The staged-join formulation (filter+agg per stage, equi-
    join on user) keeps per-user state out of memory — no per-user event
    array is ever materialized, so a bot user with 10^8 events costs
    nothing beyond its aggregates. Each stage's scan pushes the
    event_type filter into parquet."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("__t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("__t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t3"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("stage"), F.lit("view").alias("event_type"), "n_users")
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage"), F.lit("click").alias("event_type"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage"),
                F.lit("purchase").alias("event_type"),
                "n_users",
            )
        )
    )
    first = v.agg(F.count(F.lit(1)).cast("double").alias("__n1"))
    return (
        stages.crossJoin(F.broadcast(first))
        .select(
            F.col("stage").cast("long").alias("stage"),
            "event_type",
            F.col("n_users").cast("long").alias("n_users"),
            F.round(F.col("n_users") / F.col("__n1"), 6).alias("conv_rate"),
        )
    )


ORACLE_EVENTS_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
n AS (
  SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM v
  UNION ALL SELECT 2, 'click', COUNT(*) FROM c
  UNION ALL SELECT 3, 'purchase', COUNT(*) FROM p)
SELECT CAST(stage AS BIGINT) AS stage, event_type,
       CAST(n_users AS BIGINT) AS n_users,
       round(CAST(n_users AS DOUBLE)
             / (SELECT n_users FROM n WHERE stage = 1), 6) AS conv_rate
FROM n
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-active day, counted at
    each day offset they return. distinct (user, day) first — the shuffle
    carries one row per user-day, not per event; cohort attaches by a
    user-keyed equi-join of per-user minima."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("__day")).distinct()
    f = d.groupBy("user_id").agg(F.min("__day").alias("__cohort"))
    return (
        d.join(f, "user_id")
        .groupBy(
            F.date_format("__cohort", "yyyy-MM-dd").alias("cohort_date"),
            F.datediff("__day", "__cohort").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


ORACLE_EVENTS_RETENTION = """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY 1)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
       CAST(day - cohort AS BIGINT) AS day_offset,
       COUNT(*) AS n_users
FROM d JOIN f ON d.user_id = f.user_id
GROUP BY 1, 2
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup keep-list (operators/similarity.py
    semantic_dedup_keep): coarse clustering, exact within-cluster
    cosine >= 0.95, connected components, keep the min id per group —
    embedding-space near-dup REMOVAL as a total per-vector verdict.

    k_clusters SCALES WITH THE CORPUS — k = max(8, n/250) — because
    within-cluster exact cosine is quadratic in cluster size at fixed k
    (the SemDeDup paper runs k ~ 10k-100k for billion-vector corpora for
    the same reason; the round-5 sf1 measurement of fixed k=8 showed the
    16.7x super-linear step that motivates this). The one count() job is
    a single-column pruned scan; the oracle computes the identical k
    from COUNT(*). At the driver-gate SFs (n <= 2000) k stays 8, so
    results there are unchanged.

    Round-10: the within-cluster kernel is additionally LSH-pre-filtered
    (48 sign bits in 6 8-bit bands) — exact cosine runs only for pairs
    sharing BOTH the coarse cluster and some hyperplane band, so a
    collapsed cluster's cost is bounded by its band-bucket sizes, not
    its size squared (pair recall at 0.95 ~ 0.96 by 1-(1-p^8)^6, and
    the components closure recovers in-group edges). The oracle mirrors
    the same deterministic hyperplane bands.

    The spread vector frame is lazily checkpointed: the operator's
    driver-job chain (adaptive-k count, centroid sample+fetch, bucket
    probe, broadcast probe, CC rounds) re-reads it ~5x — the first job
    materializes the blocks, every later job reuses them (the
    similarity_ivfpq shared-scan move; measured −18% at sf1). At 100 TB
    the same line holds: block storage of one (id, vector) projection,
    evicted LRU, vs 5 corpus re-scans + re-shuffles."""
    vecs = _ts(spark, sf_dir, "embeddings").localCheckpoint(
        eager=False
    )
    k = max(8, vecs.count() // 250)
    return S.semantic_dedup_keep(
        vecs, "vec_id", "embedding", k_clusters=int(k), threshold=0.95,
        prefilter_bits=48, prefilter_bands=6, max_bucket=4096,
    )


def _oracle_semantic_dedup_sql(
    k: int = 8, threshold: float = 0.95,
    n_bits: int = 48, bands: int = 6,
) -> str:
    """DuckDB mirror of q_semantic_dedup: identical md5-sampled centroids
    and `-2·v·c + ||c||²` assignment as the IVF oracle, the same
    deterministic hyperplane band keys as the Spark pre-filter (candidate
    pairs must share cluster AND any band), exact sequential cosine on
    the survivors, recursive-CTE closure for the groups. The centroid
    count mirrors the Spark side's corpus-adaptive k = max(k, n/250) via
    a COUNT(*) scalar subquery.

    Assignment mirrors BOTH Spark paths behind the same gate: flat
    nearest-of-k when k < 32, two-level (nearest of floor(sqrt(k))
    super-centroids, then nearest member of that super-group — see
    `ivf_assign_two_level` / `centroid_super_groups`) when k >= 32, as a
    UNION of complementarily-guarded branches. floor(sqrt(k)) equals
    Python's isqrt for any feasible k (IEEE sqrt is correctly rounded;
    exact squares stay exact)."""
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    dot_vc = fold.format(
        arr="list_transform(generate_series(1, len(v.embedding)),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i])"
    )
    sq_c = fold.format(arr="list_transform(c.cv, x -> x * x)")
    dot_cs = fold.format(
        arr="list_transform(generate_series(1, len(c.cv)),"
        " i -> c.cv[i] * s.cv[i])"
    )
    sq_s = fold.format(arr="list_transform(s.cv, x -> x * x)")
    dot_ab = fold.format(
        arr="list_transform(generate_series(1, len(ea.embedding)),"
        " i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))"
    )
    nrm = (
        "sqrt("
        + fold.format(
            arr="list_transform({e}.embedding,"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        + ")"
    )
    band_cols = _oracle_band_cols(n_bits, bands)
    # candidates share the cluster and ANY band: a UNION of per-band
    # equi-joins over materialized band keys (DuckDB inlines a plain CTE,
    # and an OR-join would recompute every dot product per candidate pair)
    cand = " UNION ".join(
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM vband a JOIN vband b"
        f" ON a.cid = b.cid AND a.band{b} = b.band{b} AND a.vec_id < b.vec_id"
        for b in range(bands)
    )
    return f"""
WITH RECURSIVE cents AS (
  SELECT cid, cv FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings)
  WHERE cid < greatest({k}, (SELECT COUNT(*) // 250 FROM embeddings))),
kk AS (SELECT greatest({k}, (SELECT COUNT(*) // 250 FROM embeddings)) AS kval,
              CAST(floor(sqrt(greatest({k},
                (SELECT COUNT(*) // 250 FROM embeddings)))) AS BIGINT) AS g),
assigned AS (
  SELECT v.vec_id, c.cid, -({dot_vc}) * 2 + ({sq_c}) AS d2
  FROM embeddings v CROSS JOIN cents c
  WHERE (SELECT kval FROM kk) < 32),
vlist_flat AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
    FROM assigned) WHERE rk = 1),
cgrp AS (
  SELECT cid, sid FROM (
    SELECT c.cid, s.cid AS sid,
           row_number() OVER (PARTITION BY c.cid ORDER BY
             -({dot_cs}) * 2 + ({sq_s}) ASC, s.cid ASC) AS rk
    FROM cents c JOIN cents s ON s.cid < (SELECT g FROM kk)
    WHERE (SELECT kval FROM kk) >= 32) WHERE rk = 1),
vsup AS (
  SELECT vec_id, sid FROM (
    SELECT v.vec_id, c.cid AS sid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             -({dot_vc}) * 2 + ({sq_c}) ASC, c.cid ASC) AS rk
    FROM embeddings v CROSS JOIN cents c
    WHERE c.cid < (SELECT g FROM kk) AND (SELECT kval FROM kk) >= 32)
  WHERE rk = 1),
vlist_hier AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             -({dot_vc}) * 2 + ({sq_c}) ASC, c.cid ASC) AS rk
    FROM embeddings v
    JOIN vsup ON vsup.vec_id = v.vec_id
    JOIN cgrp ON cgrp.sid = vsup.sid
    JOIN cents c ON c.cid = cgrp.cid)
  WHERE rk = 1),
vlist AS (
  SELECT * FROM vlist_flat UNION ALL SELECT * FROM vlist_hier),
kb AS MATERIALIZED (SELECT vec_id, {band_cols} FROM embeddings),
vband AS MATERIALIZED (
  SELECT v.vec_id, v.cid, {", ".join(f"kb.band{b}" for b in range(bands))}
  FROM vlist v JOIN kb ON kb.vec_id = v.vec_id),
cand AS ({cand}),
pairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand
  JOIN embeddings ea ON ea.vec_id = id_a
  JOIN embeddings eb ON eb.vec_id = id_b
  WHERE CASE WHEN ({nrm.format(e='ea')}) * ({nrm.format(e='eb')}) > 0
             THEN ({dot_ab}) / (({nrm.format(e='ea')}) * ({nrm.format(e='eb')}))
             ELSE 0.0 END >= {threshold}),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS t FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT s, t FROM edges
          UNION SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
                 WHERE e.t <> r.s),
grp AS (SELECT s AS vec_id, least(s, MIN(t)) AS gid FROM reach GROUP BY s)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       CAST(COALESCE(g.gid, e.vec_id) AS BIGINT) AS group_id,
       CAST(CASE WHEN COALESCE(g.gid, e.vec_id) = e.vec_id
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM embeddings e LEFT JOIN grp g ON g.vec_id = e.vec_id
"""


def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py pq_encode /
    pq_topk): m=8 subspaces x k=16 deterministic codewords; the corpus is
    scanned as 8-int codes and scored by asymmetric distance (ADC) against
    the 5 probe queries — the FAISS-style compressed-domain scan path."""
    vecs = _ts(spark, sf_dir, "embeddings")
    cbs = S.pq_codebooks(vecs, "vec_id", "embedding", m=8, k=16)
    qs = vecs.filter(F.col("vec_id") < 5)
    out = S.pq_topk(vecs, qs, cbs, "vec_id", "embedding", k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
        "adc_dist",
    )


def _oracle_similarity_pq_sql(
    m: int = 8, k: int = 16, sub: int = 8, topk: int = 5
) -> str:
    """DuckDB mirror of q_similarity_pq: identical md5-sampled codebook
    vectors, per-subspace argmin with (d2, j) tie-break, and ADC sums
    folded left-to-right over an ORDERED subspace list so every double
    matches Spark's sequential accumulation bit-for-bit."""
    sq_term = (
        f"(CAST(e.embedding[subs.s * {sub} + t] AS DOUBLE)"
        f" - cb.cv[subs.s * {sub} + t])"
    )
    return f"""
WITH cb AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS j,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}),
subs AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
d AS (
  SELECT e.vec_id, subs.s, cb.j,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, {sub}), t ->
             {sq_term} * {sq_term})),
           (a, b) -> a + b) AS d2
  FROM embeddings e, subs, cb),
enc AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, j ASC) AS rk
    FROM d) WHERE rk = 1),
adc AS (
  SELECT dq.vec_id AS query_id, en.vec_id AS neighbor_id,
         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(dq.d2 ORDER BY dq.s)), (a, b) -> a + b), 6) AS adc_dist
  FROM enc en JOIN d dq ON dq.s = en.s AND dq.j = en.code
  WHERE dq.vec_id < 5 AND en.vec_id <> dq.vec_id
  GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, adc_dist
FROM ranked WHERE rank <= {topk}
"""


def q_events_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join (operators/relational.py nearest_join): each
    order attaches the customer's event CLOSEST in absolute time — before
    or after — via the union+one-sort/two-window plan (backward last +
    forward first over the same partition sort; one key shuffle, never an
    abs-distance self-join). Ties on distance go to the earlier event;
    same-timestamp events collapse to max event_id."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("ckey"),
        F.unix_timestamp("o_orderdate").alias("ots"),
    )
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("ckey"),
        F.unix_timestamp("ts").alias("ets"),
        F.col("event_id").cast("long").alias("nearest_event_id"),
        F.col("event_type").alias("nearest_event_type"),
    )
    out = R.nearest_join(
        o, e, ["ckey"], "ots", "ets",
        tiebreak="nearest_event_id", matched_ts_col="nts",
    )
    return out.select(
        "o_orderkey",
        F.col("ckey").alias("o_custkey"),
        "nearest_event_id",
        "nearest_event_type",
        F.col("nts").cast("long").alias("nearest_ts"),
        F.abs(F.col("nts") - F.col("ots")).cast("long").alias("gap_s"),
    )


ORACLE_EVENTS_NEAREST_EVENT = """
WITH o AS (SELECT o_orderkey, o_custkey AS ckey,
                  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ots FROM orders),
e0 AS (SELECT user_id AS ckey, CAST(floor(epoch(ts)) AS BIGINT) AS ets,
              event_id, event_type FROM events),
e AS (
  SELECT ckey, ets, event_id, event_type FROM (
    SELECT *, row_number() OVER (PARTITION BY ckey, ets
                                 ORDER BY event_id DESC) AS rk
    FROM e0) WHERE rk = 1)
SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o.ckey AS BIGINT) AS o_custkey,
       CAST(e.event_id AS BIGINT) AS nearest_event_id,
       e.event_type AS nearest_event_type,
       CAST(e.ets AS BIGINT) AS nearest_ts,
       CAST(abs(e.ets - o.ots) AS BIGINT) AS gap_s
FROM o LEFT JOIN e ON e.ckey = o.ckey
QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
                           ORDER BY abs(e.ets - o.ots) ASC, e.ets ASC) = 1
"""


def q_events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomaly screen: events whose value sits >= 2.5
    sample standard deviations from the user's own mean (users with >= 5
    events). ONE partitioned window (all four aggregates share the
    partition spec — a single WindowExec, one key shuffle); never a
    global pass."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    scored = e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("value").alias("value"),
        F.avg("value").over(w).alias("__mu"),
        F.stddev_samp("value").over(w).alias("__sd"),
        F.count(F.lit(1)).over(w).alias("__n"),
    )
    return (
        scored.filter((F.col("__n") >= 5) & (F.col("__sd") > 0))
        .withColumn(
            "z", F.round((F.col("value") - F.col("__mu")) / F.col("__sd"), 6)
        )
        .filter(F.abs(F.col("z")) >= 2.5)
        .select("event_id", "user_id", "value", "z")
    )


ORACLE_EVENTS_ZSCORE_ANOMALY = """
WITH s AS (
  SELECT event_id, user_id, value,
         avg(value) OVER (PARTITION BY user_id) AS mu,
         stddev_samp(value) OVER (PARTITION BY user_id) AS sd,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       value,
       round((value - mu) / sd, 6) AS z
FROM s
WHERE n >= 5 AND sd > 0 AND abs(round((value - mu) / sd, 6)) >= 2.5
"""


def q_orders_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (segment filter -> 3-way equi-join -> grouped
    revenue -> top-10): the classic shuffled-join + TakeOrdered plan.
    Customer dim filters BEFORE the join (predicate pushdown), revenue is
    decimal-exact, the final top-k is a TakeOrderedAndProject — no global
    sort. (The driver's orders table carries o_orderpriority, not
    o_shippriority — same query shape.)"""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-09-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-09-01")
    rev = (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_ORDERS_SHIPPING_PRIORITY = """
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-09-01'
  AND l_shipdate > DATE '1995-09-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM surprisal score (the CCNet/KenLM quality-proxy shape):
    fit a unigram LM over the corpus itself, score each document by mean
    token negative-log-likelihood — low-NLL docs are templated/repetitive,
    high-NLL docs are off-distribution noise. Plan: one vocabulary-bounded
    count aggregation, token->count equi-join (vocabulary-sized build
    side), corpus total attached via broadcast one-row crossJoin, then a
    map-side-combined per-doc mean. No driver action, no UDF."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(X.tokens(F.lower(F.col("text")))).alias("t"),
    )
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("__c"))
    total = vocab.agg(F.sum("__c").alias("__T"))
    return (
        tok.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("__T")) - F.log(F.col("__c"))), 6).alias(
                "mean_nll"
            ),
        )
    )


ORACLE_DOC_UNIGRAM_LOGPROB = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_DD_TOKENS.format(c='text')}) AS t FROM documents),
vocab AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1),
tot AS (SELECT SUM(c) AS n_total FROM vocab)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(AVG(ln(n_total) - ln(c)), 6) AS mean_nll
FROM tok JOIN vocab USING (t), tot
GROUP BY doc_id
"""


def q_doc_passage_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication profile (the exact-substring-dedup
    statistic of Lee et al.'s 'Deduplicating Training Data' pipeline,
    approximated at passage granularity): split each document into
    non-overlapping 16-token passages (operators/text.py chunk_windows),
    hash each, and measure per document how many of its passages also
    appear in ANOTHER document. Plan: narrow chunking, one
    (hash -> distinct-doc count) aggregation, hash equi-join back, per-doc
    rollup — every shuffle carries (hash, id)-sized rows. Text is
    lowercased BEFORE chunking so the Spark hash and the oracle's
    lower()-based tokenizer agree on mixed-case corpora too."""
    docs = _ts(spark, sf_dir, "documents").withColumn(
        "text", F.lower("text")
    )
    ch = X.chunk_windows(docs, "doc_id", "text", window=16, stride=16).select(
        F.col("id").cast("long").alias("doc_id"),
        F.md5("chunk_text").alias("__h"),
    )
    freq = ch.groupBy("__h").agg(
        F.countDistinct("doc_id").alias("__nd")
    )
    return (
        ch.join(freq, "__h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("__nd") > 1, 1).otherwise(0)).alias("n_shared"),
        )
        .withColumn(
            "shared_rate",
            F.round(F.col("n_shared") / F.col("n_passages"), 6),
        )
    )


ORACLE_DOC_PASSAGE_DUP_RATE = rf"""
WITH tk AS (
  SELECT doc_id, {_DD_TOKENS.format(c='text')} AS toks FROM documents),
sized AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 0 THEN 0
              WHEN len(toks) <= 16 THEN 1
              ELSE CAST(floor((len(toks) - 1) / 16.0) AS BIGINT) + 1
         END AS k
  FROM tk),
ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, i * 16 + 1, i * 16 + 16), ' ')) AS h
  FROM sized, unnest(generate_series(0, CAST(k - 1 AS INT))) AS u(i)
  WHERE k > 0),
freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
SELECT CAST(ch.doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_passages,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS shared_rate
FROM ch JOIN freq USING (h)
GROUP BY ch.doc_id
"""


def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local-overlap candidates (operators/dedup.py
    winnow_pairs over operators/text.py winnow_fingerprints): document
    pairs sharing >= 4 distinct winnowed shingle minima — catches a copied
    PASSAGE inside otherwise-different documents, which whole-document
    minhash dilutes. Fingerprinting is a narrow map (one md5 per 3-word
    shingle, window-of-4 minima — O(tokens) hashes, ~6x cheaper than
    MOSS's char grams for the same word-level detection granularity);
    blocking and pair counting reuse the shingle-blocked engine. df_cap
    drops corpus-common minima from blocking (this corpus's small
    vocabulary makes low-hash shingles recur — measured: the surviving
    pairs are the planted duplicates, stable across scale factors)."""
    docs = _ts(spark, sf_dir, "documents")
    out = D.winnow_pairs(
        docs, "doc_id", "text", n=3, w=4, min_shared=4, df_cap=12
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_shared").cast("long").alias("n_shared"),
    )


_DD_WINNOW_HASH = (
    "list_reduce(list_transform(string_split(substr(md5(concat('w:', g)), 1, 15), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) AS BIGINT) - 1),"
    " (a, b) -> a * 16 + b)"
)

ORACLE_DOC_WINNOW_PAIRS = rf"""
WITH tk AS (
  SELECT doc_id, {_DD_TOKENS.format(c='text')} AS toks FROM documents),
hashed AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, CAST(len(toks) - 2 AS INT)),
                          i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
           g -> {_DD_WINNOW_HASH}) AS h
  FROM tk WHERE len(toks) >= 3),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, CAST(greatest(len(h) - 3, 1) AS INT)),
             j -> list_min(list_slice(h, j, j + 3)))) AS fp
    FROM hashed)),
capped AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING COUNT(*) > 1 AND COUNT(*) <= 12)
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
JOIN capped cp ON cp.fp = a.fp
GROUP BY 1, 2
HAVING COUNT(*) >= 4
"""


def q_corpus_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup, suffix-array family (operators/dedup.py
    substring_dup_spans — Lee et al. 2022): maximal token spans covered by
    an 8-token shingle occurring 2+ times corpus-wide, i.e. exactly the
    spans a suffix-array dedup pass would flag for removal. Two shuffles
    total: gram-partitioned occurrence count, then a per-doc sessionize
    merging touching coverage intervals. Hot boilerplate grams cost their
    occurrence count, never its square — the property the single-machine
    suffix array cannot give you distributed."""
    docs = _ts(spark, sf_dir, "documents")
    return D.substring_dup_spans(docs, "doc_id", "text", k=8).select(
        "doc_id", "span_start", "span_end", "n_tokens"
    )


_SUBSTRING_SPANS_CTE = r"""
WITH tk AS (
  SELECT doc_id, {toks} AS toks FROM documents),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM tk, unnest(generate_series(1, CAST(len(toks) - 7 AS INT))) AS u(i)
  WHERE len(toks) >= 8),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS occ FROM grams)
  WHERE occ >= 2),
lagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM marked),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM lagged),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
  FROM grp GROUP BY doc_id, g)
"""

ORACLE_CORPUS_SUBSTRING_SPANS = (
    _SUBSTRING_SPANS_CTE.format(toks=_DD_TOKENS.format(c="text"))
    + r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(span_end AS BIGINT) AS span_end,
       CAST(span_end - span_start + 1 AS BIGINT) AS n_tokens
FROM spans
"""
)


def q_corpus_substring_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token coverage (operators/dedup.py
    substring_dup_rate): fraction of each document's tokens inside an
    exact duplicated >= 8-token substring — the curation signal used to
    trim or drop mostly-copied training documents. Spans are disjoint
    maximal runs so the covered-token sum is exact."""
    docs = _ts(spark, sf_dir, "documents")
    return D.substring_dup_rate(docs, "doc_id", "text", k=8).select(
        "doc_id", "doc_tokens", "dup_tokens", "dup_rate"
    )


ORACLE_CORPUS_SUBSTRING_DUP_RATE = (
    _SUBSTRING_SPANS_CTE.format(toks=_DD_TOKENS.format(c="text"))
    + r"""
, covered AS (
  SELECT doc_id, SUM(span_end - span_start + 1) AS dup_tokens
  FROM spans GROUP BY doc_id)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(len(toks) AS BIGINT) AS doc_tokens,
       CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(COALESCE(dup_tokens, 0) / CAST(greatest(len(toks), 1) AS DOUBLE), 6)
         AS dup_rate
FROM tk t LEFT JOIN covered c USING (doc_id)
"""
)


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (operators/clustering.py): k=4 Lloyd clustering
    of the embedding corpus, 2 update rounds from md5-deterministic seeds.
    Per iteration the executors do one narrow assignment pass (centroids
    as literals) and one k x dim-bounded mean aggregation; the driver only
    ever holds the centroid table. Output is the final (vec_id, cluster)
    assignment — pure integers, stable across engines."""
    from beacon_indexer_spark.operators.clustering import kmeans_assign

    vecs = _ts(spark, sf_dir, "embeddings")
    out = kmeans_assign(vecs, "vec_id", "embedding", k=4, iters=2)
    return out.select(F.col("id").alias("vec_id"), "cluster")


def _oracle_embedding_kmeans_sql(k: int = 4, iters: int = 2) -> str:
    """DuckDB mirror of q_embedding_kmeans: identical seed order
    (md5(CAST(id AS VARCHAR))), identical distance ranking
    ((-dot)*2 + ||c||^2 with (d2, cid) tie-break), identical
    left-to-right double accumulation, centroid means rounded to 6
    decimals between iterations on both engines."""
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(generate_series(1, CAST(len(e.embedding) AS INT)),"
        " t -> CAST(e.embedding[t] AS DOUBLE) * c.cv[t])), (a, b) -> a + b)"
    )
    normsq = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(c.cv, x -> x * x)), (a, b) -> a + b)"
    )
    assign = (
        "SELECT vec_id, j AS cluster FROM (\n"
        "    SELECT e.vec_id, c.j,\n"
        f"           row_number() OVER (PARTITION BY e.vec_id ORDER BY\n"
        f"             ((-({dot})) * 2 + {normsq}) ASC, c.j ASC) AS rk\n"
        "    FROM embeddings e, {cents} c) WHERE rk = 1"
    )
    parts = [
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS j,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k})"""
    ]
    for it in range(iters):
        parts.append(f"a{it} AS (\n  " + assign.format(cents=f"c{it}") + ")")
        parts.append(
            f"""u{it} AS (
  SELECT a.cluster AS j, x.pos, round(avg(x.v), 6) AS m
  FROM a{it} a JOIN (
    SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings) x USING (vec_id)
  GROUP BY 1, 2)"""
        )
        parts.append(
            f"""c{it + 1} AS (
  SELECT p.j, coalesce(n.cv, p.cv) AS cv
  FROM c{it} p LEFT JOIN (
    SELECT j, list(m ORDER BY pos) AS cv FROM u{it} GROUP BY 1) n USING (j))"""
        )
    final = assign.format(cents=f"c{iters}")
    return (
        "WITH " + ",\n".join(parts) + f""",
fin AS (
  {final})
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS BIGINT) AS cluster
FROM fin
"""
    )


def q_orders_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP ROLLUP: order counts and decimal-exact revenue by
    (o_orderpriority, o_orderstatus) with subtotals per priority and a
    grand total — Spark's `rollup` plans one Expand + ONE map-side-
    combined hash aggregate (each input row fans to its 3 grouping sets
    before the shuffle; the shuffle still carries only aggregated
    partials). grouping_id() disambiguates subtotal rows from real NULL
    groups."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
            "n_orders",
            "revenue",
            "gid",
        )
    )


ORACLE_ORDERS_PRIORITY_ROLLUP = """
SELECT coalesce(o_orderpriority, '(all)') AS o_orderpriority,
       coalesce(o_orderstatus, '(all)') AS o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_sales_rollup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67 shape — the one OLAP family TPC-H doesn't stress:
    a MULTI-LEVEL rollup over the product/time hierarchy
    (p_type, p_brand, o_year, o_month) followed by a windowed top-k
    WITHIN each top-level partition of the rollup output (top 5 revenue
    rows per p_type, the grand-total partition included).

    Plan shape at 100 TB: the rollup is ONE Expand + one map-side-
    combined hash aggregate (each fact row fans to its 5 grouping sets
    before the shuffle; the shuffle carries aggregated partials only);
    the top-k window runs over the AGGREGATED rollup rows — bounded by
    |types|·|brands|·|months| grouping cells, never fact-table size —
    partitioned by p_type (never unpartitioned). Revenue is
    decimal-exact cents; ordering tie-breaks are fully specified with
    explicit NULL placement so both engines rank identically."""
    # keyed spreads: both sides land pre-partitioned on the orders join
    # key, so the join shuffles neither side locally (§2.4)
    li = _ts(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    orders = _ts(spark, sf_dir, "orders", by=("o_orderkey",)).select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
    )
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )
    # two-phase rollup: aggregate to LEAF cells first (plain groupBy —
    # map-side combine over fact rows), then rollup over the cells.
    # Decimal sums re-aggregate exactly, so the result is identical to a
    # direct rollup while the 5-way Expand fans over |cells| rows
    # (bounded by |types|·|brands|·|months|) instead of fact rows —
    # measured ~2× at sf0.1, and the gap widens with fact-table size.
    leaf = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("p_type", "p_brand", "o_year", "o_month")
        .agg(F.sum(rev).alias("__leaf"))
    )
    rolled = leaf.rollup("p_type", "p_brand", "o_year", "o_month").agg(
        F.sum("__leaf").cast("double").alias("sumsales"),
        F.grouping_id().cast("long").alias("gid"),
    )
    w = Window.partitionBy("p_type").orderBy(
        F.desc("sumsales"),
        F.asc("gid"),
        F.asc_nulls_first("p_brand"),
        F.asc_nulls_first("o_year"),
        F.asc_nulls_first("o_month"),
    )
    return (
        rolled.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select(
            F.coalesce("p_type", F.lit("(all)")).alias("p_type"),
            F.coalesce("p_brand", F.lit("(all)")).alias("p_brand"),
            F.coalesce("o_year", F.lit(-1)).cast("long").alias("o_year"),
            F.coalesce("o_month", F.lit(-1)).cast("long").alias("o_month"),
            F.round("sumsales", 2).alias("sumsales"),
            "gid",
            "rk",
        )
    )


ORACLE_SALES_ROLLUP_TOPK = """
WITH rolled AS (
  SELECT p_type, p_brand,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(month(o_orderdate) AS BIGINT) AS o_month,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              AS DOUBLE) AS sumsales,
         CAST(GROUPING(p_type) * 8 + GROUPING(p_brand) * 4
              + GROUPING(year(o_orderdate)) * 2
              + GROUPING(month(o_orderdate)) AS BIGINT) AS gid
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  GROUP BY ROLLUP (p_type, p_brand, year(o_orderdate), month(o_orderdate))),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY p_type
           ORDER BY sumsales DESC, gid ASC,
                    p_brand ASC NULLS FIRST,
                    o_year ASC NULLS FIRST,
                    o_month ASC NULLS FIRST) AS rk
  FROM rolled)
SELECT coalesce(p_type, '(all)') AS p_type,
       coalesce(p_brand, '(all)') AS p_brand,
       coalesce(o_year, -1) AS o_year,
       coalesce(o_month, -1) AS o_month,
       round(sumsales, 2) AS sumsales,
       gid,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5
"""


def q_margin_rollup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q36 shape: gross-margin ranking WITHIN each level of a
    rollup hierarchy — rollup(p_type, p_brand) margins with
    ``lochierarchy`` (how many levels were rolled up) and a per-level
    rank partitioned by (lochierarchy, parent p_type). The distinctive
    Q36 feature vs Q67 is the GROUPING()-derived partition key: subtotal
    rows compete only against their siblings at the same hierarchy
    level, never against leaf rows.

    Margin stays decimal-exact in cents until the final double division;
    ranking uses row_number with a fully-specified tie-break (margin,
    then names with explicit NULL placement) so both engines agree
    bit-for-bit. Plan: lineitem ⋈ derived-partsupp co-partitioned on the
    SAME keys, part broadcast, one Expand + one map-side-combined
    aggregate, and the rank window runs over grouping cells only."""
    # keyed spread: co-partitions with the partsupp join (§2.4)
    li = _ts(spark, sf_dir, "lineitem", by=("l_partkey", "l_suppkey")).select(
        "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    ps = _derived_partsupp(spark, sf_dir).select(
        "ps_partkey", "ps_suppkey", "ps_supplycost_cents"
    )
    rev_cents = (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
        * 100
    )
    cost_cents = F.col("ps_supplycost_cents").cast("decimal(38,0)") * F.col(
        "l_quantity"
    ).cast(_DEC)
    # two-phase rollup (see q_sales_rollup_topk): leaf groupBy first so
    # the Expand fans over |types|·|brands| cells, not fact rows
    leaf = (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(rev_cents).alias("__lrev"),
            F.sum(cost_cents).alias("__lcost"),
        )
    )
    rolled = leaf.rollup("p_type", "p_brand").agg(
        F.sum("__lrev").alias("__rev"),
        F.sum("__lcost").alias("__cost"),
        F.grouping_id().cast("long").alias("gid"),
    )
    # gid: 0 = leaf, 1 = brand rolled up, 3 = grand total
    lochierarchy = (
        F.when(F.col("gid") == 0, 0)
        .when(F.col("gid") == 1, 1)
        .otherwise(2)
        .cast("long")
    )
    margin = F.round(
        (F.col("__rev") - F.col("__cost")).cast("double")
        / F.col("__rev").cast("double"),
        6,
    )
    staged = rolled.select(
        "p_type",
        "p_brand",
        "gid",
        lochierarchy.alias("lochierarchy"),
        margin.alias("margin"),
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("lochierarchy") == 0, F.col("p_type")),
    ).orderBy(
        F.asc("margin"),
        F.asc_nulls_first("p_type"),
        F.asc_nulls_first("p_brand"),
    )
    return (
        staged.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select(
            F.coalesce("p_type", F.lit("(all)")).alias("p_type"),
            F.coalesce("p_brand", F.lit("(all)")).alias("p_brand"),
            "lochierarchy",
            "margin",
            "rk",
        )
    )


ORACLE_MARGIN_ROLLUP_RANK = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
  FROM lineitem),
psc AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 31 + ps_suppkey * 17) % 90000 + 10000 AS ps_supplycost_cents
  FROM ps),
rolled AS (
  SELECT p_type, p_brand,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             * 100) AS rev,
         SUM(CAST(ps_supplycost_cents AS DECIMAL(38,0))
             * CAST(l_quantity AS DECIMAL(18,2))) AS cost,
         CAST(GROUPING(p_type) * 2 + GROUPING(p_brand) AS BIGINT) AS gid
  FROM lineitem
  JOIN psc ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY ROLLUP (p_type, p_brand)),
staged AS (
  SELECT p_type, p_brand, gid,
         CAST(CASE WHEN gid = 0 THEN 0 WHEN gid = 1 THEN 1 ELSE 2 END
              AS BIGINT) AS lochierarchy,
         round(CAST(rev - cost AS DOUBLE) / CAST(rev AS DOUBLE), 6) AS margin
  FROM rolled),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY lochierarchy,
                        CASE WHEN lochierarchy = 0 THEN p_type END
           ORDER BY margin ASC,
                    p_type ASC NULLS FIRST,
                    p_brand ASC NULLS FIRST) AS rk
  FROM staged)
SELECT coalesce(p_type, '(all)') AS p_type,
       coalesce(p_brand, '(all)') AS p_brand,
       lochierarchy,
       margin,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5
"""


def q_events_type_hour_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): all four grouping sets —
    leaf, per-type, per-hour, grand total — in ONE pass. Like rollup,
    Spark plans a single Expand (4-way fan per input row) feeding one
    map-side-combined hash aggregate, so the shuffle carries
    |types|·24·4 aggregated cells, never event rows; the alternative
    (four UNION ALL aggregations) scans the fact table four times."""
    ev = _t(spark, sf_dir, "events")
    # two-phase cube: collapse to (type, hour, user) triples first (one
    # map-side-combined groupBy carrying a count), then cube over the
    # triples — the 4-way Expand fans over |triples| rows, never raw
    # events, and the triple frame still holds every distinct-user fact
    # each grouping set needs (sum the carried counts for n_events,
    # count distinct users for n_users)
    triples = (
        ev.select(
            "event_type",
            F.hour("ts").cast("long").alias("hour"),
            "user_id",
        )
        .groupBy("event_type", "hour", "user_id")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return (
        triples.cube("event_type", "hour")
        .agg(
            F.sum("__cnt").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("hour", F.lit(-1)).cast("long").alias("hour"),
            "n_events",
            "n_users",
            "gid",
        )
    )


ORACLE_EVENTS_TYPE_HOUR_CUBE = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(CAST(hour(ts) AS BIGINT), -1) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(GROUPING(event_type) * 2 + GROUPING(hour(ts)) AS BIGINT) AS gid
FROM events
GROUP BY CUBE (event_type, hour(ts))
"""


def q_channel_cumulative_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS Q51 shape: two channels' CUMULATIVE revenue series meet in
    a FULL OUTER join on (key, month), and the row flags where one
    channel's running maximum overtakes the other — the
    web-vs-store crossover detector. Channels here: returned ('R') vs
    non-returned lineitem revenue per return-status-free month,
    partitioned by l_linestatus as the series key.

    Plan shape: each channel aggregates to |keys|·|months| cells BEFORE
    anything wide (map-side combine), the cumulative windows are
    PARTITIONED by key over those cells, the full outer join carries
    cell-sized frames only, and the final crossover flag is a row-local
    comparison. Revenue decimal-exact; cumulative sums stay decimal
    inside the window and convert to double once."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        "l_returnflag",
        F.date_trunc("month", "l_shipdate").alias("__m"),
        (
            F.col("l_extendedprice").cast(_DEC)
            * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
        ).alias("__rev"),
    )

    def channel(flag_cond, name):
        agg = (
            li.filter(flag_cond)
            .groupBy("l_linestatus", "__m")
            .agg(F.sum("__rev").alias("__mrev"))
        )
        w = (
            Window.partitionBy("l_linestatus")
            .orderBy("__m")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return agg.select(
            F.col("l_linestatus").alias(f"{name}_ls"),
            F.col("__m").alias(f"{name}_m"),
            F.sum("__mrev").over(w).cast("double").alias(f"cum_{name}"),
        )

    ret = channel(F.col("l_returnflag") == "R", "ret")
    kept = channel(F.col("l_returnflag") != "R", "kept")
    j = ret.join(
        kept,
        (F.col("ret_ls") == F.col("kept_ls"))
        & (F.col("ret_m") == F.col("kept_m")),
        "full_outer",
    )
    return j.select(
        F.coalesce("ret_ls", "kept_ls").alias("l_linestatus"),
        F.unix_timestamp(F.coalesce("ret_m", "kept_m"))
        .cast("long")
        .alias("month_epoch"),
        F.round(F.coalesce("cum_ret", F.lit(0.0)), 2).alias("cum_returned"),
        F.round(F.coalesce("cum_kept", F.lit(0.0)), 2).alias("cum_kept"),
        (
            F.coalesce("cum_ret", F.lit(0.0))
            > F.coalesce("cum_kept", F.lit(0.0))
        )
        .cast("int")
        .alias("returns_ahead"),
    )


ORACLE_CHANNEL_CUMULATIVE_COMPARE = """
WITH base AS (
  SELECT l_linestatus, l_returnflag,
         date_trunc('month', l_shipdate) AS m,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem),
ret AS (
  SELECT l_linestatus AS ls, m,
         CAST(SUM(SUM(rev)) OVER (PARTITION BY l_linestatus ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS cum_ret
  FROM base WHERE l_returnflag = 'R' GROUP BY 1, 2),
kept AS (
  SELECT l_linestatus AS ls, m,
         CAST(SUM(SUM(rev)) OVER (PARTITION BY l_linestatus ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS cum_kept
  FROM base WHERE l_returnflag <> 'R' GROUP BY 1, 2)
SELECT coalesce(ret.ls, kept.ls) AS l_linestatus,
       CAST(floor(epoch(coalesce(ret.m, kept.m))) AS BIGINT) AS month_epoch,
       round(coalesce(cum_ret, 0.0), 2) AS cum_returned,
       round(coalesce(cum_kept, 0.0), 2) AS cum_kept,
       CAST(coalesce(cum_ret, 0.0) > coalesce(cum_kept, 0.0) AS INT)
         AS returns_ahead
FROM ret FULL OUTER JOIN kept ON ret.ls = kept.ls AND ret.m = kept.m
"""


def q_lineitem_returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per ship-year quantity sums spread across l_returnflag
    columns — the wide-report reshape. Spark's pivot with an EXPLICIT
    value list compiles to conditional aggregates inside one map-side-
    combined hash aggregate (no second pass to discover pivot values —
    at 100 TB the implicit-values form runs a full distinct scan first)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.withColumn("ship_year", F.year("l_shipdate").cast("long"))
        .groupBy("ship_year")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).cast("double"))
    )
    return out.select(
        "ship_year",
        F.coalesce(F.col("A"), F.lit(0.0)).alias("qty_a"),
        F.coalesce(F.col("N"), F.lit(0.0)).alias("qty_n"),
        F.coalesce(F.col("R"), F.lit(0.0)).alias("qty_r"),
    )


ORACLE_LINEITEM_RETURNFLAG_PIVOT = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       coalesce(CAST(SUM(CASE WHEN l_returnflag = 'A'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_a,
       coalesce(CAST(SUM(CASE WHEN l_returnflag = 'N'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_n,
       coalesce(CAST(SUM(CASE WHEN l_returnflag = 'R'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_r
FROM lineitem
GROUP BY 1
"""


def q_events_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 10-minute windows every 5
    minutes via `F.window` — the Structured-Streaming window operator run
    in batch (identical semantics; add a watermark and this plan streams
    unchanged). The window generator is a narrow 2-row fan-out per event;
    the aggregate is one map-side-combined groupBy on window start."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "n_events",
            "n_users",
        )
    )


ORACLE_EVENTS_HOPPING_WINDOWS = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ets, user_id FROM events),
x AS (
  SELECT ets, user_id,
         CAST(floor(ets / 300) AS BIGINT) * 300 - h.off AS win_start
  FROM e, (SELECT unnest([0, 300]) AS off) h
  WHERE ets - (CAST(floor(ets / 300) AS BIGINT) * 300 - h.off) < 600)
SELECT win_start, COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM x GROUP BY 1
"""


def q_user_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling window frame: per-user 5-row moving average and running
    max of event value, ordered by time — ONE partitioned WindowExec
    (both frames share the (user_id, ts, event_id) sort). The frame is
    ROWS-bounded so state per key is O(5) regardless of history length."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-4, 0)
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.round(F.avg("value").over(frame), 6).alias("avg_5"),
        F.round(F.max("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6)
        .alias("run_max"),
    )


ORACLE_USER_MOVING_AVG = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS avg_5,
       round(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS run_max
FROM events
"""


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event_type — the
    profiling primitive behind quality dashboards and skew detection.
    Binning is a narrow integer map; the aggregate shuffle is bounded by
    types x bins, never row count (the `doc_length_quantiles` histogram
    move applied to profiling)."""
    e = _t(spark, sf_dir, "events")
    bin_w = 10.0
    return (
        e.withColumn(
            "bin", F.floor(F.col("value") / bin_w).cast("long") * int(bin_w)
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


ORACLE_EVENTS_VALUE_HISTOGRAM = """
SELECT event_type,
       CAST(floor(value / 10.0) AS BIGINT) * 10 AS bin,
       COUNT(*) AS n,
       round(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile — the statistic that SIZES A WATERMARK:
    per event, its lateness vs the maximum event-time already seen in its
    user's arrival order (event_id order stands in for arrival order);
    rolled up per event_type into count/max/p-ish mean of late seconds.
    One partitioned WindowExec (running max) + one bounded aggregate."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = (
        e.select(
            "event_type",
            F.unix_timestamp("ts").alias("ets"),
            F.col("user_id"),
            F.col("event_id"),
        )
        .withColumn("__hwm", F.max("ets").over(w))
        .withColumn(
            "late_s",
            F.when(F.col("__hwm") > F.col("ets"), F.col("__hwm") - F.col("ets")),
        )
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_s").isNotNull(), 1).otherwise(0)).alias("n_late"),
        F.coalesce(F.max("late_s"), F.lit(0)).cast("long").alias("max_late_s"),
        F.round(F.coalesce(F.avg("late_s"), F.lit(0.0)), 6).alias("avg_late_s"),
    )


ORACLE_EVENTS_LATENESS_PROFILE = """
WITH e AS (
  SELECT event_type, user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ets
  FROM events),
l AS (
  SELECT event_type,
         CASE WHEN hwm > ets THEN hwm - ets END AS late_s
  FROM (SELECT *,
               max(ets) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS hwm
        FROM e))
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN late_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(coalesce(MAX(late_s), 0) AS BIGINT) AS max_late_s,
       round(coalesce(AVG(late_s), 0.0), 6) AS avg_late_s
FROM l GROUP BY 1
"""


def q_customers_orders_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation: per-nation counts of customers without
    orders, order rows whose customer id is unknown, and matched rows —
    the integrity sweep between two tables that should cover each other.
    The aggregate runs on each side BEFORE the join (two bounded
    customer-key frames meet, never raw orders x customers)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), "c_nationkey"
    )
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = c.join(o, "ck", "full_outer")
    return (
        j.groupBy(F.coalesce("c_nationkey", F.lit(-1)).cast("long").alias("nationkey"))
        .agg(
            F.sum(F.when(F.col("n_orders").isNull(), 1).otherwise(0)).alias(
                "customers_no_orders"
            ),
            F.sum(F.when(F.col("c_nationkey").isNull(), 1).otherwise(0)).alias(
                "orphan_order_custkeys"
            ),
            F.sum(
                F.when(
                    F.col("n_orders").isNotNull() & F.col("c_nationkey").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("matched"),
        )
    )


ORACLE_CUSTOMERS_ORDERS_RECONCILE = """
WITH o AS (SELECT o_custkey AS ck, COUNT(*) AS n_orders FROM orders GROUP BY 1),
c AS (SELECT c_custkey AS ck, c_nationkey FROM customer),
j AS (SELECT c.c_nationkey, c.ck AS cck, o.n_orders
      FROM c FULL OUTER JOIN o ON c.ck = o.ck)
SELECT CAST(coalesce(c_nationkey, -1) AS BIGINT) AS nationkey,
       CAST(SUM(CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS customers_no_orders,
       CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS orphan_order_custkeys,
       CAST(SUM(CASE WHEN n_orders IS NOT NULL AND c_nationkey IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS matched
FROM j GROUP BY 1
"""


def q_users_retained_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (U2 family): users active in BOTH the first and the
    last observed week (INTERSECT), minus purchasers (EXCEPT) — compiled
    to left-semi/left-anti hash joins over distinct user frames, with the
    bounds attached as broadcast one-row aggregates (no driver round
    trip)."""
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("ts").alias("ets"),
        "event_type",
    )
    bounds = F.broadcast(
        e.agg(
            F.min("ets").alias("__t0"),
            F.max("ets").alias("__t1"),
        )
    )
    eb = e.crossJoin(bounds)
    wk = 7 * 86400
    first_week = eb.filter(F.col("ets") < F.col("__t0") + wk).select("user_id")
    last_week = eb.filter(F.col("ets") >= F.col("__t1") - wk).select("user_id")
    purchasers = e.filter(F.col("event_type") == "purchase").select("user_id")
    return (
        first_week.intersect(last_week)
        .exceptAll(purchasers.distinct())
        .select("user_id")
    )


ORACLE_USERS_RETAINED_INTERSECT = """
WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets, event_type
           FROM events),
b AS (SELECT MIN(ets) AS t0, MAX(ets) AS t1 FROM e)
SELECT CAST(user_id AS BIGINT) AS user_id FROM e, b WHERE ets < t0 + 604800
INTERSECT
SELECT CAST(user_id AS BIGINT) FROM e, b WHERE ets >= t1 - 604800
EXCEPT
SELECT DISTINCT CAST(user_id AS BIGINT) FROM e WHERE event_type = 'purchase'
"""


def _interleave_sql(a: str, b: str, bits: int) -> str:
    """Bit-interleave two non-negative ints (a gets the odd bit lanes) as
    portable integer arithmetic — `((a div 2^i) % 2) * 2^(2i+1)` terms,
    no engine-specific bit operators."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a} DIV {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({b} DIV {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def q_doc_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over (lang, length-bucket) — the multi-dim
    data-clustering key used at write time so BOTH per-language and
    per-length predicates prune row groups (interleaved bits keep
    same-lang/same-size docs adjacent in the sort). Pure narrow integer
    arithmetic (no engine bit ops, identical in the oracle); the rollup
    shows how many docs land in each 64-wide key range — the file-
    boundary preview a writer would use for `sortWithinPartitions`."""
    docs = _t(spark, sf_dir, "documents")
    lang_code = (
        F.when(F.col("lang") == "en", 0)
        .when(F.col("lang") == "de", 1)
        .when(F.col("lang") == "fr", 2)
        .when(F.col("lang") == "es", 3)
        .otherwise(4)
    )
    len_bucket = F.least(F.floor(F.col("n_chars") / 64), F.lit(255)).cast("long")
    keyed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_code.cast("long").alias("__a"),
        len_bucket.alias("__b"),
    ).withColumn("zkey", F.expr(_interleave_sql("__a", "__b", 8)).cast("long"))
    return keyed.groupBy((F.col("zkey") - F.col("zkey") % 64).alias("zrange")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("zkey").alias("min_zkey"),
        F.max("zkey").alias("max_zkey"),
    )


def _oracle_doc_zorder_sql() -> str:
    inter = _interleave_sql("a", "b", 8).replace(" DIV ", " // ")
    return f"""
WITH k AS (
  SELECT doc_id,
         CAST(CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 2
              WHEN 'es' THEN 3 ELSE 4 END AS BIGINT) AS a,
         CAST(least(CAST(floor(n_chars / 64.0) AS BIGINT), 255) AS BIGINT) AS b
  FROM documents),
z AS (SELECT doc_id, CAST({inter} AS BIGINT) AS zkey FROM k)
SELECT CAST(zkey - zkey % 64 AS BIGINT) AS zrange,
       COUNT(*) AS n_docs,
       CAST(MIN(zkey) AS BIGINT) AS min_zkey,
       CAST(MAX(zkey) AS BIGINT) AS max_zkey
FROM z GROUP BY 1
"""


ORACLE_DOC_ZORDER_LAYOUT = _oracle_doc_zorder_sql()


def q_dedup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-graph audit: the degree HISTOGRAM of the LSH candidate-pair
    graph — the health metric that catches boilerplate storms (a fat
    right tail means some template links thousands of docs and the
    clustering step is about to produce a mega-cluster) before running
    connected components. Composes the candidate generator with two
    bounded aggregations: the (node, degree) shuffle is bounded by docs
    that HAVE a duplicate, the histogram by distinct degrees."""
    docs = _ts(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3
    )
    nodes = pairs.select(F.col("id_a").alias("node")).unionAll(
        pairs.select(F.col("id_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy(F.col("degree").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


def _oracle_dedup_graph_degrees_sql() -> str:
    pairs = _oracle_minhash_lsh_sql().strip().rstrip(";")
    return f"""
WITH pairs AS ({pairs}),
nodes AS (SELECT id_a AS node FROM pairs
          UNION ALL SELECT id_b FROM pairs),
deg AS (SELECT node, COUNT(*) AS degree FROM nodes GROUP BY 1)
SELECT CAST(degree AS BIGINT) AS degree,
       COUNT(*) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node
FROM deg GROUP BY 1
"""


def q_events_top_values_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-family semantics (vs the row_number used elsewhere): per
    event_type, the top-3 values by RANK — ties KEPT (every row tied at
    a kept rank appears) — plus dense_rank, in ONE partitioned
    WindowExec."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"))
    ranked = e.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        "value",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("dense_rnk"),
    )
    return ranked.filter(F.col("rnk") <= 3)


ORACLE_EVENTS_TOP_VALUES_RANKED = """
SELECT event_type, CAST(event_id AS BIGINT) AS event_id, value,
       CAST(rank() OVER (PARTITION BY event_type ORDER BY value DESC) AS BIGINT)
         AS rnk,
       CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC)
            AS BIGINT) AS dense_rnk
FROM events
QUALIFY rnk <= 3
"""


# ===========================================================================
# Curation round 4c: PII redaction, split assignment, KMV sketch, domain
# caps, inverted postings, table profiling, TPC-H Q17 shape
# ===========================================================================

_PII_EVERY = 3


def _inject_pii(text: Column, doc_id: Column) -> Column:
    """Deterministic PII enrichment for the redaction demo: every third
    doc gains an email, an IPv4, and a phone fragment derived from
    doc_id. Both engines build the identical string (the synthetic-input
    convention of the multimodal queries), so the redaction machinery is
    exercised with real hits on a corpus that ships none."""
    return F.when(
        doc_id % _PII_EVERY == 0,
        F.concat(
            text,
            F.lit(" contact user"),
            doc_id.cast("string"),
            F.lit("@example.com from 10."),
            (doc_id % 200).cast("string"),
            F.lit(".0."),
            (doc_id % 250).cast("string"),
            F.lit(" tel 555-"),
            F.lpad((doc_id % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(text)


def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction rollup per source (C4/CCNet curation
    shape): inject deterministic PII into every third doc, count matches
    per category on the original text, mask them (operators/text.py
    `redact_pii`), and checksum the redacted output. Map-only narrow
    expressions into one map-side-combined aggregate — no shuffle except
    the per-source agg, no UDF."""
    docs = _ts(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        _inject_pii(F.col("text"), F.col("doc_id")).alias("__t"),
    )
    cnt = X.pii_counts("__t")
    red = base.select(
        "source",
        cnt["email"].alias("__e"),
        cnt["ip"].alias("__i"),
        cnt["phone"].alias("__p"),
        (
            F.conv(
                F.substring(F.md5(X.redact_pii(F.col("__t"))), 1, 15), 16, 10
            ).cast("long")
            % 1000000007
        ).alias("__ck"),
    )
    return red.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(((F.col("__e") + F.col("__i") + F.col("__p")) > 0).cast("long"))
        .cast("long")
        .alias("pii_docs"),
        F.sum("__e").cast("long").alias("emails"),
        F.sum("__i").cast("long").alias("ips"),
        F.sum("__p").cast("long").alias("phones"),
        F.sum("__ck").cast("long").alias("redact_checksum"),
    )


def _oracle_doc_pii_redact_sql() -> str:
    em, ip, ph = (p for _, p, _ in X.PII_PATTERNS)
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{em}', '<EMAIL>', 'g'),"
        f" '{ip}', '<IP>', 'g'), '{ph}', '<PHONE>', 'g')"
    )
    return f"""
WITH inj AS (
  SELECT source,
         CASE WHEN doc_id % {_PII_EVERY} = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
                || '.0.' || CAST(doc_id % 250 AS VARCHAR)
                || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE text END AS t
  FROM documents),
m AS (
  SELECT source,
         len(regexp_extract_all(t, '{em}')) AS e,
         len(regexp_extract_all(t, '{ip}')) AS i,
         len(regexp_extract_all(t, '{ph}')) AS p,
         {_dd_md5_long(red)} % 1000000007 AS ck
  FROM inj)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
       CAST(SUM(e) AS BIGINT) AS emails,
       CAST(SUM(i) AS BIGINT) AS ips,
       CAST(SUM(p) AS BIGINT) AS phones,
       CAST(SUM(ck) AS BIGINT) AS redact_checksum
FROM m GROUP BY 1
"""


def q_doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/sampling.py
    `split_assign`): md5-bucketed by doc_id, stable across runs,
    partitionings, and engines. Per (split, lang): docs + token sums —
    the table a mixture planner consumes. Narrow label expression + one
    map-side-combined aggregate."""
    docs = _ts(spark, sf_dir, "documents")
    base = docs.select(
        SP.split_assign(F.col("doc_id"), DEFAULT_SPLIT_FRACS).alias("split"),
        "lang",
        X.token_count("text").alias("__nt"),
    )
    return base.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("n_tokens"),
    )


def _oracle_doc_split_assign_sql() -> str:
    bkt = _dd_md5_long("concat('13:', CAST(doc_id AS VARCHAR))")
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH b AS (
  SELECT lang, len({toks}) AS nt, ({bkt}) % 1000000 AS bkt
  FROM documents),
s AS (
  SELECT lang, nt,
         CASE WHEN bkt < 800000 THEN 'train'
              WHEN bkt < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM b)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM s GROUP BY 1, 2
"""


_KMV_K = 64
_KMV_DENOM = 16


def q_corpus_shingle_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.py) over 3-gram word
    shingles per language, validated against the exact distinct count.
    The estimator's shuffle is prefilter_denom× cheaper than the exact
    side — at 100 TB you ship only the estimate; the exact branch here
    exists to put the observed error in the result."""
    docs = _ts(spark, sf_dir, "documents")
    sh = docs.select(
        "lang", F.explode(X.word_shingles(F.col("text"), 3)).alias("sh")
    )
    est = KV.kmv_distinct(sh, "sh", "lang", k=_KMV_K, prefilter_denom=_KMV_DENOM)
    exact = sh.groupBy("lang").agg(
        F.countDistinct("sh").cast("long").alias("n_exact")
    )
    return est.join(exact, "lang").select(
        "lang",
        "n_kept",
        "kth_hash",
        "distinct_est",
        "n_exact",
        F.round(F.col("distinct_est") / F.col("n_exact"), 4).alias("est_ratio"),
    )


def _oracle_corpus_shingle_kmv_sql(k: int = _KMV_K, denom: int = _KMV_DENOM) -> str:
    h = _dd_md5_long("concat('7:', sh)")
    cutoff = 2**60 // denom
    return f"""
WITH sh AS (SELECT lang, unnest({_dd_shingles(3)}) AS sh FROM documents),
hs AS (SELECT DISTINCT lang, {h} AS h FROM sh),
rk AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r
       FROM hs WHERE h < {cutoff}),
ag AS (SELECT lang, COUNT(*) AS n_kept, MAX(h) AS maxh
       FROM rk WHERE r <= {k} GROUP BY 1),
ex AS (SELECT lang, COUNT(DISTINCT sh) AS n_exact FROM sh GROUP BY 1),
est AS (
  SELECT lang, n_kept,
         CASE WHEN n_kept = {k} THEN maxh END AS kth_hash,
         round(CASE WHEN n_kept = {k}
               THEN {float(k - 1)!r} * ({float(2**60)!r} / CAST(maxh AS DOUBLE))
               ELSE CAST(n_kept AS DOUBLE) * {float(denom)!r} END, 4) AS distinct_est
  FROM ag)
SELECT e.lang, CAST(e.n_kept AS BIGINT) AS n_kept,
       CAST(e.kth_hash AS BIGINT) AS kth_hash, e.distinct_est,
       CAST(x.n_exact AS BIGINT) AS n_exact,
       round(e.distinct_est / x.n_exact, 4) AS est_ratio
FROM est e JOIN ex x USING (lang)
"""


def q_source_shingle_kmv_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV set-OPERATION estimator (operators/sketch.py kmv_jaccard,
    Beyer et al. 2007): Jaccard / union / intersection of the 3-gram
    shingle SETS of sources src0 and src1 from two mergeable bottom-k
    sketches — the sketch answer to "how much do these two crawls
    overlap" whose exact form ships every distinct shingle through a
    shuffle. Exact union/intersection attach as audit columns so the
    observed estimator error is in the result (the corpus_shingle_kmv
    convention)."""
    docs = _ts(spark, sf_dir, "documents")
    sh = docs.filter(F.col("source").isin("src0", "src1")).select(
        "source", F.explode(X.word_shingles(F.col("text"), 3)).alias("sh")
    )
    est = KV.kmv_jaccard(sh, "sh", "source", "src0", "src1", k=64)
    both = (
        sh.select("source", "sh")
        .distinct()
        .groupBy("sh")
        .agg(
            F.max((F.col("source") == "src0").cast("int")).alias("__a"),
            F.max((F.col("source") == "src1").cast("int")).alias("__b"),
        )
    )
    exact = both.agg(
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("exact_inter"),
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_kept",
        "tau",
        "inter_kept",
        "jaccard_est",
        "union_est",
        "inter_est",
        "exact_union",
        "exact_inter",
        F.round(
            F.col("exact_inter") / F.col("exact_union").cast("double"), 6
        ).alias("exact_jaccard"),
    )


def _oracle_source_shingle_kmv_jaccard_sql(
    k: int = 64, prefilter_denom: int = 16
) -> str:
    h = _dd_md5_long("concat('7:', sh)")
    cutoff = (2**60) // prefilter_denom
    return f"""
WITH sh AS (SELECT source, unnest({_dd_shingles(3)}) AS sh FROM documents
            WHERE source IN ('src0', 'src1')),
hs AS (SELECT DISTINCT in_a, h FROM (
         SELECT source = 'src0' AS in_a, {h} AS h FROM sh)
       WHERE h < {cutoff}),
rk AS (SELECT in_a, h, row_number() OVER (PARTITION BY in_a ORDER BY h) AS r
       FROM hs),
merged AS (
  SELECT h, MAX(CASE WHEN in_a THEN 1 ELSE 0 END) AS ia,
         MAX(CASE WHEN in_a THEN 0 ELSE 1 END) AS ib
  FROM rk WHERE r <= {k} GROUP BY h ORDER BY h LIMIT {k}),
ag AS (SELECT COUNT(*) AS n_kept, MAX(h) AS tau,
              COALESCE(SUM(ia * ib), 0) AS inter_kept FROM merged),
est AS (
  SELECT n_kept, tau, inter_kept,
         CASE WHEN n_kept > 0
              THEN CAST(inter_kept AS DOUBLE) / CAST(n_kept AS DOUBLE)
              ELSE 0.0 END AS jac,
         CASE WHEN n_kept = {k}
              THEN {float(k - 1)!r} * ({float(2**60)!r} / CAST(tau AS DOUBLE))
              ELSE CAST(n_kept AS DOUBLE) * {float(prefilter_denom)!r}
              END AS uni
  FROM ag),
both_sets AS (
  SELECT sh, MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b
  FROM (SELECT DISTINCT source, sh FROM sh) GROUP BY sh),
ex AS (SELECT COUNT(*) AS exact_union, SUM(a * b) AS exact_inter
       FROM both_sets)
SELECT CAST(n_kept AS BIGINT) AS n_kept, CAST(tau AS BIGINT) AS tau,
       CAST(inter_kept AS BIGINT) AS inter_kept,
       round(jac, 6) AS jaccard_est,
       round(uni, 4) AS union_est,
       round(jac * uni, 4) AS inter_est,
       CAST(exact_union AS BIGINT) AS exact_union,
       CAST(exact_inter AS BIGINT) AS exact_inter,
       round(CAST(exact_inter AS DOUBLE) / CAST(exact_union AS DOUBLE), 6)
         AS exact_jaccard
FROM est CROSS JOIN ex
"""


_SOURCE_CAP = 40


def q_doc_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (RefinedWeb-style domain balancing,
    operators/sampling.py `per_group_cap`): rank docs within each source
    by quality desc (doc_id tie-break) and emit the keep/reject VERDICT
    for every doc. One partitioned window pass keyed by source."""
    docs = _ts(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.round(X.quality_score("text"), 6).alias("q6"),
    )
    capped = SP.per_group_cap(
        scored, "source", [F.desc("q6"), F.asc("doc_id")], _SOURCE_CAP
    )
    return capped.select(
        "doc_id",
        "source",
        "q6",
        F.col("rank").cast("long").alias("rank"),
        F.col("keep").cast("int").alias("keep"),
    )


ORACLE_DOC_SOURCE_CAP = rf"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT doc_id, source, len(toks) AS n_tokens, n_chars, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT doc_id, source,
         round((least(n_chars / 500.0, 1.0) * 0.4
               + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
               + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
               * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END), 6) AS q6
  FROM m),
r AS (
  SELECT doc_id, source, q6,
         row_number() OVER (PARTITION BY source ORDER BY q6 DESC, doc_id) AS rnk
  FROM q)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, q6,
       CAST(rnk AS BIGINT) AS rank,
       CAST(CASE WHEN rnk <= {_SOURCE_CAP} THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM r
"""


_POSTINGS_CAP = 16


def q_corpus_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index head (operators/text.py `build_postings`): top-20
    terms by document frequency with capped posting lists. The posting
    list is bounded BEFORE any collect via a partitioned window, so
    stopword rows cost max_postings entries, never a million-element
    aggregate state."""
    docs = _ts(spark, sf_dir, "documents")
    idx = X.build_postings(docs, "doc_id", "text", max_postings=_POSTINGS_CAP)
    return idx.orderBy(F.desc("df_docs"), "term").limit(20)


ORACLE_CORPUS_POSTINGS = f"""
WITH ex AS (
  SELECT doc_id AS id, unnest({_DD_TOKENS.format(c="text")}) AS term
  FROM documents),
tf AS (SELECT term, COUNT(*) AS tf_total FROM ex GROUP BY 1),
pairs AS (SELECT DISTINCT term, id FROM ex),
dfc AS (SELECT term, COUNT(*) AS df_docs FROM pairs GROUP BY 1),
hd AS (
  SELECT term, array_to_string(list(id ORDER BY id), ',') AS postings
  FROM (SELECT term, id,
               row_number() OVER (PARTITION BY term ORDER BY id) AS r
        FROM pairs)
  WHERE r <= {_POSTINGS_CAP} GROUP BY 1)
SELECT d.term, CAST(d.df_docs AS BIGINT) AS df_docs,
       CAST(t.tf_total AS BIGINT) AS tf_total, h.postings,
       CAST(CASE WHEN d.df_docs > {_POSTINGS_CAP} THEN 1 ELSE 0 END AS INTEGER)
         AS truncated
FROM dfc d JOIN tf t USING (term) JOIN hd h USING (term)
ORDER BY df_docs DESC, term LIMIT 20
"""


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table (operators/profile.py):
    one aggregation pass → per-column row/null/distinct counts and
    min/max. Floating/timestamp columns pre-cast to DECIMAL/date so both
    engines render min/max identically."""
    o = _t(spark, sf_dir, "orders")
    if dict(o.dtypes).get("o_orderdate") == "bigint":
        o = o.withColumn(
            "o_orderdate", F.timestamp_micros(F.expr("o_orderdate div 1000"))
        )
    o = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_orderpriority",
    )
    return PR.profile_columns(o, _PROFILE_COLS)


def _oracle_orders_profile_sql() -> str:
    aggs = []
    rows = []
    for i, c in enumerate(_PROFILE_COLS):
        aggs.append(
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS null_{i},"
            f" COUNT(DISTINCT {c}) AS nd_{i},"
            f" CAST(MIN({c}) AS VARCHAR) AS mn_{i},"
            f" CAST(MAX({c}) AS VARCHAR) AS mx_{i}"
        )
        rows.append(
            f"SELECT '{c}' AS col_name, CAST(n AS BIGINT) AS n_rows,"
            f" CAST(null_{i} AS BIGINT) AS n_nulls,"
            f" CAST(nd_{i} AS BIGINT) AS n_distinct,"
            f" mn_{i} AS min_value, mx_{i} AS max_value FROM a"
        )
    return f"""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
         CAST(o_orderdate AS DATE) AS o_orderdate,
         o_orderpriority
  FROM orders),
a AS (SELECT COUNT(*) AS n, {", ".join(aggs)} FROM src)
{" UNION ALL ".join(rows)}
"""


def q_lineitem_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): per-part average
    quantity via a pre-aggregated frame joined back to lineitem — the
    decorrelated form of Q17's correlated scalar subquery. The avg
    comparison is rewritten integer-exact (5·qty·cnt < sum_qty) so no
    cross-engine float division enters the predicate. The per-part agg
    frame is part-count-sized → broadcastable; AQE picks that at runtime."""
    # keyed spread: the per-part rollup AND the decorrelated join-back
    # are both keyed on l_partkey — one exchange serves both (§2.4)
    li = _ts(spark, sf_dir, "lineitem", by=("l_partkey",)).select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    per = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sq"), F.count(F.lit(1)).alias("cn")
    )
    j = li.join(per, "l_partkey").filter(
        F.col("qty") * F.col("cn") * 5 < F.col("sq")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_small"),
        F.round(F.sum("price").cast("double") / 7.0, 2).alias("avg_yearly"),
    )


ORACLE_LINEITEM_SMALL_QTY_REVENUE = """
WITH li AS (
  SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem),
per AS (SELECT l_partkey, SUM(qty) AS sq, COUNT(*) AS cn FROM li GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
       round(CAST(SUM(price) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM li JOIN per USING (l_partkey)
WHERE qty * cn * 5 < sq
"""


def q_orders_value_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-window breadth (NTILE / PERCENT_RANK / CUME_DIST —
    the SURVEY §2.6 family beyond row_number/rank): per-priority price
    quartiles in ONE partitioned WindowExec. The ordering is made TOTAL
    (price, orderkey) so ntile's positional assignment is deterministic
    across engines and partitionings."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


ORACLE_ORDERS_VALUE_NTILE = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority,
       CAST(o_totalprice AS DECIMAL(18,2)) AS price,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def q_part_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution (operators/dedup.py `fuzzy_name_pairs`):
    near-identical part names within (brand, first-name-token) blocks by
    Levenshtein ≤ 3, rolled up per brand. The edit distance runs ONLY
    inside equi-join blocks — never a global cross join — and the
    rollup keeps the result brand-bounded while the pair generation is
    exercised in full."""
    p = _t(spark, sf_dir, "part")
    blocked = p.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split(F.col("p_name"), " ").getItem(0).alias("__tok"),
    )
    pairs = D.fuzzy_name_pairs(
        blocked, "p_partkey", "p_name", ["p_brand", "__tok"], max_dist=3
    )
    return pairs.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("dist") == 0).cast("long")).cast("long").alias("n_exact"),
        F.sum((F.col("dist") > 0).cast("long")).cast("long").alias("n_near"),
        F.min("dist").cast("long").alias("min_dist"),
        F.max("dist").cast("long").alias("max_dist"),
    )


ORACLE_PART_FUZZY_PAIRS = """
WITH p AS (
  SELECT p_partkey, p_name, p_brand, split_part(p_name, ' ', 1) AS tok
  FROM part),
pairs AS (
  SELECT a.p_brand, levenshtein(a.p_name, b.p_name) AS dist
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand AND a.tok = b.tok AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 3)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist
FROM pairs GROUP BY 1
"""


def q_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank (operators/graph.py) over the LSH
    candidate-pair graph — ranks the canonical-representative choice by
    centrality instead of min-id. Fixed 3 iterations, every step bigint
    multiply/sum/floor-div at scale 1e12, so the distributed sum is
    order-independent and the unrolled-CTE oracle matches bit-for-bit
    (float PageRank cannot be engine-reproducible)."""
    from beacon_indexer_spark.operators import graph as G

    docs = _ts(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3
    )
    return G.pagerank(pairs, iterations=3)


def _oracle_dup_graph_pagerank_sql(iters: int = 3) -> str:
    from beacon_indexer_spark.operators.graph import PAGERANK_SCALE as S

    pairs = _oracle_minhash_lsh_sql().strip().rstrip(";")
    ctes = [
        f"pairs AS ({pairs})",
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs)",
        "deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1)",
        f"r0 AS (SELECT src AS node, CAST({S} AS BIGINT) AS r FROM deg)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, SUM(r.r // d.d) AS s"
            f" FROM edges e JOIN {prev} r ON e.src = r.node"
            f" JOIN deg d ON e.src = d.src GROUP BY 1)"
        )
        ctes.append(
            f"r{i} AS (SELECT node, ({15 * S} + 85 * s) // 100 AS r FROM c{i})"
        )
        prev = f"r{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node,"
        f" CAST(r AS BIGINT) AS rank_scaled FROM {prev}"
    )


def q_events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: hourly counts of a SPARSE
    event stream (error, value > 20) over a generated hour spine —
    missing hours appear as explicit zero rows, the shape every
    monitoring/forecasting consumer needs. The spine comes from
    `sequence()` over a broadcast one-row min/max aggregate (never a
    driver loop); the fill is a left join keyed by hour — spine size is
    time-range-bounded, independent of event volume."""
    e = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "error") & (F.col("value") > 20)
    )
    hr = F.date_trunc("hour", F.col("ts"))
    counts = e.groupBy(hr.alias("hour")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("__v"),
    )
    bounds = e.agg(
        F.min(hr).alias("__lo"), F.max(hr).alias("__hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(__lo, __hi, interval 1 hour)")).alias("hour")
    )
    return spine.join(counts, "hour", "left").select(
        F.col("hour").cast("string").alias("hour"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_events"),
        F.round(
            F.coalesce(F.col("__v"), F.lit(0).cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("value_sum"),
    )


ORACLE_EVENTS_HOURLY_GAPFILL = """
WITH e AS (
  SELECT date_trunc('hour', ts) AS h, CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'error' AND value > 20),
counts AS (SELECT h, COUNT(*) AS n, SUM(v) AS sv FROM e GROUP BY 1),
spine AS (
  SELECT unnest(generate_series((SELECT MIN(h) FROM e), (SELECT MAX(h) FROM e),
                                INTERVAL 1 HOUR)) AS hour)
SELECT CAST(s.hour AS VARCHAR) AS hour,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
       round(CAST(COALESCE(c.sv, CAST(0 AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS value_sum
FROM spine s LEFT JOIN counts c ON s.hour = c.h
"""


def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator validation (measure, don't guess): for every LSH
    candidate pair, the MinHash Jaccard ESTIMATE (signature agreement /
    k) against the EXACT shingle-set Jaccard, plus the absolute error —
    the audit that tells you whether k=8 signatures are enough before
    trusting the banded pipeline at full scale. The exact side is
    CANDIDATE-DRIVEN: exact Jaccard is only ever read for LSH candidate
    pairs, so the shingle frame joins THROUGH the pair frame — first on
    id_a, then an equi-join on (id_b, shingle) — and the work is bounded
    by (candidate pairs × shingles per doc), never by a hot shingle's
    document frequency squared. An unrestricted shingle self-join here
    would be d²/2 rows for a stop-shingle present in d documents — a
    scale-killer on real corpora ("the end of"-class trigrams, d ~ 1e6)."""
    docs = _ts(spark, sf_dir, "documents")
    # ONE tokenize+shingle pass (r13, §1.2): the signature side and the
    # exact-Jaccard side both read this staged shingle-array frame — the
    # LSH probe job materializes it; the old shape ran the regexp-heavy
    # shingle pipeline twice (once inside minhash_signatures, once for
    # the exact side's explode).
    shingled = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.word_shingles("text", 3).alias("__sh"),
    ).localCheckpoint(eager=False)
    # ONE signature pass: the banding consumes the same staged frame the
    # estimate reads (lazy checkpoint — materialized by the LSH probe job)
    sigs = D.minhash_signatures(
        docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3, shingled=shingled
    ).localCheckpoint(eager=False)
    # pairs feed BOTH the estimate join and the exact-side expansion —
    # lazy checkpoint so the LSH banding pipeline runs once, not twice
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS,
        shingle_n=3, sigs=sigs,
    ).localCheckpoint(eager=False)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"__a{i}") for i in range(_MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"__b{i}") for i in range(_MINHASH_K)],
    )
    matches = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        for i in range(_MINHASH_K)
    )
    est = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", (matches / F.lit(float(_MINHASH_K))).alias("__est")
    )
    sh = shingled.select(
        F.col("doc_id").alias("id"),
        F.explode("__sh").alias("__s"),
    ).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    common = D.candidate_common_shingles(
        pairs, sh, id_col="id", shingle_col="__s"
    ).withColumnRenamed("n_common", "__c")
    jac = F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c"))
    return (
        est.join(sizes.select(F.col("id").alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .join(common, ["id_a", "id_b"], "left")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round("__est", 4).alias("jaccard_est"),
            F.round(F.coalesce(jac, F.lit(0.0)), 4).alias("jaccard_exact"),
            F.round(F.abs(F.col("__est") - F.coalesce(jac, F.lit(0.0))), 4).alias(
                "abs_err"
            ),
        )
    )


def _oracle_dedup_minhash_est_sql() -> str:
    match_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
    )
    return f"""
WITH {_dd_minhash_keyed_ctes()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
est AS (
  SELECT p.id_a, p.id_b,
         ({match_sum}) / {float(_MINHASH_K)!r} AS e
  FROM pairs p JOIN sigs sa ON sa.doc_id = p.id_a
               JOIN sigs sb ON sb.doc_id = p.id_b),
sh2 AS (SELECT doc_id AS id, unnest(sh) AS s FROM base),
sizes AS (SELECT id, COUNT(*) AS n FROM sh2 GROUP BY 1),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2)
SELECT CAST(e.id_a AS BIGINT) AS id_a, CAST(e.id_b AS BIGINT) AS id_b,
       round(e.e, 4) AS jaccard_est,
       round(COALESCE(CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c), 0.0), 4)
         AS jaccard_exact,
       round(abs(e.e - COALESCE(CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c), 0.0)), 4)
         AS abs_err
FROM est e
JOIN sizes na ON na.id = e.id_a
JOIN sizes nb ON nb.id = e.id_b
LEFT JOIN common c ON c.id_a = e.id_a AND c.id_b = e.id_b
"""


def q_orders_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint gate on a raw feed (operators/profile.py
    `check_constraints` + `check_unique`): row-level predicates fold into
    ONE aggregation pass; key uniqueness is a single-distinct aggregate;
    the union is the go/no-go report an ingest pipeline checks before
    promoting a batch. The date-range rule intentionally FAILS on this
    data (orders run through 2001) — a report where every row passes
    tests nothing."""
    o = _t(spark, sf_dir, "orders")
    rules = [
        ("orderkey_not_null", F.col("o_orderkey").isNotNull()),
        ("totalprice_positive", F.col("o_totalprice") > 0),
        ("status_in_domain", F.col("o_orderstatus").isin("O", "F", "P")),
        (
            "orderdate_in_range",
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "2000-01-01"),
        ),
    ]
    report = PR.check_constraints(o, rules)
    uniq = PR.check_unique(o, ["o_orderkey"], "orderkey_unique")
    return report.unionByName(uniq)


ORACLE_ORDERS_QUALITY_CHECKS = """
WITH a AS (
  SELECT COUNT(*) AS n,
    SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS v0,
    SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v1,
    SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS v2,
    SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '2000-01-01' THEN 0 ELSE 1 END) AS v3,
    COUNT(DISTINCT o_orderkey) AS nd
  FROM orders)
SELECT rule, CAST(n AS BIGINT) AS n_rows, CAST(v AS BIGINT) AS n_violations,
       CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INTEGER) AS passed
FROM (
  SELECT 'orderkey_not_null' AS rule, n, v0 AS v FROM a
  UNION ALL SELECT 'totalprice_positive', n, v1 FROM a
  UNION ALL SELECT 'status_in_domain', n, v2 FROM a
  UNION ALL SELECT 'orderdate_in_range', n, v3 FROM a
  UNION ALL SELECT 'orderkey_unique', n, n - nd FROM a)
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): six-way star join —
    region→nation broadcast down to customer AND supplier, the
    same-nation predicate joining the two fact paths, revenue per
    nation. Catalyst broadcasts every dim (region 5, nation 25 rows);
    the only real shuffles are the orders⋈lineitem key exchange and the
    final nation rollup. Revenue is DECIMAL-exact then cast once."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (
        F.col("l_extendedprice").cast(_DEC) * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(
            (o.o_orderdate >= "1996-01-01") & (o.o_orderdate < "1998-01-01")
        )
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("__rev"))
        .select(
            "nation",
            F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        )
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name AS nation,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item report): revenue lost to returns
    per customer over a quarter, top 20. lineitem filters on
    returnflag BEFORE the join (pushed to the scan); customer⋈nation is
    a broadcast; the top-20 is TakeOrderedAndProject, never a full
    sort."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            F.col("c_name").alias("c_name"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(rev).alias("__rev"))
        .select(
            "c_custkey",
            "c_name",
            "nation",
            F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_RETURNED_ITEM_REPORT = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name AS nation,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q_events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier winsorization at an EXACT per-group p99 (the curation
    clip step before value aggregation): the percentile comes from the
    same value-HISTOGRAM cumulative window as `doc_length_quantiles` —
    bounded by distinct values per group, never a window over raw rows —
    and the integer predicate cum·100 ≥ n·99 avoids any float ceil.
    The tiny (group, p99) frame broadcasts back for the clip pass."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())  # NULLs are outside the percentile
        .select("event_type", F.col("value").cast("decimal(18,2)").alias("__v"))
    )
    hist = e.groupBy("event_type", "__v").agg(F.count(F.lit(1)).alias("__c"))
    # nulls_last for engine parity even though the filter precludes NULLs
    w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("__v"))
    cum = hist.withColumn("__cum", F.sum("__c").over(w))
    # totals from the histogram — no second scan of the raw frame
    tot = hist.groupBy("event_type").agg(F.sum("__c").alias("__n"))
    p99 = (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("__cum") * 100 >= F.col("__n") * 99)
        .groupBy("event_type")
        .agg(F.min("__v").alias("__p99"))
    )
    clipped = e.join(F.broadcast(p99), "event_type").select(
        "event_type",
        "__p99",
        F.least(F.col("__v"), F.col("__p99")).alias("__cv"),
        (F.col("__v") > F.col("__p99")).cast("long").alias("__f"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.min("__p99").cast("double"), 2).alias("p99"),
        F.sum("__f").cast("long").alias("n_clipped"),
        F.round(F.sum("__cv").cast("double"), 2).alias("clipped_sum"),
    )


ORACLE_EVENTS_VALUE_WINSORIZE = """
WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
           FROM events WHERE value IS NOT NULL),
hist AS (SELECT event_type, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
tot AS (SELECT event_type, SUM(c) AS n FROM hist GROUP BY 1),
cum AS (SELECT event_type, v,
               SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
        FROM hist),
p AS (SELECT cum.event_type, MIN(v) AS p99
      FROM cum JOIN tot USING (event_type)
      WHERE cum.cum * 100 >= tot.n * 99 GROUP BY 1),
cl AS (SELECT e.event_type, p.p99, least(e.v, p.p99) AS cv,
              CASE WHEN e.v > p.p99 THEN 1 ELSE 0 END AS f
       FROM e JOIN p USING (event_type))
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(CAST(MIN(p99) AS DOUBLE), 2) AS p99,
       CAST(SUM(f) AS BIGINT) AS n_clipped,
       round(CAST(SUM(cv) AS DOUBLE), 2) AS clipped_sum
FROM cl GROUP BY 1
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): a grouped HAVING
    subquery (orders whose total quantity clears a threshold) re-joined
    to the fact chain. The qualifying-keys frame is aggregated FIRST —
    the decorrelated HAVING — so the expensive joins run only on the
    qualifying minority; top-100 is TakeOrderedAndProject."""
    # keyed spread: the per-order rollup reuses the spread exchange
    li = _ts(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", F.col("l_quantity").cast("decimal(18,2)").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > 175)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = big.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        c, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
            F.round(F.col("total_qty").cast("double"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(100)
    )


ORACLE_LARGE_VOLUME_CUSTOMERS = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 175)
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
       round(CAST(total_qty AS DOUBLE), 2) AS total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey LIMIT 100
"""


def q_doc_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation manifest a training run consumes: per
    document, the dedup verdict (min-id keep), the quality gate
    (score ≥ 0.5), the train/val/test split, and the final include flag
    (keep ∧ quality)."""
    return _curation(spark, sf_dir).manifest()


def _oracle_doc_curation_manifest_sql() -> str:
    bkt = _dd_md5_long("concat('13:', CAST(doc_id AS VARCHAR))")
    return rf"""
{_oracle_clusters_cte()}
), t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct,
         ({bkt}) % 1000000 AS bkt
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct, bkt,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT doc_id,
         round((least(n_chars / 500.0, 1.0) * 0.4
               + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
               + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
               * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END), 6) AS q6,
         CASE WHEN bkt < 800000 THEN 'train'
              WHEN bkt < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM m)
SELECT CAST(q.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(cl.cluster_id, q.doc_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN COALESCE(cl.cluster_id, q.doc_id) = q.doc_id
                 THEN 1 ELSE 0 END AS INT) AS keep,
       q.q6,
       CAST(CASE WHEN q.q6 >= 0.5 THEN 1 ELSE 0 END AS INT) AS q_pass,
       q.split,
       CAST(CASE WHEN COALESCE(cl.cluster_id, q.doc_id) = q.doc_id
                  AND q.q6 >= 0.5 THEN 1 ELSE 0 END AS INT) AS include
FROM q LEFT JOIN cl ON cl.doc_id = q.doc_id
"""


def q_doc_curation_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation decision from ONE run — this query
    executes `plans/pipeline.py CurationRun.decision()`, so the decon
    stage is oracle-gated end-to-end like the other spine queries: src0
    plays the held-out benchmark, the rest of the corpus is the training
    candidate set, and every train doc gets dedup keep + quality gate +
    split + decon keep/trim/drop + the final ``admit`` flag. Clusters
    and contamination spans are staged once (localCheckpoint) and every
    derived column reads the staged blocks; the oracle re-derives the
    identical decision from raw SQL (train-restricted LSH→CC recursive
    closure + gram-join decon)."""
    return _src0_curation(spark, sf_dir).decision()


def _oracle_doc_curation_decision_sql() -> str:
    bkt = _dd_md5_long("concat('13:', CAST(doc_id AS VARCHAR))")
    where = " WHERE source <> 'src0'"
    decon = _DECON_SPANS_CTE.format(
        toks=_DD_TOKENS.format(c="text")
    ).strip()
    assert decon.startswith("WITH ")
    decon_ctes = decon[len("WITH "):]  # splice after the recursive WITH
    return rf"""
{_oracle_clusters_cte(where)}
), t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct,
         ({bkt}) % 1000000 AS bkt
  FROM documents{where}),
m AS (
  SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct, bkt,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT doc_id,
         round((least(n_chars / 500.0, 1.0) * 0.4
               + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
               + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
               * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END), 6) AS q6,
         CASE WHEN bkt < 800000 THEN 'train'
              WHEN bkt < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM m),
{decon_ctes},
covered AS (
  SELECT doc_id, SUM(span_end - span_start + 1) AS contam_tokens
  FROM spans GROUP BY doc_id),
cv AS (
  SELECT tk.doc_id,
         COALESCE(c.contam_tokens, 0) AS contam_tokens,
         round(COALESCE(c.contam_tokens, 0)
               / CAST(greatest(len(tk.toks), 1) AS DOUBLE), 6) AS contam_rate,
         CASE WHEN COALESCE(c.contam_tokens, 0)
                   / CAST(greatest(len(tk.toks), 1) AS DOUBLE) > 0.5 THEN 'drop'
              WHEN COALESCE(c.contam_tokens, 0)
                   / CAST(greatest(len(tk.toks), 1) AS DOUBLE) >= 0.05 THEN 'trim'
              ELSE 'keep' END AS verdict
  FROM tk LEFT JOIN covered c USING (doc_id)
  WHERE tk.source <> 'src0')
SELECT CAST(q.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(cl.cluster_id, q.doc_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN COALESCE(cl.cluster_id, q.doc_id) = q.doc_id
                 THEN 1 ELSE 0 END AS INT) AS keep,
       q.q6,
       CAST(CASE WHEN q.q6 >= 0.5 THEN 1 ELSE 0 END AS INT) AS q_pass,
       q.split,
       CAST(CASE WHEN COALESCE(cl.cluster_id, q.doc_id) = q.doc_id
                  AND q.q6 >= 0.5 THEN 1 ELSE 0 END AS INT) AS include,
       CAST(cv.contam_tokens AS BIGINT) AS contam_tokens,
       cv.contam_rate,
       cv.verdict AS contam_verdict,
       CAST(CASE WHEN COALESCE(cl.cluster_id, q.doc_id) = q.doc_id
                  AND q.q6 >= 0.5 AND cv.verdict <> 'drop'
                 THEN 1 ELSE 0 END AS INT) AS admit
FROM q LEFT JOIN cl ON cl.doc_id = q.doc_id
JOIN cv ON cv.doc_id = q.doc_id
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (operators/dedup.py
    `incremental_duplicates`): docs with doc_id % 5 == 4 play the NEW
    batch; the rest are the stored corpus. The batch's band keys
    equi-join the corpus band-key index — O(batch) work, the corpus is
    never re-paired — and every new doc gets a total verdict
    (dup_of, n_matches, is_dup). This is the per-batch path a streaming
    ingest runs between full-corpus dedup rebuilds."""
    docs = _ts(spark, sf_dir, "documents")
    # stage the band keys once (lazy checkpoint): both join sides filter
    # the SAME materialized frame — without it the shingle/minhash/banding
    # pipeline executes twice, once per differently-filtered input
    keyed = D.minhash_band_keys(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3
    ).localCheckpoint(eager=False)
    is_new = F.col("doc_id") % 5 == 4
    m = D.incremental_duplicates(
        keyed.filter(~is_new), keyed.filter(is_new), "doc_id"
    )
    spine = docs.filter(is_new).select(F.col("doc_id").cast("long").alias("doc_id"))
    return spine.join(m, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").cast("long").alias("dup_of"),
        F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
        F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
    )


def _oracle_dedup_incremental_sql() -> str:
    return f"""
WITH {_dd_minhash_keyed_ctes()},
nk AS (SELECT * FROM keyed WHERE doc_id % 5 = 4),
ok AS (SELECT * FROM keyed WHERE doc_id % 5 <> 4),
m AS (
  SELECT n.doc_id, MIN(o.doc_id) AS dup_of,
         COUNT(DISTINCT o.doc_id) AS n_matches
  FROM nk n JOIN ok o ON n.band = o.band AND n.key = o.key
  GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(m.dup_of AS BIGINT) AS dup_of,
       CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(CASE WHEN m.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
FROM documents d LEFT JOIN m USING (doc_id)
WHERE d.doc_id % 5 = 4
"""


def q_events_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: exact MEDIAN and MAD (median absolute
    deviation) — the outlier-resistant location/scale pair. TWO stacked
    value-histogram quantile passes (the `doc_length_quantiles` plan):
    medians come from the value histogram, deviations re-aggregate to a
    second histogram keyed by |v − median| — each window is bounded by
    distinct values per group, the raw frame is scanned twice and never
    windowed. The integer predicate cum·2 ≥ n picks the lower median on
    both engines."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(18,2)").alias("__v"))
    )

    def _histo_median(df: DataFrame, col: str, out: str) -> DataFrame:
        hist = df.groupBy("event_type", col).agg(F.count(F.lit(1)).alias("__c"))
        w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last(col))
        cum = hist.withColumn("__cum", F.sum("__c").over(w))
        tot = hist.groupBy("event_type").agg(F.sum("__c").alias("__n"))
        return (
            cum.join(F.broadcast(tot), "event_type")
            .filter(F.col("__cum") * 2 >= F.col("__n"))
            .groupBy("event_type")
            .agg(F.min(col).alias(out), F.min("__n").alias(f"__n_{out}"))
        )

    med = _histo_median(e, "__v", "__med")
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("__v") - F.col("__med")).alias("__d")
    )
    mad = _histo_median(dev, "__d", "__mad")
    return (
        med.join(mad, "event_type")
        .select(
            "event_type",
            F.col("__n___med").cast("long").alias("n_rows"),
            F.round(F.col("__med").cast("double"), 2).alias("median"),
            F.round(F.col("__mad").cast("double"), 2).alias("mad"),
        )
    )


ORACLE_EVENTS_VALUE_MAD = """
WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
           FROM events WHERE value IS NOT NULL),
h1 AS (SELECT event_type, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
c1 AS (SELECT event_type, v,
              SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
       FROM h1),
t1 AS (SELECT event_type, SUM(c) AS n FROM h1 GROUP BY 1),
med AS (SELECT c1.event_type, MIN(v) AS med, MIN(t1.n) AS n
        FROM c1 JOIN t1 USING (event_type)
        WHERE c1.cum * 2 >= t1.n GROUP BY 1),
d AS (SELECT e.event_type, abs(e.v - med.med) AS dv
      FROM e JOIN med USING (event_type)),
h2 AS (SELECT event_type, dv, COUNT(*) AS c FROM d GROUP BY 1, 2),
c2 AS (SELECT event_type, dv,
              SUM(c) OVER (PARTITION BY event_type ORDER BY dv) AS cum
       FROM h2),
t2 AS (SELECT event_type, SUM(c) AS n FROM h2 GROUP BY 1),
mad AS (SELECT c2.event_type, MIN(dv) AS mad
        FROM c2 JOIN t2 USING (event_type)
        WHERE c2.cum * 2 >= t2.n GROUP BY 1)
SELECT med.event_type, CAST(med.n AS BIGINT) AS n_rows,
       round(CAST(med.med AS DOUBLE), 2) AS median,
       round(CAST(mad.mad AS DOUBLE), 2) AS mad
FROM med JOIN mad USING (event_type)
"""


def q_doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation shape: the language-ID confusion matrix
    (predicted × labeled counts) — how curation pipelines validate a
    heuristic classifier against labels before trusting its routing.
    One narrow prediction expression + one map-side-combined aggregate
    bounded by |langs|²."""
    docs = _ts(spark, sf_dir, "documents")
    return (
        docs.select(
            X.lang_id("text").alias("pred_lang"),
            F.col("lang").alias("labeled_lang"),
        )
        .groupBy("pred_lang", "labeled_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _oracle_doc_langid_confusion_sql() -> str:
    return f"""
WITH p AS ({ORACLE_DOC_LANGID.strip()})
SELECT pred_lang, labeled_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY 1, 2
"""


def q_corpus_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executive dedup rollup: corpus size, docs in duplicate
    clusters, cluster count, largest cluster, kept docs, and the dup
    rate — the one-row report a curation run logs."""
    return _curation(spark, sf_dir).summary()


def _oracle_corpus_dedup_summary_sql() -> str:
    return f"""
{_oracle_clusters_cte()}
), tot AS (SELECT COUNT(*) AS n_docs FROM documents),
cs AS (SELECT COUNT(*) AS n_dup_docs, COUNT(DISTINCT cluster_id) AS n_clusters
       FROM cl),
mx AS (SELECT COALESCE(MAX(sz), 0) AS max_cluster_size
       FROM (SELECT COUNT(*) AS sz FROM cl GROUP BY cluster_id))
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(max_cluster_size AS BIGINT) AS max_cluster_size,
       CAST(n_docs - (n_dup_docs - n_clusters) AS BIGINT) AS n_kept,
       round(CAST(n_dup_docs - n_clusters AS DOUBLE) / n_docs, 6) AS dup_rate
FROM tot, cs, mx
"""


_SCRUB_W = 16


def q_doc_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as an ACTION (Lee et al.): split docs into
    non-overlapping 16-token passages, drop every passage that appears
    in MORE THAN ONE document, and reassemble the scrubbed text
    (fingerprinted — the full text write is the production sink). The
    statistic sibling is `doc_passage_dup_rate`; this is the transform.
    Scale shape: shuffle keys are (passage_hash) for the document-
    frequency join and (doc_id) for reassembly; passage TEXT rides both
    (it must reach the reassembly aggregate), but per-doc state stays
    bounded by document length and the df aggregate itself is map-side
    combined. At 100 TB, write the scrubbed text in the reassembly job's
    sink so text rides exactly those two exchanges and nothing more."""
    docs = _ts(spark, sf_dir, "documents")
    # lower BEFORE chunking (the doc_chunk_windows / doc_passage_dup_rate
    # convention) so the Spark hash and the oracle's lower()-based
    # tokenizer agree on mixed-case corpora
    ch = X.chunk_windows(
        docs.select("doc_id", F.lower(F.col("text")).alias("text")),
        "doc_id",
        "text",
        window=_SCRUB_W,
        stride=_SCRUB_W,
    )
    keyed = ch.select(
        "id", "chunk_idx", F.md5("chunk_text").alias("__h"), "chunk_text"
    )
    dfreq = keyed.groupBy("__h").agg(F.countDistinct("id").alias("__df"))
    marked = keyed.join(dfreq, "__h").withColumn("__keep", F.col("__df") == 1)
    kept_struct = F.when(
        F.col("__keep"),
        F.struct(F.col("chunk_idx").alias("i"), F.col("chunk_text").alias("t")),
    )
    return marked.groupBy(F.col("id").cast("long").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.col("__keep").cast("long")).cast("long").alias("n_kept"),
        F.substring(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["t"],
                    ),
                    " ",
                )
            ),
            1,
            16,
        ).alias("scrub_fp"),
    )


def _oracle_doc_passage_scrub_sql(w: int = _SCRUB_W) -> str:
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks, len({toks}) AS n FROM documents),
k AS (
  SELECT doc_id, toks,
         CASE WHEN n <= 0 THEN 0
              WHEN n <= {w} THEN 1
              ELSE (n - 1) // {w} + 1 END AS n_chunks
  FROM t),
c AS (
  SELECT doc_id, toks, i AS chunk_idx
  FROM k, unnest(generate_series(0, CAST(n_chunks - 1 AS INT))) AS u(i)
  WHERE n_chunks > 0),
p AS (
  SELECT doc_id, chunk_idx,
         array_to_string(list_slice(toks, chunk_idx * {w} + 1,
                                    chunk_idx * {w} + {w}), ' ') AS ctext
  FROM c),
h AS (SELECT doc_id, chunk_idx, ctext, md5(ctext) AS hh FROM p),
dfreq AS (SELECT hh, COUNT(DISTINCT doc_id) AS df FROM h GROUP BY 1),
m AS (SELECT h.*, (dfreq.df = 1) AS keep FROM h JOIN dfreq USING (hh))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       substr(md5(COALESCE(array_to_string(
         list(ctext ORDER BY chunk_idx) FILTER (WHERE keep), ' '), '')),
         1, 16) AS scrub_fp
FROM m GROUP BY 1
"""


_DRIFT_A, _DRIFT_B = "src0", "src1"


def q_corpus_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two sources: smoothed log-ratio of
    per-term probabilities (add-one over the shared vocabulary), top 15
    by |ratio| — the report that catches a source whose token mix shifted
    before it skews a training mix. Shuffles are vocabulary-bounded; the
    totals attach as a broadcast ONE-ROW aggregate; the final ordering
    compares ROUNDED ratios so cross-engine libm ulps can't flip ranks."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isin(_DRIFT_A, _DRIFT_B)
    )
    ex = _spread_as(docs, spark, sf_dir, "documents").select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("term")
    )
    counts = (
        ex.groupBy("term")
        .agg(
            F.sum((F.col("source") == _DRIFT_A).cast("long")).alias("__a"),
            F.sum((F.col("source") == _DRIFT_B).cast("long")).alias("__b"),
        )
    )
    tot = counts.agg(
        F.sum("__a").alias("__na"),
        F.sum("__b").alias("__nb"),
        F.count(F.lit(1)).alias("__v"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    pa = (F.col("__a") + 1).cast("double") / (F.col("__na") + F.col("__v")).cast("double")
    pb = (F.col("__b") + 1).cast("double") / (F.col("__nb") + F.col("__v")).cast("double")
    ratio = F.round(F.log(pa / pb), 6)
    return (
        j.select(
            "term",
            F.col("__a").cast("long").alias("n_a"),
            F.col("__b").cast("long").alias("n_b"),
            ratio.alias("log_ratio"),
            F.abs(ratio).alias("abs_ratio"),
        )
        .orderBy(F.desc("abs_ratio"), "term")
        .limit(15)
    )


ORACLE_CORPUS_TERM_DRIFT = f"""
WITH ex AS (
  SELECT source, unnest({_DD_TOKENS.format(c="text")}) AS term
  FROM documents WHERE source IN ('{_DRIFT_A}', '{_DRIFT_B}')),
counts AS (
  SELECT term,
         SUM(CASE WHEN source = '{_DRIFT_A}' THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN source = '{_DRIFT_B}' THEN 1 ELSE 0 END) AS b
  FROM ex GROUP BY 1),
tot AS (SELECT SUM(a) AS na, SUM(b) AS nb, COUNT(*) AS v FROM counts),
r AS (
  SELECT term, a, b,
         round(ln((CAST(a + 1 AS DOUBLE) / (na + v))
                / (CAST(b + 1 AS DOUBLE) / (nb + v))), 6) AS log_ratio
  FROM counts, tot)
SELECT term, CAST(a AS BIGINT) AS n_a, CAST(b AS BIGINT) AS n_b,
       log_ratio, abs(log_ratio) AS abs_ratio
FROM r
ORDER BY abs_ratio DESC, term LIMIT 15
"""


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): the pure
    filter-and-aggregate scan — every predicate reaches the parquet
    reader (PushedFilters), the projection prunes to three columns, and
    the whole query is one map-side-combined aggregate with no shuffle
    beyond the final one-row exchange. DECIMAL-exact product."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast(_DEC) * F.col("l_discount").cast(_DEC)
    return li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
    )


ORACLE_FORECAST_REVENUE_CHANGE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_orders_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (the rollup sibling covering ALL grouping-set
    combinations): order counts and value by (status × priority), each
    margin, and the grand total in ONE Expand + one map-side-combined
    aggregate — 4 grouping sets from a single scan instead of four
    queries. grouping_id disambiguates subtotal rows from real NULLs."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast(_DEC)).cast("double"), 2
            ).alias("total_value"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


ORACLE_ORDERS_STATUS_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_value,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
         AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py — Xie et al. 2023):
    score every document by the hashed-bigram log-likelihood ratio of the
    English subcorpus (target) vs the whole corpus (raw), then draw 128
    keepers by deterministic Gumbel top-k. The distribution-matching
    member of the curation suite (quality/dedup/decontaminate/mixture
    cover the rest). Every fit shuffle is bucket-bounded (256 rows), the
    log-ratio table broadcasts, the per-doc weight folds sequentially in
    bucket order (engine-reproducible), and the top-k is a TakeOrdered —
    no global sort, no window, no UDF. Feature counts are staged once
    (lazy localCheckpoint) and feed the target aggregate, the raw
    aggregate, and the scoring join from the same materialization."""
    from beacon_indexer_spark.operators import dsir as DS

    n_buckets = 256
    docs = _ts(spark, sf_dir, "documents")
    counts = DS.hashed_ngram_counts(
        docs, "doc_id", "text", n_buckets=n_buckets
    ).localCheckpoint(eager=False)
    en_ids = docs.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("id")
    )
    target_counts = counts.join(en_ids, "id", "left_semi")
    lr = DS.dsir_bucket_logratio(target_counts, counts, n_buckets=n_buckets)
    weights = DS.dsir_log_weights(counts, lr).localCheckpoint(eager=False)
    out = DS.dsir_resample(weights, keep_k=128)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_feat").cast("long").alias("n_feat"),
        F.round("log_weight", 6).alias("log_weight"),
        "keep",
    )


def _oracle_doc_dsir_sql(n_buckets: int = 256, keep_k: int = 128) -> str:
    """DuckDB mirror of q_doc_dsir_weights: identical salted md5-60 bucket
    hash, add-1 smoothed bucket log-ratio, bucket-ordered sequential fold
    per doc, and md5-uniform Gumbel top-k with the same (rounded key desc,
    id) total order."""
    ng_bucket = _dd_md5_long("concat('7:', ng)")
    gum_hash = _dd_md5_long("concat('11:', CAST(doc_id AS VARCHAR))")
    gum_u = f"({gum_hash} + 0.5) / 1152921504606846976.0"
    b = float(n_buckets)
    return f"""
WITH tk AS (
  SELECT doc_id, lang, {_DD_TOKENS.format(c='text')} AS t FROM documents),
feats AS (
  SELECT doc_id, lang,
         unnest(list_concat(t,
           list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                          i -> t[i] || ' ' || t[i + 1]))) AS ng
  FROM tk),
bf AS (
  SELECT doc_id, lang, ({ng_bucket} % {n_buckets}) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM feats GROUP BY 1, 2, 3),
tb AS (SELECT bucket, CAST(SUM(cnt) AS DOUBLE) AS c_t
       FROM bf WHERE lang = 'en' GROUP BY 1),
rb AS (SELECT bucket, CAST(SUM(cnt) AS DOUBLE) AS c_r FROM bf GROUP BY 1),
tt AS (SELECT SUM(c_t) AS T_t FROM tb),
tr AS (SELECT SUM(c_r) AS T_r FROM rb),
lr AS (
  SELECT rb.bucket,
         ln((COALESCE(tb.c_t, 0.0) + 1.0) / (tt.T_t + {b}))
       - ln((rb.c_r + 1.0) / (tr.T_r + {b})) AS log_ratio
  FROM rb LEFT JOIN tb USING (bucket), tt, tr),
dw AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_feat,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(cnt AS DOUBLE) * log_ratio ORDER BY bucket)),
           (a, x) -> a + x) AS lw
  FROM bf JOIN lr USING (bucket)
  GROUP BY doc_id),
gk AS (
  SELECT doc_id, n_feat, lw,
         round(lw + -ln(-ln({gum_u})), 6) AS g
  FROM dw),
win AS (SELECT doc_id FROM gk ORDER BY g DESC, doc_id LIMIT {keep_k})
SELECT CAST(gk.doc_id AS BIGINT) AS doc_id, n_feat,
       round(lw, 6) AS log_weight,
       (win.doc_id IS NOT NULL) AS keep
FROM gk LEFT JOIN win ON gk.doc_id = win.doc_id
"""


ORACLE_DOC_DSIR_WEIGHTS = _oracle_doc_dsir_sql(256, 128)


_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning curve: for each Jaccard threshold, how many
    LSH candidate pairs verify as true duplicates and how many documents
    they touch — the measurement that picks the production threshold
    BEFORE committing a full-corpus dedup at a given strictness. The
    exact Jaccard is CANDIDATE-DRIVEN (same `candidate_common_shingles`
    bound as the estimator audit: pairs × shingles-per-doc, never a
    shingle self-join), computed ONCE, and the 5-threshold sweep is an
    explode over that one pair frame — the whole curve costs one extra
    pairs×5 aggregation, not 5 dedup runs."""
    docs = _ts(spark, sf_dir, "documents")
    # ONE tokenize+shingle pass (r13, §1.2): the signature side and the
    # exact-Jaccard side both read this staged shingle-array frame — the
    # dedup_minhash_est move applied to the sweep.
    shingled = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.word_shingles("text", 3).alias("__sh"),
    ).localCheckpoint(eager=False)
    sigs = D.minhash_signatures(
        docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3,
        shingled=shingled,
    ).localCheckpoint(eager=False)
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS,
        shingle_n=3, sigs=sigs,
    ).localCheckpoint(eager=False)
    # staged once for its three consumers (sizes + both sides of
    # candidate_common_shingles) — r12, measured faster than relying on
    # in-job ReuseExchange here (the jac checkpoint splits the consumers
    # across jobs)
    sh = shingled.select(
        F.col("doc_id").alias("id"),
        F.explode("__sh").alias("__s"),
    ).distinct().localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    common = D.candidate_common_shingles(
        pairs, sh, id_col="id", shingle_col="__s"
    ).withColumnRenamed("n_common", "__c")
    jac = (
        pairs.join(
            sizes.select(F.col("id").alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .join(common, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b",
            F.coalesce(
                F.col("__c")
                / (F.col("__na") + F.col("__nb") - F.col("__c")),
                F.lit(0.0),
            ).alias("__jac"),
        )
        .localCheckpoint(eager=False)
    )
    th = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    passed = jac.select("id_a", "id_b", "__jac", th).filter(
        F.col("__jac") >= F.col("threshold")
    )
    n_pairs = passed.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        passed.select(
            "threshold", F.explode(F.array("id_a", "id_b")).alias("__id")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    grid = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    return (
        grid.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def _oracle_threshold_sweep_sql() -> str:
    ts = ", ".join(repr(t) for t in _SWEEP_THRESHOLDS)
    return f"""
WITH {_dd_minhash_keyed_ctes()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sh2 AS (SELECT doc_id AS id, unnest(sh) AS s FROM base),
sizes AS (SELECT id, COUNT(*) AS n FROM sh2 GROUP BY 1),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2),
jac AS (
  SELECT p.id_a, p.id_b,
         COALESCE(CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c), 0.0) AS j
  FROM pairs p
  JOIN sizes na ON na.id = p.id_a
  JOIN sizes nb ON nb.id = p.id_b
  LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b),
grid AS (SELECT CAST(unnest([{ts}]) AS DOUBLE) AS threshold),
np AS (
  SELECT g.threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM grid g JOIN jac ON jac.j >= g.threshold GROUP BY 1),
nd AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
    SELECT DISTINCT g.threshold, u.id
    FROM grid g JOIN jac ON jac.j >= g.threshold,
         LATERAL (SELECT unnest([jac.id_a, jac.id_b]) AS id) u)
  GROUP BY 1)
SELECT g.threshold,
       COALESCE(np.n_pairs, 0) AS n_pairs,
       COALESCE(nd.n_docs, 0) AS n_docs
FROM grid g
LEFT JOIN np ON np.threshold = g.threshold
LEFT JOIN nd ON nd.threshold = g.threshold
"""


ORACLE_DEDUP_THRESHOLD_SWEEP = _oracle_threshold_sweep_sql()


def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (the dataset-ordering / curriculum
    signal): the fraction of a doc's distinct 3-gram shingles whose FIRST
    corpus occurrence (min doc_id over containing docs) is this doc —
    1.0 for fully novel content, → 0 for documents that only restate
    earlier material. Plan: one (shingle) min-aggregate (shingle-
    vocabulary-bounded), one join back through the same (id, shingle)
    frame, one per-doc aggregate — the `doc_tfidf` shuffle shape."""
    docs = _ts(spark, sf_dir, "documents")
    # NOT checkpointed (r12, measured): both consumers land in one job
    # where ReuseExchange dedupes the distinct's exchange; a checkpoint
    # only adds a full materialization (0.90 s -> 1.39 s)
    sh = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.explode(X.word_shingles(F.col("text"), 3)).alias("__s"),
    ).distinct()
    first = sh.groupBy("__s").agg(F.min("id").alias("__fid"))
    return (
        sh.join(first, "__s")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum((F.col("id") == F.col("__fid")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_distinct",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_distinct"), 6
            ).alias("novelty"),
        )
    )


ORACLE_DOC_NGRAM_NOVELTY = f"""
WITH base AS (SELECT doc_id, {_dd_shingles(3)} AS sh FROM documents),
sh2 AS (SELECT doc_id AS id, unnest(sh) AS s FROM base),
first AS (SELECT s, MIN(id) AS fid FROM sh2 GROUP BY 1)
SELECT CAST(id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(CASE WHEN id = fid THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(SUM(CASE WHEN id = fid THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS novelty
FROM sh2 JOIN first USING (s)
GROUP BY id
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile (dead/saturated/drifting
    dimensions are the first thing to check before trusting ANN recall):
    mean, population std, min, max per coordinate. posexplode streams
    each vector through codegen; the only shuffle is the (dim) aggregate
    — 64 groups regardless of corpus size, with map-side partial
    aggregation carrying one partial per dim per task.

    Determinism: coordinates are quantized to 1e-9 fixed-point BEFORE
    the sums, so both reductions are exact integer (DECIMAL) sums —
    partition-order-independent at any parallelism (an unordered float
    SUM is not; repo convention). Requires |x| <= 3 so the per-element
    square stays inside int64; embedding coordinates are unit-norm-ish
    (|x| < 1 in every fixture). min/max are order-independent already
    and stay on the raw doubles."""
    e = _ts(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode("embedding").alias("dim", "__x")
    ).select(F.col("dim").cast("long").alias("dim"), F.col("__x").cast("double").alias("__x"))
    xi = F.round(F.col("__x") * 1e9, 0).cast("long")
    agg = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xi.cast("decimal(38,0)")).alias("__si"),
        F.sum((xi * xi).cast("decimal(38,0)")).alias("__s2i"),
        F.min("__x").alias("__mn"),
        F.max("__x").alias("__mx"),
    )
    mean = F.col("__si").cast("double") / 1e9 / F.col("n")
    var = F.col("__s2i").cast("double") / 1e18 / F.col("n") - mean * mean
    return agg.select(
        "dim",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std"),
        F.round("__mn", 6).alias("min_x"),
        F.round("__mx", 6).alias("max_x"),
    )


ORACLE_EMBEDDING_DIM_STATS = """
WITH x AS (
  SELECT s.i - 1 AS dim, CAST(e.embedding[s.i] AS DOUBLE) AS x
  FROM embeddings e,
       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) s),
agg AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(round(x * 1e9) AS BIGINT)) AS si,
         SUM(CAST(round(x * 1e9) AS BIGINT) * CAST(round(x * 1e9) AS BIGINT)) AS s2i,
         MIN(x) AS mn, MAX(x) AS mx
  FROM x GROUP BY 1)
SELECT CAST(dim AS BIGINT) AS dim, n,
       round(CAST(si AS DOUBLE) / 1e9 / n, 6) AS mean,
       round(sqrt(greatest(CAST(s2i AS DOUBLE) / 1e18 / n
                           - (CAST(si AS DOUBLE) / 1e9 / n) * (CAST(si AS DOUBLE) / 1e9 / n),
                           0.0)), 6) AS std,
       round(mn, 6) AS min_x,
       round(mx, 6) AS max_x
FROM agg
"""


_MIX_ALPHA = 0.3  # XLM-R-style sampling temperature


def q_doc_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling plan (the Conneau et al.
    XLM-R α-smoothing): per-language token shares reweighted as
    p_l^α / Σ p_m^α with α = 0.3 — upsamples tail languages relative to
    their raw share without flattening to uniform. Output per language:
    raw share, smoothed sampling weight, and the expected tokens drawn
    under a fixed budget. Pure |langs|-bounded aggregation; the share
    normalizers attach as broadcast one-row aggregates (never a window)."""
    docs = _ts(spark, sf_dir, "documents")
    per_lang = (
        docs.select("lang", X.token_count("text").alias("nt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    tot = per_lang.agg(F.sum("n_tokens").cast("double").alias("__T"))
    shared = per_lang.crossJoin(F.broadcast(tot)).withColumn(
        "__p", F.col("n_tokens") / F.col("__T")
    ).withColumn("__pa", F.pow("__p", F.lit(_MIX_ALPHA)))
    za = shared.agg(F.sum("__pa").alias("__Z"))
    out = shared.crossJoin(F.broadcast(za))
    q = F.col("__pa") / F.col("__Z")
    return out.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round("__p", 6).alias("raw_share"),
        F.round(q, 6).alias("sample_weight"),
        F.floor(q * F.lit(float(_MIXTURE_BUDGET))).cast("long").alias(
            "planned_tokens"
        ),
    )


ORACLE_DOC_MIXTURE_TEMPERATURE = f"""
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_DD_TOKENS.format(c='text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM per_lang),
shared AS (
  SELECT lang, n_docs, n_tokens, n_tokens / tot.t AS p,
         pow(n_tokens / tot.t, {_MIX_ALPHA!r}) AS pa
  FROM per_lang, tot),
za AS (SELECT SUM(pa) AS z FROM shared)
SELECT lang, n_docs, n_tokens,
       round(p, 6) AS raw_share,
       round(pa / za.z, 6) AS sample_weight,
       CAST(floor(pa / za.z * {float(_MIXTURE_BUDGET)!r}) AS BIGINT)
         AS planned_tokens
FROM shared, za
"""


def q_dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash (Li & König 2010): store only the lowest b = 4 bits
    of each of the k signatures — a 7.75/8 storage cut on 31-bit sigs —
    and correct the inflated match rate analytically: collisions between
    UNRELATED rows happen with probability C = 2^-b, so
    Ĵ_b = max(0, (m_b − C) / (1 − C)) where m_b is the b-bit agreement
    fraction. Output per LSH candidate pair: the full-signature estimate
    and the corrected b-bit estimate side by side — the audit that says
    whether the 8× smaller index is safe to ship. One signature pass
    (staged, shared with the banding), pair-bounded joins."""
    docs = _ts(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(
        docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3
    ).localCheckpoint(eager=False)
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS,
        shingle_n=3, sigs=sigs,
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"__a{i}") for i in range(_MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"__b{i}") for i in range(_MINHASH_K)],
    )
    full = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        for i in range(_MINHASH_K)
    )
    bbit = sum(
        ((F.col(f"__a{i}") % 16) == (F.col(f"__b{i}") % 16)).cast("int")
        for i in range(_MINHASH_K)
    )
    c = 1.0 / 16.0
    mb = bbit / F.lit(float(_MINHASH_K))
    est_b = F.greatest(F.lit(0.0), (mb - F.lit(c)) / F.lit(1.0 - c))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round(full / F.lit(float(_MINHASH_K)), 4).alias("jaccard_est"),
            F.round(est_b, 4).alias("jaccard_bbit"),
        )
    )


def _oracle_minhash_bbit_sql() -> str:
    full_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
    )
    bbit_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} % 16 = sb.sig_{i} % 16 THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
    )
    k = float(_MINHASH_K)
    return f"""
WITH {_dd_minhash_keyed_ctes()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT CAST(p.id_a AS BIGINT) AS id_a, CAST(p.id_b AS BIGINT) AS id_b,
       round(({full_sum}) / {k!r}, 4) AS jaccard_est,
       round(greatest(0.0,
         (({bbit_sum}) / {k!r} - 0.0625) / 0.9375), 4) AS jaccard_bbit
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.id_a
JOIN sigs sb ON sb.doc_id = p.id_b
"""


ORACLE_DEDUP_MINHASH_BBIT = _oracle_minhash_bbit_sql()


def q_events_type_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence mining: the top-20 event-type TRIGRAMS across
    user sessions (30-min-gap sessionization → per-session ordered type
    string → sliding 3-grams → global counts). The per-user windows are
    the sessionize shape (partitioned, never global); the trigram counts
    aggregate over a |types|³-bounded key space; the final top-20 is a
    TakeOrdered on (count desc, trigram)."""
    # keyed spread: the per-user session window reuses it (§2.4)
    ev = _ts(spark, sf_dir, "events", by=("user_id",))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("ts", "event_id", F.col("event_type").alias("t"))
            )
        ).alias("__evs")
    )
    types = F.transform(F.col("__evs"), lambda s: s["t"])
    tri = seqs.select(
        F.explode(
            F.filter(
                F.zip_with(
                    F.zip_with(
                        types,
                        F.slice(types, 2, F.greatest(F.size(types) - 1, F.lit(0))),
                        lambda a, b: F.concat(a, F.lit(">"), b),
                    ),
                    F.slice(types, 3, F.greatest(F.size(types) - 2, F.lit(0))),
                    lambda ab, c: F.concat(ab, F.lit(">"), c),
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(20)
    )


ORACLE_EVENTS_TYPE_SEQUENCES = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
flags AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN prev IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(prev)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM ordered),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flags),
seqs AS (
  SELECT user_id, session_id,
         list(event_type ORDER BY ts, event_id) AS tl
  FROM sess GROUP BY 1, 2),
tri AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(tl) - 2, 0)),
           i -> tl[i] || '>' || tl[i + 1] || '>' || tl[i + 2])) AS trigram
  FROM seqs)
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
FROM tri GROUP BY 1
ORDER BY n DESC, trigram
LIMIT 20
"""


def q_doc_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup ACTION: within each near-dup cluster keep the
    HIGHEST-QUALITY document (q6 desc, doc_id asc tie-break) instead of
    the min-id canonical — the keep policy real curation uses (Dolma,
    FineWeb: among near-dups, keep the best copy, not the first)."""
    return _curation(spark, sf_dir, keep_policy="best_quality").keep_list()


def _oracle_doc_keep_best_sql() -> str:
    return rf"""
{_oracle_clusters_cte()}
), t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT doc_id,
         round((least(n_chars / 500.0, 1.0) * 0.4
               + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
               + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
               * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END), 6) AS q6
  FROM m),
staged AS (
  SELECT CAST(q.doc_id AS BIGINT) AS doc_id,
         CAST(COALESCE(cl.cluster_id, q.doc_id) AS BIGINT) AS cluster_id,
         q.q6
  FROM q LEFT JOIN cl ON cl.doc_id = q.doc_id)
SELECT doc_id, cluster_id, q6,
       CAST(CASE WHEN row_number() OVER (
           PARTITION BY cluster_id ORDER BY q6 DESC, doc_id) = 1
           THEN 1 ELSE 0 END AS INT) AS keep
FROM staged
"""


_BM25_TERMS = ("spark", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson/Okapi): top-10 documents for a fixed
    3-term query. Plan: the token explode filters to the query terms
    BEFORE any shuffle (|terms|-bounded everywhere after the scan),
    document frequencies and average length attach as broadcast one-row/
    |terms|-row aggregates, and the final top-10 is a TakeOrdered on the
    ROUNDED score (engine-stable total order with doc_id tie-break). The
    inverted-index sibling (`corpus_postings`) materializes the index;
    this is the query-time scorer."""
    docs = _ts(spark, sf_dir, "documents")
    per_doc = _bm25_per_doc(docs)
    return (
        per_doc.select(
            "doc_id", "n_terms_hit", F.round("__score", 6).alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


def _bm25_per_doc(docs: DataFrame) -> DataFrame:
    """The BM25 scored frame (doc_id, n_terms_hit, __score) for the fixed
    `_BM25_TERMS` query — shared by q_doc_bm25_topk and the hybrid-RRF
    retrieval arm."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.token_count("text").alias("dl"),
        F.explode(X.tokens(F.lower(F.col("text")))).alias("t"),
    ).filter(F.col("t").isin(*_BM25_TERMS))
    tf = base.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.max("dl").alias("dl"),
    )
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("N"),
        F.avg(X.token_count("text")).alias("avgdl"),
    )
    idf = F.log(
        (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(df_t), "t")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "t", contrib.alias("__c"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("t").alias("t"), F.col("__c").alias("c")))
            ),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["c"],
        ).alias("__score"),
    )
    return per_doc


def _oracle_doc_bm25_sql() -> str:
    return f"""
WITH {_dd_bm25_per_doc_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_terms_hit,
       round(score, 6) AS bm25
FROM per_doc
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


def _dd_bm25_per_doc_cte() -> str:
    """The BM25 per-doc CTE chain (ends at `per_doc(doc_id, n_terms_hit,
    score)`) shared by the plain top-k oracle and the hybrid-RRF one."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = _DD_TOKENS.format(c="text")
    return f"""base AS (
  SELECT doc_id, len({toks}) AS dl, unnest({toks}) AS t FROM documents),
hits AS (
  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf, MAX(dl) AS dl
  FROM base WHERE t IN ({terms}) GROUP BY 1, 2),
dft AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM hits GROUP BY 1),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS N, AVG(len({toks})) AS avgdl
  FROM documents),
scored AS (
  SELECT h.doc_id, h.t,
         ln((s.N - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (h.tf * {_BM25_K1 + 1.0!r})
         / (h.tf + {_BM25_K1!r} * (1.0 - {_BM25_B!r}
            + {_BM25_B!r} * h.dl / s.avgdl)) AS c
  FROM hits h JOIN dft d USING (t), stats s),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(c ORDER BY t)), (a, x) -> a + x) AS score
  FROM scored GROUP BY 1)"""


ORACLE_DOC_BM25_TOPK = _oracle_doc_bm25_sql()


_N_SHARDS = 16


def q_doc_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard layout plan: deterministic md5 hash-sharding into 16
    output shards with per-shard doc/token inventories and the
    token-balance skew vs the mean shard (the check run before writing
    training shards — a skewed shard becomes the slow file every data
    loader waits on). |shards|-bounded aggregation; the mean attaches as
    a broadcast one-row aggregate."""
    docs = _ts(spark, sf_dir, "documents")
    from beacon_indexer_spark.operators.dedup import _md5_long

    shard = (_md5_long(F.col("doc_id").cast("string"), 17) % _N_SHARDS)
    per_shard = (
        docs.select(shard.alias("shard"), X.token_count("text").alias("nt"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    mean = per_shard.agg(
        (F.sum("n_tokens") / F.count(F.lit(1))).alias("__m")
    )
    return (
        per_shard.crossJoin(F.broadcast(mean))
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("__m"), 6).alias("skew"),
        )
    )


def _oracle_doc_shard_plan_sql() -> str:
    h = _dd_md5_long("concat('17:', CAST(doc_id AS VARCHAR))")
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH per_shard AS (
  SELECT ({h}) % {_N_SHARDS} AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
m AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mt FROM per_shard)
SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_tokens,
       round(n_tokens / m.mt, 6) AS skew
FROM per_shard, m
"""


def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge step (the tokenizer-training inner loop): count every
    adjacent character pair inside whitespace tokens across the corpus
    and rank the top-20 merge candidates — exactly what byte-pair
    encoding's first iteration computes over a training corpus. Plan:
    token explode → per-token char-pair explode (expression-only:
    substring over a posexploded index range) → one |char-pairs|-bounded
    aggregate (≤ alphabet² keys) → TakeOrdered. At 100 TB the shuffle
    carries (pair, partial count) only."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(X.tokens(F.lower(F.col("text")))).alias("w")
    )
    idx = tok.select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    ).filter(F.length("w") >= 2)
    pair = F.concat(
        F.substring(F.col("w"), F.col("i"), 1).alias("a"),
        F.substring(F.col("w"), F.col("i") + 1, 1).alias("b"),
    )
    return (
        idx.select(pair.alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


ORACLE_CORPUS_BPE_MERGES = rf"""
WITH tok AS (
  SELECT unnest({_DD_TOKENS.format(c='text')}) AS w FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> substr(w, i, 2))) AS pair
  FROM tok WHERE len(w) >= 2)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY 1
ORDER BY n DESC, pair
LIMIT 20
"""


def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring (the KenLM-shaped quality proxy one
    order up from `doc_unigram_logprob`): fit conditional bigram
    probabilities p(w2|w1) = c(w1 w2)/c(w1·) over the corpus itself and
    score each document by its mean bigram negative log-likelihood.
    Repetitive/templated docs score low, off-distribution noise high —
    and unlike the unigram version this catches scrambled word salad
    with a plausible vocabulary. All model frames are vocabulary-bounded
    (unigram and bigram count tables); they attach to the token stream
    through equi-joins, never a window."""
    docs = _ts(spark, sf_dir, "documents")
    big = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(X.word_shingles(F.col("text"), 2)).alias("bg"),
    )
    bg_counts = big.groupBy("bg").agg(
        F.count(F.lit(1)).cast("double").alias("__cb")
    )
    # left-context counts derive from the bigram table (vocabulary-
    # bounded), not from a second corpus pass
    w1 = F.split(F.col("bg"), " ").getItem(0)
    w1_counts = bg_counts.groupBy(w1.alias("w1")).agg(
        F.sum("__cb").alias("__cw")
    )
    return (
        big.join(bg_counts, "bg")
        .join(w1_counts, F.split(F.col("bg"), " ").getItem(0) == F.col("w1"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("__cw")) - F.log(F.col("__cb"))), 6
            ).alias("mean_nll"),
        )
    )


ORACLE_DOC_BIGRAM_LOGPROB = rf"""
WITH tk AS (
  SELECT doc_id, {_DD_TOKENS.format(c='text')} AS t FROM documents),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM tk),
bgc AS (SELECT bg, CAST(COUNT(*) AS DOUBLE) AS cb FROM big GROUP BY 1),
w1c AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(cb) AS cw
        FROM bgc GROUP BY 1)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(ln(w1c.cw) - ln(bgc.cb)), 6) AS mean_nll
FROM big JOIN bgc USING (bg)
JOIN w1c ON split_part(big.bg, ' ', 1) = w1c.w1
GROUP BY doc_id
"""


def q_source_ngram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution divergence: smoothed KL(source ‖ corpus)
    over the unigram vocabulary — one number per source ranking how far
    each source's token distribution sits from the corpus blend (the
    report a mixture rebalance reads before adjusting weights; the
    pairwise sibling of `corpus_term_drift`'s two-source log-ratios).
    KL = Σ_w p_s(w)·ln(p_s(w)/p_c(w)) with add-1 smoothing over the
    shared vocabulary, folded sequentially in token order per source —
    engine-reproducible. Everything is |vocab|- or |sources|-bounded."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("t")
    )
    sc = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("double").alias("__cs")
    )
    cc = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("__cc")
    )
    vocab = cc.agg(
        F.count(F.lit(1)).cast("double").alias("__V"),
        F.sum("__cc").alias("__Tc"),
    )
    stot = sc.groupBy("source").agg(F.sum("__cs").alias("__Ts"))
    joined = (
        sc.join(cc, "t")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(vocab))
    )
    ps = (F.col("__cs") + 1.0) / (F.col("__Ts") + F.col("__V"))
    pc = (F.col("__cc") + 1.0) / (F.col("__Tc") + F.col("__V"))
    contrib = ps * (F.log(ps) - F.log(pc))
    per_term = joined.select(
        "source", F.struct(F.col("t").alias("t"), contrib.alias("x")).alias("__tx")
    )
    return (
        per_term.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.aggregate(
                F.array_sort(F.collect_list("__tx")),
                F.lit(0.0).cast("double"),
                lambda acc, s: acc + s["x"],
            ).alias("__kl"),
        )
        .select("source", "n_terms", F.round("__kl", 6).alias("kl"))
    )


ORACLE_SOURCE_NGRAM_KL = rf"""
WITH tok AS (
  SELECT source, unnest({_DD_TOKENS.format(c='text')}) AS t FROM documents),
sc AS (SELECT source, t, CAST(COUNT(*) AS DOUBLE) AS cs
       FROM tok GROUP BY 1, 2),
cc AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS ct FROM tok GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv, SUM(ct) AS tc FROM cc),
st AS (SELECT source, SUM(cs) AS ts FROM sc GROUP BY 1),
terms AS (
  SELECT sc.source, sc.t,
         ((sc.cs + 1.0) / (st.ts + v.nv))
         * (ln((sc.cs + 1.0) / (st.ts + v.nv))
            - ln((cc.ct + 1.0) / (v.tc + v.nv))) AS x
  FROM sc JOIN cc USING (t) JOIN st USING (source), v)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(x ORDER BY t)), (a, b) -> a + b), 6) AS kl
FROM terms GROUP BY source
"""


def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators/similarity.py
    `hard_negative_topk`): per query vector the 5 nearest-by-cosine
    corpus vectors with a DIFFERENT label — the boundary-adjacent
    negatives a SimCLR/DPR-style objective trains against. Query side
    broadcast with labels, label filter below the scoring expression,
    partitioned top-k window."""
    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.hard_negative_topk(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("neighbor_label").cast("long").alias("neighbor_label"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


ORACLE_EMBEDDING_HARD_NEGATIVES = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 5),
v AS (SELECT vec_id AS neighbor_id, embedding AS vv, label AS vl
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, CAST(vl AS BIGINT) AS neighbor_label,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b)
    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (a,b) -> a + b))
      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(vv)), i -> CAST(vv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b))) AS cos_sim
  FROM q, v WHERE query_id <> neighbor_id AND ql <> vl),
ranked AS (
  SELECT query_id, neighbor_id, neighbor_label, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       neighbor_label,
       CAST(rank AS BIGINT) AS rank,
       round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
"""


def q_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate leakage matrix (operators/dedup.py
    pair_attribute_matrix): MinHash-LSH candidate pairs labeled with the
    source of BOTH members, counted per unordered source combination —
    which sources plagiarize each other, and whether held-out sources
    leak into training ones. Pair side is the post-banding candidate
    list; the source dim is a 2-column projection; aggregations keyed by
    source-pair (bounded by n_sources^2)."""
    docs = _ts(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3
    )
    out = D.pair_attribute_matrix(
        pairs, docs.select("doc_id", "source"), "doc_id", "source"
    )
    return out.select(
        F.col("attr_a").alias("source_a"),
        F.col("attr_b").alias("source_b"),
        "n_pairs",
        "n_docs",
    )


def _oracle_source_dup_matrix_sql() -> str:
    pairs = _oracle_minhash_lsh_sql().strip().rstrip(";")
    return f"""
WITH pairs AS ({pairs}),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         p.id_a, p.id_b
  FROM pairs p
  JOIN documents da ON p.id_a = da.doc_id
  JOIN documents db ON p.id_b = db.doc_id),
pp AS (SELECT source_a, source_b, COUNT(*) AS n_pairs
       FROM lab GROUP BY 1, 2),
dd AS (SELECT source_a, source_b, COUNT(DISTINCT d) AS n_docs FROM (
         SELECT source_a, source_b, id_a AS d FROM lab
         UNION ALL SELECT source_a, source_b, id_b FROM lab)
       GROUP BY 1, 2)
SELECT pp.source_a, pp.source_b,
       CAST(pp.n_pairs AS BIGINT) AS n_pairs,
       CAST(dd.n_docs AS BIGINT) AS n_docs
FROM pp JOIN dd ON pp.source_a = dd.source_a AND pp.source_b = dd.source_b
"""


def q_doc_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum phase assignment (operators/text.py
    curriculum_phases): per source, documents ranked by token count and
    NTILE'd into 4 equal-population phases — the shortest-first ordering
    curriculum-learning LM runs feed the optimizer. Total order
    (n_tokens, doc_id) for cross-engine determinism; window PARTITIONED
    by source, never global."""
    docs = _ts(spark, sf_dir, "documents")
    out = X.curriculum_phases(docs, "doc_id", "text", "source", n_phases=4)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("group").alias("source"),
        "n_tokens",
        "phase",
    )


ORACLE_DOC_CURRICULUM_ORDER = rf"""
WITH t AS (
  SELECT doc_id, source,
         len({_DD_TOKENS.format(c='text')}) AS n_tokens
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(ntile(4) OVER (PARTITION BY source
                           ORDER BY n_tokens, doc_id) AS BIGINT) AS phase
FROM t
"""


def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label centroid embeddings
    (operators/similarity.py centroid_similarity) — the class/source
    drift monitor run before mixture re-weighting. Both stages bounded
    by n_labels x dim / n_labels^2 x dim rows, corpus-size-independent."""
    vecs = _ts(spark, sf_dir, "embeddings")
    out = S.centroid_similarity(vecs, "embedding", "label")
    return out.select(
        F.col("label_a").cast("long").alias("label_a"),
        F.col("label_b").cast("long").alias("label_b"),
        "cos_sim",
    )


ORACLE_LABEL_CENTROID_SIM = """
WITH x AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
c AS (SELECT label, pos, round(avg(v), 6) AS cv FROM x GROUP BY 1, 2),
j AS (
  SELECT a.label AS label_a, b.label AS label_b,
         a.cv AS va, b.cv AS vb
  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label)
SELECT CAST(label_a AS BIGINT) AS label_a,
       CAST(label_b AS BIGINT) AS label_b,
       round(SUM(va * vb) / (sqrt(SUM(va * va)) * sqrt(SUM(vb * vb))),
             6) AS cos_sim
FROM j GROUP BY 1, 2
"""


def q_source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup token budget per source: the keep-list verdict
    (`doc_keep_list` semantics) joined to per-doc token counts and
    rolled up per source — the number that actually feeds a training-mix
    planner (raw token counts overstate sources that are mostly
    self-copies)."""
    return _curation(spark, sf_dir).token_budget()


def _oracle_source_token_budget_sql() -> str:
    return f"""
{_oracle_clusters_cte()}
),
base AS (
  SELECT d.doc_id, d.source,
         len({_DD_TOKENS.format(c='d.text')}) AS nt,
         CASE WHEN COALESCE(cl.cluster_id, d.doc_id) = d.doc_id
              THEN 1 ELSE 0 END AS keep
  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(nt) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN keep = 1 THEN nt ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       round(CAST(SUM(CASE WHEN keep = 1 THEN nt ELSE 0 END) AS DOUBLE)
             / CAST(SUM(nt) AS DOUBLE), 6) AS kept_frac
FROM base GROUP BY source
"""


_SPLIT_SALT = 7
_SPLIT_TRAIN_RATE = 0.9


def q_split_leakage_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate-safe train/val split (operators/sampling.py
    leakage_safe_split): split verdicts hash the CLUSTER id, so near-
    copies never straddle the eval boundary; `moved` flags docs a naive
    per-doc hash split would have leaked to the other side."""
    return _curation(spark, sf_dir).leakage_split(
        train_rate=_SPLIT_TRAIN_RATE, salt=_SPLIT_SALT
    )


def _oracle_split_leakage_guard_sql() -> str:
    cut = int(_SPLIT_TRAIN_RATE * 1_000_000)

    def bucket(expr: str) -> str:
        salted = f"concat('{_SPLIT_SALT}:', CAST({expr} AS VARCHAR))"
        return f"({_dd_md5_long(salted)} % 1000000)"

    return f"""
{_oracle_clusters_cte()}
),
lab AS (
  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cid
  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cid AS BIGINT) AS cluster_id,
       CASE WHEN {bucket('cid')} < {cut} THEN 'train' ELSE 'val' END
         AS split,
       CASE WHEN {bucket('doc_id')} < {cut} THEN 'train' ELSE 'val' END
         AS naive_split,
       CAST(CASE WHEN ({bucket('cid')} < {cut})
                  <> ({bucket('doc_id')} < {cut})
                 THEN 1 ELSE 0 END AS INT) AS moved
FROM lab
"""


def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (operators/text.py
    char_entropy) — the model-free gibberish screen (base64 blobs high,
    padding low). Shuffles bounded by |alphabet| per doc via map-side
    partial aggregation, never text length."""
    docs = _ts(spark, sf_dir, "documents")
    return X.char_entropy(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


ORACLE_DOC_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM ch
        WHERE c <> '' GROUP BY 1, 2),
e AS (SELECT doc_id, SUM(n) AS total,
             SUM(n * ln(n)) AS nlogn
      FROM cnt GROUP BY 1)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(total AS BIGINT) AS n_chars,
       round(ln(total) - nlogn / total, 6) AS entropy
FROM e
"""


def q_doc_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose split (operators/text.py code_likeness): code
    punctuation density + hard-keyword count with an is_code verdict —
    the source-separation gate run before mixing code into an LM corpus.
    Two regex column expressions, no shuffle."""
    docs = _ts(spark, sf_dir, "documents")
    out = X.code_likeness(docs, "doc_id", "text")
    return out.withColumnRenamed("id", "doc_id")


ORACLE_DOC_CODE_DETECT = r"""
WITH m AS (
  SELECT doc_id, length(text) AS n,
         length(regexp_replace(text, '[^{}();=<>\[\]#]', '', 'g')) AS sym,
         len(regexp_extract_all(lower(text),
             '\b(def|return|function|var|const|import|class|void|int|if|else|for|while)\b'))
           AS kw
  FROM documents),
s AS (
  SELECT doc_id, n, kw,
         CASE WHEN n > 0
              THEN round(CAST(sym AS DOUBLE) / CAST(n AS DOUBLE), 6)
              ELSE 0.0 END AS symbol_ratio
  FROM m)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_chars,
       symbol_ratio,
       CAST(kw AS BIGINT) AS kw_hits,
       CAST(CASE WHEN symbol_ratio > 0.02 OR kw >= 3
                 THEN 1 ELSE 0 END AS INT) AS is_code
FROM s
"""


def q_lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word (XLM-R-style tokenizer-health check — a language
    whose fertility is far above the corpus norm is being shredded by
    the tokenizer and will train poorly). Two tokenize expressions, one
    |langs|-bounded aggregate."""
    docs = _ts(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        X.token_count("text").cast("long").alias("__ws"),
        X.bpe_ish_token_count("text").cast("long").alias("__bpe"),
    )
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__ws").cast("long").alias("ws_tokens"),
        F.sum("__bpe").cast("long").alias("bpe_tokens"),
        F.round(
            F.sum("__bpe").cast("double") / F.sum("__ws").cast("double"), 6
        ).alias("fertility"),
    )


ORACLE_LANG_TOKEN_FERTILITY = rf"""
WITH t AS (
  SELECT lang,
         len({_DD_TOKENS.format(c='text')}) AS ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS bpe
  FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       round(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 6)
         AS fertility
FROM t GROUP BY lang
"""


def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the first 8 embedding
    coordinates (operators/similarity.py standardize_dims) — the scale-
    equalizing preprocessing before distance-based curation. Stats
    aggregate keyed by pos (8 groups at any corpus size), broadcast
    back; dims pruned BEFORE the stats pass."""
    vecs = _ts(spark, sf_dir, "embeddings")
    out = S.standardize_dims(vecs, "vec_id", "embedding", k=8)
    return out.withColumnRenamed("id", "vec_id")


ORACLE_EMBEDDING_WHITEN = """
WITH x AS (
  SELECT e.vec_id, s.i - 1 AS pos, CAST(e.embedding[s.i] AS DOUBLE) AS v
  FROM embeddings e,
       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) s
  WHERE s.i <= 8),
agg AS (
  SELECT pos, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS s2
  FROM x GROUP BY 1),
st AS (
  SELECT pos, round(s / n, 6) AS mu,
         round(sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)), 6) AS sd
  FROM agg)
SELECT CAST(x.vec_id AS BIGINT) AS vec_id,
       CAST(x.pos AS BIGINT) AS pos,
       round(CASE WHEN st.sd > 0 THEN (x.v - st.mu) / st.sd
                  ELSE 0.0 END, 6) AS z
FROM x JOIN st ON x.pos = st.pos
"""


def q_doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document (operators/text.py
    lexical_diversity) — catches template/boilerplate expansion (a long
    doc built from few distinct words) that length and quality gates
    miss. Pure column expressions, no shuffle."""
    docs = _ts(spark, sf_dir, "documents")
    return X.lexical_diversity(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


ORACLE_DOC_LEXICAL_DIVERSITY = rf"""
WITH t AS (
  SELECT doc_id, {_DD_TOKENS.format(c='text')} AS toks FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       CASE WHEN len(toks) > 0
            THEN round(CAST(len(list_distinct(toks)) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE), 6)
            ELSE 0.0 END AS ttr
FROM t
"""


_HEAPS_BUCKET_DOCS = 500


def q_corpus_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve (operators/text.py
    heaps_law_curve): cumulative tokens vs cumulative distinct
    vocabulary per 500-doc bucket — does more data still buy new
    vocabulary? Each term contributes at its FIRST bucket only
    (vocabulary-bounded min-aggregate); running totals via the
    bounded-fan-in partitioned prefix sum, no global window."""
    docs = _ts(spark, sf_dir, "documents")
    return X.heaps_law_curve(
        docs, "doc_id", "text", bucket_docs=_HEAPS_BUCKET_DOCS
    )


ORACLE_CORPUS_HEAPS_CURVE = rf"""
WITH tok AS (
  SELECT doc_id // {_HEAPS_BUCKET_DOCS} AS bucket,
         unnest({_DD_TOKENS.format(c='text')}) AS term
  FROM documents),
fb AS (SELECT term, MIN(bucket) AS bucket FROM tok GROUP BY term),
nb AS (SELECT bucket, COUNT(*) AS new_terms FROM fb GROUP BY bucket),
tb AS (
  SELECT doc_id // {_HEAPS_BUCKET_DOCS} AS bucket,
         SUM(len({_DD_TOKENS.format(c='text')})) AS toks
  FROM documents GROUP BY 1),
j AS (
  SELECT tb.bucket, tb.toks, COALESCE(nb.new_terms, 0) AS new_terms
  FROM tb LEFT JOIN nb ON tb.bucket = nb.bucket)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(toks) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
       CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
FROM j
"""


def q_embedding_dim_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-correlated embedding dimension pairs by |covariance|
    (operators/similarity.py dim_covariance_topk) — the redundancy audit
    behind whitening/PCA decisions. One d²-bounded aggregate + a
    TakeOrdered; total (|cov| desc, i, j) order for deterministic
    selection."""
    vecs = _ts(spark, sf_dir, "embeddings")
    return S.dim_covariance_topk(vecs, "embedding", k=20)


ORACLE_EMBEDDING_DIM_CORR = """
WITH x AS (
  SELECT e.vec_id, s.i - 1 AS pos, CAST(e.embedding[s.i] AS DOUBLE) AS v
  FROM embeddings e,
       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) s),
p AS (
  SELECT a.pos AS i, b.pos AS j, a.v AS xi, b.v AS xj
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos < b.pos),
agg AS (
  SELECT i, j, COUNT(*) AS n, SUM(xi) AS sx, SUM(xj) AS sy,
         SUM(xi * xj) AS sxy
  FROM p GROUP BY 1, 2),
c AS (
  SELECT CAST(i AS BIGINT) AS pos_i, CAST(j AS BIGINT) AS pos_j,
         round(sxy / n - (sx / n) * (sy / n), 6) AS cov
  FROM agg)
SELECT pos_i, pos_j, cov FROM c
ORDER BY abs(cov) DESC, pos_i, pos_j LIMIT 20
"""


def q_dedup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution (the power-law health report
    every dedup run ships with): docs and clusters per cluster size,
    singletons included."""
    return _curation(spark, sf_dir).cluster_size_dist()


def _oracle_dedup_cluster_size_dist_sql() -> str:
    return f"""
{_oracle_clusters_cte()}
),
sz AS (
  SELECT COALESCE(cl.cluster_id, d.doc_id) AS cid, COUNT(*) AS s
  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
  GROUP BY 1)
SELECT CAST(s AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(s) AS BIGINT) AS n_docs
FROM sz GROUP BY s
"""


def q_events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift between event types co-occurring in a
    user's history (operators/relational.py cooccurrence_lift) — which
    behaviors travel together beyond chance. Per-user item sets are
    vocabulary-bounded; pairs expand within the row; one-row broadcast
    total."""
    ev = _t(spark, sf_dir, "events")
    return R.cooccurrence_lift(ev, "user_id", "event_type").select(
        F.col("item_a").alias("type_a"),
        F.col("item_b").alias("type_b"),
        "n_groups_both",
        "lift",
    )


ORACLE_EVENTS_COOCCURRENCE_LIFT = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS ng FROM ut),
cnt AS (SELECT event_type, COUNT(*) AS c FROM ut GROUP BY 1),
pc AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS nab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT pc.type_a, pc.type_b,
       CAST(pc.nab AS BIGINT) AS n_groups_both,
       round(CAST(pc.nab AS DOUBLE) * tot.ng / (ca.c * cb.c), 6) AS lift
FROM pc
JOIN cnt ca ON pc.type_a = ca.event_type
JOIN cnt cb ON pc.type_b = cb.event_type
CROSS JOIN tot
"""


def q_corpus_dup_rate_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate stratified by document length band — are the
    duplicates concentrated in short boilerplate or long mirrored
    content? Drives whether dedup effort targets short-doc blocking or
    long-doc fingerprints. Fixed CASE bands (no quantile dependence)."""
    return _curation(spark, sf_dir).dup_rate_by_length()


def _oracle_corpus_dup_rate_by_length_sql() -> str:
    return f"""
{_oracle_clusters_cte()}
),
base AS (
  SELECT d.doc_id,
         len({_DD_TOKENS.format(c='d.text')}) AS nt,
         CASE WHEN COALESCE(cl.cluster_id, d.doc_id) = d.doc_id
              THEN 0 ELSE 1 END AS dup
  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
b AS (
  SELECT CASE WHEN nt <= 32 THEN 'a_le32'
              WHEN nt <= 64 THEN 'b_le64'
              WHEN nt <= 128 THEN 'c_le128'
              WHEN nt <= 256 THEN 'd_le256'
              ELSE 'e_gt256' END AS len_band,
         dup
  FROM base)
SELECT len_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_dups,
       round(CAST(SUM(dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_rate
FROM b GROUP BY len_band
"""


def q_doc_lsh_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter precision audit: the exact-Jaccard
    DISTRIBUTION of the candidate pairs the banding emits, rolled into
    0.1-wide bands — how much of the candidate budget is true near-dups
    (j >= 0.8) vs collision noise. The report that tunes (k, bands)
    before a full-corpus run. Exact side is candidate-driven
    (`candidate_common_shingles` — bounded by pairs x shingles/doc,
    never df²)."""
    docs = _ts(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3
    ).localCheckpoint(eager=False)
    # NOT checkpointed (r12, measured): all three consumers (sizes +
    # both sides of candidate_common_shingles) land in ONE final job,
    # where ReuseExchange already dedupes the distinct's exchange — a
    # checkpoint only adds a full materialization (2.96 s -> 3.86 s)
    sh = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.explode(X.word_shingles(F.col("text"), 3)).alias("__s"),
    ).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    common = D.candidate_common_shingles(
        pairs, sh, id_col="id", shingle_col="__s"
    ).withColumnRenamed("n_common", "__c")
    jac = F.coalesce(
        F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")),
        F.lit(0.0),
    )
    banded = (
        pairs.join(
            sizes.select(F.col("id").alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .join(common, ["id_a", "id_b"], "left")
        .select(
            (F.floor(jac * 10) / 10.0).alias("jaccard_band"),
            # 1e-9 fixed-point per pair BEFORE the mean: the reduction is
            # an exact integer sum (order-independent; an unordered float
            # AVG is not — repo determinism convention). jac itself is a
            # single deterministic per-row division.
            F.round(jac * 1e9, 0).cast("long").alias("__ji"),
        )
    )
    return banded.groupBy("jaccard_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.col("__ji").cast("decimal(38,0)")).cast("double")
            / 1e9
            / F.count(F.lit(1)),
            6,
        ).alias("mean_jaccard"),
    )


def _oracle_doc_lsh_precision_audit_sql() -> str:
    return f"""
WITH {_dd_minhash_keyed_ctes()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sh2 AS (SELECT doc_id AS id, unnest(sh) AS s FROM base),
sizes AS (SELECT id, COUNT(*) AS n FROM sh2 GROUP BY 1),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2),
j AS (
  SELECT COALESCE(CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c), 0.0) AS jac
  FROM pairs p
  JOIN sizes na ON na.id = p.id_a
  JOIN sizes nb ON nb.id = p.id_b
  LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b)
SELECT floor(jac * 10) / 10.0 AS jaccard_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(CAST(round(jac * 1e9) AS BIGINT)) AS DOUBLE)
             / 1e9 / COUNT(*), 6) AS mean_jaccard
FROM j GROUP BY 1
"""


def q_orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-same-month-last-year revenue (seasonality-adjusted
    growth): monthly DECIMAL-exact revenue, then LAG over a window
    PARTITIONED by calendar month and ordered by year — the YoY compare
    that cancels seasonal swing. |months|-bounded after the first
    aggregate."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("__y"), F.month("o_orderdate").alias("__m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev")
    )
    w = Window.partitionBy("__m").orderBy("__y")
    prev = F.lag("__rev").over(w)
    return monthly.select(
        F.format_string("%04d-%02d", F.col("__y"), F.col("__m")).alias("month"),
        F.col("__rev").cast("decimal(18,2)").alias("revenue"),
        F.when(
            prev.isNotNull(),
            F.round(
                F.col("__rev").cast("double") / prev.cast("double") - 1.0, 6
            ),
        ).alias("yoy_change"),
    )


ORACLE_ORDERS_SEASONALITY = """
WITH m AS (
  SELECT year(o_orderdate) AS y, month(o_orderdate) AS mo,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2),
l AS (
  SELECT y, mo, rev,
         lag(rev) OVER (PARTITION BY mo ORDER BY y) AS prev
  FROM m)
SELECT printf('%04d-%02d', y, mo) AS month,
       CAST(rev AS DECIMAL(18,2)) AS revenue,
       CASE WHEN prev IS NOT NULL
            THEN round(CAST(rev AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0, 6)
            END AS yoy_change
FROM l
"""


_RFM_NOW = "2024-02-01"


def q_user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation over the
    events stream with FIXED tier thresholds (no quantile dependence):
    per user days-since-last-event, event count, and DECIMAL-exact value
    sum -> 3x3 tier label -> per-segment rollup. One user-keyed
    aggregate + one |segments|-bounded aggregate."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit(_RFM_NOW).cast("date"), F.max(F.to_date("ts"))
        ).alias("__rec"),
        F.count(F.lit(1)).alias("__freq"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("__mon"),
    )
    r_tier = (
        F.when(F.col("__rec") <= 7, "r1")
        .when(F.col("__rec") <= 14, "r2")
        .otherwise("r3")
    )
    f_tier = (
        F.when(F.col("__freq") >= 15, "f1")
        .when(F.col("__freq") >= 5, "f2")
        .otherwise("f3")
    )
    return (
        per_user.select(
            F.concat_ws("_", r_tier, f_tier).alias("segment"),
            F.col("__mon"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(
                F.sum("__mon").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_value"),
        )
    )


ORACLE_USER_RFM_SEGMENTS = f"""
WITH pu AS (
  SELECT user_id,
         datediff('day', CAST(MAX(ts) AS DATE), DATE '{_RFM_NOW}') AS rec,
         COUNT(*) AS freq,
         SUM(CAST(value AS DECIMAL(18,6))) AS mon
  FROM events GROUP BY 1),
seg AS (
  SELECT CASE WHEN rec <= 7 THEN 'r1' WHEN rec <= 14 THEN 'r2'
              ELSE 'r3' END
         || '_' ||
         CASE WHEN freq >= 15 THEN 'f1' WHEN freq >= 5 THEN 'f2'
              ELSE 'f3' END AS segment,
         mon
  FROM pu)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       round(CAST(SUM(mon) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_value
FROM seg GROUP BY segment
"""


def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor) per event type over active minutes:
    variance/mean of per-minute counts — Fano >> 1 flags bursty traffic
    (bot storms, replay floods) that a rate average hides. One
    (type, minute) aggregate, then a |types|-bounded moment rollup."""
    ev = _t(spark, sf_dir, "events")
    pm = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("__m")
    ).agg(F.count(F.lit(1)).alias("__c"))
    agg = pm.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__c").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).alias("__s2"),
    )
    mean = F.col("__s") / F.col("__n")
    var = F.col("__s2") / F.col("__n") - mean * mean
    return agg.select(
        "event_type",
        F.col("__n").cast("long").alias("n_minutes"),
        F.round(mean, 6).alias("mean_per_min"),
        F.round(var / mean, 6).alias("fano"),
    )


ORACLE_EVENTS_BURSTINESS = """
WITH pm AS (
  SELECT event_type, date_trunc('minute', ts) AS m, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS s2
  FROM pm GROUP BY 1)
SELECT event_type,
       CAST(n AS BIGINT) AS n_minutes,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_per_min,
       round((CAST(s2 AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
             / (CAST(s AS DOUBLE) / n), 6) AS fano
FROM agg
"""


def q_doc_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-purity margin: the argmax language's share of ALL marker
    hits plus a mixed-language flag (second-best within 2x of the top) —
    code-switched / concatenated-crawl documents hurt monolingual
    training even when argmax langid looks confident. Pure column
    expressions over the shared marker lexicons."""
    docs = _ts(spark, sf_dir, "documents")
    scores = X.lang_scores(F.col("text"))
    arr = F.array(*[scores[lang] for lang in sorted(scores)])
    desc = F.sort_array(arr, asc=False)
    top, second = desc[0], desc[1]
    total = F.aggregate(
        arr, F.lit(0), lambda acc, x: acc + x
    )
    purity = F.when(
        total > 0, F.round(top.cast("double") / total.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    mixed = (
        (total > 0) & (second > 0) & (second * 2 >= top)
    ).cast("int")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.lang_id("text").alias("pred_lang"),
        purity.alias("purity"),
        mixed.alias("is_mixed"),
    )


def _oracle_doc_langid_margin_sql() -> str:
    score_cols = ", ".join(
        f"{_dd_lang_score(lang)} AS s_{lang}"
        for lang in sorted(X.LANG_MARKERS)
    )
    arr = "[" + ", ".join(f"s_{lang}" for lang in sorted(X.LANG_MARKERS)) + "]"
    return f"""
WITH s AS (SELECT doc_id, {score_cols} FROM documents),
r AS (
  SELECT doc_id, s_en, s_es, s_fr, s_de,
         list_sort({arr}, 'DESC') AS d,
         s_en + s_es + s_fr + s_de AS tot
  FROM s)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS pred_lang,
       CASE WHEN tot > 0
            THEN round(CAST(d[1] AS DOUBLE) / CAST(tot AS DOUBLE), 6)
            ELSE 0.0 END AS purity,
       CAST(CASE WHEN tot > 0 AND d[2] > 0 AND d[2] * 2 >= d[1]
                 THEN 1 ELSE 0 END AS INT) AS is_mixed
FROM r
"""


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/WAU) per day: daily active users over trailing-7-
    day active users. Each distinct (user, day) row fans out to the <= 7
    future days whose trailing window it belongs to (a x7 narrow map),
    then two distinct-count aggregates — no per-day window over raw
    events, no self-join."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.to_date("ts").alias("d"),
    ).distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        du.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("__i"),
            "d",
        )
        .select("user_id", F.date_add("d", F.col("__i")).alias("d"))
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
    )


ORACLE_EVENTS_DAU_WAU = """
WITH du AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, CAST(ts AS DATE) AS d
  FROM events),
dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY 1),
f AS (
  SELECT du.user_id, du.d + CAST(i.i AS INTEGER) AS d
  FROM du, LATERAL (SELECT unnest(generate_series(0, 6)) AS i) i),
wau AS (SELECT d, COUNT(DISTINCT user_id) AS wau FROM f GROUP BY 1)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
         AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
"""


def q_doc_quality_vs_dup_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation quadrant report: quality-pass x keep cross-tab with doc
    and token mass per cell — 'how much HIGH-quality content is the
    dedup pass deleting' (top-right cell) is the tradeoff number a
    curation review asks for first. One 4-group aggregate."""
    run = _curation(spark, sf_dir)
    base = run.docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(X.quality_score("text"), 6).alias("__q6"),
        X.token_count("text").cast("long").alias("__nt"),
    )
    joined = base.join(run.clusters, "doc_id", "left")
    keep = (
        F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id")
    ).cast("int")
    q_pass = quality_pass(F.col("__q6"), run.quality_threshold)
    return (
        joined.select(
            q_pass.alias("q_pass"), keep.alias("keep"), F.col("__nt")
        )
        .groupBy("q_pass", "keep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("tokens"),
        )
    )


def _oracle_doc_quality_vs_dup_grid_sql() -> str:
    return rf"""
{_oracle_clusters_cte()}
), t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT doc_id, n_tokens,
         round((least(n_chars / 500.0, 1.0) * 0.4
               + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
               + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
               * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END), 6) AS q6
  FROM m),
g AS (
  SELECT CASE WHEN q.q6 >= 0.5 THEN 1 ELSE 0 END AS q_pass,
         CASE WHEN COALESCE(cl.cluster_id, q.doc_id) = q.doc_id
              THEN 1 ELSE 0 END AS keep,
         q.n_tokens
  FROM q LEFT JOIN cl ON cl.doc_id = q.doc_id)
SELECT CAST(q_pass AS INT) AS q_pass, CAST(keep AS INT) AS keep,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens
FROM g GROUP BY 1, 2
"""


def q_corpus_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-heaviness of the bigram distribution: the share of ALL
    bigram occurrences covered by the top-100 bigrams — a spiking head
    coverage means template/boilerplate mass is growing. Bigram counts
    are vocabulary²-bounded; the head sum is a 100-row TakeOrdered with
    a total (count desc, bigram) order; totals attach as one-row
    broadcasts."""
    docs = _ts(spark, sf_dir, "documents")
    bc = (
        docs.select(F.explode(X.word_shingles("text", 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot = bc.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        F.sum("__c").cast("long").alias("total_occ"),
    )
    top = (
        bc.orderBy(F.col("__c").desc(), "bg")
        .limit(100)
        .agg(F.sum("__c").cast("long").alias("top100_occ"))
    )
    return tot.crossJoin(F.broadcast(top)).select(
        "n_distinct_bigrams",
        "total_occ",
        "top100_occ",
        F.round(
            F.col("top100_occ").cast("double")
            / F.col("total_occ").cast("double"),
            6,
        ).alias("coverage"),
    )


def _oracle_corpus_ngram_coverage_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH tk AS (SELECT {toks} AS t FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM tk WHERE len(t) >= 2),
bc AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
               CAST(SUM(c) AS BIGINT) AS total_occ FROM bc),
top AS (SELECT CAST(SUM(c) AS BIGINT) AS top100_occ FROM (
          SELECT c FROM bc ORDER BY c DESC, bg LIMIT 100))
SELECT tot.n_distinct_bigrams, tot.total_occ, top.top100_occ,
       round(CAST(top.top100_occ AS DOUBLE)
             / CAST(tot.total_occ AS DOUBLE), 6) AS coverage
FROM tot CROSS JOIN top
"""


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-LTV triangle: customers grouped by first-order month, each
    cohort's order count / revenue / CUMULATIVE revenue by month-age.
    Month arithmetic stays in exact integers (year*12 + month), revenue
    DECIMAL-exact; the running total windows over the (cohort, age)
    frame — |cohorts|x|ages| rows, never raw orders."""
    o = _t(spark, sf_dir, "orders")
    idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long")
    base = o.select(
        F.col("o_custkey").alias("__cust"),
        idx.alias("__idx"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("__p"),
    )
    first = base.groupBy("__cust").agg(F.min("__idx").alias("__cidx"))
    cell = (
        base.join(first, "__cust")
        .groupBy("__cidx", (F.col("__idx") - F.col("__cidx")).alias("age_months"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("__p").alias("__rev"),
        )
    )
    w = (
        Window.partitionBy("__cidx")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cell.select(
        F.format_string(
            "%04d-%02d",
            (F.col("__cidx") / 12).cast("int"),
            (F.col("__cidx") % 12 + 1).cast("int"),
        ).alias("cohort"),
        F.col("age_months").cast("long").alias("age_months"),
        "n_orders",
        F.col("__rev").cast("decimal(18,2)").alias("revenue"),
        F.sum("__rev").over(w).cast("decimal(18,2)").alias("cum_revenue"),
    )


ORACLE_ORDERS_COHORT_LTV = """
WITH base AS (
  SELECT o_custkey AS cust,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS idx,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders),
f AS (SELECT cust, MIN(idx) AS cidx FROM base GROUP BY 1),
cell AS (
  SELECT f.cidx, base.idx - f.cidx AS age_months,
         COUNT(*) AS n_orders, SUM(p) AS rev
  FROM base JOIN f ON base.cust = f.cust
  GROUP BY 1, 2)
SELECT printf('%04d-%02d', CAST(cidx // 12 AS INT),
              CAST(cidx % 12 + 1 AS INT)) AS cohort,
       CAST(age_months AS BIGINT) AS age_months,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(rev AS DECIMAL(18,2)) AS revenue,
       CAST(SUM(rev) OVER (PARTITION BY cidx ORDER BY age_months
                           ROWS UNBOUNDED PRECEDING)
            AS DECIMAL(18,2)) AS cum_revenue
FROM cell
"""


_AQP_RATE = 0.05


def q_events_aqp_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing (BlinkDB-style) with a deterministic
    audit: per event type, the count estimated from a 5% md5-hash sample
    (scaled 20x) against the exact count, with the relative error — the
    'is a sample good enough for this dashboard' calibration. The sample
    is the same md5-keyed filter the sampling operators use, so the
    estimate is reproducible across engines/partitionings (types missing
    from the sample surface with est 0 / rel_err 1)."""
    ev = _t(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    samp = (
        SP.hash_sample(ev, "event_id", _AQP_RATE)
        .groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) * int(round(1 / _AQP_RATE)))
            .cast("long")
            .alias("est_count")
        )
    )
    j = exact.join(samp, "event_type", "left")
    est = F.coalesce(F.col("est_count"), F.lit(0))
    return j.select(
        "event_type",
        est.cast("long").alias("est_count"),
        "exact_count",
        F.round(
            F.abs(est - F.col("exact_count")).cast("double")
            / F.col("exact_count").cast("double"),
            6,
        ).alias("rel_err"),
    )


def _oracle_events_aqp_estimate_sql() -> str:
    salted = "concat('1:', CAST(event_id AS VARCHAR))"
    bucket = f"({_dd_md5_long(salted)} % 1000000)"
    scale = int(round(1 / _AQP_RATE))
    return f"""
WITH exact AS (
  SELECT event_type, COUNT(*) AS exact_count FROM events GROUP BY 1),
samp AS (
  SELECT event_type, COUNT(*) * {scale} AS est_count
  FROM events WHERE {bucket} < {int(_AQP_RATE * 1_000_000)}
  GROUP BY 1)
SELECT e.event_type,
       CAST(COALESCE(s.est_count, 0) AS BIGINT) AS est_count,
       CAST(e.exact_count AS BIGINT) AS exact_count,
       round(CAST(abs(COALESCE(s.est_count, 0) - e.exact_count) AS DOUBLE)
             / CAST(e.exact_count AS DOUBLE), 6) AS rel_err
FROM exact e LEFT JOIN samp s ON e.event_type = s.event_type
"""


def q_supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk: the Herfindahl–Hirschman index of
    supplier revenue shares per nation (HHI -> 1 means one supplier owns
    the nation's volume). DECIMAL-exact revenue; shares squared over a
    per-nation supplier frame — bounded by supplier count, never line
    items."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__r")
        )
        .join(
            F.broadcast(
                s.select("s_suppkey", "s_nationkey").join(
                    F.broadcast(n.select("n_nationkey", "n_name")),
                    s.s_nationkey == n.n_nationkey,
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
    )
    tot = rev.groupBy("n_name").agg(F.sum("__r").alias("__t"))
    return (
        rev.join(F.broadcast(tot), "n_name")
        .select(
            "n_name",
            (
                (F.col("__r").cast("double") / F.col("__t").cast("double"))
                ** 2
            ).alias("__sh2"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.sum("__sh2"), 6).alias("hhi"),
        )
        .withColumnRenamed("n_name", "nation")
    )


ORACLE_SUPPLIER_CONCENTRATION_HHI = """
WITH rev AS (
  SELECT n.n_name AS nation, l.l_suppkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2),
tot AS (SELECT nation, SUM(r) AS t FROM rev GROUP BY 1)
SELECT rev.nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       round(SUM((CAST(rev.r AS DOUBLE) / CAST(tot.t AS DOUBLE))
                 * (CAST(rev.r AS DOUBLE) / CAST(tot.t AS DOUBLE))), 6)
         AS hhi
FROM rev JOIN tot ON rev.nation = tot.nation
GROUP BY rev.nation
"""


def q_embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@5 of the IVF index against the exact
    brute-force top-5, per query — the number that decides whether
    nprobe/k_lists are production-ready. Composes the two audited
    operators; the compare joins two 25-row frames."""
    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = S.ivf_centroids(emb, k=8)
    # ONE corpus scan for both rankings (r13, §1.2): IVF membership is a
    # flag on the exact control's scored frame, so |exact ∩ approx| is a
    # predicate over the exact top-5 rows — the old shape scanned the
    # corpus twice (ivf_topk + brute_force_topk) and joined the two
    # 25-row frames. Every query with any pair has exact-top-5 rows, so
    # the per-query groups ARE the old bf-derived qids.
    pairs = S.ivf_exact_scored(emb, queries, cents, k=5, nprobe=2)
    return (
        pairs.filter(F.col("rank") <= 5)
        .groupBy(F.col("query_id").cast("long").alias("query_id"))
        .agg(
            F.sum(
                ((F.col("is_cand") == 1) & (F.col("ivf_rank") <= 5))
                .cast("int")
            ).alias("__h")
        )
        .select(
            "query_id",
            F.col("__h").cast("long").alias("n_hits"),
            F.round(F.col("__h").cast("double") / 5.0, 6).alias(
                "recall_at_5"
            ),
        )
    )


def _oracle_embedding_ann_recall_sql() -> str:
    ivf = _oracle_similarity_ivf_sql().strip().rstrip(";")
    bf = ORACLE_SIMILARITY_BRUTEFORCE.strip().rstrip(";")
    return f"""
WITH ivf AS (SELECT query_id, neighbor_id FROM ({ivf}) t),
bf AS (SELECT query_id, neighbor_id FROM ({bf}) t),
hits AS (
  SELECT i.query_id, COUNT(*) AS h
  FROM ivf i JOIN bf b
    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
  GROUP BY 1),
qids AS (SELECT DISTINCT query_id FROM bf)
SELECT CAST(q.query_id AS BIGINT) AS query_id,
       CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
       round(CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0, 6) AS recall_at_5
FROM qids q LEFT JOIN hits h ON q.query_id = h.query_id
"""


def q_corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard: which sources share wording —
    high overlap between a 'curated' and a 'crawl' source means the
    curated set is mostly re-crawled content. Per-token source sets are
    bounded by n_sources (collect_set per token, map-side combined);
    pairs expand WITHIN the row; the union term is |A|+|B|-common over
    per-source distinct-token counts."""
    docs = _ts(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("__t")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    sets = st.groupBy("__t").agg(
        F.array_sort(F.collect_set("source")).alias("__ss")
    )
    e1 = sets.select(
        F.posexplode("__ss").alias("__pa", "source_a"), F.col("__ss")
    )
    pairs = e1.select(
        "__pa", "source_a", F.posexplode("__ss").alias("__pb", "source_b")
    ).filter(F.col("__pa") < F.col("__pb"))
    common = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return (
        common.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("__n").alias("__na"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("__n").alias("__nb"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("__c").cast("long").alias("n_common_terms"),
            F.round(
                F.col("__c").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("__c")).cast("double"),
                6,
            ).alias("vocab_jaccard"),
        )
    )


ORACLE_CORPUS_SOURCE_OVERLAP = rf"""
WITH st AS (
  SELECT DISTINCT source, unnest({_DD_TOKENS.format(c='text')}) AS t
  FROM documents),
sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY 1),
common AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS c
  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2)
SELECT c.source_a, c.source_b,
       CAST(c.c AS BIGINT) AS n_common_terms,
       round(CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c), 6) AS vocab_jaccard
FROM common c
JOIN sizes na ON na.source = c.source_a
JOIN sizes nb ON nb.source = c.source_b
"""


def q_events_value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of event values per type (fraud /
    synthetic-data screen: organic monetary values follow Benford;
    generated or capped values don't). Digit extraction stays in exact
    integers (cents -> leading decimal digit via string), shares join a
    |types|-bounded total frame."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    base = ev.select(
        "event_type", cents.alias("__c")
    ).filter(F.col("__c") > 0)
    digit = F.substring(F.col("__c").cast("string"), 1, 1).cast("int")
    cnt = base.select("event_type", digit.alias("first_digit")).groupBy(
        "event_type", "first_digit"
    ).agg(F.count(F.lit(1)).alias("__n"))
    tot = cnt.groupBy("event_type").agg(F.sum("__n").alias("__t"))
    return cnt.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("first_digit"),
        F.col("__n").cast("long").alias("n"),
        F.round(
            F.col("__n").cast("double") / F.col("__t").cast("double"), 6
        ).alias("share"),
    )


ORACLE_EVENTS_VALUE_BENFORD = """
WITH base AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
  FROM events WHERE CAST(floor(value * 100) AS BIGINT) > 0),
cnt AS (
  SELECT event_type,
         CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS first_digit,
         COUNT(*) AS n
  FROM base GROUP BY 1, 2),
tot AS (SELECT event_type, SUM(n) AS t FROM cnt GROUP BY 1)
SELECT cnt.event_type, cnt.first_digit,
       CAST(cnt.n AS BIGINT) AS n,
       round(CAST(cnt.n AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS share
FROM cnt JOIN tot ON cnt.event_type = tot.event_type
"""


_BACKLOG_REF = "2001-09-01"


def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging: order count and DECIMAL-exact value per status x
    fixed age band (as of a reference date after the data window) — the
    ops report behind 'how old is the open book'. One map + one
    |status x bands|-bounded aggregate."""
    o = _t(spark, sf_dir, "orders")
    age = F.datediff(F.lit(_BACKLOG_REF).cast("date"), F.to_date("o_orderdate"))
    band = (
        F.when(age <= 180, "a_le180d")
        .when(age <= 365, "b_le1y")
        .when(age <= 730, "c_le2y")
        .otherwise("d_gt2y")
    )
    return (
        o.select(
            "o_orderstatus",
            band.alias("age_band"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("__p"),
        )
        .groupBy("o_orderstatus", "age_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("__p").cast("decimal(18,2)").alias("value"),
        )
    )


ORACLE_ORDERS_BACKLOG_AGING = f"""
WITH b AS (
  SELECT o_orderstatus,
         datediff('day', CAST(o_orderdate AS DATE), DATE '{_BACKLOG_REF}')
           AS age,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders)
SELECT o_orderstatus,
       CASE WHEN age <= 180 THEN 'a_le180d'
            WHEN age <= 365 THEN 'b_le1y'
            WHEN age <= 730 THEN 'c_le2y'
            ELSE 'd_gt2y' END AS age_band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(p) AS DECIMAL(18,2)) AS value
FROM b GROUP BY 1, 2
"""


def q_doc_len_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between document length and quality score —
    the sanity number behind any length-based curation shortcut (if
    corr is high, a cheap length filter approximates the quality gate).
    Five sums in ONE aggregation pass; the correlation is closed-form
    over exact token counts and the quality score quantized to 1e-6
    fixed-point BEFORE summation — every reduction is an integer
    (DECIMAL) sum, so the result is partition-order-independent at any
    parallelism (the repo's cross-engine determinism convention; an
    unordered float SUM can flip the 6th rounded decimal at scale)."""
    docs = _ts(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    base = docs.select(
        X.token_count("text").alias("__xi"),
        F.round(X.quality_score("text") * 1e6, 0).cast("long").alias("__yi"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(F.col("__xi").cast(dec)).alias("__sxi"),
        F.sum(F.col("__yi").cast(dec)).alias("__syi"),
        F.sum((F.col("__xi") * F.col("__xi")).cast(dec)).alias("__sxxi"),
        F.sum((F.col("__yi") * F.col("__yi")).cast(dec)).alias("__syyi"),
        F.sum((F.col("__xi") * F.col("__yi")).cast(dec)).alias("__sxyi"),
    )
    sx = F.col("__sxi").cast("double")
    sy = F.col("__syi").cast("double") / 1e6
    sxx = F.col("__sxxi").cast("double")
    syy = F.col("__syyi").cast("double") / 1e12
    sxy = F.col("__sxyi").cast("double") / 1e6
    num = F.col("__n") * sxy - sx * sy
    den = F.sqrt(F.col("__n") * sxx - sx * sx) * F.sqrt(
        F.col("__n") * syy - sy * sy
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_docs"),
        F.round(num / den, 6).alias("len_quality_corr"),
    )


_ORACLE_Q_RAW_EXPR = """((least(n_chars / 500.0, 1.0) * 0.4
  + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
  + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
  * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END))"""
_ORACLE_Q6_EXPR = f"round({_ORACLE_Q_RAW_EXPR}, 6)"

_ORACLE_Q6_CTES = r"""t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t)"""


def _oracle_doc_len_quality_corr_sql() -> str:
    # mirror of the Spark fixed-point plan: quantize quality to 1e-6
    # integers per row, SUM exact integers (HUGEINT), convert to double
    # with the SAME expression shape as the Spark side
    return f"""
WITH {_ORACLE_Q6_CTES},
q AS (SELECT n_tokens AS xi,
             CAST(round({_ORACLE_Q_RAW_EXPR} * 1e6) AS BIGINT) AS yi
      FROM m),
a AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(xi) AS sxi, SUM(yi) AS syi,
         SUM(xi * xi) AS sxxi, SUM(yi * yi) AS syyi, SUM(xi * yi) AS sxyi
  FROM q),
d AS (
  SELECT n, CAST(sxi AS DOUBLE) AS sx, CAST(syi AS DOUBLE) / 1e6 AS sy,
         CAST(sxxi AS DOUBLE) AS sxx, CAST(syyi AS DOUBLE) / 1e12 AS syy,
         CAST(sxyi AS DOUBLE) / 1e6 AS sxy
  FROM a)
SELECT CAST(n AS BIGINT) AS n_docs,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
         AS len_quality_corr
FROM d
"""


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream (behavior model: which action follows which): per-user LAG
    over a user-partitioned window with a total (ts, event_id) order,
    then |types|²-bounded counts row-normalized per previous state."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    tot = trans.groupBy("prev_type").agg(F.sum("__n").alias("__t"))
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("__n").cast("long").alias("n"),
        F.round(
            F.col("__n").cast("double") / F.col("__t").cast("double"), 6
        ).alias("prob"),
    )


ORACLE_EVENTS_MARKOV_TRANSITIONS = """
WITH s AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
trans AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT prev_type, SUM(n) AS t FROM trans GROUP BY 1)
SELECT trans.prev_type, trans.next_type,
       CAST(trans.n AS BIGINT) AS n,
       round(CAST(trans.n AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS prob
FROM trans JOIN tot ON trans.prev_type = tot.prev_type
"""


_QUALITY_SWEEP = (0.7, 0.8, 0.85, 0.9, 0.95)


def q_corpus_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold sweep: docs and tokens retained at each cutoff
    — the 'choose the quality bar' curve a curation review reads before
    committing to 0.5. ONE aggregation pass computes every threshold's
    conditional sums (no per-threshold rescan, no cross join); the
    5-column row unpivots with stack()."""
    docs = _ts(spark, sf_dir, "documents")
    base = docs.select(
        F.round(X.quality_score("text"), 6).alias("__q"),
        X.token_count("text").cast("long").alias("__nt"),
    )
    aggs = [F.sum("__nt").alias("__tot")]
    for t in _QUALITY_SWEEP:
        tag = str(t).replace(".", "")
        aggs.append(
            F.sum(F.when(F.col("__q") >= t, 1).otherwise(0)).alias(f"__d{tag}")
        )
        aggs.append(
            F.sum(F.when(F.col("__q") >= t, F.col("__nt")).otherwise(0)).alias(
                f"__t{tag}"
            )
        )
    one = base.agg(*aggs)
    stack_args = ", ".join(
        f"{t}D, __d{str(t).replace('.', '')}, __t{str(t).replace('.', '')}"
        for t in _QUALITY_SWEEP
    )
    return one.select(
        F.expr(
            f"stack({len(_QUALITY_SWEEP)}, {stack_args}) "
            "AS (threshold, docs_kept, tokens_kept)"
        ),
        F.col("__tot"),
    ).select(
        F.round("threshold", 2).alias("threshold"),
        F.col("docs_kept").cast("long").alias("docs_kept"),
        F.col("tokens_kept").cast("long").alias("tokens_kept"),
        F.round(
            F.col("tokens_kept").cast("double") / F.col("__tot").cast("double"),
            6,
        ).alias("tokens_frac"),
    )


def _oracle_corpus_quality_sweep_sql() -> str:
    selects = []
    for t in _QUALITY_SWEEP:
        selects.append(f"""
SELECT CAST({t} AS DOUBLE) AS threshold,
       CAST(SUM(CASE WHEN q >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       CAST(SUM(CASE WHEN q >= {t} THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept,
       round(CAST(SUM(CASE WHEN q >= {t} THEN nt ELSE 0 END) AS DOUBLE)
             / CAST(SUM(nt) AS DOUBLE), 6) AS tokens_frac
FROM q""")
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH {_ORACLE_Q6_CTES},
q AS (SELECT n_tokens AS nt, {_ORACLE_Q6_EXPR} AS q FROM m)
{body}
"""


def q_embedding_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance: member count and load factor
    (n / mean) per coarse cell — skewed lists are the ANN latency
    killer (a probe into a hot cell scans 10x the vectors). Assignment
    is a narrow map (centroids ship as literals); sizes are one k-group
    aggregate; the mean attaches as a one-row broadcast."""
    emb = _ts(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(emb, k=8)
    lists = S.ivf_assign(emb, cents, "embedding", nprobe=1)
    sizes = lists.groupBy("ivf_list").agg(
        F.count(F.lit(1)).alias("__n")
    )
    tot = sizes.agg(F.sum("__n").cast("double").alias("__t"))
    return sizes.crossJoin(F.broadcast(tot)).select(
        F.col("ivf_list").cast("long").alias("ivf_list"),
        F.col("__n").cast("long").alias("n_vectors"),
        F.round(F.col("__n").cast("double") * 8.0 / F.col("__t"), 6).alias(
            "load_factor"
        ),
    )


def _oracle_embedding_ivf_balance_sql(k: int = 8) -> str:
    # same cents/assigned/ranked chain as _oracle_similarity_ivf_sql
    # (md5-sampled centroids, -2·v·c + ||c||² exact nearest ranking)
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    dot_vc = fold.format(
        arr="list_transform(generate_series(1, len(v.embedding)),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i])"
    )
    sq_c = fold.format(arr="list_transform(c.cv, x -> x * x)")
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}),
assigned AS (
  SELECT v.vec_id, c.cid, -({dot_vc}) * 2 + ({sq_c}) AS d2
  FROM embeddings v CROSS JOIN cents c),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
  FROM assigned),
sizes AS (SELECT cid, COUNT(*) AS n FROM ranked WHERE rk = 1 GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM sizes)
SELECT CAST(sizes.cid AS BIGINT) AS ivf_list,
       CAST(sizes.n AS BIGINT) AS n_vectors,
       round(CAST(sizes.n AS DOUBLE) * {float(k)!r} / tot.t, 6)
         AS load_factor
FROM sizes CROSS JOIN tot
"""


def q_events_hour_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic heatmap: event share per (day-of-week, hour) cell — the
    seasonality profile capacity planning and anomaly baselines read.
    One map + a 7x24-bounded aggregate; total attaches as a one-row
    broadcast. Day numbering normalized to Sunday=1 on both engines."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.select(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("__n"))
    tot = cnt.agg(F.sum("__n").cast("double").alias("__t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("int").alias("dow"),
        F.col("hour").cast("int").alias("hour"),
        F.col("__n").cast("long").alias("n"),
        F.round(F.col("__n").cast("double") / F.col("__t"), 6).alias("share"),
    )


ORACLE_EVENTS_HOUR_DOW_PROFILE = """
WITH cnt AS (
  SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hour,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cnt)
SELECT cnt.dow, cnt.hour, CAST(cnt.n AS BIGINT) AS n,
       round(CAST(cnt.n AS DOUBLE) / tot.t, 6) AS share
FROM cnt CROSS JOIN tot
"""


def q_customer_returns_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-revenue share per market segment (the churn-risk slice
    behind TPC-H Q10's per-customer view): customer -> orders ->
    lineitem with DECIMAL-exact revenue, returned = l_returnflag 'R'.
    One |segments|-bounded rollup after the keyed joins; the customer
    dim side broadcasts."""
    # keyed spreads: both fact sides pre-partitioned on the orderkey join
    c = _t(spark, sf_dir, "customer")
    o = _ts(spark, sf_dir, "orders", by=("o_orderkey",))
    li = _ts(spark, sf_dir, "lineitem", by=("l_orderkey",))
    j = (
        li.select(
            "l_orderkey",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("__p"),
            (F.col("l_returnflag") == "R").cast("int").alias("__r"),
        )
        .join(o.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.sum("__p").cast("decimal(18,2)").alias("revenue"),
            F.sum(F.when(F.col("__r") == 1, F.col("__p")).otherwise(0))
            .cast("decimal(18,2)")
            .alias("returned_revenue"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "revenue",
            "returned_revenue",
            F.round(
                F.col("returned_revenue").cast("double")
                / F.col("revenue").cast("double"),
                6,
            ).alias("return_rate"),
        )
    )


ORACLE_CUSTOMER_RETURNS_RATE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS p,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT segment,
       CAST(SUM(p) AS DECIMAL(18,2)) AS revenue,
       CAST(SUM(CASE WHEN r = 1 THEN p ELSE 0 END) AS DECIMAL(18,2))
         AS returned_revenue,
       round(CAST(SUM(CASE WHEN r = 1 THEN p ELSE 0 END) AS DOUBLE)
             / CAST(SUM(p) AS DOUBLE), 6) AS return_rate
FROM j GROUP BY segment
"""


def q_events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event concentration — 'do 1% of
    users generate 90% of traffic'. Computed over the per-user-count
    VALUE HISTOGRAM (bounded by distinct activity levels, never user
    count) with the bounded-fan-in partitioned prefix sum supplying the
    rank offsets, so every intermediate stays an exact integer: users
    with count c occupy ranks [cum+1, cum+f], so sum(rank*x) over the
    group is c*(f*cum + f*(f+1)/2) in closed form. No unpartitioned
    window, no per-user sort."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("__c"))
    hist = per_user.groupBy("__c").agg(F.count(F.lit(1)).alias("__f"))
    hist, h = _hist_prefix(hist, "__c", "__f", "__cum")
    s1 = (
        F.col("__c")
        * (
            F.col("__f") * F.col("__cum")
            + F.col("__f") * (F.col("__f") + 1) / 2
        )
    ).cast("double")
    agg = h.agg(
        F.sum("__f").cast("long").alias("n_users"),
        F.sum(F.col("__c") * F.col("__f")).cast("long").alias("total_events"),
        F.sum(s1).alias("__s1"),
    )
    n = F.col("n_users").cast("double")
    t = F.col("total_events").cast("double")
    return agg.select(
        "n_users",
        "total_events",
        F.round(2.0 * F.col("__s1") / (n * t) - (n + 1.0) / n, 6).alias(
            "gini"
        ),
    )


ORACLE_EVENTS_USER_GINI = """
WITH pu AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
hist AS (SELECT c, COUNT(*) AS f FROM pu GROUP BY 1),
cum AS (
  SELECT c, f,
         COALESCE(SUM(f) OVER (ORDER BY c
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cu
  FROM hist),
a AS (
  SELECT SUM(f) AS n, SUM(c * f) AS t,
         SUM(CAST(c AS DOUBLE) * (f * cu + f * (f + 1) / 2.0)) AS s1
  FROM cum)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(t AS BIGINT) AS total_events,
       round(2.0 * s1 / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM a
"""


def q_part_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of retail price on size per brand (pricing-curve
    fit): slope and intercept from five sums in ONE aggregation pass per
    brand — the regression shape without MLlib, |brands|-bounded.
    Prices are money (exactly 2 decimals), so they quantize to cents and
    every reduction is an exact integer (DECIMAL) sum — partition-order-
    independent (repo determinism convention; an unordered float SUM can
    flip the 6th rounded decimal at scale)."""
    p = _t(spark, sf_dir, "part")
    dec = "decimal(38,0)"
    base = p.select(
        "p_brand",
        F.col("p_size").cast("long").alias("__xi"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("__yi"),
    )
    agg = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(F.col("__xi").cast(dec)).alias("__sxi"),
        F.sum(F.col("__yi").cast(dec)).alias("__syi"),
        F.sum((F.col("__xi") * F.col("__xi")).cast(dec)).alias("__sxxi"),
        F.sum((F.col("__xi") * F.col("__yi")).cast(dec)).alias("__sxyi"),
    )
    sx = F.col("__sxi").cast("double")
    sy = F.col("__syi").cast("double") / 100
    sxx = F.col("__sxxi").cast("double")
    sxy = F.col("__sxyi").cast("double") / 100
    slope = (F.col("__n") * sxy - sx * sy) / (
        F.col("__n") * sxx - sx * sx
    )
    intercept = (sy - slope * sx) / F.col("__n")
    return agg.select(
        F.col("p_brand").alias("brand"),
        F.col("__n").cast("long").alias("n_parts"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


ORACLE_PART_PRICE_REGRESSION = """
WITH a AS (
  SELECT p_brand AS brand,
         CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(p_size) AS sxi,
         SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS syi,
         SUM(p_size * p_size) AS sxxi,
         SUM(p_size * CAST(round(p_retailprice * 100) AS BIGINT)) AS sxyi
  FROM part GROUP BY 1),
d AS (
  SELECT brand, n, CAST(sxi AS DOUBLE) AS sx, CAST(syi AS DOUBLE) / 100 AS sy,
         CAST(sxxi AS DOUBLE) AS sxx, CAST(sxyi AS DOUBLE) / 100 AS sxy
  FROM a)
SELECT brand, CAST(n AS BIGINT) AS n_parts,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM d
"""


def q_corpus_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Shannon entropy of the within-token character-pair
    distribution (the LM-difficulty / compressibility proxy; the same
    pair stream BPE merge induction counts). ln(T) - sum(c ln c)/T over
    an alphabet²-bounded aggregate — one row out."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(F.explode(X.tokens(F.lower(F.col("text")))).alias("w"))
    idx = tok.select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    ).filter(F.length("w") >= 2)
    pair = F.concat(
        F.substring(F.col("w"), F.col("i"), 1),
        F.substring(F.col("w"), F.col("i") + 1, 1),
    )
    cnt = idx.select(pair.alias("pair")).groupBy("pair").agg(
        F.count(F.lit(1)).alias("__c")
    )
    agg = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_pairs"),
        F.sum("__c").cast("long").alias("total_pairs"),
        F.sum(F.col("__c") * F.log("__c")).alias("__clogc"),
    )
    t = F.col("total_pairs").cast("double")
    return agg.select(
        "n_distinct_pairs",
        "total_pairs",
        F.round(F.log(t) - F.col("__clogc") / t, 6).alias("entropy"),
    )


ORACLE_CORPUS_CHAR_BIGRAM_ENTROPY = rf"""
WITH tok AS (
  SELECT unnest({_DD_TOKENS.format(c='text')}) AS w FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> substr(w, i, 2))) AS pair
  FROM tok WHERE len(w) >= 2),
cnt AS (SELECT pair, COUNT(*) AS c FROM pairs GROUP BY 1),
a AS (SELECT COUNT(*) AS d, SUM(c) AS t, SUM(c * ln(c)) AS clogc FROM cnt)
SELECT CAST(d AS BIGINT) AS n_distinct_pairs,
       CAST(t AS BIGINT) AS total_pairs,
       round(ln(t) - clogc / t, 6) AS entropy
FROM a
"""


def q_lineitem_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 order-to-ship latency (days) per order
    priority — the SLA panel. Same audited VALUE-HISTOGRAM quantile
    shape as doc_length_quantiles: the cumulative window runs over
    (priority, latency) histogram rows bounded by distinct day counts,
    never per line item."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lat = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("__d"),
    )
    hist = lat.groupBy("o_orderpriority", "__d").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.asc_nulls_last("__d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__crank", F.sum("__cnt").over(w))
    totals = hist.groupBy("o_orderpriority").agg(F.sum("__cnt").alias("__n"))
    j = cum.join(F.broadcast(totals), "o_orderpriority")
    aggs = [
        F.min(
            F.when(F.col("__crank") * 100 >= F.col("__n") * p, F.col("__d"))
        ).alias(f"p{p}")
        for p in (50, 90, 99)
    ]
    return j.groupBy("o_orderpriority").agg(
        F.sum("__cnt").cast("long").alias("n_items"), *aggs
    )


ORACLE_LINEITEM_SHIP_LATENCY = """
WITH lat AS (
  SELECT o.o_orderpriority,
         datediff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
hist AS (
  SELECT o_orderpriority, d, COUNT(*) AS cnt FROM lat GROUP BY 1, 2),
cum AS (
  SELECT o_orderpriority, d, cnt,
         SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS crank
  FROM hist),
tot AS (SELECT o_orderpriority, SUM(cnt) AS n FROM hist GROUP BY 1)
SELECT c.o_orderpriority,
       CAST(t.n AS BIGINT) AS n_items,
       CAST(MIN(CASE WHEN c.crank * 100 >= t.n * 50 THEN c.d END) AS BIGINT) AS p50,
       CAST(MIN(CASE WHEN c.crank * 100 >= t.n * 90 THEN c.d END) AS BIGINT) AS p90,
       CAST(MIN(CASE WHEN c.crank * 100 >= t.n * 99 THEN c.d END) AS BIGINT) AS p99
FROM cum c JOIN tot t ON c.o_orderpriority = t.o_orderpriority
GROUP BY 1, 2
"""


def q_doc_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena share per source: vocabulary size and the
    fraction of terms seen exactly once — a young/diverse source has a
    fat hapax tail; a templated source doesn't. Vocabulary-bounded
    aggregates only."""
    docs = _ts(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("__t")
        )
        .groupBy("source", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("__c") == 1).cast("long")).cast("long").alias("hapax"),
        F.round(
            F.sum((F.col("__c") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_ratio"),
    )


ORACLE_DOC_HAPAX_RATIO = rf"""
WITH tc AS (
  SELECT source, t, COUNT(*) AS c FROM (
    SELECT source, unnest({_DD_TOKENS.format(c='text')}) AS t
    FROM documents)
  GROUP BY 1, 2)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio
FROM tc GROUP BY source
"""


def q_events_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's lifetime value attributed to
    their FIRST event type (total (ts, event_id) order) — the marketing
    attribution rollup. One min_by per user + one |types|-bounded
    rollup; DECIMAL-exact value sums."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("first_type"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("__v"),
    )
    return per_user.groupBy("first_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("__v").cast("double"), 6).alias("total_value"),
    )


ORACLE_EVENTS_FIRST_TOUCH = """
WITH ranked AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
pu AS (
  SELECT r.user_id,
         MAX(CASE WHEN r.rn = 1 THEN r.event_type END) AS first_type,
         SUM(CAST(r.value AS DECIMAL(18,6))) AS v
  FROM ranked r GROUP BY 1)
SELECT first_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       round(CAST(SUM(v) AS DOUBLE), 6) AS total_value
FROM pu GROUP BY first_type
"""


def q_events_daily_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly screen: robust z (|n − median| / MAD) per
    day over daily event counts — the pipeline-health check that flags
    ingest outages and replay storms. The GLOBAL exact median and MAD
    use the bounded-fan partitioned prefix sum over the value
    histogram — zero windows anywhere, demonstrating global exact
    quantiles without a single-partition sort."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("__d")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )

    def _global_median(df: DataFrame, col: str) -> DataFrame:
        hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        hist = hist.localCheckpoint(eager=False)
        # key-domain probe over the tiny histogram keeps the prefix-sum
        # recursion at ONE level (the pack_documents pattern) instead of
        # the static 64-bit depth — the probe job doubles as the
        # checkpoint materialization
        mx = hist.agg(F.max(col).alias("mx")).first()["mx"]
        cum = _exclusive_prefix(hist, col, "__c", "__prev", max_key=mx)
        cum = cum.withColumn("__cum", F.col("__prev") + F.col("__c"))
        tot = hist.agg(F.sum("__c").alias("__t"))
        return (
            cum.crossJoin(F.broadcast(tot))
            .filter(F.col("__cum") * 2 >= F.col("__t"))
            .agg(F.min(col).alias("__med"))
        )

    med = _global_median(daily, "__n")
    dev = daily.crossJoin(F.broadcast(med)).select(
        "__d", "__n", F.abs(F.col("__n") - F.col("__med")).alias("__dev"),
        "__med",
    )
    mad = _global_median(dev.select(F.col("__dev").alias("__n")), "__n")
    out = dev.crossJoin(F.broadcast(mad.withColumnRenamed("__med", "__mad")))
    return out.select(
        F.date_format("__d", "yyyy-MM-dd").alias("day"),
        F.col("__n").cast("long").alias("n_events"),
        F.col("__med").cast("long").alias("median"),
        F.col("__dev").cast("long").alias("abs_dev"),
        F.when(
            F.col("__mad") > 0,
            F.round(F.col("__dev").cast("double") / F.col("__mad"), 6),
        ).alias("robust_z"),
        (
            (F.col("__mad") > 0) & (F.col("__dev") > 3 * F.col("__mad"))
        ).cast("int").alias("is_anomaly"),
    )


ORACLE_EVENTS_DAILY_VOLUME_ANOMALY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1),
h1 AS (SELECT n, COUNT(*) AS c FROM daily GROUP BY 1),
c1 AS (SELECT n, SUM(c) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cum
       FROM h1),
med AS (SELECT MIN(n) AS med FROM c1, (SELECT SUM(c) AS t FROM h1) tt
        WHERE cum * 2 >= tt.t),
dev AS (SELECT d, n, abs(n - med.med) AS dv, med.med FROM daily, med),
h2 AS (SELECT dv, COUNT(*) AS c FROM dev GROUP BY 1),
c2 AS (SELECT dv, SUM(c) OVER (ORDER BY dv ROWS UNBOUNDED PRECEDING) AS cum
       FROM h2),
mad AS (SELECT MIN(dv) AS mad FROM c2, (SELECT SUM(c) AS t FROM h2) tt
        WHERE cum * 2 >= tt.t)
SELECT strftime(dev.d, '%Y-%m-%d') AS day,
       CAST(dev.n AS BIGINT) AS n_events,
       CAST(dev.med AS BIGINT) AS median,
       CAST(dev.dv AS BIGINT) AS abs_dev,
       CASE WHEN mad.mad > 0
            THEN round(CAST(dev.dv AS DOUBLE) / mad.mad, 6) END AS robust_z,
       CAST(CASE WHEN mad.mad > 0 AND dev.dv > 3 * mad.mad
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM dev, mad
"""


def q_doc_keep_policy_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-policy audit: does min-id canonical selection systematically
    keep the SHORTER copy of a duplicate cluster? Per multi-member
    cluster the kept (min-id) token count vs the mean of the dropped
    copies, plus the fraction of clusters where some dropped copy is
    longer — the number that justifies switching to the best_quality
    policy. Cluster-keyed aggregate + one-row rollup."""
    run = _curation(spark, sf_dir)
    base = run.docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.token_count("text").cast("long").alias("__nt"),
    ).join(run.clusters, "doc_id")
    per_cluster = base.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__m"),
        F.sum("__nt").alias("__sum"),
        F.min_by("__nt", "doc_id").alias("__kept"),
        F.max("__nt").alias("__mx"),
    )
    dropped_avg = (F.col("__sum") - F.col("__kept")) / (F.col("__m") - 1)
    return per_cluster.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.round(F.avg(F.col("__kept").cast("double")), 6).alias(
            "avg_tokens_kept"
        ),
        F.round(F.avg(dropped_avg.cast("double")), 6).alias(
            "avg_tokens_dropped"
        ),
        F.round(
            F.avg((F.col("__mx") > F.col("__kept")).cast("double")), 6
        ).alias("frac_dropped_longer"),
    )


def _oracle_doc_keep_policy_bias_sql() -> str:
    return f"""
{_oracle_clusters_cte()}
),
base AS (
  SELECT cl.cluster_id,
         len({_DD_TOKENS.format(c='d.text')}) AS nt,
         d.doc_id
  FROM documents d JOIN cl ON cl.doc_id = d.doc_id),
pc AS (
  SELECT cluster_id, COUNT(*) AS m, SUM(nt) AS s,
         arg_min(nt, doc_id) AS kept, MAX(nt) AS mx
  FROM base GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       round(AVG(CAST(kept AS DOUBLE)), 6) AS avg_tokens_kept,
       round(AVG(CAST(s - kept AS DOUBLE) / (m - 1)), 6)
         AS avg_tokens_dropped,
       round(AVG(CASE WHEN mx > kept THEN 1.0 ELSE 0.0 END), 6)
         AS frac_dropped_longer
FROM pc
"""


def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm histogram of the embedding corpus (0.1-wide buckets) —
    unnormalized vectors silently break cosine-by-dot shortcuts and IVF
    residuals; this is the one-glance check. Sequential-fold norm (the
    engine-portable accumulation), bucket counts bounded by the norm
    range, one-row total attach."""
    emb = _ts(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    bucket = (F.floor(F.sqrt(sq) * 10) / 10.0).alias("norm_bucket")
    cnt = emb.select(bucket).groupBy("norm_bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    tot = cnt.agg(F.sum("__n").cast("double").alias("__t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "norm_bucket",
        F.col("__n").cast("long").alias("n_vectors"),
        F.round(F.col("__n").cast("double") / F.col("__t"), 6).alias("share"),
    )


ORACLE_EMBEDDING_NORM_PROFILE = """
WITH n AS (
  SELECT floor(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           (a, b) -> a + b)) * 10) / 10.0 AS norm_bucket
  FROM embeddings),
cnt AS (SELECT norm_bucket, COUNT(*) AS c FROM n GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnt)
SELECT cnt.norm_bucket,
       CAST(cnt.c AS BIGINT) AS n_vectors,
       round(CAST(cnt.c AS DOUBLE) / tot.t, 6) AS share
FROM cnt CROSS JOIN tot
"""


def q_part_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-cost supplier per part from OBSERVED line items (the TPC-H Q2
    correlated-min shape re-expressed as one grouped argmin — no
    correlated subquery, no self-join): per part, min(struct(unit_price,
    suppkey)) gives the cheapest observed unit price with a total
    deterministic tiebreak, computed with map-side partial aggregation
    on the (partkey) shuffle. The supplier dim attaches by broadcast.
    At 100 TB this is ONE shuffle of partial minima — the naive
    window-row_number form would sort every line item instead."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    up = (F.col("l_extendedprice") / F.col("l_quantity")).alias("__up")
    best = (
        li.select(
            F.col("l_partkey").cast("long").alias("partkey"),
            F.struct(
                up.alias("up"), F.col("l_suppkey").cast("long").alias("sk")
            ).alias("__b"),
        )
        .groupBy("partkey")
        .agg(F.min("__b").alias("__b"))
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("sk"), "s_name"
    )
    return (
        best.select(
            "partkey", F.col("__b.up").alias("__up"), F.col("__b.sk").alias("sk")
        )
        .join(F.broadcast(sup), "sk")
        .select(
            "partkey",
            F.round("__up", 6).alias("best_unit_price"),
            F.col("sk").alias("suppkey"),
            "s_name",
        )
    )


ORACLE_PART_CHEAPEST_SUPPLIER = """
WITH up AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS up
  FROM lineitem WHERE l_quantity > 0),
r AS (
  SELECT l_partkey, l_suppkey, up,
         row_number() OVER (PARTITION BY l_partkey ORDER BY up, l_suppkey) AS rn
  FROM up)
SELECT CAST(r.l_partkey AS BIGINT) AS partkey,
       round(r.up, 6) AS best_unit_price,
       CAST(r.l_suppkey AS BIGINT) AS suppkey,
       s.s_name
FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rn = 1
"""


def q_part_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly promo-type revenue share (the TPC-H Q14 shape): lineitem
    ⋈ broadcast part, conditional DECIMAL-exact discounted revenue per
    ship month. The fact-side scan prunes to three columns; the dim is
    2k rows at any SF of this schema (parts don't grow with history) —
    a hash broadcast, never a shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("__pk"), "p_type"
    )
    rev = (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    )
    j = li.select(
        F.col("l_partkey").alias("__pk"),
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        rev.alias("__rev"),
    ).join(F.broadcast(part), "__pk")
    agg = j.groupBy("month").agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("__rev"))).alias("__p"),
        F.sum("__rev").alias("__t"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    # exact decimal sums surfaced as doubles (the pricing_summary
    # convention): a final cast back to DECIMAL(18,2) would round the
    # sub-cent tail, and Spark (HALF_UP) and DuckDB disagree on halves
    return agg.select(
        "month",
        F.coalesce(F.col("__p"), F.lit(0).cast(_DEC))
        .cast("double")
        .alias("promo_revenue"),
        F.col("__t").cast("double").alias("total_revenue"),
        F.round(
            F.coalesce(F.col("__p"), F.lit(0).cast(_DEC)).cast("double")
            / F.col("__t").cast("double")
            * 100.0,
            6,
        ).alias("promo_share_pct"),
        "n_items",
    )


ORACLE_PART_PROMO_REVENUE = """
WITH j AS (
  SELECT strftime(l.l_shipdate, '%Y-%m') AS month,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))) AS rev,
         p.p_type
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
a AS (
  SELECT month,
         SUM(CASE WHEN p_type = 'PROMO' THEN rev END) AS pr,
         SUM(rev) AS tr,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM j GROUP BY 1)
SELECT month,
       CAST(COALESCE(pr, 0) AS DOUBLE) AS promo_revenue,
       CAST(tr AS DOUBLE) AS total_revenue,
       round(CAST(COALESCE(pr, 0) AS DOUBLE) / CAST(tr AS DOUBLE) * 100.0, 6)
         AS promo_share_pct,
       n_items
FROM a
"""


_EWMA_ALPHA = 0.3


def q_events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA daily-volume anomaly screen: each day's event count vs the
    exponentially-weighted moving average of all PRIOR days (α = 0.3) —
    the streaming-flavored complement to the robust-z screen (EWMA
    adapts to drifting baselines; median/MAD doesn't). EWMA is
    inherently sequential, so the fold runs over the sort_array'd daily
    series in ONE |days|-bounded row — daily counts are the only
    shuffle; no window, no driver loop. Deterministic: the fold order
    is the date order, identical on both engines."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "n"))).alias("__a")
    )
    out_t = "array<struct<d:date,n:double,prior:double>>"
    init = F.struct(
        F.lit(-1.0).alias("prev"),
        F.expr(f"CAST(array() AS {out_t})").alias("out"),
    )

    def _step(acc: Column, x: Column) -> Column:
        prior = acc["prev"]
        nxt = F.when(prior < 0, x["n"]).otherwise(
            F.lit(_EWMA_ALPHA) * x["n"] + F.lit(1.0 - _EWMA_ALPHA) * prior
        )
        rec = F.struct(
            x["d"].alias("d"), x["n"].alias("n"), prior.alias("prior")
        )
        return F.struct(
            nxt.alias("prev"), F.concat(acc["out"], F.array(rec)).alias("out")
        )

    rows = arr.select(
        F.explode(F.aggregate("__a", init, _step)["out"]).alias("r")
    )
    prior = F.col("r.prior")
    n = F.col("r.n")
    return rows.select(
        F.date_format("r.d", "yyyy-MM-dd").alias("day"),
        n.cast("long").alias("n_events"),
        F.when(prior >= 0, F.round(prior, 6)).alias("ewma_prior"),
        F.when(prior > 0, F.round(n / prior, 6)).alias("ratio"),
        F.when(
            (prior > 0) & ((n > 2.0 * prior) | (n < 0.5 * prior)), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_spike"),
    )


ORACLE_EVENTS_EWMA_ANOMALY = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1),
r AS (SELECT d, n, row_number() OVER (ORDER BY d) AS rn FROM daily),
ew AS (
  SELECT rn, d, n, CAST(NULL AS DOUBLE) AS prior, n AS e
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.d, r.n, ew.e AS prior,
         {_EWMA_ALPHA} * r.n + {1.0 - _EWMA_ALPHA} * ew.e AS e
  FROM ew JOIN r ON r.rn = ew.rn + 1)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n_events,
       round(prior, 6) AS ewma_prior,
       CASE WHEN prior > 0 THEN round(n / prior, 6) END AS ratio,
       CAST(CASE WHEN prior > 0 AND (n > 2.0 * prior OR n < 0.5 * prior)
                 THEN 1 ELSE 0 END AS INT) AS is_spike
FROM ew
"""


def q_embedding_fisher_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension Fisher separation score for the label column —
    between-class variance over within-class variance, the classic
    feature-quality ranking (a dim with Fisher ≈ 0 carries no label
    signal; a heavily separating dim dominates cosine similarity within
    a label). All reductions are exact: coordinates quantize to 1e-9
    fixed-point, the (dim, label) partial sums are integer DECIMAL sums
    (map-side combined; |dims|·|labels| groups regardless of corpus
    size), and the per-dim combination across labels is a label-ordered
    sequential fold — nothing order-dependent anywhere."""
    e = _ts(spark, sf_dir, "embeddings")
    x = e.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("dim", "__x"),
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("__x").cast("double") * 1e9, 0).cast("long").alias("__xi"),
    )
    dec = "decimal(38,0)"
    per = x.groupBy("dim", "label").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("__xi").cast(dec)).alias("__si"),
        F.sum((F.col("__xi") * F.col("__xi")).cast(dec)).alias("__s2i"),
    )
    tot = per.groupBy("dim").agg(
        F.sum("__n").cast("long").alias("__nt"),
        F.sum("__si").alias("__sit"),
    )
    mu_l = F.col("__si").cast("double") / 1e9 / F.col("__n")
    mu = F.col("__sit").cast("double") / 1e9 / F.col("__nt")
    terms = per.join(F.broadcast(tot), "dim").select(
        "dim",
        "label",
        "__nt",
        (F.col("__n").cast("double") * (mu_l - mu) * (mu_l - mu)).alias("__bt"),
        (
            F.col("__s2i").cast("double") / 1e18
            - F.col("__n").cast("double") * mu_l * mu_l
        ).alias("__wt"),
    )
    folded = terms.groupBy("dim", "__nt").agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("label", "__bt"))),
                lambda s: s["__bt"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("__b"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("label", "__wt"))),
                lambda s: s["__wt"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("__w"),
    )
    return folded.select(
        "dim",
        "n_labels",
        F.when(F.col("__w") > 0, F.round(F.col("__b") / F.col("__w"), 6)).alias(
            "fisher"
        ),
    )


ORACLE_EMBEDDING_FISHER_SEPARATION = """
WITH x AS (
  SELECT CAST(e.label AS BIGINT) AS label, s.i - 1 AS dim,
         CAST(round(CAST(e.embedding[s.i] AS DOUBLE) * 1e9) AS BIGINT) AS xi
  FROM embeddings e,
       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) s),
per AS (
  SELECT dim, label, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(xi) AS si, SUM(xi * xi) AS s2i
  FROM x GROUP BY 1, 2),
tot AS (SELECT dim, SUM(n) AS nt, SUM(si) AS sit FROM per GROUP BY 1),
terms AS (
  SELECT p.dim, p.label, t.nt,
         CAST(p.n AS DOUBLE)
           * (CAST(p.si AS DOUBLE) / 1e9 / p.n - CAST(t.sit AS DOUBLE) / 1e9 / t.nt)
           * (CAST(p.si AS DOUBLE) / 1e9 / p.n - CAST(t.sit AS DOUBLE) / 1e9 / t.nt)
           AS bt,
         CAST(p.s2i AS DOUBLE) / 1e18
           - CAST(p.n AS DOUBLE) * (CAST(p.si AS DOUBLE) / 1e9 / p.n)
                                 * (CAST(p.si AS DOUBLE) / 1e9 / p.n) AS wt
  FROM per p JOIN tot t ON t.dim = p.dim),
agg AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_labels,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(bt ORDER BY label)), (a, b) -> a + b) AS b,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(wt ORDER BY label)), (a, b) -> a + b) AS w
  FROM terms GROUP BY 1)
SELECT CAST(dim AS BIGINT) AS dim, n_labels,
       CASE WHEN w > 0 THEN round(b / w, 6) END AS fisher
FROM agg
"""


def q_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit-position balance audit: the share of 1s at each of
    the 64 signature positions across the corpus. A healthy hash sits
    near 0.5 everywhere; a skewed bit inflates Hamming-collision rates
    and silently degrades the multi-index pair generator's selectivity —
    this is the one-glance check before trusting simhash banding. Pure
    integer bit counts over a 64-group aggregate; the signature stream
    is the same map-only simhash pass the dedup queries use."""
    docs = _ts(spark, sf_dir, "documents")
    sh = D.simhash(docs, "doc_id", "text")
    bits = sh.select(
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("p"), "simhash"
    ).select(
        F.col("p").cast("long").alias("bit_pos"),
        F.expr(
            "(CAST(conv(substring(simhash, CAST(p div 4 AS INT) + 1, 1), 16, 10)"
            " AS BIGINT) div (CASE CAST(p % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 4"
            " WHEN 2 THEN 2 ELSE 1 END)) % 2"
        ).alias("__b"),
    )
    return bits.groupBy("bit_pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__b").cast("long").alias("n_ones"),
        F.round(
            F.sum("__b").cast("double") / F.count(F.lit(1)), 6
        ).alias("ones_share"),
    )


def _oracle_simhash_bit_balance_sql() -> str:
    return f"""
WITH {_dd_simhash_ctes()},
pos AS (SELECT simhash, unnest(generate_series(0, 63)) AS p FROM sh),
bits AS (
  SELECT p,
         ((CAST(strpos('0123456789abcdef', substr(simhash, (p // 4) + 1, 1))
             AS BIGINT) - 1)
          // (CASE p % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END))
          % 2 AS b
  FROM pos)
SELECT CAST(p AS BIGINT) AS bit_pos,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b) AS BIGINT) AS n_ones,
       round(CAST(SUM(b) AS DOUBLE) / COUNT(*), 6) AS ones_share
FROM bits GROUP BY 1
"""


def q_customer_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration: the smallest number of customers
    whose combined order revenue reaches 80% of the total. Exact and
    fully integer: per-customer revenue in cents, compressed to a
    revenue-value histogram, DESC-cumulated via the bounded-fan-in
    partitioned prefix sum (no unpartitioned window at any scale), the
    80% threshold compared as 5·cum ≥ 4·T in int64, and the partial
    group at the crossing resolved in closed form with a ceiling
    division. The only non-integer outputs are the final display
    round()s."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    o = _t(spark, sf_dir, "orders")
    percust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("__r")
    )
    hist = percust.groupBy("__r").agg(F.count(F.lit(1)).alias("__f"))
    hist = hist.withColumn("__s", F.col("__r") * F.col("__f"))
    hist = hist.localCheckpoint(eager=False)
    mx = hist.agg(F.max("__r").alias("mx")).first()["mx"]
    # both prefixes share one window + one recursion (multi-val form) —
    # previously two full prefix passes equi-joined back on __r
    j = _exclusive_prefix(
        hist, "__r", ["__f", "__s"], ["__pf", "__ps"], max_key=mx
    )
    tot = hist.agg(
        F.sum("__f").cast("long").alias("__N"),
        F.sum("__s").cast("long").alias("__T"),
    )
    x = j.crossJoin(F.broadcast(tot)).select(
        "__r", "__f", "__s", "__N", "__T",
        # ASC exclusive prefixes flip to strict-above suffixes exactly
        (F.col("__N") - F.col("__pf") - F.col("__f")).alias("__above_f"),
        (F.col("__T") - F.col("__ps") - F.col("__s")).alias("__above_s"),
    )
    hit = x.filter(
        (5 * F.col("__above_s") < 4 * F.col("__T"))
        & (5 * (F.col("__above_s") + F.col("__s")) >= 4 * F.col("__T"))
    )
    # ceiling division in EXACT int64 (`div`, never a double round-trip):
    # k = ceil((4T - 5·above_s) / (5r)) customers of the crossing group
    n80 = F.col("__above_f") + F.expr(
        "(4 * __T - 5 * __above_s + 5 * __r - 1) div (5 * __r)"
    )
    return hit.select(
        F.col("__N").alias("n_customers"),
        (F.col("__T").cast("double") / 100).alias("total_revenue"),
        n80.cast("long").alias("n_customers_80"),
        F.round(
            n80.cast("double") / F.col("__N").cast("double") * 100.0, 6
        ).alias("pct_customers_80"),
    )


ORACLE_CUSTOMER_PARETO_COVERAGE = """
WITH pc AS (
  SELECT o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS r
  FROM orders GROUP BY 1),
hist AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS f FROM pc GROUP BY 1),
t AS (SELECT CAST(SUM(f) AS BIGINT) AS N, CAST(SUM(r * f) AS BIGINT) AS T
      FROM hist),
cum AS (
  SELECT r, f, r * f AS s,
         COALESCE(SUM(f) OVER (ORDER BY r DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS above_f,
         COALESCE(SUM(r * f) OVER (ORDER BY r DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS above_s
  FROM hist),
hit AS (
  SELECT c.*, t.N, t.T,
         c.above_f + (4 * t.T - 5 * c.above_s + 5 * c.r - 1) // (5 * c.r) AS n80
  FROM cum c, t
  WHERE 5 * c.above_s < 4 * t.T AND 5 * (c.above_s + c.s) >= 4 * t.T)
SELECT CAST(N AS BIGINT) AS n_customers,
       CAST(T AS DOUBLE) / 100 AS total_revenue,
       CAST(n80 AS BIGINT) AS n_customers_80,
       round(CAST(n80 AS DOUBLE) / CAST(N AS DOUBLE) * 100.0, 6)
         AS pct_customers_80
FROM hit
"""


_OOV_VOCAB_K = 16


def q_doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary occurrence rate per source against the corpus
    top-K vocabulary — the tokenizer-coverage health number (a source
    whose token mass falls outside the head vocabulary will fragment
    into long BPE tails and inflate training cost). Two vocab-bounded
    aggregates: corpus term counts (map-side combined), then per-
    (source, term) counts joined against the broadcast K-row head —
    nothing scales with document count except the first scan."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("w")
    )
    head = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), "w")
        .limit(_OOV_VOCAB_K)
        .select("w", F.lit(1).alias("__in"))
    )
    per_src = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("__n"))
    j = per_src.join(F.broadcast(head), "w", "left")
    return j.groupBy("source").agg(
        F.sum("__n").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), F.col("__n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(
                F.when(F.col("__in").isNull(), F.col("__n")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("__n").cast("double"),
            6,
        ).alias("oov_rate"),
    )


ORACLE_DOC_OOV_RATE = f"""
WITH tok AS (
  SELECT source, unnest({_DD_TOKENS.format(c='text')}) AS w
  FROM (SELECT source, lower(text) AS text FROM documents)),
head AS (
  SELECT w FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1)
  ORDER BY c DESC, w LIMIT {_OOV_VOCAB_K}),
ps AS (SELECT source, w, COUNT(*) AS n FROM tok GROUP BY 1, 2),
j AS (
  SELECT ps.source, ps.n, (h.w IS NOT NULL) AS inv
  FROM ps LEFT JOIN head h ON h.w = ps.w)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN NOT inv THEN n ELSE 0 END) AS BIGINT) AS n_oov,
       round(CAST(SUM(CASE WHEN NOT inv THEN n ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE), 6) AS oov_rate
FROM j GROUP BY 1
"""


def q_events_type_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: Jaccard of the user sets of
    every type pair — 'do buyers also search, or are these disjoint
    populations'. Distinct (user, type) once, per-type distinct counts,
    and common-user counts via a user-keyed self-join whose fan-out per
    user is bounded by |types| — output and every aggregate are
    |types|²-bounded regardless of event volume."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    per = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    common = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    j = (
        common.join(
            F.broadcast(
                per.select(F.col("event_type").alias("type_a"), F.col("__n").alias("__na"))
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                per.select(F.col("event_type").alias("type_b"), F.col("__n").alias("__nb"))
            ),
            "type_b",
        )
    )
    return j.select(
        "type_a",
        "type_b",
        F.col("__c").cast("long").alias("n_common_users"),
        F.round(
            F.col("__c").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__c")).cast("double"),
            6,
        ).alias("user_jaccard"),
    )


ORACLE_EVENTS_TYPE_AUDIENCE_OVERLAP = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
per AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
common AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS c
  FROM ut a JOIN ut b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT c.type_a, c.type_b,
       CAST(c.c AS BIGINT) AS n_common_users,
       round(CAST(c.c AS DOUBLE)
             / CAST(na.n + nb.n - c.c AS DOUBLE), 6) AS user_jaccard
FROM common c
JOIN per na ON na.event_type = c.type_a
JOIN per nb ON nb.event_type = c.type_b
"""


_ZIPF_K = 1000


def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the term-frequency head: OLS of ln(count) on
    ln(rank) for the top-K terms — slope ≈ −1 is the healthy natural-
    language signature; a flat slope flags template/boilerplate corpora
    and a cliff flags truncated vocabularies. The head is a K-row
    TakeOrdered (count desc, term); ranks, logs, and all five OLS sums
    are rank-ordered sequential folds over ONE K-bounded array — exact
    reproducibility at any parallelism, no unordered float reduction."""
    docs = _ts(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(X.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), "w")
        .limit(_ZIPF_K)
    )
    arr = counts.agg(
        F.sort_array(
            F.collect_list(F.struct((-F.col("__c")).alias("nc"), "w"))
        ).alias("__a")
    )
    xy = F.transform(
        F.col("__a"),
        lambda s, i: F.struct(
            F.log((i + 1).cast("double")).alias("x"),
            F.log((-s["nc"]).cast("double")).alias("y"),
        ),
    )

    def _fold(field: str) -> Column:
        return F.aggregate(
            F.col("__t"),
            F.lit(0.0),
            lambda a, s: a + s[field],
        )

    terms = arr.select(
        xy.alias("__t"), F.size("__a").cast("double").alias("__k")
    ).select(
        "__k",
        _fold("x").alias("__sx"),
        _fold("y").alias("__sy"),
        F.aggregate(
            F.col("__t"), F.lit(0.0), lambda a, s: a + s["x"] * s["x"]
        ).alias("__sxx"),
        F.aggregate(
            F.col("__t"), F.lit(0.0), lambda a, s: a + s["x"] * s["y"]
        ).alias("__sxy"),
        F.aggregate(
            F.col("__t"), F.lit(0.0), lambda a, s: a + s["y"] * s["y"]
        ).alias("__syy"),
    )
    k = F.col("__k")
    cov = k * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = k * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = k * F.col("__syy") - F.col("__sy") * F.col("__sy")
    return terms.select(
        k.cast("long").alias("n_terms"),
        F.round(cov / vx, 6).alias("zipf_slope"),
        F.round(
            (F.col("__sy") - cov / vx * F.col("__sx")) / k, 6
        ).alias("intercept"),
        F.when(vy > 0, F.round(cov * cov / (vx * vy), 6)).alias("r2"),
    )


ORACLE_CORPUS_ZIPF_FIT = f"""
WITH tok AS (
  SELECT unnest({_DD_TOKENS.format(c='text')}) AS w
  FROM (SELECT lower(text) AS text FROM documents)),
head AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
  ORDER BY c DESC, w LIMIT {_ZIPF_K}),
arr AS (
  SELECT list(struct_pack(x := ln(CAST(rn AS DOUBLE)),
                          y := ln(CAST(c AS DOUBLE))) ORDER BY rn) AS t,
         CAST(COUNT(*) AS DOUBLE) AS k
  FROM (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM head)),
sums AS (
  SELECT k,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(t, s -> s.x)), (a, b) -> a + b) AS sx,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(t, s -> s.y)), (a, b) -> a + b) AS sy,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(t, s -> s.x * s.x)), (a, b) -> a + b) AS sxx,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(t, s -> s.x * s.y)), (a, b) -> a + b) AS sxy,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(t, s -> s.y * s.y)), (a, b) -> a + b) AS syy
  FROM arr)
SELECT CAST(k AS BIGINT) AS n_terms,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
         AS intercept,
       CASE WHEN k * syy - sy * sy > 0
            THEN round((k * sxy - sx * sy) * (k * sxy - sx * sy)
                       / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6)
       END AS r2
FROM sums
"""


def q_embedding_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-dimension p01/median/p99 of the embedding coordinates —
    the saturation/clipping screen that a mean/std profile misses
    (quantization and fp16 export clip tails first). Discrete (lower)
    quantiles over the 1e-9-quantized VALUE HISTOGRAM per dim: the
    cumulative window is PARTITIONED by dim (64 shards at any corpus
    size) and runs over distinct-value rows, never raw coordinates; the
    rank threshold compares in exact int64 (100·cum ≥ q·n — no float
    rank arithmetic)."""
    e = _ts(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "__x")).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("__x").cast("double") * 1e9, 0).cast("long").alias("__xi"),
    )
    hist = x.groupBy("dim", "__xi").agg(F.count(F.lit(1)).alias("__f"))
    w = (
        Window.partitionBy("dim")
        .orderBy("__xi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("__cum", F.sum("__f").over(w))
    tot = hist.groupBy("dim").agg(F.sum("__f").alias("__n"))
    j = cum.join(F.broadcast(tot), "dim")

    def _q(pct: int) -> Column:
        return F.min(
            F.when(100 * F.col("__cum") >= pct * F.col("__n"), F.col("__xi"))
        )

    agg = j.groupBy("dim").agg(
        F.max("__n").cast("long").alias("n"),
        _q(1).alias("__p01"),
        _q(50).alias("__p50"),
        _q(99).alias("__p99"),
    )
    return agg.select(
        "dim",
        "n",
        F.round(F.col("__p01").cast("double") / 1e9, 6).alias("p01"),
        F.round(F.col("__p50").cast("double") / 1e9, 6).alias("p50"),
        F.round(F.col("__p99").cast("double") / 1e9, 6).alias("p99"),
    )


ORACLE_EMBEDDING_DIM_QUANTILES = """
WITH x AS (
  SELECT s.i - 1 AS dim,
         CAST(round(CAST(e.embedding[s.i] AS DOUBLE) * 1e9) AS BIGINT) AS xi
  FROM embeddings e,
       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) s),
hist AS (SELECT dim, xi, COUNT(*) AS f FROM x GROUP BY 1, 2),
cum AS (
  SELECT dim, xi, f,
         SUM(f) OVER (PARTITION BY dim ORDER BY xi
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM hist),
tot AS (SELECT dim, SUM(f) AS n FROM hist GROUP BY 1),
agg AS (
  SELECT c.dim, CAST(t.n AS BIGINT) AS n,
         MIN(CASE WHEN 100 * c.c >= 1 * t.n THEN c.xi END) AS p01i,
         MIN(CASE WHEN 100 * c.c >= 50 * t.n THEN c.xi END) AS p50i,
         MIN(CASE WHEN 100 * c.c >= 99 * t.n THEN c.xi END) AS p99i
  FROM cum c JOIN tot t ON t.dim = c.dim
  GROUP BY 1, 2)
SELECT CAST(dim AS BIGINT) AS dim, n,
       round(CAST(p01i AS DOUBLE) / 1e9, 6) AS p01,
       round(CAST(p50i AS DOUBLE) / 1e9, 6) AS p50,
       round(CAST(p99i AS DOUBLE) / 1e9, 6) AS p99
FROM agg
"""


def q_orders_interarrival_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer order inter-arrival gaps in fixed
    day bands — the repeat-purchase cadence profile (and the input a
    re-engagement trigger is tuned against). One customer-partitioned
    LAG over a total (date, orderkey) order, integer day gaps, then a
    |bands|-bounded rollup with a one-row total attach."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("__d", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("__d")
        )
        .withColumn("__gap", F.datediff(F.col("__d"), F.lag("__d").over(w)))
        .filter(F.col("__gap").isNotNull())
    )
    band = (
        F.when(F.col("__gap") == 0, "0d")
        .when(F.col("__gap") <= 7, "1-7d")
        .when(F.col("__gap") <= 30, "8-30d")
        .when(F.col("__gap") <= 90, "31-90d")
        .otherwise("90d+")
    )
    cnt = gaps.select(band.alias("gap_band")).groupBy("gap_band").agg(
        F.count(F.lit(1)).alias("__n")
    )
    tot = cnt.agg(F.sum("__n").cast("double").alias("__t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "gap_band",
        F.col("__n").cast("long").alias("n_gaps"),
        F.round(F.col("__n").cast("double") / F.col("__t"), 6).alias("share"),
    )


ORACLE_ORDERS_INTERARRIVAL_DIST = """
WITH g AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         lag(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS pd
  FROM orders),
gaps AS (SELECT date_diff('day', pd, d) AS gap FROM g WHERE pd IS NOT NULL),
cnt AS (
  SELECT CASE WHEN gap = 0 THEN '0d'
              WHEN gap <= 7 THEN '1-7d'
              WHEN gap <= 30 THEN '8-30d'
              WHEN gap <= 90 THEN '31-90d'
              ELSE '90d+' END AS gap_band,
         COUNT(*) AS n
  FROM gaps GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cnt)
SELECT gap_band, CAST(n AS BIGINT) AS n_gaps,
       round(CAST(n AS DOUBLE) / tot.t, 6) AS share
FROM cnt CROSS JOIN tot
"""


_PREFIX_TOKENS = 8


def q_doc_prefix_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of documents per source whose leading-token prefix is
    shared with at least one other document — the boilerplate/template
    screen that whole-document hashing misses (same header, different
    tail). Prefix keys group once (map-side combined); counts re-attach
    by an equi-join on the prefix key, so nothing is quadratic in
    corpus size."""
    docs = _ts(spark, sf_dir, "documents")
    pre = docs.select(
        "source",
        F.concat_ws(
            " ", F.slice(X.tokens(F.lower(F.col("text"))), 1, _PREFIX_TOKENS)
        ).alias("__p"),
    )
    counts = pre.groupBy("__p").agg(F.count(F.lit(1)).alias("__c"))
    j = pre.join(counts, "__p")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("__c") > 1).cast("long")).cast("long").alias("n_prefix_dup"),
        F.round(
            F.sum((F.col("__c") > 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("prefix_dup_rate"),
    )


ORACLE_DOC_PREFIX_DUP_RATE = f"""
WITH pre AS (
  SELECT source,
         array_to_string(list_slice({_DD_TOKENS.format(c='text')},
                                    1, {_PREFIX_TOKENS}), ' ') AS p
  FROM (SELECT source, lower(text) AS text FROM documents)),
cnt AS (SELECT p, COUNT(*) AS c FROM pre GROUP BY 1),
j AS (SELECT pre.source, cnt.c FROM pre JOIN cnt ON cnt.p = pre.p)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_prefix_dup,
       round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS prefix_dup_rate
FROM j GROUP BY 1
"""


def q_events_funnel_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert profile for the view → purchase funnel: exact
    p50/p90/p99 of first-view→first-purchase lag (minutes) over users
    whose first purchase follows their first view. The quantiles run on
    the lag-minute VALUE HISTOGRAM through the bounded-fan partitioned
    prefix sum (no unpartitioned window at any user count) and the rank
    thresholds compare in exact int64 (100·cum ≥ q·n)."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    ev = _t(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__tv"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__tp"))
    )
    lag = (
        fv.join(fp, "user_id")
        .filter(F.col("__tp") >= F.col("__tv"))
        .select(
            (
                (
                    F.unix_timestamp("__tp") - F.unix_timestamp("__tv")
                ) / 60
            ).cast("long").alias("__m")
        )
    )
    hist = lag.groupBy("__m").agg(F.count(F.lit(1)).alias("__f"))
    hist = hist.localCheckpoint(eager=False)
    mx = hist.agg(F.max("__m").alias("mx")).first()
    mx = mx["mx"] if mx["mx"] is not None else 0
    cum = _exclusive_prefix(hist, "__m", "__f", "__prev", max_key=mx)
    cum = cum.withColumn("__cum", F.col("__prev") + F.col("__f"))
    tot = hist.agg(F.sum("__f").alias("__n"))
    j = cum.crossJoin(F.broadcast(tot))

    def _q(pct: int) -> Column:
        return F.min(
            F.when(100 * F.col("__cum") >= pct * F.col("__n"), F.col("__m"))
        )

    return j.agg(
        F.max("__n").cast("long").alias("n_conversions"),
        _q(50).cast("long").alias("p50_minutes"),
        _q(90).cast("long").alias("p90_minutes"),
        _q(99).cast("long").alias("p99_minutes"),
        # zero-conversion corpora: the oracle's GROUP BY tot.n emits zero
        # rows, so drop Spark's all-NULL global-agg row to match that shape
    ).filter(F.col("n_conversions").isNotNull())


ORACLE_EVENTS_FUNNEL_CONVERSION_LAG = """
WITH fv AS (SELECT user_id, MIN(ts) AS tv FROM events
            WHERE event_type = 'view' GROUP BY 1),
fp AS (SELECT user_id, MIN(ts) AS tp FROM events
       WHERE event_type = 'purchase' GROUP BY 1),
lag AS (
  SELECT (CAST(floor(epoch(tp)) AS BIGINT)
          - CAST(floor(epoch(tv)) AS BIGINT)) // 60 AS m
  FROM fv JOIN fp USING (user_id) WHERE tp >= tv),
hist AS (SELECT m, COUNT(*) AS f FROM lag GROUP BY 1),
cum AS (SELECT m, f, SUM(f) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS c
        FROM hist),
tot AS (SELECT SUM(f) AS n FROM hist)
SELECT CAST(tot.n AS BIGINT) AS n_conversions,
       CAST(MIN(CASE WHEN 100 * cum.c >= 50 * tot.n THEN cum.m END) AS BIGINT)
         AS p50_minutes,
       CAST(MIN(CASE WHEN 100 * cum.c >= 90 * tot.n THEN cum.m END) AS BIGINT)
         AS p90_minutes,
       CAST(MIN(CASE WHEN 100 * cum.c >= 99 * tot.n THEN cum.m END) AS BIGINT)
         AS p99_minutes
FROM cum, tot GROUP BY tot.n
"""


def q_embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) on the
    deterministic vec_id < 100 sample: d = (n−1) / Σ ln(r2/r1) from each
    point's two nearest cosine distances. The effective dimensionality
    check before trusting IVF cell counts or PQ subspace budgets — a
    64-dim table whose data lives on a 9-dim manifold wants very
    different ANN parameters. Distances come from the audited
    brute-force top-k (query side broadcast, corpus scanned once);
    r1/r2 quantize to 1e-9 fixed-point so the ratio is a ratio of exact
    integers, and the log-sum folds in query-id order."""
    emb = _ts(spark, sf_dir, "embeddings")
    nn = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 100), k=2)
    per_q = nn.groupBy("query_id").agg(
        F.round((1.0 - F.max(F.when(F.col("rank") == 1, F.col("cos_sim")))) * 1e9, 0)
        .cast("long")
        .alias("__r1"),
        F.round((1.0 - F.max(F.when(F.col("rank") == 2, F.col("cos_sim")))) * 1e9, 0)
        .cast("long")
        .alias("__r2"),
    )
    valid = per_q.filter(
        (F.col("__r1") > 0) & (F.col("__r2") >= F.col("__r1"))
    ).select(
        "query_id",
        F.log(F.col("__r2").cast("double") / F.col("__r1").cast("double")).alias("__lmu"),
    )
    agg = valid.agg(
        F.count(F.lit(1)).cast("long").alias("n_valid"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("query_id", F.col("__lmu").alias("x")))
            ),
            F.lit(0.0),
            lambda a, s: a + s["x"],
        ).alias("__s"),
    )
    return agg.select(
        "n_valid",
        F.when(
            F.col("__s") > 0,
            F.round((F.col("n_valid") - 1).cast("double") / F.col("__s"), 6),
        ).alias("intrinsic_dim"),
    )


ORACLE_EMBEDDING_INTRINSIC_DIM = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 100),
v AS (SELECT vec_id AS neighbor_id, embedding AS vv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b)
    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (a,b) -> a + b))
      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(vv)), i -> CAST(vv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b))) AS cos_sim
  FROM q, v WHERE query_id <> neighbor_id),
ranked AS (
  SELECT query_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored),
rr AS (
  SELECT query_id,
         CAST(round((1.0 - MAX(CASE WHEN rank = 1 THEN cos_sim END)) * 1e9)
              AS BIGINT) AS r1,
         CAST(round((1.0 - MAX(CASE WHEN rank = 2 THEN cos_sim END)) * 1e9)
              AS BIGINT) AS r2
  FROM ranked WHERE rank <= 2 GROUP BY 1),
valid AS (
  SELECT query_id, ln(CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE)) AS lmu
  FROM rr WHERE r1 > 0 AND r2 >= r1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(lmu ORDER BY query_id)),
                     (a, b) -> a + b) AS s
  FROM valid)
SELECT n_valid,
       CASE WHEN s > 0
            THEN round(CAST(n_valid - 1 AS DOUBLE) / s, 6) END AS intrinsic_dim
FROM agg
"""


def q_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between source unigram
    distributions (symmetric, bounded — the mixture-design distance
    `source_ngram_kl`'s corpus-anchored KL can't give): add-1 smoothing
    over the shared corpus vocabulary on a |sources|×|vocab| grid, JSD
    folded in term order per pair. Every frame is dimension-bounded
    (sources × vocab), independent of document count."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("t")
    )
    sc = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    vocab = tok.select("t").distinct()
    vtot = vocab.agg(F.count(F.lit(1)).cast("double").alias("__V"))
    stot = sc.groupBy("source").agg(F.sum("__c").alias("__T"))
    grid = (
        stot.crossJoin(vocab)
        .join(sc, ["source", "t"], "left")
        .crossJoin(F.broadcast(vtot))
        .select(
            "source",
            "t",
            (
                (F.coalesce(F.col("__c"), F.lit(0.0)) + 1.0)
                / (F.col("__T") + F.col("__V"))
            ).alias("__p"),
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"), "t", F.col("__p").alias("__pa")
    )
    b = grid.select(
        F.col("source").alias("source_b"), "t", F.col("__p").alias("__pb")
    )
    pairs = a.join(b, "t").filter(F.col("source_a") < F.col("source_b"))
    m = (F.col("__pa") + F.col("__pb")) / 2.0
    contrib = 0.5 * F.col("__pa") * (F.log(F.col("__pa")) - F.log(m)) + (
        0.5 * F.col("__pb") * (F.log(F.col("__pb")) - F.log(m))
    )
    per_term = pairs.select(
        "source_a",
        "source_b",
        F.struct(F.col("t").alias("t"), contrib.alias("x")).alias("__tx"),
    )
    return (
        per_term.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.aggregate(
                F.array_sort(F.collect_list("__tx")),
                F.lit(0.0),
                lambda acc, s: acc + s["x"],
            ).alias("__jsd"),
        )
        .select(
            "source_a", "source_b", "n_terms", F.round("__jsd", 6).alias("jsd")
        )
    )


ORACLE_SOURCE_JS_DIVERGENCE = rf"""
WITH tok AS (
  SELECT source, unnest({_DD_TOKENS.format(c='text')}) AS t
  FROM (SELECT source, lower(text) AS text FROM documents)),
sc AS (SELECT source, t, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2),
vocab AS (SELECT DISTINCT t FROM tok),
vt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM vocab),
st AS (SELECT source, SUM(c) AS ts FROM sc GROUP BY 1),
grid AS (
  SELECT st.source, vocab.t,
         (COALESCE(sc.c, 0.0) + 1.0) / (st.ts + vt.nv) AS p
  FROM st CROSS JOIN vocab
  LEFT JOIN sc ON sc.source = st.source AND sc.t = vocab.t, vt),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.t,
         0.5 * a.p * (ln(a.p) - ln((a.p + b.p) / 2.0))
         + 0.5 * b.p * (ln(b.p) - ln((a.p + b.p) / 2.0)) AS x
  FROM grid a JOIN grid b ON a.t = b.t AND a.source < b.source)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_terms,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(x ORDER BY t)), (a, b) -> a + b), 6) AS jsd
FROM pairs GROUP BY 1, 2
"""


_QUANT_BITS = (8, 4, 2)


def q_embedding_quant_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-width sweep: corpus reconstruction error at int8 /
    int4 / int2 symmetric scalar quantization from ONE scan — the
    bits-per-weight budget table read before shipping compressed
    shortlists (the single-width `embedding_quantize` gives the per-
    vector view; this gives the corpus tradeoff curve). Per-vector max
    abs error quantizes to 1e-9 fixed-point so the corpus mean is an
    exact integer sum; worst-case is an order-independent MAX. The
    sweep unpivots in-row (array explode) — no per-width rescan."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.col("__v")
    staged = emb.select(
        F.col("vec_id").alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("__v"),
        *[
            S.quantize_scale(F.col("embedding"), bits=b).alias(f"__s{b}")
            for b in _QUANT_BITS
        ],
    )

    def _err(b: int) -> Column:
        s = F.col(f"__s{b}")
        per = F.aggregate(
            F.transform(
                v,
                lambda x: F.when(
                    s > 0, F.abs(x - F.floor(x / s + F.lit(0.5)) * s)
                ).otherwise(F.abs(x)),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        )
        return F.round(per * 1e9, 0).cast("long")

    rows = staged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("bits"),
                        _err(b).alias("e"),
                    )
                    for b in _QUANT_BITS
                ]
            )
        ).alias("r")
    ).select(F.col("r.bits").alias("bits"), F.col("r.e").alias("__e"))
    agg = rows.groupBy("bits").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.col("__e").cast("decimal(38,0)")).alias("__se"),
        F.max("__e").alias("__mx"),
    )
    return agg.select(
        "bits",
        "n_vectors",
        F.round(
            F.col("__se").cast("double") / 1e9 / F.col("n_vectors"), 6
        ).alias("mean_max_err"),
        F.round(F.col("__mx").cast("double") / 1e9, 6).alias("worst_err"),
    )


def _oracle_embedding_quant_sweep_sql() -> str:
    parts = []
    for b in _QUANT_BITS:
        qmax = float(2 ** (b - 1) - 1)
        scale = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), "
            f"(a, x) -> greatest(a, x)) / {qmax}"
        )
        parts.append(f"""
e{b} AS (
  SELECT CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x ->
             CASE WHEN s.s > 0
                  THEN abs(CAST(x AS DOUBLE)
                           - floor(CAST(x AS DOUBLE) / s.s + 0.5) * s.s)
                  ELSE abs(CAST(x AS DOUBLE)) END)),
           (a, x) -> greatest(a, x)) * 1e9) AS BIGINT) AS e
  FROM (SELECT embedding, {scale} AS s FROM embeddings) s)""")
    selects = "\nUNION ALL ".join(
        f"""SELECT CAST({b} AS BIGINT) AS bits,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       round(CAST(SUM(e) AS DOUBLE) / 1e9 / COUNT(*), 6) AS mean_max_err,
       round(CAST(MAX(e) AS DOUBLE) / 1e9, 6) AS worst_err
FROM e{b}"""
        for b in _QUANT_BITS
    )
    return "WITH " + ",".join(p for p in parts) + "\n" + selects


def q_dedup_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation of the two cheap near-dup detectors: how many
    candidate pairs MinHash-LSH banding and SimHash Hamming(≤3) agree
    on. High disagreement means the detectors see different duplicate
    populations (shingle-level vs token-set-level similarity) and a
    curation run should union them; near-total agreement licenses
    running only the cheaper one. Composes the two audited pipelines
    and full-outer-joins their |pairs|-bounded outputs — one row out."""
    docs = _ts(spark, sf_dir, "documents")
    # the two detector pipelines are independent — build them from two
    # driver threads so their construction-time probe/checkpoint jobs
    # interleave instead of running serially (r12, §2.6 idiom; A/B
    # measured 2.5 s vs 3.1 s serial)
    mh, hp = run_concurrently([
        lambda: D.minhash_lsh_candidates(
            docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS,
            shingle_n=3,
        ).select("id_a", "id_b", F.lit(1).alias("__m")),
        lambda: D.simhash_hamming_pairs(
            docs, "doc_id", "text", max_dist=3
        ).select("id_a", "id_b", F.lit(1).alias("__h")),
    ], max_workers=2)
    j = mh.join(hp, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.sum(F.coalesce(F.col("__m"), F.lit(0))).cast("long").alias("n_minhash"),
        F.sum(F.coalesce(F.col("__h"), F.lit(0))).cast("long").alias("n_hamming"),
        F.sum(
            (F.col("__m").isNotNull() & F.col("__h").isNotNull()).cast("long")
        ).cast("long").alias("n_both"),
        F.round(
            F.sum(
                (F.col("__m").isNotNull() & F.col("__h").isNotNull()).cast(
                    "long"
                )
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("agreement_jaccard"),
    )


def _oracle_dedup_detector_agreement_sql() -> str:
    return f"""
WITH mh AS (SELECT id_a, id_b FROM ({_oracle_minhash_lsh_sql()})),
hp AS (SELECT id_a, id_b FROM ({_oracle_simhash_hamming_sql(max_dist=3, bands=4)})),
j AS (
  SELECT COALESCE(mh.id_a, hp.id_a) AS id_a,
         (mh.id_a IS NOT NULL) AS m, (hp.id_a IS NOT NULL) AS h
  FROM mh FULL OUTER JOIN hp ON mh.id_a = hp.id_a AND mh.id_b = hp.id_b)
SELECT CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
       CAST(SUM(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS n_hamming,
       CAST(SUM(CASE WHEN m AND h THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       round(CAST(SUM(CASE WHEN m AND h THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS agreement_jaccard
FROM j
"""


_ENTROPY_BUCKETS = 256


def q_corpus_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level conditional entropy H(next | prev) = H(bigram) −
    H(unigram) — the LM-difficulty number one order up from the char-
    pair entropy (how much a 1-token context actually constrains the
    next token in this corpus). Every Σ c·ln c reduction whose operand
    count grows with the vocabulary folds deterministically in TWO
    levels: md5-bucketed term folds (≤256 buckets, each term-ordered)
    then one bucket-ordered fold — exact reproducibility without ever
    collecting the whole vocabulary into one array."""
    docs = _ts(spark, sf_dir, "documents")

    def _h(counts: DataFrame, key: str):
        c_d = F.col("__c").cast("double")
        per = counts.select(
            F.col(key).alias("__k"),
            "__c",
            F.pmod(D._md5_long(F.col(key), 0), F.lit(_ENTROPY_BUCKETS)).alias(
                "__b"
            ),
            (c_d * F.log(c_d)).alias("__x"),
        )
        bsum = per.groupBy("__b").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("__k", F.col("__x").alias("x")))),
                F.lit(0.0),
                lambda a, s: a + s["x"],
            ).alias("__bx")
        )
        s = bsum.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("__b", F.col("__bx").alias("x")))),
                F.lit(0.0),
                lambda a, t: a + t["x"],
            ).alias("__s")
        )
        tot = counts.agg(
            F.sum("__c").cast("long").alias("__t"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
        return s, tot

    # r13 (§2.4, §1.2): ONE scan+explode for both gram orders — tokens
    # never contain whitespace (split on \s+), bigrams always do (space-
    # joined), so the unigram and bigram streams are disjoint and one
    # map-side-combined count over their concat serves both. The staged
    # gram-count frame is a lazy checkpoint: the `uni`/`big` filters push
    # through the aggregate onto the grouping key (so the four `_h`
    # consumers would NOT hit ReuseExchange — their pre-aggregate filters
    # differ) and re-reading the vocabulary-sized checkpoint blocks beats
    # re-running the regexp tokenize+explode+aggregate per consumer (the
    # old shape paid that pipeline 4×: s-chain and tot for each order).
    grams = (
        docs.select(
            F.explode(
                F.concat(
                    X.tokens(F.lower(F.col("text"))),
                    X.word_shingles(F.col("text"), 2),
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    uni = grams.filter(~F.col("g").contains(" ")).withColumnRenamed("g", "t")
    big = grams.filter(F.col("g").contains(" ")).withColumnRenamed("g", "bg")
    su, tu = _h(uni, "t")
    sb, tb = _h(big, "bg")
    row = (
        tu.withColumnRenamed("__t", "__tu").withColumnRenamed("__n", "n_unigrams")
        .crossJoin(F.broadcast(su.withColumnRenamed("__s", "__su")))
        .crossJoin(
            F.broadcast(
                tb.withColumnRenamed("__t", "__tb").withColumnRenamed(
                    "__n", "n_bigrams"
                )
            )
        )
        .crossJoin(F.broadcast(sb.withColumnRenamed("__s", "__sb")))
    )
    tu_d = F.col("__tu").cast("double")
    tb_d = F.col("__tb").cast("double")
    h_uni = F.log(tu_d) - F.col("__su") / tu_d
    h_big = F.log(tb_d) - F.col("__sb") / tb_d
    return row.select(
        "n_unigrams",
        "n_bigrams",
        F.round(h_uni, 6).alias("h_unigram"),
        F.round(h_big, 6).alias("h_bigram"),
        F.round(h_big - h_uni, 6).alias("cond_entropy"),
    )


ORACLE_CORPUS_BIGRAM_COND_ENTROPY = rf"""
WITH tok AS (
  SELECT unnest({_DD_TOKENS.format(c='text')}) AS t FROM documents),
tk AS (SELECT {_DD_TOKENS.format(c='text')} AS a FROM documents),
bgs AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(a) - 1, 0)),
                i -> a[i] || ' ' || a[i + 1])) AS bg
  FROM tk),
uc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
bc AS (SELECT bg, COUNT(*) AS c FROM bgs GROUP BY 1),
ub AS (SELECT t, ({_dd_md5_long("concat('0:', t)")}) % {_ENTROPY_BUCKETS} AS b,
              CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS x
       FROM uc),
ubs AS (SELECT b, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(x ORDER BY t)), (a, v) -> a + v) AS bx
        FROM ub GROUP BY 1),
us AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(bx ORDER BY b)), (a, v) -> a + v) AS s FROM ubs),
ut AS (SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM uc),
bb AS (SELECT bg, ({_dd_md5_long("concat('0:', bg)")}) % {_ENTROPY_BUCKETS} AS b,
              CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS x
       FROM bc),
bbs AS (SELECT b, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(x ORDER BY bg)), (a, v) -> a + v) AS bx
        FROM bb GROUP BY 1),
bs AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(bx ORDER BY b)), (a, v) -> a + v) AS s FROM bbs),
bt AS (SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM bc)
SELECT ut.n AS n_unigrams, bt.n AS n_bigrams,
       round(ln(CAST(ut.t AS DOUBLE)) - us.s / CAST(ut.t AS DOUBLE), 6)
         AS h_unigram,
       round(ln(CAST(bt.t AS DOUBLE)) - bs.s / CAST(bt.t AS DOUBLE), 6)
         AS h_bigram,
       round((ln(CAST(bt.t AS DOUBLE)) - bs.s / CAST(bt.t AS DOUBLE))
             - (ln(CAST(ut.t AS DOUBLE)) - us.s / CAST(ut.t AS DOUBLE)), 6)
         AS cond_entropy
FROM ut, bt, us, bs
"""


def q_embedding_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label agreement per class on the deterministic vec_id < 100
    sample — the cleanlab-style label-noise screen: a class whose
    members' nearest neighbors mostly carry OTHER labels is either
    mislabeled or not separable in this embedding space (read next to
    `embedding_fisher_separation`, which scores dimensions instead of
    points). Composes the audited brute-force top-k (query side
    broadcast); label attach is two id-keyed equi-joins; output is
    |labels|-bounded."""
    emb = _ts(spark, sf_dir, "embeddings")
    labels = emb.select(F.col("vec_id").alias("__id"), F.col("label").alias("__l"))
    nn = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 100), k=1)
    j = (
        nn.join(
            labels.select(
                F.col("__id").alias("query_id"), F.col("__l").alias("__ql")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("__id").alias("neighbor_id"), F.col("__l").alias("__nl")
            ),
            "neighbor_id",
        )
    )
    return j.groupBy(F.col("__ql").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum((F.col("__ql") == F.col("__nl")).cast("long"))
        .cast("long")
        .alias("n_agree"),
        F.round(
            F.sum((F.col("__ql") == F.col("__nl")).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("agree_rate"),
    )


ORACLE_EMBEDDING_KNN_LABEL_AGREEMENT = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 100),
v AS (SELECT vec_id AS neighbor_id, embedding AS vv, label AS nl
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, ql, nl,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b)
    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (a,b) -> a + b))
      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(vv)), i -> CAST(vv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b))) AS cos_sim
  FROM q, v WHERE query_id <> neighbor_id),
ranked AS (
  SELECT ql, nl,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT CAST(ql AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN ql = nl THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       round(CAST(SUM(CASE WHEN ql = nl THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS agree_rate
FROM ranked WHERE rank = 1 GROUP BY 1
"""


_MINHASH_SWEEP_KS = (2, 4, 8)


def q_corpus_minhash_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-length tuning table: mean |minhash-estimate − exact
    Jaccard| over the LSH candidate pairs, using the FIRST k of the 8
    signature components for k ∈ {2,4,8} — all three estimates read one
    signature pass (a prefix of the same component vector), so the
    sweep costs one corpus scan plus the candidate-bounded exact side
    (`candidate_common_shingles`, never df²). The empirical
    √(j(1−j)/k) tradeoff that decides how many hashes a production run
    pays for. Per-pair errors quantize to 1e-9 so the means are exact
    integer sums."""
    docs = _ts(spark, sf_dir, "documents")
    # ONE signature pass staged for all three consumers (banding via
    # sigs=, the sig_a probe side, the sig_b build side) — previously the
    # lazy plan re-ran the shingle+hash pipeline per branch (r12); the
    # shingle set is likewise staged once for its three consumers
    # (sizes + both sides of candidate_common_shingles)
    # ONE tokenize+shingle pass shared by the signature and exact sides
    # (r13, §1.2 — the dedup_minhash_est move applied to the sweep)
    shingled = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        X.word_shingles("text", 3).alias("__sh"),
    ).localCheckpoint(eager=False)
    sigs = D.minhash_signatures(
        docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3,
        shingled=shingled,
    ).localCheckpoint(eager=False)
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS,
        shingle_n=3, sigs=sigs,
    ).localCheckpoint(eager=False)
    sh = shingled.select(
        F.col("doc_id").alias("id"),
        F.explode("__sh").alias("__s"),
    ).distinct().localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    common = D.candidate_common_shingles(
        pairs, sh, id_col="id", shingle_col="__s"
    ).withColumnRenamed("n_common", "__c")
    sig_a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"__a{i}") for i in range(_MINHASH_K)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"__b{i}") for i in range(_MINHASH_K)],
    )
    jac = F.coalesce(
        F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")),
        F.lit(0.0),
    )
    base = (
        pairs.join(
            sizes.select(F.col("id").alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .join(common, ["id_a", "id_b"], "left")
        .join(sig_a, "id_a")
        .join(sig_b, "id_b")
    )

    def _est(k: int) -> Column:
        matches: Column = F.lit(0)
        for i in range(k):
            matches = matches + (
                F.col(f"__a{i}") == F.col(f"__b{i}")
            ).cast("int")
        return matches.cast("double") / k

    rows = base.select(
        jac.alias("__j"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"), _est(k).alias("est")
                    )
                    for k in _MINHASH_SWEEP_KS
                ]
            )
        ).alias("r"),
    ).select(
        F.col("r.k").alias("k"),
        F.round(F.abs(F.col("r.est") - F.col("__j")) * 1e9, 0)
        .cast("long")
        .alias("__e"),
    )
    agg = rows.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("__e").cast("decimal(38,0)")).alias("__se"),
    )
    return agg.select(
        "k",
        "n_pairs",
        F.round(
            F.col("__se").cast("double") / 1e9 / F.col("n_pairs"), 6
        ).alias("mean_abs_err"),
    )


def _oracle_corpus_minhash_k_sweep_sql() -> str:
    a_cols = ", ".join(
        f"sa.sig_{i} AS a{i}" for i in range(_MINHASH_K)
    )
    b_cols = ", ".join(
        f"sb.sig_{i} AS b{i}" for i in range(_MINHASH_K)
    )
    ests = []
    for k in _MINHASH_SWEEP_KS:
        match = " + ".join(
            f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(k)
        )
        ests.append(
            f"SELECT CAST({k} AS BIGINT) AS k, id_a, id_b,"
            f" CAST(({match}) AS DOUBLE) / {k} AS est FROM sp"
        )
    est_union = "\nUNION ALL ".join(ests)
    return f"""
WITH {_dd_minhash_keyed_ctes()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sh2 AS (SELECT DISTINCT doc_id AS id, unnest(sh) AS s FROM base),
sizes AS (SELECT id, COUNT(*) AS n FROM sh2 GROUP BY 1),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2),
sp AS (
  SELECT p.id_a, p.id_b, {a_cols}, {b_cols}
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b),
jacs AS (
  SELECT p.id_a, p.id_b,
         COALESCE(CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c), 0.0) AS jac
  FROM pairs p
  JOIN sizes na ON na.id = p.id_a
  JOIN sizes nb ON nb.id = p.id_b
  LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b),
est AS ({est_union}),
err AS (
  SELECT e.k,
         CAST(round(abs(e.est - j.jac) * 1e9) AS BIGINT) AS ei
  FROM est e JOIN jacs j ON j.id_a = e.id_a AND j.id_b = e.id_b)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(ei) AS DOUBLE) / 1e9 / COUNT(*), 6) AS mean_abs_err
FROM err GROUP BY 1
"""


def q_events_session_depth_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session depth distribution: events per session rolled into fixed
    bands (1, 2–4, 5–9, 10+) with corpus share — the engagement-shape
    profile behind bounce-rate and prefetch decisions, one step past
    `events_sessionize`'s per-user stats. Same 30-min-gap session
    assignment (user-partitioned windows), then a |bands|-bounded
    rollup with a one-row total attach."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "__sid",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "__sid").agg(F.count(F.lit(1)).alias("__n"))
    band = (
        F.when(F.col("__n") == 1, "1")
        .when(F.col("__n") <= 4, "2-4")
        .when(F.col("__n") <= 9, "5-9")
        .otherwise("10+")
    )
    cnt = per.select(band.alias("depth_band")).groupBy("depth_band").agg(
        F.count(F.lit(1)).alias("__c")
    )
    tot = cnt.agg(F.sum("__c").cast("double").alias("__t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "depth_band",
        F.col("__c").cast("long").alias("n_sessions"),
        F.round(F.col("__c").cast("double") / F.col("__t"), 6).alias("share"),
    )


ORACLE_EVENTS_SESSION_DEPTH_DIST = """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(prev)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM ordered),
sess AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags),
per AS (SELECT user_id, sid, COUNT(*) AS n FROM sess GROUP BY 1, 2),
cnt AS (
  SELECT CASE WHEN n = 1 THEN '1'
              WHEN n <= 4 THEN '2-4'
              WHEN n <= 9 THEN '5-9'
              ELSE '10+' END AS depth_band,
         COUNT(*) AS c
  FROM per GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnt)
SELECT depth_band, CAST(c AS BIGINT) AS n_sessions,
       round(CAST(c AS DOUBLE) / tot.t, 6) AS share
FROM cnt CROSS JOIN tot
"""


def q_doc_embedding_quality_norm_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal sanity check: Pearson correlation between a
    document's TEXT quality score and the L2 norm of its embedding
    (joined on doc_id = vec_id). Unnormalized encoders often emit
    larger norms for more 'confident' inputs — if this correlation is
    strong, norm is leaking quality signal into dot-product retrieval
    and vectors should be re-normalized before ANN. Both variables
    quantize to 1e-6 fixed-point BEFORE the five sums (exact DECIMAL
    reductions, partition-order-independent); the join is id-keyed."""
    docs = _ts(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("__id"),
        F.round(X.quality_score("text") * 1e6, 0).cast("long").alias("__xi"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("__id"),
        F.round(norm * 1e6, 0).cast("long").alias("__yi"),
    )
    dec = "decimal(38,0)"
    agg = docs.join(emb, "__id").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(F.col("__xi").cast(dec)).alias("__sxi"),
        F.sum(F.col("__yi").cast(dec)).alias("__syi"),
        F.sum((F.col("__xi") * F.col("__xi")).cast(dec)).alias("__sxxi"),
        F.sum((F.col("__yi") * F.col("__yi")).cast(dec)).alias("__syyi"),
        F.sum((F.col("__xi") * F.col("__yi")).cast(dec)).alias("__sxyi"),
    )
    sx = F.col("__sxi").cast("double") / 1e6
    sy = F.col("__syi").cast("double") / 1e6
    sxx = F.col("__sxxi").cast("double") / 1e12
    syy = F.col("__syyi").cast("double") / 1e12
    sxy = F.col("__sxyi").cast("double") / 1e12
    num = F.col("__n") * sxy - sx * sy
    den = F.sqrt(F.col("__n") * sxx - sx * sx) * F.sqrt(
        F.col("__n") * syy - sy * sy
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_docs"),
        F.when(den > 0, F.round(num / den, 6)).alias("quality_norm_corr"),
    )


ORACLE_DOC_EMBEDDING_QUALITY_NORM_CORR = f"""
WITH {_ORACLE_Q6_CTES},
q AS (SELECT m.doc_id AS id,
             CAST(round({_ORACLE_Q_RAW_EXPR} * 1e6) AS BIGINT) AS xi
      FROM m),
nv AS (
  SELECT vec_id AS id,
         CAST(round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                (a, b) -> a + b)) * 1e6) AS BIGINT) AS yi
  FROM embeddings),
a AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(xi) AS sxi, SUM(yi) AS syi,
         SUM(xi * xi) AS sxxi, SUM(yi * yi) AS syyi, SUM(xi * yi) AS sxyi
  FROM q JOIN nv USING (id)),
d AS (
  SELECT n, CAST(sxi AS DOUBLE) / 1e6 AS sx, CAST(syi AS DOUBLE) / 1e6 AS sy,
         CAST(sxxi AS DOUBLE) / 1e12 AS sxx,
         CAST(syyi AS DOUBLE) / 1e12 AS syy,
         CAST(sxyi AS DOUBLE) / 1e12 AS sxy
  FROM a)
SELECT CAST(n AS BIGINT) AS n_docs,
       CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy)), 6)
       END AS quality_norm_corr
FROM d
"""


_HEAD_KS = (10, 100, 1000)


def q_corpus_head_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-coverage curve: share of all token occurrences covered by
    the top-10 / top-100 / top-1000 terms — the three-point vocabulary-
    concentration profile (a 90% top-100 corpus is template soup; a
    flat curve means a long productive tail worth a bigger tokenizer).
    One vocab-bounded count pass, one K-row TakeOrdered head; all three
    coverages read exact-integer prefix sums of ONE sorted array."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(F.explode(X.tokens(F.lower(F.col("text")))).alias("w"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("__t"))
    head = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), "w")
        .limit(max(_HEAD_KS))
    )
    arr = head.agg(
        F.sort_array(
            F.collect_list(F.struct((-F.col("__c")).alias("nc"), "w"))
        ).alias("__a")
    ).crossJoin(F.broadcast(tot))

    def _cov(k: int) -> Column:
        return F.aggregate(
            F.slice(F.col("__a"), 1, k),
            F.lit(0).cast("long"),
            lambda a, s: a - s["nc"],
        )

    rows = arr.select(
        "__t",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.least(F.lit(k).cast("long"), F.size("__a").cast("long")).alias(
                            "n_terms"
                        ),
                        _cov(k).alias("cum"),
                    )
                    for k in _HEAD_KS
                ]
            )
        ).alias("r"),
    )
    return rows.select(
        F.col("r.k").alias("k"),
        F.col("r.n_terms").alias("n_terms"),
        F.col("r.cum").alias("n_occurrences"),
        F.round(F.col("r.cum").cast("double") / F.col("__t").cast("double"), 6).alias(
            "coverage"
        ),
    )


def _oracle_corpus_head_coverage_curve_sql() -> str:
    selects = "\nUNION ALL ".join(
        f"""SELECT CAST({k} AS BIGINT) AS k,
       CAST(least({k}, (SELECT COUNT(*) FROM head)) AS BIGINT) AS n_terms,
       CAST((SELECT COALESCE(SUM(c), 0) FROM head WHERE rn <= {k}) AS BIGINT)
         AS n_occurrences,
       round(CAST((SELECT COALESCE(SUM(c), 0) FROM head WHERE rn <= {k})
                  AS DOUBLE) / (SELECT t FROM tot), 6) AS coverage"""
        for k in _HEAD_KS
    )
    return f"""
WITH tok AS (
  SELECT unnest({_DD_TOKENS.format(c='text')}) AS w
  FROM (SELECT lower(text) AS text FROM documents)),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok),
head AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn
  FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1)
  ORDER BY c DESC, w LIMIT {max(_HEAD_KS)})
{selects}
"""


def q_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User lifetime-value decile table: for each decile of users (by
    total event value), the boundary value and the cumulative share of
    all value held at or below it — the full concentration profile the
    single-threshold Pareto query summarizes. Cents-exact user LTVs
    compress to a value histogram; both cumulatives ride the bounded-
    fan prefix sum; decile ranks compare as 10·cum ≥ d·n in int64."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__v")
    )
    hist = per.groupBy("__v").agg(F.count(F.lit(1)).alias("__f"))
    hist = hist.withColumn("__s", F.col("__v") * F.col("__f"))
    hist = hist.localCheckpoint(eager=False)
    mx = hist.agg(F.max("__v").alias("mx")).first()["mx"]
    # both prefixes share one window + one recursion (multi-val form) —
    # previously two full prefix passes equi-joined back on __v
    j = _exclusive_prefix(
        hist, "__v", ["__f", "__s"], ["__pf", "__ps"], max_key=mx
    )
    tot = hist.agg(
        F.sum("__f").cast("long").alias("__N"),
        F.sum("__s").cast("long").alias("__T"),
    )
    x = j.crossJoin(F.broadcast(tot)).select(
        "__v",
        (F.col("__pf") + F.col("__f")).alias("__cumf"),
        (F.col("__ps") + F.col("__s")).alias("__cums"),
        "__N",
        "__T",
    )
    dec = (
        x.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
            "__v", "__cumf", "__cums", "__N", "__T",
        )
        .filter(10 * F.col("__cumf") >= F.col("decile") * F.col("__N"))
        .groupBy("decile")
        .agg(F.min("__v").alias("__b"))
    )
    out = (
        dec.join(x.withColumnRenamed("__v", "__b"), "__b")
        .select(
            "decile",
            (F.col("__b").cast("double") / 100).alias("boundary_value"),
            F.col("__cumf").cast("long").alias("cum_users"),
            F.round(
                F.col("__cums").cast("double") / F.col("__T").cast("double"), 6
            ).alias("cum_value_share"),
        )
    )
    return out


ORACLE_USER_VALUE_DECILES = """
WITH per AS (
  SELECT user_id,
         SUM(CAST(round(value * 100) AS BIGINT)) AS v
  FROM events GROUP BY 1),
hist AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS f FROM per GROUP BY 1),
cum AS (
  SELECT v, f, v * f AS s,
         SUM(f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumf,
         SUM(v * f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cums
  FROM hist),
t AS (SELECT CAST(SUM(f) AS BIGINT) AS N, CAST(SUM(v * f) AS BIGINT) AS T
      FROM hist),
dec AS (
  SELECT d.d AS decile, MIN(c.v) AS b
  FROM (SELECT unnest(generate_series(1, 10)) AS d) d, cum c, t
  WHERE 10 * c.cumf >= d.d * t.N
  GROUP BY 1)
SELECT CAST(dec.decile AS BIGINT) AS decile,
       CAST(dec.b AS DOUBLE) / 100 AS boundary_value,
       CAST(c.cumf AS BIGINT) AS cum_users,
       round(CAST(c.cums AS DOUBLE) / CAST(t.T AS DOUBLE), 6)
         AS cum_value_share
FROM dec JOIN cum c ON c.v = dec.b, t
"""


def q_events_conversion_by_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by acquisition channel: users grouped by their
    FIRST event type (total (ts, event_id) order), with the share that
    ever purchases — the companion to `events_first_touch`'s value
    attribution (that query says where the money sits; this one says
    which entry point converts). One user-keyed aggregate computes both
    the min_by first-touch and the purchase flag; the rollup is
    |types|-bounded."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("first_type"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("__conv"),
    )
    return per_user.groupBy("first_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("__conv").cast("long").alias("n_converted"),
        F.round(
            F.sum("__conv").cast("double") / F.count(F.lit(1)), 6
        ).alias("conversion_rate"),
    )


ORACLE_EVENTS_CONVERSION_BY_FIRST_TOUCH = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
pu AS (
  SELECT user_id,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM ranked GROUP BY 1)
SELECT first_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(conv) AS BIGINT) AS n_converted,
       round(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
FROM pu GROUP BY 1
"""


def q_dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding skew audit BEFORE pair expansion: per band, how many
    buckets collide (size ≥ 2), the hottest bucket, and the exact
    candidate-pair volume Σ C(size,2) the band would emit — the number
    that predicts the shuffle bill and flags a degenerate band (one hot
    bucket holding half the corpus) before a full-corpus dedup run pays
    for it. Pure integer aggregates over the (band, key) sizes."""
    docs = _ts(spark, sf_dir, "documents")
    keyed = D.minhash_band_keys(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3
    )
    sizes = keyed.groupBy("band", "key").agg(F.count(F.lit(1)).alias("__s"))
    return (
        sizes.filter(F.col("__s") >= 2)
        .groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_colliding_buckets"),
            F.max("__s").cast("long").alias("max_bucket"),
            F.sum(F.expr("(__s * (__s - 1)) div 2"))
            .cast("long")
            .alias("n_candidate_pairs"),
        )
    )


def _oracle_dedup_lsh_bucket_stats_sql() -> str:
    return f"""
WITH {_dd_minhash_keyed_ctes()},
sizes AS (SELECT band, key, COUNT(*) AS s FROM keyed GROUP BY 1, 2)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_colliding_buckets,
       CAST(MAX(s) AS BIGINT) AS max_bucket,
       CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS n_candidate_pairs
FROM sizes WHERE s >= 2 GROUP BY 1
"""


def q_embedding_residual_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer fit: per inverted list, the share of vector
    energy LEFT in the residuals (Σ‖v−c‖² / Σ‖v‖²) — near 1.0 means the
    coarse centroids explain nothing and PQ-on-residuals will quantize
    noise; the read that justifies more lists or a k-means refinement.
    Assignment is the audited literal-centroid narrow map; residual and
    norm energies are per-row sequential folds quantized to 1e-9 before
    exact integer per-list sums."""
    emb = _ts(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(emb, k=8)
    lists = S.ivf_assign(emb, cents, "embedding", nprobe=1)
    cent_arr = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in cv])
            for _cid, cv in sorted(cents)
        ]
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cvec = F.element_at(cent_arr, (F.col("ivf_list") + 1).cast("int"))
    res = F.aggregate(
        F.zip_with(v, cvec, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    dec = "decimal(38,0)"
    per = lists.select(
        "ivf_list",
        F.round(res * 1e9, 0).cast("long").alias("__r"),
        F.round(nrm * 1e9, 0).cast("long").alias("__n"),
    )
    agg = per.groupBy(F.col("ivf_list").cast("long").alias("ivf_list")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.col("__r").cast(dec)).alias("__sr"),
        F.sum(F.col("__n").cast(dec)).alias("__sn"),
    )
    return agg.select(
        "ivf_list",
        "n_vectors",
        F.round(
            F.col("__sr").cast("double") / F.col("__sn").cast("double"), 6
        ).alias("residual_energy_share"),
    )


def _oracle_embedding_residual_energy_sql(k: int = 8) -> str:
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    dot_vc = fold.format(
        arr="list_transform(generate_series(1, len(v.embedding)),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i])"
    )
    sq_c = fold.format(arr="list_transform(c.cv, x -> x * x)")
    res = fold.format(
        arr="list_transform(generate_series(1, len(r.embedding)),"
        " i -> (CAST(r.embedding[i] AS DOUBLE) - cc.cv[i])"
        " * (CAST(r.embedding[i] AS DOUBLE) - cc.cv[i]))"
    )
    nrm = fold.format(
        arr="list_transform(r.embedding,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}),
assigned AS (
  SELECT v.vec_id, c.cid, -({dot_vc}) * 2 + ({sq_c}) AS d2
  FROM embeddings v CROSS JOIN cents c),
win AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
  FROM assigned),
per AS (
  SELECT w.cid,
         CAST(round(({res}) * 1e9) AS BIGINT) AS ri,
         CAST(round(({nrm}) * 1e9) AS BIGINT) AS ni
  FROM win w
  JOIN embeddings r ON r.vec_id = w.vec_id
  JOIN cents cc ON cc.cid = w.cid
  WHERE w.rk = 1)
SELECT CAST(cid AS BIGINT) AS ivf_list,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       round(CAST(SUM(ri) AS DOUBLE) / CAST(SUM(ni) AS DOUBLE), 6)
         AS residual_energy_share
FROM per GROUP BY 1
"""


def q_embedding_mean_pairwise_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mean pairwise cosine of the WHOLE corpus — the anisotropy /
    mean-shift diagnostic (Ethayarajh-style: a high corpus-wide mean
    cosine means vectors share a dominant direction and cosine scores
    compress) — WITHOUT any pair join, via the Gram identity:
    Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖². One normalize-and-quantize map, 64
    per-dim exact integer sums, closed form — an O(n²) statistic at
    O(n·d) cost, exact at any parallelism (1e-9 fixed-point before
    every reduction)."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    )
    u = emb.filter(nrm > 0).select(
        F.posexplode(
            F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
        ).alias("dim", "__ui"),
    )
    dec = "decimal(38,0)"
    per_dim = u.groupBy("dim").agg(
        F.sum(F.col("__ui").cast(dec)).alias("__sd"),
        F.sum((F.col("__ui") * F.col("__ui")).cast(dec)).alias("__sq"),
    )
    n_rows = emb.filter(nrm > 0).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    agg = per_dim.agg(
        F.sum(F.col("__sd") * F.col("__sd")).alias("__S2"),
        F.sum("__sq").alias("__Q"),
    ).crossJoin(F.broadcast(n_rows))
    n = F.col("__n").cast("double")
    mean_cos = (
        (F.col("__S2").cast("double") / 1e18 - F.col("__Q").cast("double") / 1e18)
        / (n * (n - 1.0))
    )
    return agg.select(
        F.col("__n").alias("n_vectors"),
        F.round(mean_cos, 6).alias("mean_pairwise_cosine"),
    )


ORACLE_EMBEDDING_MEAN_PAIRWISE_COSINE = """
WITH nv AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings),
u AS (
  SELECT s.i - 1 AS dim,
         CAST(round(CAST(n.embedding[s.i] AS DOUBLE) / n.nrm * 1e9) AS BIGINT)
           AS ui
  FROM nv n,
       LATERAL (SELECT unnest(generate_series(1, len(n.embedding))) AS i) s
  WHERE n.nrm > 0),
per_dim AS (
  SELECT dim, SUM(ui) AS sd, SUM(ui * ui) AS sq FROM u GROUP BY 1),
t AS (SELECT SUM(sd * sd) AS s2, SUM(sq) AS q FROM per_dim),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nv WHERE nrm > 0)
SELECT nn.n AS n_vectors,
       round((CAST(t.s2 AS DOUBLE) / 1e18 - CAST(t.q AS DOUBLE) / 1e18)
             / (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)), 6)
         AS mean_pairwise_cosine
FROM t, nn
"""


def q_doc_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of the document-length distribution: μ and σ of
    ln(token_count) plus the fitted-vs-actual median ratio — natural
    corpora are approximately lognormal in length, so a big gap flags
    truncation, padding, or a template corpus (and the fitted median is
    the right prior for packing-capacity planning). ln values quantize
    to 1e-9 fixed-point (exact integer sums); the actual median runs on
    the token-count histogram through the bounded-fan prefix sum."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    docs = _ts(spark, sf_dir, "documents")
    nt = docs.select(X.token_count("text").alias("__t")).filter(
        F.col("__t") > 0
    )
    li = F.round(F.log(F.col("__t").cast("double")) * 1e9, 0).cast("long")
    dec = "decimal(38,0)"
    # li ~ ln(tokens)·1e9 can reach ~1.4e10, so li² (~2e20) overflows
    # int64 — widen to DECIMAL BEFORE the square
    moments = nt.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(li.cast(dec)).alias("__sl"),
        F.sum(li.cast(dec) * li.cast(dec)).alias("__sll"),
    )
    hist = nt.groupBy("__t").agg(F.count(F.lit(1)).alias("__f"))
    hist = hist.localCheckpoint(eager=False)
    mx = hist.agg(F.max("__t").alias("mx")).first()["mx"]
    cum = _exclusive_prefix(hist, "__t", "__f", "__prev", max_key=mx or 0)
    cum = cum.withColumn("__cum", F.col("__prev") + F.col("__f"))
    med = (
        cum.crossJoin(
            F.broadcast(hist.agg(F.sum("__f").alias("__tot")))
        )
        .filter(2 * F.col("__cum") >= F.col("__tot"))
        .agg(F.min("__t").cast("long").alias("__med"))
    )
    out = moments.crossJoin(F.broadcast(med))
    n = F.col("__n").cast("double")
    mu = F.col("__sl").cast("double") / 1e9 / n
    var = F.col("__sll").cast("double") / 1e18 / n - mu * mu
    fitted_med = F.exp(mu)
    return out.select(
        F.col("__n").alias("n_docs"),
        F.round(mu, 6).alias("mu_log"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("sigma_log"),
        F.col("__med").alias("actual_median"),
        F.round(fitted_med, 6).alias("fitted_median"),
        F.round(F.col("__med").cast("double") / fitted_med, 6).alias(
            "median_ratio"
        ),
    )


ORACLE_DOC_LENGTH_LOGNORMAL_FIT = f"""
WITH nt AS (
  SELECT CAST(len({_DD_TOKENS.format(c='text')}) AS BIGINT) AS t
  FROM documents),
pos AS (SELECT t FROM nt WHERE t > 0),
li AS (SELECT CAST(round(ln(CAST(t AS DOUBLE)) * 1e9) AS BIGINT) AS l FROM pos),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(l) AS sl,
             SUM(CAST(l AS HUGEINT) * l) AS sll
      FROM li),
hist AS (SELECT t, COUNT(*) AS f FROM pos GROUP BY 1),
cum AS (SELECT t, SUM(f) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS c
        FROM hist),
tt AS (SELECT SUM(f) AS tot FROM hist),
med AS (SELECT CAST(MIN(t) AS BIGINT) AS med FROM cum, tt
        WHERE 2 * cum.c >= tt.tot)
SELECT m.n AS n_docs,
       round(CAST(m.sl AS DOUBLE) / 1e9 / CAST(m.n AS DOUBLE), 6) AS mu_log,
       round(sqrt(greatest(CAST(m.sll AS DOUBLE) / 1e18 / CAST(m.n AS DOUBLE)
                  - (CAST(m.sl AS DOUBLE) / 1e9 / CAST(m.n AS DOUBLE))
                    * (CAST(m.sl AS DOUBLE) / 1e9 / CAST(m.n AS DOUBLE)),
                  0.0)), 6) AS sigma_log,
       med.med AS actual_median,
       round(exp(CAST(m.sl AS DOUBLE) / 1e9 / CAST(m.n AS DOUBLE)), 6)
         AS fitted_median,
       round(CAST(med.med AS DOUBLE)
             / exp(CAST(m.sl AS DOUBLE) / 1e9 / CAST(m.n AS DOUBLE)), 6)
         AS median_ratio
FROM m, med
"""


def q_events_value_hour_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value by hour-of-day: F-statistic and η²
    (share of value variance the hour explains) — the statistical form
    of 'does time of day move spend', one step past the hour-profile
    heatmap. Values quantize to exact cents; (hour) partials are
    integer DECIMAL sums; the 24-group combination folds in hour order.
    Same exact-fixed-point discipline as the Fisher separation score."""
    ev = _t(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    x = ev.select(
        F.hour("ts").cast("long").alias("__h"),
        F.round(F.col("value") * 100, 0).cast("long").alias("__xi"),
    )
    per = x.groupBy("__h").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("__xi").cast(dec)).alias("__si"),
        F.sum((F.col("__xi") * F.col("__xi")).cast(dec)).alias("__s2i"),
    )
    tot = per.agg(
        F.sum("__n").cast("long").alias("__nt"),
        F.sum("__si").alias("__sit"),
        F.count(F.lit(1)).cast("long").alias("__k"),
    )
    mu_h = F.col("__si").cast("double") / 100 / F.col("__n")
    mu = F.col("__sit").cast("double") / 100 / F.col("__nt")
    terms = per.crossJoin(F.broadcast(tot)).select(
        "__h", "__nt", "__k",
        (F.col("__n").cast("double") * (mu_h - mu) * (mu_h - mu)).alias("__bt"),
        (
            F.col("__s2i").cast("double") / 1e4
            - F.col("__n").cast("double") * mu_h * mu_h
        ).alias("__wt"),
    )
    folded = terms.groupBy("__nt", "__k").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__h", F.col("__bt").alias("x")))),
            F.lit(0.0),
            lambda a, s: a + s["x"],
        ).alias("__b"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__h", F.col("__wt").alias("x")))),
            F.lit(0.0),
            lambda a, s: a + s["x"],
        ).alias("__w"),
    )
    nt = F.col("__nt").cast("double")
    k = F.col("__k").cast("double")
    f_stat = (F.col("__b") / (k - 1.0)) / (F.col("__w") / (nt - k))
    return folded.select(
        F.col("__nt").alias("n_events"),
        F.col("__k").alias("n_hours"),
        F.when(F.col("__w") > 0, F.round(f_stat, 6)).alias("f_stat"),
        F.round(
            F.col("__b") / (F.col("__b") + F.col("__w")), 6
        ).alias("eta_sq"),
    )


ORACLE_EVENTS_VALUE_HOUR_ANOVA = """
WITH x AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
         CAST(round(value * 100) AS BIGINT) AS xi
  FROM events),
per AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS n, SUM(xi) AS si, SUM(xi * xi) AS s2i
  FROM x GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, SUM(si) AS sit,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM per),
terms AS (
  SELECT p.h, t.nt, t.k,
         CAST(p.n AS DOUBLE)
           * (CAST(p.si AS DOUBLE) / 100 / p.n - CAST(t.sit AS DOUBLE) / 100 / t.nt)
           * (CAST(p.si AS DOUBLE) / 100 / p.n - CAST(t.sit AS DOUBLE) / 100 / t.nt)
           AS bt,
         CAST(p.s2i AS DOUBLE) / 1e4
           - CAST(p.n AS DOUBLE) * (CAST(p.si AS DOUBLE) / 100 / p.n)
                                 * (CAST(p.si AS DOUBLE) / 100 / p.n) AS wt
  FROM per p, tot t),
agg AS (
  SELECT nt, k,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(bt ORDER BY h)), (a, b) -> a + b) AS b,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(wt ORDER BY h)), (a, b) -> a + b) AS w
  FROM terms GROUP BY 1, 2)
SELECT nt AS n_events, k AS n_hours,
       CASE WHEN w > 0
            THEN round((b / (CAST(k AS DOUBLE) - 1.0))
                       / (w / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE))), 6)
       END AS f_stat,
       round(b / (b + w), 6) AS eta_sq
FROM agg
"""


def q_events_periodicity_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-periodicity strength: Pearson autocorrelation of the hourly
    volume series at lag 24 h — near 1.0 means traffic repeats its daily
    shape (safe to capacity-plan on yesterday); near 0 means the heatmap
    is averaging away real volatility. Hour buckets are epoch-hour
    integers, the lag pairing is ONE |hours|-bounded self equi-join
    (t ↔ t+24), and all five correlation sums are exact integers."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp("ts") / 3600).cast("long").alias("__h")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    a = hourly.select("__h", F.col("__n").alias("__x"))
    b = hourly.select(
        (F.col("__h") - 24).alias("__h"), F.col("__n").alias("__y")
    )
    pairs = a.join(b, "__h")
    dec = "decimal(38,0)"
    agg = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("__np"),
        F.sum(F.col("__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__y").cast(dec)).alias("__sy"),
        F.sum((F.col("__x") * F.col("__x")).cast(dec)).alias("__sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec)).alias("__syy"),
        F.sum((F.col("__x") * F.col("__y")).cast(dec)).alias("__sxy"),
    )
    n = F.col("__np")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return agg.select(
        F.col("__np").cast("long").alias("n_hour_pairs"),
        F.when(den > 0, F.round(num / den, 6)).alias("autocorr_24h"),
    )


ORACLE_EVENTS_PERIODICITY_AUTOCORR = """
WITH hourly AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
pairs AS (
  SELECT a.n AS x, b.n AS y
  FROM hourly a JOIN hourly b ON b.h = a.h + 24),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sxi, SUM(y) AS syi,
         SUM(x * x) AS sxxi, SUM(y * y) AS syyi, SUM(x * y) AS sxyi
  FROM pairs),
d AS (
  SELECT n, CAST(sxi AS DOUBLE) AS sx, CAST(syi AS DOUBLE) AS sy,
         CAST(sxxi AS DOUBLE) AS sxx, CAST(syyi AS DOUBLE) AS syy,
         CAST(sxyi AS DOUBLE) AS sxy
  FROM agg)
SELECT CAST(n AS BIGINT) AS n_hour_pairs,
       CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy)), 6)
       END AS autocorr_24h
FROM d
"""


def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, event volume split into NEW users
    (first-ever activity that day) vs returning — the
    acquisition-vs-retention mix a raw DAU line hides. One user-keyed
    min-date aggregate, an id-keyed join back to the stream, and a
    |days|-bounded rollup — all exact integers."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("__first")
    )
    j = ev.select("user_id", F.to_date("ts").alias("__d")).join(first, "user_id")
    return (
        j.groupBy(F.date_format("__d", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("__d") == F.col("__first")).cast("long"))
            .cast("long")
            .alias("n_new_user_events"),
            F.round(
                F.sum((F.col("__d") == F.col("__first")).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("new_share"),
        )
    )


ORACLE_EVENTS_NEW_VS_RETURNING = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd FROM events GROUP BY 1),
j AS (
  SELECT strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
         CASE WHEN CAST(e.ts AS DATE) = f.fd THEN 1 ELSE 0 END AS is_new
  FROM events e JOIN first f USING (user_id))
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_new) AS BIGINT) AS n_new_user_events,
       round(CAST(SUM(is_new) AS DOUBLE) / COUNT(*), 6) AS new_share
FROM j GROUP BY 1
"""


def q_orders_basket_value_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size/value coupling: Pearson correlation between an
    order's line count and its total price — high correlation licenses
    line-count as a cheap value proxy in sampling and fraud screens.
    Line counts aggregate map-side on the (orderkey) shuffle; prices
    quantize to exact cents; the five sums are exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    nl = li.groupBy(F.col("l_orderkey").alias("__ok")).agg(
        F.count(F.lit(1)).cast("long").alias("__xi")
    )
    ov = o.select(
        F.col("o_orderkey").alias("__ok"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__yi"),
    )
    dec = "decimal(38,0)"
    agg = nl.join(ov, "__ok").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(F.col("__xi").cast(dec)).alias("__sxi"),
        F.sum(F.col("__yi").cast(dec)).alias("__syi"),
        F.sum((F.col("__xi") * F.col("__xi")).cast(dec)).alias("__sxxi"),
        F.sum(
            (F.col("__yi").cast(dec) * F.col("__yi").cast(dec))
        ).alias("__syyi"),
        F.sum((F.col("__xi") * F.col("__yi")).cast(dec)).alias("__sxyi"),
    )
    n = F.col("__n")
    sx = F.col("__sxi").cast("double")
    sy = F.col("__syi").cast("double") / 100
    sxx = F.col("__sxxi").cast("double")
    syy = F.col("__syyi").cast("double") / 1e4
    sxy = F.col("__sxyi").cast("double") / 100
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return agg.select(
        n.cast("long").alias("n_orders"),
        F.when(den > 0, F.round(num / den, 6)).alias("lines_value_corr"),
    )


ORACLE_ORDERS_BASKET_VALUE_CORR = """
WITH nl AS (
  SELECT l_orderkey AS ok, CAST(COUNT(*) AS BIGINT) AS xi
  FROM lineitem GROUP BY 1),
ov AS (
  SELECT o_orderkey AS ok,
         CAST(round(o_totalprice * 100) AS BIGINT) AS yi
  FROM orders),
a AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(xi) AS sxi, SUM(yi) AS syi,
         SUM(xi * xi) AS sxxi,
         SUM(CAST(yi AS HUGEINT) * yi) AS syyi,
         SUM(xi * yi) AS sxyi
  FROM nl JOIN ov USING (ok)),
d AS (
  SELECT n, CAST(sxi AS DOUBLE) AS sx, CAST(syi AS DOUBLE) / 100 AS sy,
         CAST(sxxi AS DOUBLE) AS sxx, CAST(syyi AS DOUBLE) / 1e4 AS syy,
         CAST(sxyi AS DOUBLE) / 100 AS sxy
  FROM a)
SELECT CAST(n AS BIGINT) AS n_orders,
       CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy)), 6)
       END AS lines_value_corr
FROM d
"""


def q_doc_lang_length_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test on the language × length-band
    contingency table — are short docs disproportionately one language?
    (If yes, a length filter silently becomes a language filter — the
    bias check before any length-based curation cut.) Observed counts
    are exact integers over a |langs|×|bands| table; expected values and
    the χ² fold combine in (lang, band) order — deterministic at any
    parallelism."""
    docs = _ts(spark, sf_dir, "documents")
    band = (
        F.when(X.token_count("text") < 20, "short")
        .when(X.token_count("text") < 60, "medium")
        .otherwise("long")
    )
    obs = docs.groupBy(F.col("lang").alias("__l"), band.alias("__b")).agg(
        F.count(F.lit(1)).cast("long").alias("__o")
    )
    rows_m = obs.groupBy("__l").agg(F.sum("__o").alias("__rl"))
    cols_m = obs.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    tot = obs.agg(F.sum("__o").cast("long").alias("__N"))
    # the FULL |langs|×|bands| grid, zero cells included — an absent
    # combination still contributes (0−e)²/e = e to χ² (dropping zero
    # cells silently halves the statistic on maximally-dependent tables)
    cells = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .join(obs, ["__l", "__b"], "left")
        .withColumn("__o", F.coalesce(F.col("__o"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("__rl").cast("double")
        * F.col("__cb").cast("double")
        / F.col("__N").cast("double")
    )
    term = (F.col("__o").cast("double") - e) * (
        F.col("__o").cast("double") - e
    ) / e
    per_cell = cells.select(
        "__N",
        F.struct(
            F.col("__l").alias("l"), F.col("__b").alias("b"), term.alias("x")
        ).alias("__tx"),
    )
    agg = per_cell.groupBy("__N").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.aggregate(
            F.array_sort(F.collect_list("__tx")),
            F.lit(0.0),
            lambda a, s: a + s["x"],
        ).alias("__chi"),
    )
    return agg.select(
        F.col("__N").alias("n_docs"),
        "n_cells",
        F.round("__chi", 6).alias("chi_sq"),
    )


ORACLE_DOC_LANG_LENGTH_CHISQ = f"""
WITH t AS (
  SELECT lang,
         CASE WHEN len({_DD_TOKENS.format(c='text')}) < 20 THEN 'short'
              WHEN len({_DD_TOKENS.format(c='text')}) < 60 THEN 'medium'
              ELSE 'long' END AS b
  FROM documents),
obs AS (SELECT lang AS l, b, CAST(COUNT(*) AS BIGINT) AS o FROM t GROUP BY 1, 2),
rm AS (SELECT l, SUM(o) AS rl FROM obs GROUP BY 1),
cm AS (SELECT b, SUM(o) AS cb FROM obs GROUP BY 1),
tt AS (SELECT CAST(SUM(o) AS BIGINT) AS N FROM obs),
cells AS (
  SELECT rm.l, cm.b, tt.N,
         (CAST(COALESCE(obs.o, 0) AS DOUBLE)
          - CAST(rm.rl AS DOUBLE) * CAST(cm.cb AS DOUBLE) / CAST(tt.N AS DOUBLE))
         * (CAST(COALESCE(obs.o, 0) AS DOUBLE)
            - CAST(rm.rl AS DOUBLE) * CAST(cm.cb AS DOUBLE) / CAST(tt.N AS DOUBLE))
         / (CAST(rm.rl AS DOUBLE) * CAST(cm.cb AS DOUBLE) / CAST(tt.N AS DOUBLE))
           AS x
  FROM rm CROSS JOIN cm
  LEFT JOIN obs ON obs.l = rm.l AND obs.b = cm.b, tt)
SELECT N AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(x ORDER BY l, b)), (a, v) -> a + v), 6) AS chi_sq
FROM cells GROUP BY N
"""


def q_events_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase survival curve: of users who ever purchase, the
    share reaching a 2nd, 3rd, … 5th purchase — the retention economics
    read (a steep drop after the 1st purchase means acquisition is
    buying one-shot buyers). One user-keyed purchase count, a
    |users|-free count histogram, and a 5-row suffix rollup — exact
    integers throughout."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    hist = per.groupBy("__c").agg(F.count(F.lit(1)).alias("__f"))
    tot = hist.agg(F.sum("__f").cast("long").alias("__n1"))
    ks = hist.crossJoin(F.broadcast(tot)).select(
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("k"),
        "__c", "__f", "__n1",
    )
    return (
        ks.groupBy("k", "__n1")
        .agg(
            F.sum(F.when(F.col("__c") >= F.col("k"), F.col("__f")).otherwise(0))
            .cast("long")
            .alias("n_users"),
        )
        .select(
            "k",
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("__n1").cast("double"),
                6,
            ).alias("share_of_purchasers"),
        )
    )


ORACLE_EVENTS_REPEAT_PURCHASE_CURVE = """
WITH per AS (
  SELECT user_id, COUNT(*) AS c FROM events
  WHERE event_type = 'purchase' GROUP BY 1),
hist AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS f FROM per GROUP BY 1),
tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n1 FROM hist),
ks AS (SELECT unnest(generate_series(1, 5)) AS k)
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(COALESCE(SUM(CASE WHEN hist.c >= ks.k THEN hist.f END), 0)
            AS BIGINT) AS n_users,
       round(CAST(COALESCE(SUM(CASE WHEN hist.c >= ks.k THEN hist.f END), 0)
                  AS DOUBLE) / CAST(tot.n1 AS DOUBLE), 6)
         AS share_of_purchasers
FROM ks CROSS JOIN hist, tot
GROUP BY ks.k, tot.n1
"""


_SIGNATURE_TOP = 3


def q_source_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature terms per source: the top-3 terms by log-lift
    ln(p_source / p_corpus) with add-1 smoothing and a minimum support
    of 5 occurrences — the interpretability readout that names WHAT a
    source is about (and the eyeball check on the JSD/KL divergence
    numbers). Vocab-bounded frames; top-3 selection is a
    source-partitioned window over the (source, term) table."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("t")
    )
    sc = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("__cs")
    )
    cc = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("__cc"))
    stot = sc.groupBy("source").agg(F.sum("__cs").alias("__ts"))
    ctot = cc.agg(
        F.sum("__cc").cast("long").alias("__tc"),
        F.count(F.lit(1)).cast("long").alias("__V"),
    )
    j = (
        sc.filter(F.col("__cs") >= 5)
        .join(cc, "t")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ctot))
    )
    ps = (F.col("__cs").cast("double") + 1.0) / (
        F.col("__ts").cast("double") + F.col("__V")
    )
    pc = (F.col("__cc").cast("double") + 1.0) / (
        F.col("__tc").cast("double") + F.col("__V")
    )
    scored = j.select(
        "source", "t", "__cs", (F.log(ps) - F.log(pc)).alias("__lift")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("__lift"), F.desc("__cs"), "t"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SIGNATURE_TOP)
        .select(
            "source",
            F.col("rank").cast("long").alias("rank"),
            F.col("t").alias("term"),
            F.col("__cs").alias("n_occurrences"),
            F.round("__lift", 6).alias("log_lift"),
        )
    )


ORACLE_SOURCE_SIGNATURE_TERMS = rf"""
WITH tok AS (
  SELECT source, unnest({_DD_TOKENS.format(c='text')}) AS t
  FROM (SELECT source, lower(text) AS text FROM documents)),
sc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cs FROM tok GROUP BY 1, 2),
cc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS ct FROM tok GROUP BY 1),
st AS (SELECT source, SUM(cs) AS ts FROM sc GROUP BY 1),
v AS (SELECT CAST(SUM(ct) AS BIGINT) AS tc, CAST(COUNT(*) AS BIGINT) AS nv
      FROM cc),
scored AS (
  SELECT sc.source, sc.t, sc.cs,
         ln((CAST(sc.cs AS DOUBLE) + 1.0) / (CAST(st.ts AS DOUBLE) + v.nv))
         - ln((CAST(cc.ct AS DOUBLE) + 1.0) / (CAST(v.tc AS DOUBLE) + v.nv))
           AS lift
  FROM sc JOIN cc USING (t) JOIN st USING (source), v
  WHERE sc.cs >= 5),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY lift DESC, cs DESC, t) AS rank
  FROM scored)
SELECT source, CAST(rank AS BIGINT) AS rank, t AS term,
       cs AS n_occurrences, round(lift, 6) AS log_lift
FROM ranked WHERE rank <= {_SIGNATURE_TOP}
"""


def q_embedding_knn_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label CONFUSION MATRIX on the deterministic sample — which
    classes bleed into which in embedding space (the per-class agree
    rate says a class is noisy; this says WHERE its neighbors actually
    land — merge candidates, mislabeled pockets, duplicated concepts).
    Same audited brute-force top-k spine as the agreement query;
    |labels|²-bounded output with row-normalized shares."""
    emb = _ts(spark, sf_dir, "embeddings")
    labels = emb.select(F.col("vec_id").alias("__id"), F.col("label").alias("__l"))
    nn = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 100), k=1)
    j = (
        nn.join(
            labels.select(
                F.col("__id").alias("query_id"), F.col("__l").alias("__ql")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("__id").alias("neighbor_id"), F.col("__l").alias("__nl")
            ),
            "neighbor_id",
        )
    )
    cnt = j.groupBy(
        F.col("__ql").cast("long").alias("query_label"),
        F.col("__nl").cast("long").alias("nn_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    row_tot = cnt.groupBy("query_label").agg(F.sum("n_pairs").alias("__rt"))
    return cnt.join(F.broadcast(row_tot), "query_label").select(
        "query_label",
        "nn_label",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double") / F.col("__rt").cast("double"), 6
        ).alias("row_share"),
    )


ORACLE_EMBEDDING_KNN_CONFUSION = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 100),
v AS (SELECT vec_id AS neighbor_id, embedding AS vv, label AS nl
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, ql, nl,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b)
    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))), (a,b) -> a + b))
      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(vv)), i -> CAST(vv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))), (a,b) -> a + b))) AS cos_sim
  FROM q, v WHERE query_id <> neighbor_id),
ranked AS (
  SELECT ql, nl,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored),
cnt AS (
  SELECT CAST(ql AS BIGINT) AS query_label, CAST(nl AS BIGINT) AS nn_label,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM ranked WHERE rank = 1 GROUP BY 1, 2),
rt AS (SELECT query_label, SUM(n_pairs) AS t FROM cnt GROUP BY 1)
SELECT c.query_label, c.nn_label, c.n_pairs,
       round(CAST(c.n_pairs AS DOUBLE) / CAST(rt.t AS DOUBLE), 6) AS row_share
FROM cnt c JOIN rt USING (query_label)
"""


def q_supplier_latency_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slow-supplier screen: suppliers whose exact p90 order-to-ship
    latency exceeds the global p90 by more than 2 days — the
    vendor-management shortlist the priority-level SLA panel can't
    produce. Both quantiles run on latency-day VALUE HISTOGRAMS
    (supplier-partitioned cumulative window over distinct-day rows; the
    global one through the same histogram under a constant key), the
    rank thresholds compare in int64, and the supplier dim attaches by
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lat = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_suppkey").cast("long").alias("suppkey"),
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("__d"),
        )
    )
    # staged once (r12): the (supplier, day) histogram sits on the
    # lineitem⋈orders shuffle join and feeds THREE consumers (the
    # per-supplier cumulative window, the per-supplier totals, and the
    # global day histogram whose bounds probe runs at build) — without
    # the checkpoint the probe paid the join once and the exec paid it
    # again per branch
    hist = lat.groupBy("suppkey", "__d").agg(
        F.count(F.lit(1)).alias("__c")
    ).localCheckpoint(eager=False)
    w = (
        Window.partitionBy("suppkey")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w))
    tot = hist.groupBy("suppkey").agg(F.sum("__c").alias("__n"))
    p90 = (
        cum.join(F.broadcast(tot), "suppkey")
        .filter(100 * F.col("__cum") >= 90 * F.col("__n"))
        .groupBy("suppkey")
        .agg(
            F.min("__d").alias("p90_days"),
            F.max("__n").cast("long").alias("n_items"),
        )
    )
    # GLOBAL p90 through the bounded-fan prefix sum (never an
    # unpartitioned window), over the same latency histogram re-keyed
    # by day only. Latencies can be negative in dirty data — shift by
    # the probed min so prefix keys are nonnegative.
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    ghist = hist.groupBy("__d").agg(F.sum("__c").alias("__c"))
    ghist = ghist.localCheckpoint(eager=False)
    bounds = ghist.agg(
        F.min("__d").alias("mn"), F.max("__d").alias("mx")
    ).first()
    mn = bounds["mn"] or 0
    gshift = ghist.select(
        (F.col("__d") - F.lit(mn)).alias("__k"), "__d", "__c"
    )
    gcum = _exclusive_prefix(
        gshift, "__k", "__c", "__prev", max_key=(bounds["mx"] or 0) - mn
    ).withColumn("__cum", F.col("__prev") + F.col("__c"))
    gtot = ghist.agg(F.sum("__c").alias("__gn"))
    gp90 = (
        gcum.crossJoin(F.broadcast(gtot))
        .filter(100 * F.col("__cum") >= 90 * F.col("__gn"))
        .agg(F.min("__d").alias("__g90"))
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("suppkey"), "s_name"
    )
    return (
        p90.crossJoin(F.broadcast(gp90))
        .filter(F.col("p90_days") > F.col("__g90") + 2)
        .join(F.broadcast(sup), "suppkey")
        .select(
            "suppkey",
            "s_name",
            "n_items",
            F.col("p90_days").cast("long").alias("p90_days"),
            F.col("__g90").cast("long").alias("global_p90_days"),
        )
    )


ORACLE_SUPPLIER_LATENCY_OUTLIERS = """
WITH lat AS (
  SELECT l.l_suppkey AS suppkey,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS d
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
hist AS (SELECT suppkey, d, COUNT(*) AS c FROM lat GROUP BY 1, 2),
cum AS (
  SELECT suppkey, d, c,
         SUM(c) OVER (PARTITION BY suppkey ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS cu
  FROM hist),
tot AS (SELECT suppkey, SUM(c) AS n FROM hist GROUP BY 1),
p90 AS (
  SELECT c.suppkey, MIN(c.d) AS p90_days, CAST(MAX(t.n) AS BIGINT) AS n_items
  FROM cum c JOIN tot t USING (suppkey)
  WHERE 100 * c.cu >= 90 * t.n
  GROUP BY 1),
ghist AS (SELECT d, COUNT(*) AS c FROM lat GROUP BY 1),
gcum AS (SELECT d, SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cu
         FROM ghist),
gtot AS (SELECT SUM(c) AS n FROM ghist),
g90 AS (SELECT MIN(d) AS g FROM gcum, gtot WHERE 100 * gcum.cu >= 90 * gtot.n)
SELECT CAST(p.suppkey AS BIGINT) AS suppkey, s.s_name, p.n_items,
       CAST(p.p90_days AS BIGINT) AS p90_days,
       CAST(g90.g AS BIGINT) AS global_p90_days
FROM p90 p JOIN supplier s ON s.s_suppkey = p.suppkey, g90
WHERE p.p90_days > g90.g + 2
"""


def q_corpus_split_half_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half self-divergence: unigram JSD between the doc_id-parity
    halves of the SAME corpus — the sampling-noise floor for every
    between-source divergence number (a source-pair JSD is only
    meaningful if it clears this floor). Same smoothed-grid JSD
    machinery as `source_js_divergence`, one pair, term-ordered fold."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2).cast("long").alias("__half"),
        F.explode(X.tokens(F.lower(F.col("text")))).alias("t"),
    )
    sc = tok.groupBy("__half", "t").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    vocab = tok.select("t").distinct()
    vtot = vocab.agg(F.count(F.lit(1)).cast("double").alias("__V"))
    stot = sc.groupBy("__half").agg(F.sum("__c").alias("__T"))
    grid = (
        stot.crossJoin(vocab)
        .join(sc, ["__half", "t"], "left")
        .crossJoin(F.broadcast(vtot))
        .select(
            "__half",
            "t",
            (
                (F.coalesce(F.col("__c"), F.lit(0.0)) + 1.0)
                / (F.col("__T") + F.col("__V"))
            ).alias("__p"),
        )
    )
    a = grid.filter(F.col("__half") == 0).select("t", F.col("__p").alias("__pa"))
    b = grid.filter(F.col("__half") == 1).select("t", F.col("__p").alias("__pb"))
    pairs = a.join(b, "t")
    m = (F.col("__pa") + F.col("__pb")) / 2.0
    contrib = 0.5 * F.col("__pa") * (F.log(F.col("__pa")) - F.log(m)) + (
        0.5 * F.col("__pb") * (F.log(F.col("__pb")) - F.log(m))
    )
    per_term = pairs.select(
        F.struct(F.col("t").alias("t"), contrib.alias("x")).alias("__tx")
    )
    return per_term.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("__tx")),
                F.lit(0.0),
                lambda acc, s: acc + s["x"],
            ),
            6,
        ).alias("split_half_jsd"),
    )


ORACLE_CORPUS_SPLIT_HALF_JSD = rf"""
WITH tok AS (
  SELECT CAST(doc_id % 2 AS BIGINT) AS half,
         unnest({_DD_TOKENS.format(c='text')}) AS t
  FROM (SELECT doc_id, lower(text) AS text FROM documents)),
sc AS (SELECT half, t, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2),
vocab AS (SELECT DISTINCT t FROM tok),
vt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM vocab),
st AS (SELECT half, SUM(c) AS ts FROM sc GROUP BY 1),
grid AS (
  SELECT st.half, vocab.t,
         (COALESCE(sc.c, 0.0) + 1.0) / (st.ts + vt.nv) AS p
  FROM st CROSS JOIN vocab
  LEFT JOIN sc ON sc.half = st.half AND sc.t = vocab.t, vt),
pairs AS (
  SELECT a.t,
         0.5 * a.p * (ln(a.p) - ln((a.p + b.p) / 2.0))
         + 0.5 * b.p * (ln(b.p) - ln((a.p + b.p) / 2.0)) AS x
  FROM grid a JOIN grid b ON a.t = b.t AND a.half = 0 AND b.half = 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(x ORDER BY t)), (a, b) -> a + b), 6) AS split_half_jsd
FROM pairs
"""


def q_events_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend traffic lift: events-per-observed-hour on weekends vs
    weekdays and their ratio — the one-number capacity/staffing signal
    the hour×dow heatmap summarizes. Exact integer event and
    distinct-hour counts per segment; a single division at the end.
    Day numbering follows the repo convention (Spark dayofweek
    1=Sunday ↔ DuckDB dayofweek+1)."""
    ev = _t(spark, sf_dir, "events")
    seg = ev.select(
        F.dayofweek("ts").isin(1, 7).cast("int").alias("__we"),
        (F.unix_timestamp("ts") / 3600).cast("long").alias("__h"),
    )
    per = seg.groupBy("__we").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.countDistinct("__h").cast("long").alias("__hours"),
    )
    rate = F.col("__n").cast("double") / F.col("__hours").cast("double")
    wide = per.agg(
        F.max(F.when(F.col("__we") == 1, F.col("__n"))).alias("n_weekend_events"),
        F.max(F.when(F.col("__we") == 0, F.col("__n"))).alias("n_weekday_events"),
        F.max(F.when(F.col("__we") == 1, F.round(rate, 6))).alias("weekend_per_hour"),
        F.max(F.when(F.col("__we") == 0, F.round(rate, 6))).alias("weekday_per_hour"),
        F.max(F.when(F.col("__we") == 1, rate)).alias("__wr"),
        F.max(F.when(F.col("__we") == 0, rate)).alias("__dr"),
    )
    return wide.select(
        "n_weekend_events",
        "n_weekday_events",
        "weekend_per_hour",
        "weekday_per_hour",
        F.when(
            F.col("__dr") > 0, F.round(F.col("__wr") / F.col("__dr"), 6)
        ).alias("weekend_lift"),
    )


ORACLE_EVENTS_WEEKEND_LIFT = """
WITH seg AS (
  SELECT CASE WHEN (dayofweek(ts) + 1) IN (1, 7) THEN 1 ELSE 0 END AS we,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
  FROM events),
per AS (
  SELECT we, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT h) AS BIGINT) AS hours
  FROM seg GROUP BY 1),
wide AS (
  SELECT MAX(CASE WHEN we = 1 THEN n END) AS nw,
         MAX(CASE WHEN we = 0 THEN n END) AS nd,
         MAX(CASE WHEN we = 1 THEN CAST(n AS DOUBLE) / CAST(hours AS DOUBLE) END) AS wr,
         MAX(CASE WHEN we = 0 THEN CAST(n AS DOUBLE) / CAST(hours AS DOUBLE) END) AS dr
  FROM per)
SELECT nw AS n_weekend_events, nd AS n_weekday_events,
       round(wr, 6) AS weekend_per_hour,
       round(dr, 6) AS weekday_per_hour,
       CASE WHEN dr > 0 THEN round(wr / dr, 6) END AS weekend_lift
FROM wide
"""


def q_doc_token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token character-length histogram with occurrence shares — the
    BPE-cost prior (long-token-heavy corpora fragment into more
    subwords per word; a spike at length 1 flags tokenization debris).
    Length-bounded aggregate over the token stream; one-row total
    attach."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(X.tokens(F.lower(F.col("text")))).alias("__w")
    ).select(F.length("__w").cast("long").alias("token_len"))
    cnt = tok.groupBy("token_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    tot = cnt.agg(F.sum("n_occurrences").cast("double").alias("__t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "token_len",
        "n_occurrences",
        F.round(
            F.col("n_occurrences").cast("double") / F.col("__t"), 6
        ).alias("share"),
    )


ORACLE_DOC_TOKEN_LENGTH_PROFILE = f"""
WITH tok AS (
  SELECT CAST(length(unnest({_DD_TOKENS.format(c='text')})) AS BIGINT)
           AS token_len
  FROM (SELECT lower(text) AS text FROM documents)),
cnt AS (SELECT token_len, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM tok GROUP BY 1),
tot AS (SELECT CAST(SUM(n_occurrences) AS DOUBLE) AS t FROM cnt)
SELECT token_len, n_occurrences,
       round(CAST(n_occurrences AS DOUBLE) / tot.t, 6) AS share
FROM cnt CROSS JOIN tot
"""


def q_part_type_price_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price premium per part type: mean retail price vs the corpus
    mean, as a percentage — the assortment-pricing read behind the
    per-brand regression. Cents-exact sums, |types|-bounded, one-row
    grand-mean attach; both means convert with the same expression
    shape so the ratio is engine-identical."""
    p = _t(spark, sf_dir, "part")
    base = p.select(
        "p_type",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("__c"),
    )
    per = base.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("__s"),
    )
    tot = base.agg(
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("__ts"),
        F.count(F.lit(1)).cast("long").alias("__tn"),
    )
    mean_t = F.col("__s").cast("double") / 100 / F.col("n_parts")
    mean_all = F.col("__ts").cast("double") / 100 / F.col("__tn")
    return per.crossJoin(F.broadcast(tot)).select(
        "p_type",
        "n_parts",
        F.round(mean_t, 6).alias("avg_price"),
        F.round((mean_t / mean_all - 1.0) * 100.0, 6).alias("premium_pct"),
    )


ORACLE_PART_TYPE_PRICE_PREMIUM = """
WITH base AS (
  SELECT p_type, CAST(round(p_retailprice * 100) AS BIGINT) AS c FROM part),
per AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_parts, SUM(c) AS s
  FROM base GROUP BY 1),
tot AS (SELECT SUM(c) AS ts, CAST(COUNT(*) AS BIGINT) AS tn FROM base)
SELECT p_type, n_parts,
       round(CAST(s AS DOUBLE) / 100 / n_parts, 6) AS avg_price,
       round((CAST(s AS DOUBLE) / 100 / n_parts
              / (CAST(ts AS DOUBLE) / 100 / tn) - 1.0) * 100.0, 6)
         AS premium_pct
FROM per CROSS JOIN tot
"""


_BRACKETS = [
    # (label, brand, size_lo, size_hi, qty_lo, qty_hi) — the TPC-H Q19
    # disjunctive-predicate shape adapted to this schema's columns
    ("small", "Brand#12", 1, 10, 1, 11),
    ("medium", "Brand#23", 1, 20, 10, 20),
    ("large", "Brand#15", 1, 30, 20, 30),
]


def q_part_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue inside three disjunctive brand/size/quantity
    brackets (the TPC-H Q19 shape). The OR-of-ANDs predicate is pushed
    below the join on both sides' conjuncts Catalyst can isolate
    (brand/size prune the part scan, the quantity envelope prunes the
    fact scan), then the 2k-row dim broadcasts — the fact table never
    shuffles. DECIMAL-exact revenue per bracket."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("__pk"), "l_quantity",
        (
            F.col("l_extendedprice").cast(_DEC)
            * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
        ).alias("__rev"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("__pk"), "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), "__pk")
    bracket = F.lit(None).cast("string")
    for label, brand, slo, shi, qlo, qhi in reversed(_BRACKETS):
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        bracket = F.when(cond, F.lit(label)).otherwise(bracket)
    return (
        j.select(bracket.alias("bracket"), "__rev")
        .filter(F.col("bracket").isNotNull())
        .groupBy("bracket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
    )


ORACLE_PART_BRACKET_REVENUE = """
WITH j AS (
  SELECT CASE
           WHEN p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
                AND l.l_quantity BETWEEN 1 AND 11 THEN 'small'
           WHEN p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
                AND l.l_quantity BETWEEN 10 AND 20 THEN 'medium'
           WHEN p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 30
                AND l.l_quantity BETWEEN 20 AND 30 THEN 'large'
         END AS bracket,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
           AS rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
SELECT bracket, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(rev) AS DOUBLE) AS revenue
FROM j WHERE bracket IS NOT NULL GROUP BY 1
"""


def q_customer_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant high-balance customers (the TPC-H Q22 shape): customers
    whose account balance beats the mean POSITIVE balance and who have
    placed no orders, rolled up by market segment. The mean is a
    ONE-ROW broadcast attach; the no-orders test is a left-anti join
    against the distinct custkey projection of orders — never a
    NOT IN materialization. Balance sums are DECIMAL-exact."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast(_DEC).alias("__b")
    )
    avg_pos = cust.filter(F.col("__b") > 0).agg(
        (
            F.sum("__b").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__avg")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    rich = (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("__b").cast("double") > F.col("__avg"))
        .join(orders, "c_custkey", "left_anti")
    )
    return rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("__b").cast("double").alias("total_acctbal"),
    )


ORACLE_CUSTOMER_SALES_OPPORTUNITY = """
WITH cust AS (
  SELECT c_custkey, c_mktsegment,
         CAST(c_acctbal AS DECIMAL(18,2)) AS b
  FROM customer),
avg_pos AS (
  SELECT CAST(SUM(b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS a
  FROM cust WHERE b > 0)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(b) AS DOUBLE) AS total_acctbal
FROM cust CROSS JOIN avg_pos
WHERE CAST(b AS DOUBLE) > a
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cust.c_custkey)
GROUP BY 1
"""


def q_orders_with_returns_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orders containing at least one returned line, by order priority
    (the TPC-H Q4 EXISTS shape): a left-semi join of orders against the
    distinct orderkeys of 'R'-flagged lineitems, then the per-priority
    return rate against the full order population. Both sides aggregate
    to |priorities| rows before the final join — no order-level data
    crosses the last shuffle."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    with_ret = (
        orders.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_with_returns"))
    )
    total = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return total.join(with_ret, "o_orderpriority", "left").select(
        "o_orderpriority",
        "n_orders",
        F.coalesce("n_with_returns", F.lit(0)).cast("long")
        .alias("n_with_returns"),
        F.round(
            F.coalesce("n_with_returns", F.lit(0)).cast("double")
            / F.col("n_orders").cast("double") * 100.0,
            6,
        ).alias("return_rate_pct"),
    )


ORACLE_ORDERS_WITH_RETURNS_BY_PRIORITY = """
WITH wr AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_with_returns
  FROM orders o
  WHERE EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
  GROUP BY 1),
tot AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT tot.o_orderpriority, tot.n_orders,
       CAST(COALESCE(wr.n_with_returns, 0) AS BIGINT) AS n_with_returns,
       round(CAST(COALESCE(wr.n_with_returns, 0) AS DOUBLE)
             / CAST(tot.n_orders AS DOUBLE) * 100.0, 6) AS return_rate_pct
FROM tot LEFT JOIN wr USING (o_orderpriority)
"""


def q_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral shipping volume (the TPC-H Q7 shape): discounted
    revenue between supplier nation and customer nation per ship year,
    for the NATION_1 <-> NATION_2 pair in 1995-1996, both directions.
    The fact table joins two broadcast dimension spines (supplier->
    nation, orders->customer->nation); the nation filter reaches both
    dim scans before the broadcast, so the fact rows that survive are
    only those touching the two nations."""
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate").between(1995, 1996))
        .select(
            "l_orderkey", "l_suppkey",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (
                F.col("l_extendedprice").cast(_DEC)
                * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
            ).alias("__rev"),
        )
    )
    j = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy("supp_nation", "cust_nation", "l_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__rev").cast("double").alias("revenue"),
    )


ORACLE_NATION_TRADE_FLOW = """
WITH supp AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2')),
cust AS (
  SELECT c_custkey, n_name AS cust_nation
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2')),
li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           AS rev
  FROM lineitem WHERE year(l_shipdate) BETWEEN 1995 AND 1996)
SELECT supp_nation, cust_nation, l_year,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(rev) AS DOUBLE) AS revenue
FROM li
JOIN supp ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN cust ON c_custkey = o_custkey
WHERE supp_nation <> cust_nation
GROUP BY 1, 2, 3
"""


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of supplier revenue into the EUROPE customer
    market per order year (the TPC-H Q8 shape). The denominator and
    numerator come out of ONE aggregation pass (conditional sum), so
    the 5-table join runs once; customer-side region and supplier-side
    nation are broadcast spines over the fact scan."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("__ck_nat"))
            ),
            F.col("c_nationkey") == F.col("__ck_nat"),
        )
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (
            F.col("l_extendedprice").cast(_DEC)
            * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
        ).alias("__rev"),
    )
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    agg = j.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("__rev"))
        ).alias("__n"),
        F.sum("__rev").alias("__t"),
    )
    return agg.select(
        "o_year",
        F.coalesce(F.col("__n"), F.lit(0).cast(_DEC))
        .cast("double")
        .alias("nation_revenue"),
        F.col("__t").cast("double").alias("market_revenue"),
        F.round(
            F.coalesce(F.col("__n"), F.lit(0).cast(_DEC)).cast("double")
            / F.col("__t").cast("double") * 100.0,
            6,
        ).alias("mkt_share_pct"),
    )


ORACLE_NATION_MARKET_SHARE = """
WITH cust AS (
  SELECT c_custkey
  FROM customer
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'),
supp AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON n_nationkey = s_nationkey),
j AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         s.supp_nation,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
           AS rev
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN cust ON cust.c_custkey = o.o_custkey
  JOIN supp s ON s.s_suppkey = l.l_suppkey),
a AS (
  SELECT o_year,
         SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev END) AS n,
         SUM(rev) AS t
  FROM j GROUP BY 1)
SELECT o_year,
       CAST(COALESCE(n, 0) AS DOUBLE) AS nation_revenue,
       CAST(t AS DOUBLE) AS market_revenue,
       round(CAST(COALESCE(n, 0) AS DOUBLE) / CAST(t AS DOUBLE) * 100.0, 6)
         AS mkt_share_pct
FROM a
"""


def q_part_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket part affinity: pairs of distinct parts co-occurring
    in the same order, top 20 by support with lift against independent
    part frequencies. The self-join is keyed on l_orderkey, so the pair
    explosion is bounded by basket size (TPC-H baskets are ~4 lines) —
    per-order quadratic, never corpus-quadratic; part marginals attach
    via broadcast and the order total is a ONE-ROW attach. Determinism:
    ties in support break on (part_a, part_b)."""
    op = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.select(
        F.col("l_orderkey").alias("__o"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("__o"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "__o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    marg = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    )
    tot = op.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__n_orders")
    )
    out = (
        pairs.join(
            F.broadcast(marg.select(
                F.col("l_partkey").alias("part_a"),
                F.col("__m").alias("__ma"),
            )),
            "part_a",
        )
        .join(
            F.broadcast(marg.select(
                F.col("l_partkey").alias("part_b"),
                F.col("__m").alias("__mb"),
            )),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a", "part_b", "n_pair",
            F.round(
                F.col("n_pair").cast("double")
                * F.col("__n_orders").cast("double")
                / (F.col("__ma").cast("double") * F.col("__mb").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("n_pair"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


ORACLE_PART_BASKET_PAIRS = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
marg AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS m FROM op GROUP BY 1),
tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op)
SELECT part_a, part_b, n_pair,
       round(CAST(n_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)
             / (CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE)), 6) AS lift
FROM pairs
JOIN marg ma ON ma.l_partkey = part_a
JOIN marg mb ON mb.l_partkey = part_b
CROSS JOIN tot
ORDER BY n_pair DESC, part_a, part_b
LIMIT 20
"""


def q_events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate over the top-100 purchase values — the
    heavy-tail diagnostic behind winsorize/anomaly thresholds (alpha
    near 1-2 means whale purchases dominate any mean). TakeOrdered
    pulls k+1 = 101 order statistics (no full sort survives the plan);
    log-ratios quantize to 1e-9 fixed-point before the sum so the
    101-row reduction is an exact integer fold; the threshold is a
    ONE-ROW broadcast attach."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 0)
    )
    top = ev.select("event_id", "value").orderBy(
        F.desc("value"), F.asc("event_id")
    ).limit(101)
    thr = top.agg(F.min("value").alias("__xk"))
    j = top.crossJoin(F.broadcast(thr))
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(
            F.round((F.log("value") - F.log("__xk")) * 1e9, 0).cast("long")
        ).alias("__s"),
        F.min("value").alias("x_threshold"),
    )
    return agg.filter(F.col("__s") > 0).select(
        (F.col("__n") - 1).cast("long").alias("n_tail"),
        "x_threshold",
        F.round(
            (F.col("__n") - 1).cast("double")
            / (F.col("__s").cast("double") / 1e9),
            6,
        ).alias("hill_alpha"),
    )


ORACLE_EVENTS_HILL_TAIL_INDEX = """
WITH top AS (
  SELECT event_id, value FROM events
  WHERE event_type = 'purchase' AND value > 0
  ORDER BY value DESC, event_id LIMIT 101),
thr AS (SELECT MIN(value) AS xk FROM top),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(round((ln(value) - ln(xk)) * 1e9) AS BIGINT)) AS s,
         MIN(value) AS x_threshold
  FROM top CROSS JOIN thr)
SELECT CAST(n - 1 AS BIGINT) AS n_tail, x_threshold,
       round(CAST(n - 1 AS DOUBLE) / (CAST(s AS DOUBLE) / 1e9), 6)
         AS hill_alpha
FROM a WHERE s > 0
"""


def q_corpus_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the token-frequency distribution — the
    vocabulary-concentration companion to the Zipf fit (how much of the
    corpus the head owns). Same closed-form rank trick as the user Gini:
    tokens with count c occupy a contiguous rank block, so Σ rank·c
    collapses on the (count -> #tokens) HISTOGRAM — the shuffle is
    bounded by distinct frequency LEVELS, not vocabulary. All
    intermediates are exact integers (DECIMAL(38,0) — rank·count sums
    overflow int64 at corpus scale)."""
    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    )
    per_tok = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
    hist = per_tok.groupBy("__c").agg(F.count(F.lit(1)).alias("__f"))
    hist, h = _hist_prefix(hist, "__c", "__f", "__cum")
    dec = "decimal(38,0)"
    s1 = (
        F.col("__c").cast(dec)
        * (
            F.col("__f").cast(dec) * F.col("__cum").cast(dec)
            + F.expr("__f * (__f + 1) div 2").cast(dec)
        )
    )
    agg = h.agg(
        F.sum("__f").cast("long").alias("vocab_size"),
        F.sum(F.col("__c") * F.col("__f")).cast("long").alias("total_tokens"),
        F.sum(s1).alias("__s1"),
    )
    n = F.col("vocab_size").cast("double")
    t = F.col("total_tokens").cast("double")
    return agg.select(
        "vocab_size",
        "total_tokens",
        F.round(
            2.0 * F.col("__s1").cast("double") / (n * t) - (n + 1.0) / n, 6
        ).alias("gini"),
    )


ORACLE_CORPUS_TOKEN_GINI = r"""
WITH pt AS (
  SELECT token, COUNT(*) AS c
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS token
        FROM documents)
  GROUP BY 1),
hist AS (SELECT c, COUNT(*) AS f FROM pt GROUP BY 1),
cum AS (
  SELECT c, f,
         COALESCE(SUM(f) OVER (ORDER BY c
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cu
  FROM hist),
a AS (
  SELECT SUM(f) AS n, SUM(c * f) AS t,
         SUM(c * (f * cu + (f * (f + 1)) // 2)) AS s1
  FROM cum)
SELECT CAST(n AS BIGINT) AS vocab_size,
       CAST(t AS BIGINT) AS total_tokens,
       round(2.0 * CAST(s1 AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM a
"""


def q_embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean silhouette score per label on the deterministic vec_id < 100
    sample — the cluster-separation grade for the label space (s near 1:
    tight and separated; near 0: overlapping). Distances are cosine on
    1e-9-quantized UNIT vectors, so every pairwise dot is a ratio of
    exact integers (no float fold anywhere); the sample broadcasts over
    ONE corpus scan (the audited brute-force shape) and per-(point,
    label) distance sums are integer folds. a = mean own-label distance
    (self excluded), b = min other-label mean, s = (b-a)/max(a,b)."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    uq = F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
    base = emb.filter(nrm > 0)
    samp = base.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("__qid"),
        F.col("label").alias("__ql"),
        uq.alias("__qu"),
    )
    corp = base.select(
        F.col("vec_id").alias("__cid"),
        F.col("label").alias("__cl"),
        uq.alias("__cu"),
    )
    dec = "decimal(38,0)"
    dot = F.aggregate(
        F.zip_with(F.col("__qu"), F.col("__cu"), lambda a, b: a * b),
        F.lit(0).cast(dec),
        lambda acc, x: acc + x.cast(dec),
    )
    pairs = (
        corp.crossJoin(F.broadcast(samp))
        .filter(F.col("__cid") != F.col("__qid"))
        .select(
            "__qid", "__ql", "__cl",
            F.round(
                (F.lit(1.0) - dot.cast("double") / 1e18) * 1e9, 0
            ).cast("long").alias("__dq"),
        )
    )
    m = pairs.groupBy("__qid", "__ql", "__cl").agg(
        F.sum(F.col("__dq").cast(dec)).alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    mean_d = F.col("__s").cast("double") / 1e9 / F.col("__n").cast("double")
    ab = m.groupBy("__qid", "__ql").agg(
        F.max(F.when(F.col("__cl") == F.col("__ql"), mean_d)).alias("__a"),
        F.min(F.when(F.col("__cl") != F.col("__ql"), mean_d)).alias("__b"),
    )
    s = (
        ab.filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
        .filter(F.greatest("__a", "__b") > 0)
        .select(
            "__ql",
            F.round(
                (F.col("__b") - F.col("__a"))
                / F.greatest("__a", "__b") * 1e9,
                0,
            ).cast("long").alias("__sq"),
        )
    )
    return s.groupBy(F.col("__ql").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(
            F.sum("__sq").cast("double") / 1e9
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_silhouette"),
    )


ORACLE_EMBEDDING_SILHOUETTE = """
WITH nv AS (
  SELECT vec_id, label, embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings),
u AS (
  SELECT vec_id, label, s.i - 1 AS dim,
         CAST(round(CAST(embedding[s.i] AS DOUBLE) / nrm * 1e9) AS BIGINT)
           AS ui
  FROM nv,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
  WHERE nrm > 0),
dots AS (
  SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS cid, c.label AS cl,
         SUM(q.ui * c.ui) AS dot
  FROM u q JOIN u c USING (dim)
  WHERE q.vec_id < 100 AND c.vec_id <> q.vec_id
  GROUP BY 1, 2, 3, 4),
d AS (
  SELECT qid, ql, cl,
         CAST(round((1.0 - CAST(dot AS DOUBLE) / 1e18) * 1e9) AS BIGINT)
           AS dq
  FROM dots),
m AS (SELECT qid, ql, cl, SUM(dq) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY 1, 2, 3),
ab AS (
  SELECT qid, ql,
         MAX(CASE WHEN cl = ql
                  THEN CAST(s AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) END) AS a,
         MIN(CASE WHEN cl <> ql
                  THEN CAST(s AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) END) AS b
  FROM m GROUP BY 1, 2),
sv AS (
  SELECT ql,
         CAST(round((b - a) / GREATEST(a, b) * 1e9) AS BIGINT) AS sq
  FROM ab
  WHERE a IS NOT NULL AND b IS NOT NULL AND GREATEST(a, b) > 0)
SELECT ql AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
       round(CAST(SUM(sq) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_silhouette
FROM sv GROUP BY 1
"""


def q_embedding_knn_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local density profile: the 5th-nearest-neighbor cosine distance
    of each vec_id < 100 sample point, rolled up per label (mean/min/max
    radius). Small radii = dense regions (dedup candidates, easy ANN);
    large = sparse tails that IVF probes miss. Unit vectors quantize to
    1e-9 ints so every pairwise dot is exact; the sample broadcasts over
    ONE corpus scan and the k-th order statistic comes from a window
    partitioned BY SAMPLE POINT (never unpartitioned)."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    uq = F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
    base = emb.filter(nrm > 0)
    samp = base.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("__qid"),
        F.col("label").alias("__ql"),
        uq.alias("__qu"),
    )
    corp = base.select(
        F.col("vec_id").alias("__cid"), uq.alias("__cu")
    )
    dec = "decimal(38,0)"
    dot = F.aggregate(
        F.zip_with(F.col("__qu"), F.col("__cu"), lambda a, b: a * b),
        F.lit(0).cast(dec),
        lambda acc, x: acc + x.cast(dec),
    )
    pairs = (
        corp.crossJoin(F.broadcast(samp))
        .filter(F.col("__cid") != F.col("__qid"))
        .select(
            "__qid", "__ql", "__cid",
            F.round(
                (F.lit(1.0) - dot.cast("double") / 1e18) * 1e9, 0
            ).cast("long").alias("__dq"),
        )
    )
    w = Window.partitionBy("__qid").orderBy(
        F.asc("__dq"), F.asc("__cid")
    )
    kth = pairs.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 5
    )
    return kth.groupBy(F.col("__ql").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(
            F.sum(F.col("__dq").cast(dec)).cast("double") / 1e9
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_radius"),
        F.round(F.min("__dq").cast("double") / 1e9, 6).alias("min_radius"),
        F.round(F.max("__dq").cast("double") / 1e9, 6).alias("max_radius"),
    )


ORACLE_EMBEDDING_KNN_RADIUS = """
WITH nv AS (
  SELECT vec_id, label, embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings),
u AS (
  SELECT vec_id, label, s.i - 1 AS dim,
         CAST(round(CAST(embedding[s.i] AS DOUBLE) / nrm * 1e9) AS BIGINT)
           AS ui
  FROM nv,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
  WHERE nrm > 0),
dots AS (
  SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS cid,
         SUM(q.ui * c.ui) AS dot
  FROM u q JOIN u c USING (dim)
  WHERE q.vec_id < 100 AND c.vec_id <> q.vec_id
  GROUP BY 1, 2, 3),
d AS (
  SELECT qid, ql, cid,
         CAST(round((1.0 - CAST(dot AS DOUBLE) / 1e18) * 1e9) AS BIGINT)
           AS dq,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY CAST(round((1.0 - CAST(dot AS DOUBLE) / 1e18) * 1e9)
                         AS BIGINT), cid) AS rk
  FROM dots)
SELECT ql AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
       round(CAST(SUM(dq) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_radius,
       round(CAST(MIN(dq) AS DOUBLE) / 1e9, 6) AS min_radius,
       round(CAST(MAX(dq) AS DOUBLE) / 1e9, 6) AS max_radius
FROM d WHERE rk = 5 GROUP BY 1
"""


def q_source_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-SOURCE embedding centroids
    (documents joined to embeddings on doc_id = vec_id) — 'which sources
    say the same thing in vector space', the embedding-side companion to
    the vocabulary-overlap matrix for mixture planning. Centroids are
    per-dim exact integer sums of 1e-9-quantized unit vectors, so the
    centroid dot/norms are ratios of exact integers; everything after
    the per-(source, dim) aggregation is |sources|-bounded."""
    docs = _ts(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("__id"), "source"
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("__id"), "embedding"
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    uq = F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
    j = (
        docs.join(emb, "__id")
        .filter(nrm > 0)
        .select("source", F.posexplode(uq).alias("dim", "__ui"))
    )
    dec = "decimal(38,0)"
    per = j.groupBy("source", "dim").agg(
        F.sum(F.col("__ui").cast(dec)).alias("__sd")
    )
    norms = per.groupBy("source").agg(
        F.sum(F.col("__sd") * F.col("__sd")).alias("__nn")
    )
    a = per.select(
        F.col("source").alias("source_a"), "dim", F.col("__sd").alias("__sa")
    )
    b = per.select(
        F.col("source").alias("source_b"), "dim", F.col("__sd").alias("__sb")
    )
    num = (
        a.join(b, "dim")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("__sa") * F.col("__sb")).alias("__dot"))
    )
    out = (
        num.join(
            F.broadcast(norms.select(
                F.col("source").alias("source_a"), F.col("__nn").alias("__na")
            )),
            "source_a",
        )
        .join(
            F.broadcast(norms.select(
                F.col("source").alias("source_b"), F.col("__nn").alias("__nb")
            )),
            "source_b",
        )
    )
    return out.select(
        "source_a", "source_b",
        F.round(
            F.col("__dot").cast("double")
            / F.sqrt(F.col("__na").cast("double") * F.col("__nb").cast("double")),
            6,
        ).alias("centroid_cosine"),
    )


ORACLE_SOURCE_EMBEDDING_CENTROIDS = """
WITH nv AS (
  SELECT d.source, e.embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
u AS (
  SELECT source, s.i - 1 AS dim,
         CAST(round(CAST(embedding[s.i] AS DOUBLE) / nrm * 1e9) AS BIGINT)
           AS ui
  FROM nv,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
  WHERE nrm > 0),
per AS (SELECT source, dim, SUM(ui) AS sd FROM u GROUP BY 1, 2),
norms AS (SELECT source, SUM(sd * sd) AS nn FROM per GROUP BY 1),
num AS (
  SELECT a.source AS source_a, b.source AS source_b,
         SUM(a.sd * b.sd) AS dot
  FROM per a JOIN per b USING (dim)
  WHERE a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b,
       round(CAST(dot AS DOUBLE)
             / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)), 6)
         AS centroid_cosine
FROM num
JOIN norms na ON na.source = source_a
JOIN norms nb ON nb.source = source_b
"""


def q_events_value_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection on daily purchase revenue: the day
    where the cumulative deviation from the overall daily mean peaks —
    the changepoint screen that catches a sustained shift the per-day
    z-score misses. Values quantize to 1e-6 ints; the running sum uses
    the bounded-fan-in prefix over DAYS (|days|-bounded, no
    unpartitioned window); cusum_d = prefix_d·D − d·T stays an exact
    integer (scaled by D), and the argmax breaks ties on earliest day."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        F.to_date("ts").alias("__day")
    ).agg(
        F.sum(F.round(F.col("value") * 1e6, 0).cast("long")).alias("__x")
    )
    dec = "decimal(38,0)"
    # rank days by date with the same histogram-free prefix machinery:
    # key on day ordinal (days since epoch) so the prefix is over dates
    keyed = daily.select(
        F.datediff(F.col("__day"), F.lit("1970-01-01")).alias("__k"),
        "__day", "__x",
    )
    # value prefix + day-rank prefix share one window/recursion
    # (multi-val form) — previously two passes equi-joined on __k;
    # depth probe-bounded to ONE level (day-ordinal range ≪ 65536) and
    # the totals read the SAME checkpointed frame as the prefix
    keyed, pre = _hist_prefix(
        keyed.withColumn("__one", F.lit(1)),
        "__k", ["__x", "__one"], ["__pre", "__d0"],
    )
    pre = pre.withColumn("__d", F.col("__d0") + 1)
    tot = keyed.agg(
        F.sum("__x").cast(dec).alias("__t"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    j = (
        pre.withColumn("__prefix", F.col("__pre") + F.col("__x"))
        .crossJoin(F.broadcast(tot))
    )
    c = (
        F.col("__prefix").cast(dec) * F.col("n_days").cast(dec)
        - F.col("__d").cast(dec) * F.col("__t")
    )
    scored = j.select(
        "__day", "n_days",
        c.alias("__c"),
        F.abs(c).alias("__ac"),
    )
    top = scored.orderBy(F.desc("__ac"), F.asc("__day")).limit(1)
    scale = F.col("n_days").cast("double") * 1e6
    return top.select(
        "n_days",
        F.date_format("__day", "yyyy-MM-dd").alias("changepoint_day"),
        F.round(F.col("__ac").cast("double") / scale, 6).alias(
            "max_abs_cusum"
        ),
        F.signum(F.col("__c").cast("double")).cast("long").alias("direction"),
    )


ORACLE_EVENTS_VALUE_CUSUM = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(round(value * 1e6) AS BIGINT)) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
tot AS (SELECT SUM(x) AS t, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
cum AS (
  SELECT day,
         SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS prefix,
         ROW_NUMBER() OVER (ORDER BY day) AS d
  FROM daily),
scored AS (
  SELECT day, n_days, prefix * n_days - d * t AS c
  FROM cum CROSS JOIN tot)
SELECT n_days, strftime(day, '%Y-%m-%d') AS changepoint_day,
       round(CAST(abs(c) AS DOUBLE) / (CAST(n_days AS DOUBLE) * 1e6), 6)
         AS max_abs_cusum,
       CAST(CASE WHEN c > 0 THEN 1 WHEN c < 0 THEN -1 ELSE 0 END AS BIGINT)
         AS direction
FROM scored
ORDER BY abs(c) DESC, day ASC
LIMIT 1
"""


def q_events_props_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over the semi-structured props column: every
    JSON key with its presence rate and distinct-value cardinality — the
    first query anyone runs against an untyped event payload before
    promoting keys to real columns. from_json to map<string,string>
    keeps the scan single-pass and JVM-side; the shuffle is bounded by
    |keys| x |values|, the total is a ONE-ROW attach."""
    ev = _t(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(
            F.from_json("props", "map<string,string>")
        ).alias("key", "__val")
    )
    per = kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.countDistinct("__val").cast("long").alias("n_distinct_values"),
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "key",
        "n_present",
        F.round(
            F.col("n_present").cast("double") * 100.0
            / F.col("__n").cast("double"),
            6,
        ).alias("presence_pct"),
        "n_distinct_values",
    )


ORACLE_EVENTS_PROPS_KEY_PROFILE = """
WITH kv AS (
  SELECT k.key AS key,
         json_extract_string(e.props, '$.' || k.key) AS val
  FROM events e,
       LATERAL (SELECT unnest(json_keys(e.props)) AS key) k),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events)
SELECT key, CAST(COUNT(*) AS BIGINT) AS n_present,
       round(CAST(COUNT(*) AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6)
         AS presence_pct,
       CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct_values
FROM kv CROSS JOIN tot GROUP BY key, n
"""


def q_lineitem_order_date_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table temporal integrity: lineitems shipped BEFORE their
    order was placed, per order year — the referential screen that
    catches clock skew or backfill bugs between fact tables (the
    single-table constraint gate can't see it). One shuffle join on
    orderkey; violations aggregate map-side."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderdate",
    )
    j = li.join(orders, "l_orderkey")
    return j.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
        ).cast("long").alias("n_violations"),
        F.round(
            F.sum(
                F.when(
                    F.col("l_shipdate") < F.col("o_orderdate"), 1
                ).otherwise(0)
            ).cast("double")
            * 100.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("violation_pct"),
    )


ORACLE_LINEITEM_ORDER_DATE_INTEGRITY = """
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violations,
       round(CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                           THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
             / CAST(COUNT(*) AS DOUBLE), 6) AS violation_pct
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


def q_doc_hapax_burden_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Junk-document screen: the 20 docs carrying the highest share of
    corpus-hapax tokens (tokens occurring exactly once in the whole
    corpus — OCR noise, mangled encodings, random ids). Hapax share per
    doc needs only the (doc, token) postings joined to the token-count
    vocabulary — both shuffles vocabulary-bounded; each hapax occurs in
    exactly one doc, so the join output is bounded by hapax count.
    Top-k ties break on doc_id."""
    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    )
    vocab = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("__c")
    )
    hapax = vocab.filter(F.col("__c") == 1).select("token")
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    hap_doc = (
        toks.join(hapax, "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hapax"))
    )
    out = per_doc.join(hap_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_hapax", F.lit(0)).cast("long").alias("n_hapax"),
        F.round(
            F.coalesce("n_hapax", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double") * 100.0,
            6,
        ).alias("hapax_pct"),
    )
    return out.orderBy(
        F.desc("hapax_pct"), F.asc("doc_id")
    ).limit(20)


ORACLE_DOC_HAPAX_BURDEN_TOPK = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS token
  FROM documents),
vocab AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
            FROM toks GROUP BY 1),
hap AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hapax
  FROM toks JOIN vocab USING (token)
  WHERE c = 1 GROUP BY 1)
SELECT p.doc_id, p.n_tokens,
       CAST(COALESCE(h.n_hapax, 0) AS BIGINT) AS n_hapax,
       round(CAST(COALESCE(h.n_hapax, 0) AS DOUBLE)
             / CAST(p.n_tokens AS DOUBLE) * 100.0, 6) AS hapax_pct
FROM per_doc p LEFT JOIN hap h USING (doc_id)
ORDER BY hapax_pct DESC, p.doc_id ASC
LIMIT 20
"""


def q_embedding_knn_purity_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-NN label purity swept over k in {1, 3, 5} on the vec_id < 100
    sample — the eval that tells you whether label structure is a
    1-NN-deep skin or survives wider neighborhoods (guides the k for
    any kNN-based relabel/filter). ONE corpus scan produces the rank-5
    neighbor lists; the three k's reuse them (the swept table is
    |sample| x 5 rows, driver-free). Majority ties break on the
    smaller label."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    uq = F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
    base = emb.filter(nrm > 0)
    samp = base.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("__qid"),
        F.col("label").alias("__ql"),
        uq.alias("__qu"),
    )
    corp = base.select(
        F.col("vec_id").alias("__cid"),
        F.col("label").alias("__cl"),
        uq.alias("__cu"),
    )
    dec = "decimal(38,0)"
    dot = F.aggregate(
        F.zip_with(F.col("__qu"), F.col("__cu"), lambda a, b: a * b),
        F.lit(0).cast(dec),
        lambda acc, x: acc + x.cast(dec),
    )
    pairs = (
        corp.crossJoin(F.broadcast(samp))
        .filter(F.col("__cid") != F.col("__qid"))
        .select(
            "__qid", "__ql", "__cl", "__cid",
            F.round(
                (F.lit(1.0) - dot.cast("double") / 1e18) * 1e9, 0
            ).cast("long").alias("__dq"),
        )
    )
    w = Window.partitionBy("__qid").orderBy(F.asc("__dq"), F.asc("__cid"))
    nn5 = pairs.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= 5
    )
    ks = spark.createDataFrame([(1,), (3,), (5,)], "k int").select(
        F.col("k").cast("long").alias("k")
    )
    votes = (
        nn5.crossJoin(F.broadcast(ks))
        .filter(F.col("__rk") <= F.col("k"))
        .groupBy("k", "__qid", "__ql", "__cl")
        .agg(F.count(F.lit(1)).alias("__votes"))
    )
    wm = Window.partitionBy("k", "__qid").orderBy(
        F.desc("__votes"), F.asc("__cl")
    )
    maj = votes.withColumn("__mrk", F.row_number().over(wm)).filter(
        F.col("__mrk") == 1
    )
    return maj.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(
            F.when(F.col("__cl") == F.col("__ql"), 1).otherwise(0)
        ).cast("long").alias("n_match"),
        F.round(
            F.sum(
                F.when(F.col("__cl") == F.col("__ql"), 1).otherwise(0)
            ).cast("double")
            * 100.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("purity_pct"),
    )


ORACLE_EMBEDDING_KNN_PURITY_SWEEP = """
WITH nv AS (
  SELECT vec_id, label, embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings),
u AS (
  SELECT vec_id, label, s.i - 1 AS dim,
         CAST(round(CAST(embedding[s.i] AS DOUBLE) / nrm * 1e9) AS BIGINT)
           AS ui
  FROM nv,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
  WHERE nrm > 0),
dots AS (
  SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS cid, c.label AS cl,
         SUM(q.ui * c.ui) AS dot
  FROM u q JOIN u c USING (dim)
  WHERE q.vec_id < 100 AND c.vec_id <> q.vec_id
  GROUP BY 1, 2, 3, 4),
nn AS (
  SELECT qid, ql, cl, cid,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY CAST(round((1.0 - CAST(dot AS DOUBLE) / 1e18) * 1e9)
                         AS BIGINT), cid) AS rk
  FROM dots),
ks AS (SELECT CAST(unnest([1, 3, 5]) AS BIGINT) AS k),
votes AS (
  SELECT k, qid, ql, cl, COUNT(*) AS v
  FROM nn CROSS JOIN ks WHERE rk <= k
  GROUP BY 1, 2, 3, 4),
maj AS (
  SELECT k, qid, ql, cl,
         ROW_NUMBER() OVER (PARTITION BY k, qid
                            ORDER BY v DESC, cl ASC) AS mrk
  FROM votes)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN cl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       round(CAST(SUM(CASE WHEN cl = ql THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / CAST(COUNT(*) AS DOUBLE), 6) AS purity_pct
FROM maj WHERE mrk = 1 GROUP BY 1
"""


def q_customer_segment_revenue_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closed-form OLS of monthly order revenue on month index, per
    market segment — 'which segments are growing'. Two shuffles total:
    orders x broadcast(customer-segment projection... itself shuffled
    once to |customers| rows) then a |segments x months|-bounded
    aggregation; the regression is five exact integer sums (cents, month
    ordinals) per segment, divisions deferred to the last row."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("__mx"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__c"),
    )
    monthly = (
        orders.join(cust, "c_custkey")
        .groupBy("c_mktsegment", "__mx")
        .agg(F.sum(F.col("__c").cast("decimal(38,0)")).alias("__y"))
    )
    dec = "decimal(38,0)"
    agg = monthly.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum(F.col("__mx").cast(dec)).alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__mx").cast(dec) * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__mx").cast(dec) * F.col("__mx").cast(dec)).alias(
            "__sxx"
        ),
    )
    n = F.col("n_months").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double") / 100.0
    sxy = F.col("__sxy").cast("double") / 100.0
    sxx = F.col("__sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.filter(F.col("n_months") > 1).select(
        "c_mktsegment",
        "n_months",
        F.round(slope, 6).alias("monthly_trend"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


ORACLE_CUSTOMER_SEGMENT_REVENUE_TREND = """
WITH o AS (
  SELECT c.c_mktsegment,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
              AS BIGINT) AS mx,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cts
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
monthly AS (
  SELECT c_mktsegment, mx, SUM(cts) AS y FROM o GROUP BY 1, 2),
a AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_months,
         SUM(mx) AS sx, SUM(y) AS sy, SUM(mx * y) AS sxy,
         SUM(mx * mx) AS sxx
  FROM monthly GROUP BY 1)
SELECT c_mktsegment, n_months,
       round((n_months * (CAST(sxy AS DOUBLE) / 100.0)
              - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / 100.0))
             / (n_months * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS monthly_trend,
       round((CAST(sy AS DOUBLE) / 100.0
              - ((n_months * (CAST(sxy AS DOUBLE) / 100.0)
                  - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / 100.0))
                 / (n_months * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE))
             / n_months, 6) AS intercept
FROM a WHERE n_months > 1
"""


def q_events_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-event rate with a 95% Wilson score interval — the
    SRE view with honest uncertainty on thin hours (a raw rate of 0/3
    and 0/3000 look identical without the interval). 24-row output from
    one map-side-combined aggregation; the interval arithmetic runs on
    exact integer counts, identical in both engines."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy(F.hour("ts").cast("long").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("long").alias("n_errors"),
    )
    z = F.lit(1.96)
    n = F.col("n_events").cast("double")
    p = F.col("n_errors").cast("double") / n
    denom = 1.0 + z * z / n
    center = p + z * z / (2.0 * n)
    spread = z * F.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
    return agg.select(
        "hour",
        "n_events",
        "n_errors",
        F.round(p * 100.0, 6).alias("error_pct"),
        F.round((center - spread) / denom * 100.0, 6).alias("wilson_lo_pct"),
        F.round((center + spread) / denom * 100.0, 6).alias("wilson_hi_pct"),
    )


ORACLE_EVENTS_ERROR_RATE_WILSON = """
WITH a AS (
  SELECT CAST(hour(ts) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1),
c AS (
  SELECT hour, n_events, n_errors,
         CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS p,
         CAST(n_events AS DOUBLE) AS n
  FROM a)
SELECT hour, n_events, n_errors,
       round(p * 100.0, 6) AS error_pct,
       round((p + 1.96 * 1.96 / (2.0 * n)
              - 1.96 * sqrt(p * (1.0 - p) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1.0 + 1.96 * 1.96 / n) * 100.0, 6) AS wilson_lo_pct,
       round((p + 1.96 * 1.96 / (2.0 * n)
              + 1.96 * sqrt(p * (1.0 - p) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1.0 + 1.96 * 1.96 / n) * 100.0, 6) AS wilson_hi_pct
FROM c
"""


def q_supplier_assortment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 suppliers by revenue with assortment breadth (distinct
    parts) and order reach (distinct orders) — the supplier-ops
    dashboard rollup. One fact-table aggregation (two exact distincts +
    a DECIMAL revenue sum), then a broadcast name attach; ties break on
    suppkey."""
    # keyed spread: the distinct-agg family exchanges on suppkey-prefixed
    # keys, which a suppkey hash partitioning already satisfies (§2.4)
    li = _ts(spark, sf_dir, "lineitem", by=("l_suppkey",))
    per = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        F.sum(
            (
                F.col("l_extendedprice").cast(_DEC)
                * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
            )
        ).cast("double").alias("revenue"),
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per.join(F.broadcast(supp), "s_suppkey")
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
        .limit(10)
        .select("s_suppkey", "s_name", "n_parts", "n_orders", "revenue")
    )


ORACLE_SUPPLIER_ASSORTMENT = """
WITH per AS (
  SELECT l_suppkey AS s_suppkey,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
  FROM lineitem GROUP BY 1)
SELECT per.s_suppkey, s.s_name, n_parts, n_orders, revenue
FROM per JOIN supplier s ON s.s_suppkey = per.s_suppkey
ORDER BY revenue DESC, per.s_suppkey ASC
LIMIT 10
"""


def q_part_brand_price_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact price quartiles (p25/p50/p75) and IQR per brand, computed
    on the per-brand (cents -> count) VALUE HISTOGRAM with a window
    partitioned BY BRAND — the shuffle is bounded by distinct price
    points per brand, not part count, and the quantile thresholds are
    integer comparisons (4*cum >= k*n), never float ranks."""
    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("__c"),
    )
    hist = p.groupBy("p_brand", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__f")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("__c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum", F.sum("__f").over(w))
    tot = hist.groupBy("p_brand").agg(
        F.sum("__f").cast("long").alias("__n")
    )
    j = cum.join(tot, "p_brand")

    def _q(k: int) -> Column:
        return (
            F.min(
                F.when(4 * F.col("__cum") >= k * F.col("__n"), F.col("__c"))
            ).cast("double")
            / 100.0
        )

    return j.groupBy("p_brand").agg(
        F.max("__n").alias("n_parts"),
        F.round(_q(1), 6).alias("p25"),
        F.round(_q(2), 6).alias("p50"),
        F.round(_q(3), 6).alias("p75"),
        F.round(_q(3) - _q(1), 6).alias("iqr"),
    )


ORACLE_PART_BRAND_PRICE_IQR = """
WITH h AS (
  SELECT p_brand, CAST(round(p_retailprice * 100) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS f
  FROM part GROUP BY 1, 2),
cum AS (
  SELECT p_brand, c, f,
         SUM(f) OVER (PARTITION BY p_brand ORDER BY c
                      ROWS UNBOUNDED PRECEDING) AS cu
  FROM h),
tot AS (SELECT p_brand, SUM(f) AS n FROM h GROUP BY 1)
SELECT cum.p_brand, CAST(MAX(n) AS BIGINT) AS n_parts,
       round(CAST(MIN(CASE WHEN 4 * cu >= 1 * n THEN c END) AS DOUBLE)
             / 100.0, 6) AS p25,
       round(CAST(MIN(CASE WHEN 4 * cu >= 2 * n THEN c END) AS DOUBLE)
             / 100.0, 6) AS p50,
       round(CAST(MIN(CASE WHEN 4 * cu >= 3 * n THEN c END) AS DOUBLE)
             / 100.0, 6) AS p75,
       round(CAST(MIN(CASE WHEN 4 * cu >= 3 * n THEN c END) AS DOUBLE)
             / 100.0
             - CAST(MIN(CASE WHEN 4 * cu >= 1 * n THEN c END) AS DOUBLE)
             / 100.0, 6) AS iqr
FROM cum JOIN tot USING (p_brand)
GROUP BY 1
"""


def q_events_bot_burst_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot screen: the 10 users with the highest single-minute event
    burst (max events in any calendar minute), with their totals and
    the burst share. Two bounded aggregations — (user, minute) then
    user — both map-side combined; ties break on user_id."""
    ev = _t(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "user_id",
        F.date_trunc("minute", F.col("ts")).alias("__m"),
    ).agg(F.count(F.lit(1)).cast("long").alias("__k"))
    per_user = per_min.groupBy("user_id").agg(
        F.max("__k").cast("long").alias("max_per_minute"),
        F.sum("__k").cast("long").alias("n_events"),
    )
    return (
        per_user.select(
            "user_id", "max_per_minute", "n_events",
            F.round(
                F.col("max_per_minute").cast("double") * 100.0
                / F.col("n_events").cast("double"),
                6,
            ).alias("burst_share_pct"),
        )
        .orderBy(F.desc("max_per_minute"), F.asc("user_id"))
        .limit(10)
    )


ORACLE_EVENTS_BOT_BURST_SCREEN = """
WITH pm AS (
  SELECT user_id, date_trunc('minute', ts) AS m,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM events GROUP BY 1, 2),
pu AS (
  SELECT user_id, CAST(MAX(k) AS BIGINT) AS max_per_minute,
         CAST(SUM(k) AS BIGINT) AS n_events
  FROM pm GROUP BY 1)
SELECT user_id, max_per_minute, n_events,
       round(CAST(max_per_minute AS DOUBLE) * 100.0
             / CAST(n_events AS DOUBLE), 6) AS burst_share_pct
FROM pu
ORDER BY max_per_minute DESC, user_id ASC
LIMIT 10
"""


def q_orders_qoq_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue growth: the |quarters|-bounded
    rollup joined to itself on quarter_index - 1 — LAG semantics without
    any unpartitioned window (the self-join key is exact, so a missing
    quarter yields NULL growth rather than silently lagging across the
    gap). Cents-exact sums; growth only where a previous quarter
    exists."""
    o = _t(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 4 + F.quarter("o_orderdate") - 1)
        .cast("long")
        .alias("__qi"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__c"),
    )
    per = o.groupBy("__qi").agg(
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("__s"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    prev = per.select(
        (F.col("__qi") + 1).alias("__qi"), F.col("__s").alias("__ps")
    )
    j = per.join(prev, "__qi", "left")
    quarter = F.concat(
        (F.col("__qi") / 4).cast("long").cast("string"),
        F.lit("-Q"),
        (F.col("__qi") % 4 + 1).cast("string"),
    )
    rev = F.col("__s").cast("double") / 100.0
    prev_rev = F.col("__ps").cast("double") / 100.0
    return j.select(
        quarter.alias("quarter"),
        "n_orders",
        F.round(rev, 6).alias("revenue"),
        F.round(prev_rev, 6).alias("prev_revenue"),
        F.round((rev - prev_rev) / prev_rev * 100.0, 6).alias("qoq_pct"),
    )


ORACLE_ORDERS_QOQ_GROWTH = """
WITH o AS (
  SELECT CAST(year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS BIGINT)
           AS qi,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
per AS (
  SELECT qi, SUM(c) AS s, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM o GROUP BY 1)
SELECT CAST(cur.qi // 4 AS VARCHAR) || '-Q'
         || CAST(cur.qi % 4 + 1 AS VARCHAR) AS quarter,
       cur.n_orders,
       round(CAST(cur.s AS DOUBLE) / 100.0, 6) AS revenue,
       round(CAST(prev.s AS DOUBLE) / 100.0, 6) AS prev_revenue,
       round((CAST(cur.s AS DOUBLE) / 100.0 - CAST(prev.s AS DOUBLE) / 100.0)
             / (CAST(prev.s AS DOUBLE) / 100.0) * 100.0, 6) AS qoq_pct
FROM per cur LEFT JOIN per prev ON prev.qi = cur.qi - 1
"""


def q_customer_value_quadrants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer base split into four quadrants by median account balance
    x median lifetime spend (customers without orders spend 0) — the
    segmentation grid behind collections/upsell targeting. Both medians
    come from cents-histogram prefix sums (integer thresholds
    2*cum >= n, never float ranks, no unpartitioned window) and attach
    as ONE-ROW broadcasts; the output is exactly 4 rows."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("__bal"),
    )
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("__sp")
        )
    )
    # base feeds four consumers (two median histograms, the quadrant
    # labeling, the customer total) — one lazy checkpoint materializes
    # the join once; both medians ride probe-bounded prefix depth
    base = cust.join(spend, "c_custkey", "left").select(
        "c_custkey", "__bal",
        F.coalesce("__sp", F.lit(0)).cast("long").alias("__sp"),
    ).localCheckpoint(eager=False)

    def _median(col: str):
        hist = base.groupBy(F.col(col).alias("__k")).agg(
            F.count(F.lit(1)).alias("__f")
        )
        hist, h = _hist_prefix(hist, "__k", "__f", "__cum")
        tot = hist.agg(F.sum("__f").alias("__n"))
        return (
            h.crossJoin(F.broadcast(tot))
            .filter(2 * (F.col("__cum") + F.col("__f")) >= F.col("__n"))
            .agg(F.min("__k").alias("__med"))
        )
    med_bal = _median("__bal").select(F.col("__med").alias("__mb"))
    med_sp = _median("__sp").select(F.col("__med").alias("__ms"))
    labeled = (
        base.crossJoin(F.broadcast(med_bal))
        .crossJoin(F.broadcast(med_sp))
        .select(
            F.concat(
                F.when(F.col("__bal") > F.col("__mb"), F.lit("hi_bal"))
                .otherwise(F.lit("lo_bal")),
                F.lit("/"),
                F.when(F.col("__sp") > F.col("__ms"), F.lit("hi_spend"))
                .otherwise(F.lit("lo_spend")),
            ).alias("quadrant")
        )
    )
    per = labeled.groupBy("quadrant").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "quadrant",
        "n_customers",
        F.round(
            F.col("n_customers").cast("double") * 100.0
            / F.col("__n").cast("double"),
            6,
        ).alias("share_pct"),
    )


ORACLE_CUSTOMER_VALUE_QUADRANTS = """
WITH base AS (
  SELECT c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
         CAST(COALESCE(s.sp, 0) AS BIGINT) AS sp
  FROM customer c
  LEFT JOIN (SELECT o_custkey,
                    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS sp
             FROM orders GROUP BY 1) s ON s.o_custkey = c.c_custkey),
hb AS (SELECT bal AS k, COUNT(*) AS f FROM base GROUP BY 1),
cb AS (SELECT k, SUM(f) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum
       FROM hb),
nb AS (SELECT SUM(f) AS n FROM hb),
mb AS (SELECT MIN(k) AS m FROM cb CROSS JOIN nb WHERE 2 * cum >= n),
hs AS (SELECT sp AS k, COUNT(*) AS f FROM base GROUP BY 1),
cs AS (SELECT k, SUM(f) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum
       FROM hs),
ns AS (SELECT SUM(f) AS n FROM hs),
ms AS (SELECT MIN(k) AS m FROM cs CROSS JOIN ns WHERE 2 * cum >= n),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
lab AS (
  SELECT (CASE WHEN bal > mb.m THEN 'hi_bal' ELSE 'lo_bal' END
          || '/' ||
          CASE WHEN sp > ms.m THEN 'hi_spend' ELSE 'lo_spend' END)
           AS quadrant
  FROM base CROSS JOIN mb CROSS JOIN ms)
SELECT quadrant, CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(CAST(COUNT(*) AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6)
         AS share_pct
FROM lab CROSS JOIN tot GROUP BY quadrant, n
"""


def q_orders_line_status_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table status invariant audit: an order marked F should have
    only F lines, O only O lines, P a mix — counts how much of each
    status class actually honors its definition (the lineitem-side
    companion to the date-integrity screen). One per-order profile
    aggregation, then a |statuses|-bounded rollup."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linestatus"
    )
    prof = li.groupBy("o_orderkey").agg(
        F.sum(
            F.when(F.col("l_linestatus") == "O", 1).otherwise(0)
        ).alias("__n_open"),
        F.count(F.lit(1)).alias("__n_lines"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    j = orders.join(prof, "o_orderkey", "left").select(
        "o_orderstatus",
        F.coalesce("__n_open", F.lit(0)).alias("__n_open"),
        F.coalesce("__n_lines", F.lit(0)).alias("__n_lines"),
    )
    consistent = (
        (
            (F.col("o_orderstatus") == "F")
            & (F.col("__n_open") == 0)
            & (F.col("__n_lines") > 0)
        )
        | (
            (F.col("o_orderstatus") == "O")
            & (F.col("__n_open") == F.col("__n_lines"))
            & (F.col("__n_lines") > 0)
        )
        | (
            (F.col("o_orderstatus") == "P")
            & (F.col("__n_open") > 0)
            & (F.col("__n_open") < F.col("__n_lines"))
        )
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(consistent, 1).otherwise(0)).cast("long").alias(
            "n_consistent"
        ),
        F.round(
            F.sum(F.when(consistent, 1).otherwise(0)).cast("double")
            * 100.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("consistency_pct"),
    )


ORACLE_ORDERS_LINE_STATUS_CONSISTENCY = """
WITH prof AS (
  SELECT l_orderkey AS o_orderkey,
         SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS n_open,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY 1),
j AS (
  SELECT o.o_orderstatus,
         COALESCE(p.n_open, 0) AS n_open,
         COALESCE(p.n_lines, 0) AS n_lines
  FROM orders o LEFT JOIN prof p USING (o_orderkey)),
c AS (
  SELECT o_orderstatus,
         CASE WHEN (o_orderstatus = 'F' AND n_open = 0 AND n_lines > 0)
                OR (o_orderstatus = 'O' AND n_open = n_lines
                    AND n_lines > 0)
                OR (o_orderstatus = 'P' AND n_open > 0
                    AND n_open < n_lines)
              THEN 1 ELSE 0 END AS ok
  FROM j)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(ok) AS BIGINT) AS n_consistent,
       round(CAST(SUM(ok) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE), 6)
         AS consistency_pct
FROM c GROUP BY 1
"""


def q_events_value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between purchase
    and click value distributions — 'did the spend distribution shift',
    resolved on the full data rather than a sampled approximation. Both
    ECDFs live on ONE combined cents-histogram (shuffle bounded by
    distinct value points); the sup-distance numerator |cumA*nB -
    cumB*nA| is an exact integer at every step (DECIMAL — cum*n
    overflows int64 at corpus scale), so the argmax is engine-exact;
    prefix sums run through the bounded-fan-in machinery, never an
    unpartitioned window."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    h = ev.groupBy(
        F.round(F.col("value") * 100, 0).cast("long").alias("__k")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("__fa"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("__fb"),
    )
    # one shared window/recursion for both ECDF prefixes (multi-val
    # form), probe-bounded depth off the checkpointed cents histogram
    _hck, h = _hist_prefix(h, "__k", ["__fa", "__fb"], ["__pa", "__pb"])
    tot = _hck.agg(
        F.sum("__fa").cast("long").alias("__na"),
        F.sum("__fb").cast("long").alias("__nb"),
    )
    dec = "decimal(38,0)"
    ca = (F.col("__pa") + F.col("__fa")).cast(dec)
    cb = (F.col("__pb") + F.col("__fb")).cast(dec)
    scored = h.crossJoin(F.broadcast(tot)).select(
        "__k", "__na", "__nb",
        F.abs(
            ca * F.col("__nb").cast(dec) - cb * F.col("__na").cast(dec)
        ).alias("__num"),
    )
    top = scored.orderBy(F.desc("__num"), F.asc("__k")).limit(1)
    return top.select(
        F.col("__na").alias("n_purchase"),
        F.col("__nb").alias("n_click"),
        F.round(
            F.col("__num").cast("double")
            / (F.col("__na").cast("double") * F.col("__nb").cast("double")),
            6,
        ).alias("ks_stat"),
        F.round(F.col("__k").cast("double") / 100.0, 6).alias("ks_at_value"),
    )


ORACLE_EVENTS_VALUE_KS_TEST = """
WITH h AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS k,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS fa,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS fb
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
  GROUP BY 1),
cum AS (
  SELECT k,
         SUM(fa) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(fb) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cb
  FROM h),
tot AS (SELECT CAST(SUM(fa) AS BIGINT) AS na,
               CAST(SUM(fb) AS BIGINT) AS nb FROM h),
scored AS (
  SELECT k, na, nb, abs(ca * nb - cb * na) AS num
  FROM cum CROSS JOIN tot)
SELECT na AS n_purchase, nb AS n_click,
       round(CAST(num AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_stat,
       round(CAST(k AS DOUBLE) / 100.0, 6) AS ks_at_value
FROM scored
ORDER BY num DESC, k ASC
LIMIT 1
"""


def q_corpus_source_token_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl concentration of the training corpus over SOURCES,
    measured in tokens (the unit the model actually trains on) — plus
    the effective-source count 1/HHI. One vocabulary-free aggregation
    (per-source token totals), exact integer squares (DECIMAL), ONE-ROW
    total attach."""
    docs = _ts(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(
            F.size(X.tokens(F.lower(F.col("text"))))
        ).cast("long").alias("__c")
    )
    dec = "decimal(38,0)"
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(F.col("__c").cast(dec)).alias("__t"),
        F.sum(F.col("__c").cast(dec) * F.col("__c").cast(dec)).alias("__s2"),
    )
    hhi = F.col("__s2").cast("double") / (
        F.col("__t").cast("double") * F.col("__t").cast("double")
    )
    return agg.select(
        "n_sources",
        F.col("__t").cast("long").alias("total_tokens"),
        F.round(hhi, 6).alias("hhi"),
        F.round(1.0 / hhi, 6).alias("effective_sources"),
    )


ORACLE_CORPUS_SOURCE_TOKEN_HHI = r"""
WITH per AS (
  SELECT source,
         SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> ''))) AS c
  FROM documents GROUP BY 1),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
         SUM(c) AS t, SUM(c * c) AS s2
  FROM per)
SELECT n_sources, CAST(t AS BIGINT) AS total_tokens,
       round(CAST(s2 AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6)
         AS hhi,
       round(1.0 / (CAST(s2 AS DOUBLE)
                    / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))), 6)
         AS effective_sources
FROM a
"""


def q_events_hour_entropy_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shannon entropy of each event type's hour-of-day histogram — the
    behavioral fingerprint that separates human traffic (low entropy,
    diurnal) from automated traffic (near-uniform, H -> ln 24).
    H = ln T − Σ c·ln c / T over 24 bins per type; ln c quantizes to
    1e-9 fixed-point so the Σ c·ln c reduction is an exact integer
    fold; the rollup is |types| x 24 rows."""
    ev = _t(spark, sf_dir, "events")
    bins = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("__h")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    dec = "decimal(38,0)"
    lnq = F.round(F.log(F.col("__c").cast("double")) * 1e9, 0).cast("long")
    agg = bins.groupBy("event_type").agg(
        F.sum("__c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_active_hours"),
        F.sum((F.col("__c") * lnq).cast(dec)).alias("__s"),
    )
    t = F.col("n_events").cast("double")
    h = F.log(t) - F.col("__s").cast("double") / 1e9 / t
    import math

    return agg.select(
        "event_type",
        "n_events",
        "n_active_hours",
        F.round(h, 6).alias("entropy_nats"),
        F.round(h / F.lit(math.log(24.0)), 6).alias("entropy_norm"),
    )


ORACLE_EVENTS_HOUR_ENTROPY_BY_TYPE = """
WITH bins AS (
  SELECT event_type, hour(ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
a AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_active_hours,
         SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)) AS s
  FROM bins GROUP BY 1)
SELECT event_type, n_events, n_active_hours,
       round(ln(CAST(n_events AS DOUBLE))
             - CAST(s AS DOUBLE) / 1e9 / CAST(n_events AS DOUBLE), 6)
         AS entropy_nats,
       round((ln(CAST(n_events AS DOUBLE))
              - CAST(s AS DOUBLE) / 1e9 / CAST(n_events AS DOUBLE))
             / ln(24.0), 6) AS entropy_norm
FROM a
"""


def q_events_weekly_retention_triangle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classic weekly retention triangle: users cohorted by first-seen
    week, each later week's active share against the cohort size. The
    heavy lifting is two user-keyed aggregations (first week, then
    distinct active weeks); the triangle itself is |weeks|²-bounded.
    Weeks are epoch-day // 7 — no locale/ISO-week ambiguity between
    engines."""
    ev = _t(spark, sf_dir, "events")
    wk = F.floor(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / 7
    ).cast("long")
    user_weeks = ev.select(
        "user_id", wk.alias("__wk")
    ).distinct()
    cohort = user_weeks.groupBy("user_id").agg(
        F.min("__wk").alias("__cwk")
    )
    j = user_weeks.join(cohort, "user_id").select(
        "__cwk", (F.col("__wk") - F.col("__cwk")).alias("week_offset"),
        "user_id",
    )
    tri = j.groupBy("__cwk", "week_offset").agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )
    size = tri.filter(F.col("week_offset") == 0).select(
        "__cwk", F.col("n_active").alias("cohort_size")
    )
    out = tri.join(size, "__cwk")
    return out.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01"), (F.col("__cwk") * 7).cast("int")),
            "yyyy-MM-dd",
        ).alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") * 100.0
            / F.col("cohort_size").cast("double"),
            6,
        ).alias("retention_pct"),
    )


ORACLE_EVENTS_WEEKLY_RETENTION_TRIANGLE = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS wk
  FROM events),
cohort AS (SELECT user_id, MIN(wk) AS cwk FROM uw GROUP BY 1),
tri AS (
  SELECT c.cwk, CAST(u.wk - c.cwk AS BIGINT) AS week_offset,
         CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_active
  FROM uw u JOIN cohort c USING (user_id)
  GROUP BY 1, 2),
size_ AS (SELECT cwk, n_active AS cohort_size FROM tri
          WHERE week_offset = 0)
SELECT strftime(DATE '1970-01-01' + INTERVAL (t.cwk * 7) DAY, '%Y-%m-%d')
         AS cohort_week,
       t.week_offset, t.n_active, s.cohort_size,
       round(CAST(t.n_active AS DOUBLE) * 100.0
             / CAST(s.cohort_size AS DOUBLE), 6) AS retention_pct
FROM tri t JOIN size_ s USING (cwk)
"""


def q_doc_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal pipeline integrity: per source, how many documents
    actually have an embedding row (doc_id = vec_id) — the coverage
    audit run before any embedding-gated curation step silently drops
    the un-embedded tail. Left-semi join on id, |sources|-bounded
    rollup."""
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    with_vec = docs.join(emb, "doc_id", "left_semi").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_with_vec")
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return per.join(with_vec, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_with_vec", F.lit(0)).cast("long").alias("n_with_vec"),
        F.round(
            F.coalesce("n_with_vec", F.lit(0)).cast("double") * 100.0
            / F.col("n_docs").cast("double"),
            6,
        ).alias("coverage_pct"),
    )


ORACLE_DOC_EMBEDDING_COVERAGE = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY 1),
wv AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_with_vec
  FROM documents d
  WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
  GROUP BY 1)
SELECT per.source, n_docs,
       CAST(COALESCE(n_with_vec, 0) AS BIGINT) AS n_with_vec,
       round(CAST(COALESCE(n_with_vec, 0) AS DOUBLE) * 100.0
             / CAST(n_docs AS DOUBLE), 6) AS coverage_pct
FROM per LEFT JOIN wv USING (source)
"""


def q_orders_basket_size_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-size economics: for each basket size (lineitems per order),
    how many orders and what they're worth on average — the fulfillment-
    cost planning histogram. Per-order line counts shuffle once on
    orderkey; the profile is |basket sizes|-bounded; means are
    cents-exact sums divided at the end."""
    li = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(F.count(F.lit(1)).cast("long").alias("basket_size"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__c"),
    )
    j = orders.join(li, "o_orderkey")
    dec = "decimal(38,0)"
    return j.groupBy("basket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum(F.col("__c").cast(dec)).cast("double") / 100.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_order_value"),
        (F.sum(F.col("__c").cast(dec)).cast("double") / 100.0).alias(
            "total_value"
        ),
    )


ORACLE_ORDERS_BASKET_SIZE_PROFILE = """
WITH li AS (
  SELECT l_orderkey AS o_orderkey, CAST(COUNT(*) AS BIGINT) AS basket_size
  FROM lineitem GROUP BY 1),
j AS (
  SELECT li.basket_size, CAST(round(o.o_totalprice * 100) AS BIGINT) AS c
  FROM orders o JOIN li USING (o_orderkey))
SELECT basket_size, CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(SUM(c) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_order_value,
       CAST(SUM(c) AS DOUBLE) / 100.0 AS total_value
FROM j GROUP BY 1
"""


def q_lineitem_price_qty_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-log demand curve across parts: OLS slope of ln(total
    quantity) on ln(average unit price) — the price-elasticity read.
    Per-part sums are exact integers (cents, centi-units); the two logs
    are taken once per part and quantized to 1e-9 before the six OLS
    sums (DECIMAL — squared log-quanta overflow int64), so the global
    reduction is partition-order-independent."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    per = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("__pc"),
        F.sum(
            F.round(F.col("l_quantity") * 100, 0).cast("long")
        ).alias("__qc"),
    )
    xi = F.round(
        F.log(F.col("__pc").cast("double") / F.col("__qc").cast("double"))
        * 1e9,
        0,
    ).cast("long")
    yi = F.round(
        F.log(F.col("__qc").cast("double") / 100.0) * 1e9, 0
    ).cast("long")
    dec = "decimal(38,0)"
    pts = per.select(xi.alias("__x"), yi.alias("__y"))
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__y").cast(dec)).alias("__sy"),
        F.sum(F.col("__x").cast(dec) * F.col("__y").cast(dec)).alias("__sxy"),
        F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec)).alias("__sxx"),
        F.sum(F.col("__y").cast(dec) * F.col("__y").cast(dec)).alias("__syy"),
    )
    n = F.col("n_parts").cast("double")
    sx = F.col("__sx").cast("double") / 1e9
    sy = F.col("__sy").cast("double") / 1e9
    sxy = F.col("__sxy").cast("double") / 1e18
    sxx = F.col("__sxx").cast("double") / 1e18
    syy = F.col("__syy").cast("double") / 1e18
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return agg.filter(F.col("n_parts") > 1).select(
        "n_parts",
        F.round(cov / vx, 6).alias("elasticity"),
        F.round((sy - (cov / vx) * sx) / n, 6).alias("intercept"),
        F.round(cov * cov / (vx * vy), 6).alias("r2"),
    )


ORACLE_LINEITEM_PRICE_QTY_ELASTICITY = """
WITH per AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS pc,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS qc
  FROM lineitem WHERE l_quantity > 0 GROUP BY 1),
pts AS (
  SELECT CAST(round(ln(CAST(pc AS DOUBLE) / CAST(qc AS DOUBLE)) * 1e9)
              AS BIGINT) AS x,
         CAST(round(ln(CAST(qc AS DOUBLE) / 100.0) * 1e9) AS BIGINT) AS y
  FROM per),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts)
SELECT n AS n_parts,
       round((n * (CAST(sxy AS DOUBLE) / 1e18)
              - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
             / (n * (CAST(sxx AS DOUBLE) / 1e18)
                - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)),
             6) AS elasticity,
       round(((CAST(sy AS DOUBLE) / 1e9)
              - ((n * (CAST(sxy AS DOUBLE) / 1e18)
                  - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
                 / (n * (CAST(sxx AS DOUBLE) / 1e18)
                    - (CAST(sx AS DOUBLE) / 1e9)
                      * (CAST(sx AS DOUBLE) / 1e9)))
                * (CAST(sx AS DOUBLE) / 1e9)) / n, 6) AS intercept,
       round(((n * (CAST(sxy AS DOUBLE) / 1e18)
               - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
              * (n * (CAST(sxy AS DOUBLE) / 1e18)
                 - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9)))
             / ((n * (CAST(sxx AS DOUBLE) / 1e18)
                 - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9))
                * (n * (CAST(syy AS DOUBLE) / 1e18)
                   - (CAST(sy AS DOUBLE) / 1e9)
                     * (CAST(sy AS DOUBLE) / 1e9))), 6) AS r2
FROM a WHERE n > 1
"""


def q_nation_revenue_rank_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Year-over-year movement in the national revenue league table
    (customer nation, order revenue): rank per year plus the delta vs
    the previous year — 'who is gaining'. Ranks come from a window
    partitioned BY YEAR over the |years| x |nations| rollup; the
    year-over-year join is on exact (year-1, nation) keys."""
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__c"),
    )
    j = (
        orders.join(
            F.broadcast(
                cust.join(
                    F.broadcast(nation),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                ).select("c_custkey", "n_name")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    per = j.groupBy("o_year", "n_name").agg(
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("__s")
    )
    w = Window.partitionBy("o_year").orderBy(
        F.desc("__s"), F.asc("n_name")
    )
    ranked = per.withColumn("rank", F.row_number().over(w).cast("long"))
    prev = ranked.select(
        (F.col("o_year") + 1).alias("o_year"),
        "n_name",
        F.col("rank").alias("prev_rank"),
    )
    out = ranked.join(prev, ["o_year", "n_name"], "left")
    return out.select(
        "o_year",
        "n_name",
        "rank",
        "prev_rank",
        (F.col("prev_rank") - F.col("rank")).cast("long").alias("rank_gain"),
        (F.col("__s").cast("double") / 100.0).alias("revenue"),
    )


ORACLE_NATION_REVENUE_RANK_SHIFT = """
WITH per AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, n.n_name,
         SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS s
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT o_year, n_name,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_year
                                 ORDER BY s DESC, n_name ASC) AS BIGINT)
           AS rank,
         s
  FROM per)
SELECT cur.o_year, cur.n_name, cur.rank, prev.rank AS prev_rank,
       CAST(prev.rank - cur.rank AS BIGINT) AS rank_gain,
       CAST(cur.s AS DOUBLE) / 100.0 AS revenue
FROM ranked cur
LEFT JOIN ranked prev
  ON prev.o_year = cur.o_year - 1 AND prev.n_name = cur.n_name
"""


def q_customer_concentration_by_year(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue dependence on the top-10 customers, per year — the 'key
    account risk' trendline. Per-(year, customer) cents roll up once;
    the top-10 cut is a window partitioned BY YEAR; totals join back on
    the year key (|years| rows, no cross join)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__c"),
    )
    dec = "decimal(38,0)"
    per = orders.groupBy("o_year", "o_custkey").agg(
        F.sum(F.col("__c").cast(dec)).alias("__s")
    )
    w = Window.partitionBy("o_year").orderBy(
        F.desc("__s"), F.asc("o_custkey")
    )
    top10 = (
        per.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 10)
        .groupBy("o_year")
        .agg(F.sum("__s").alias("__t10"))
    )
    tot = per.groupBy("o_year").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.sum("__s").alias("__t"),
    )
    return tot.join(top10, "o_year").select(
        "o_year",
        "n_customers",
        (F.col("__t10").cast("double") / 100.0).alias("top10_revenue"),
        (F.col("__t").cast("double") / 100.0).alias("total_revenue"),
        F.round(
            F.col("__t10").cast("double") * 100.0
            / F.col("__t").cast("double"),
            6,
        ).alias("top10_share_pct"),
    )


ORACLE_CUSTOMER_CONCENTRATION_BY_YEAR = """
WITH per AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
  FROM orders GROUP BY 1, 2),
t10 AS (
  SELECT o_year, SUM(s) AS t10
  FROM (SELECT o_year, s,
               ROW_NUMBER() OVER (PARTITION BY o_year
                                  ORDER BY s DESC, o_custkey ASC) AS rk
        FROM per)
  WHERE rk <= 10 GROUP BY 1),
tot AS (
  SELECT o_year, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         SUM(s) AS t
  FROM per GROUP BY 1)
SELECT tot.o_year, n_customers,
       CAST(t10 AS DOUBLE) / 100.0 AS top10_revenue,
       CAST(t AS DOUBLE) / 100.0 AS total_revenue,
       round(CAST(t10 AS DOUBLE) * 100.0 / CAST(t AS DOUBLE), 6)
         AS top10_share_pct
FROM tot JOIN t10 USING (o_year)
"""


def q_events_type_trigrams_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 behavioral trigrams (three consecutive event types per
    user stream) — the sequence-mining step past the Markov bigram
    matrix. lead() windows are partitioned BY USER (each partition is
    one user's stream); the trigram rollup is |types|³-bounded; ties
    break lexically."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            F.col("event_type").alias("__t1"),
            F.lead("event_type", 1).over(w).alias("__t2"),
            F.lead("event_type", 2).over(w).alias("__t3"),
        )
        .filter(F.col("__t2").isNotNull() & F.col("__t3").isNotNull())
        .select(
            F.concat_ws(">", "__t1", "__t2", "__t3").alias("trigram")
        )
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(10)
    )


ORACLE_EVENTS_TYPE_TRIGRAMS_TOPK = """
WITH s AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t3
  FROM events)
SELECT t1 || '>' || t2 || '>' || t3 AS trigram,
       CAST(COUNT(*) AS BIGINT) AS n
FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 10
"""


def q_lineitem_return_rate_by_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Return rate per discount percentage point with relative risk
    against the overall rate — 'do discounted items come back more'.
    |bands|-bounded rollup from one fact scan; the base rate is a
    ONE-ROW attach; everything up to the final ratios is exact
    integers."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100, 0).cast("long").alias(
            "discount_pct"
        ),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("__r"),
    )
    per = li.groupBy("discount_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__r").cast("long").alias("n_returns"),
    )
    tot = li.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__r").cast("long").alias("__r_tot"),
    )
    rate = F.col("n_returns").cast("double") / F.col("n_items").cast("double")
    base = F.col("__r_tot").cast("double") / F.col("__n").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "discount_pct",
        "n_items",
        "n_returns",
        F.round(rate * 100.0, 6).alias("return_pct"),
        F.round(rate / base, 6).alias("relative_risk"),
    )


ORACLE_LINEITEM_RETURN_RATE_BY_DISCOUNT = """
WITH li AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
  FROM lineitem),
per AS (
  SELECT discount_pct, CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(r) AS BIGINT) AS n_returns
  FROM li GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS rt FROM li)
SELECT discount_pct, n_items, n_returns,
       round(CAST(n_returns AS DOUBLE) / CAST(n_items AS DOUBLE)
             * 100.0, 6) AS return_pct,
       round((CAST(n_returns AS DOUBLE) / CAST(n_items AS DOUBLE))
             / (CAST(rt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS relative_risk
FROM per CROSS JOIN tot
"""


def q_doc_ingestion_drift_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus drift across ingestion order: documents bucketed into ten
    doc_id-range deciles, with mean token count and mean quality score
    per decile — the monitor that catches a scraper change or source
    mix shift mid-ingest. The id range is a ONE-ROW attach; both means
    are exact integer sums (tokens, 1e-6-quantized quality) divided at
    the end."""
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(X.tokens(F.lower(F.col("text")))).cast("long").alias("__nt"),
        F.round(X.quality_score("text") * 1e6, 0).cast("long").alias("__q"),
    )
    rng = docs.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    )
    dec = "decimal(38,0)"
    bucketed = docs.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("doc_id") - F.col("__lo")) * 10
                / (F.col("__hi") - F.col("__lo") + 1)
            ),
        ).cast("long").alias("decile"),
        "__nt", "__q",
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("__nt").cast(dec)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_tokens"),
        F.round(
            F.sum(F.col("__q").cast(dec)).cast("double") / 1e6
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_quality"),
    )


def _oracle_doc_ingestion_drift_deciles_sql() -> str:
    # same 1e-6 quality quantization and double-division decile bucket
    # expression as the Spark side
    return f"""
WITH {_ORACLE_Q6_CTES},
q AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS nt,
             CAST(round({_ORACLE_Q_RAW_EXPR} * 1e6) AS BIGINT) AS qi
      FROM m),
rng AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM q),
b AS (
  SELECT least(9, CAST(floor((doc_id - lo) * 10.0 / (hi - lo + 1))
                       AS BIGINT)) AS decile,
         nt, qi
  FROM q CROSS JOIN rng)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
       round(CAST(SUM(qi) AS DOUBLE) / 1e6 / COUNT(*), 6) AS mean_quality
FROM b GROUP BY 1
"""


def q_supplier_customer_repeat_affinity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat trading relationships: (supplier, customer) pairs doing
    business across 2+ DISTINCT orders, top-15 by order count — the
    relationship-mining read. The fact side pre-distincts to (order,
    supplier) before touching orders, so the join carries no line-level
    fanout; the pair rollup is bounded by active relationships."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    pairs = li.join(orders, "l_orderkey").groupBy(
        "l_suppkey", "o_custkey"
    ).agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    return (
        pairs.filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), F.asc("l_suppkey"), F.asc("o_custkey"))
        .limit(15)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("o_custkey").alias("c_custkey"),
            "n_orders",
        )
    )


ORACLE_SUPPLIER_CUSTOMER_REPEAT_AFFINITY = """
WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
pairs AS (
  SELECT li.l_suppkey AS s_suppkey, o.o_custkey AS c_custkey,
         CAST(COUNT(DISTINCT li.l_orderkey) AS BIGINT) AS n_orders
  FROM li JOIN orders o ON o.o_orderkey = li.l_orderkey
  GROUP BY 1, 2)
SELECT s_suppkey, c_custkey, n_orders
FROM pairs WHERE n_orders >= 2
ORDER BY n_orders DESC, s_suppkey ASC, c_custkey ASC
LIMIT 15
"""


def q_customer_spend_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 spend-class migration matrix: customers classed hi/lo
    against the median spender of each HALF of the order timeline,
    counted over customers active in BOTH halves — 'are my big spenders
    staying big'. The timeline midpoint and the two per-half medians are
    ONE-ROW attaches; medians come from cents-histogram prefix sums
    (integer 2*cum >= n thresholds)."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__c"),
    )
    span = orders.agg(
        F.min("o_orderdate").alias("__lo"), F.max("o_orderdate").alias("__hi")
    )
    halved = orders.crossJoin(F.broadcast(span)).select(
        "o_custkey", "__c",
        F.when(
            F.unix_timestamp("o_orderdate") * 2
            <= F.unix_timestamp("__lo") + F.unix_timestamp("__hi"),
            F.lit(1),
        ).otherwise(F.lit(2)).alias("__half"),
    )
    per = halved.groupBy("o_custkey", "__half").agg(
        F.sum("__c").cast("long").alias("__sp")
    ).localCheckpoint(eager=False)
    # ^ consumed THREE times (h1, h2, the shared median histogram); the
    # lazy plan barrier computes the per-(customer, half) rollup once
    # instead of re-deriving the scan+crossJoin+groupBy per consumer.

    # BOTH per-half medians from ONE histogram + ONE prefix-sum pass: the
    # composite key (half-1)*span + (sp-min) keeps halves contiguous and
    # order-preserving (offset < span within each half), the within-half
    # exclusive cumsum is the composite cumsum minus the preceding half's
    # total, and the two 2*cum >= n thresholds pivot into a single
    # broadcast row (m1, m2). Halving the serial broadcast-job chain is
    # the whole point — at this query's scale fixed job latency, not
    # data, dominates. The span comes from a probe over the checkpointed
    # histogram, so the composite DOMAIN is 2x the actual spend spread —
    # one or two prefix levels instead of the 2^42-magnitude static four.
    hist = per.groupBy("__half", "__sp").agg(
        F.count(F.lit(1)).alias("__f")
    ).localCheckpoint(eager=False)
    b = hist.agg(F.min("__sp").alias("mn"), F.max("__sp").alias("mx")).first()
    mn, spn = b["mn"] or 0, (b["mx"] or 0) - (b["mn"] or 0) + 1
    comp = hist.withColumn(
        "__k",
        (F.col("__half") - 1).cast("long") * F.lit(spn)
        + (F.col("__sp") - F.lit(mn)),
    )
    h = _exclusive_prefix(comp, "__k", "__f", "__cum", max_key=2 * spn - 1)
    tots = hist.groupBy("__half").agg(F.sum("__f").alias("__n"))
    n1 = tots.groupBy().pivot("__half", [1, 2]).sum("__n").select(
        F.col("1").alias("__n1"), F.col("2").alias("__n2")
    )
    med = (
        h.crossJoin(F.broadcast(n1))
        .withColumn(
            "__wcum",
            F.col("__cum")
            - F.when(F.col("__half") == 2, F.col("__n1")).otherwise(F.lit(0)),
        )
        .withColumn(
            "__nh",
            F.when(F.col("__half") == 2, F.col("__n2")).otherwise(F.col("__n1")),
        )
        .filter(2 * (F.col("__wcum") + F.col("__f")) >= F.col("__nh"))
        .groupBy("__half")
        .agg(F.min("__sp").alias("__med"))
        .groupBy()
        .pivot("__half", [1, 2])
        .sum("__med")
        .select(F.col("1").alias("__m1"), F.col("2").alias("__m2"))
    )
    h1 = per.filter(F.col("__half") == 1).select(
        "o_custkey", F.col("__sp").alias("__s1")
    )
    h2 = per.filter(F.col("__half") == 2).select(
        "o_custkey", F.col("__sp").alias("__s2")
    )
    both = (
        h1.join(h2, "o_custkey")
        .crossJoin(F.broadcast(med))
        .select(
            F.when(F.col("__s1") > F.col("__m1"), F.lit("hi"))
            .otherwise(F.lit("lo")).alias("from_class"),
            F.when(F.col("__s2") > F.col("__m2"), F.lit("hi"))
            .otherwise(F.lit("lo")).alias("to_class"),
        )
    )
    mat = both.groupBy("from_class", "to_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    ).localCheckpoint(eager=False)
    # ^ 4-row frame consumed twice (rows + total); the barrier keeps the
    # h1-join-h2 subtree from running once per consumer
    tot = mat.agg(F.sum("n_customers").cast("long").alias("__n"))
    return mat.crossJoin(F.broadcast(tot)).select(
        "from_class", "to_class", "n_customers",
        F.round(
            F.col("n_customers").cast("double") * 100.0
            / F.col("__n").cast("double"),
            6,
        ).alias("share_pct"),
    )


ORACLE_CUSTOMER_SPEND_MIGRATION = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
span AS (SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM o),
halved AS (
  SELECT o_custkey, c,
         CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT) * 2
                   <= CAST(floor(epoch(lo)) AS BIGINT)
                      + CAST(floor(epoch(hi)) AS BIGINT)
              THEN 1 ELSE 2 END AS half
  FROM o CROSS JOIN span),
per AS (SELECT o_custkey, half, SUM(c) AS sp FROM halved GROUP BY 1, 2),
m1 AS (
  SELECT MIN(k) AS m FROM (
    SELECT sp AS k,
           SUM(COUNT(*)) OVER (ORDER BY sp ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(COUNT(*)) OVER () AS n
    FROM per WHERE half = 1 GROUP BY sp)
  WHERE 2 * cum >= n),
m2 AS (
  SELECT MIN(k) AS m FROM (
    SELECT sp AS k,
           SUM(COUNT(*)) OVER (ORDER BY sp ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(COUNT(*)) OVER () AS n
    FROM per WHERE half = 2 GROUP BY sp)
  WHERE 2 * cum >= n),
both_ AS (
  SELECT CASE WHEN a.sp > m1.m THEN 'hi' ELSE 'lo' END AS from_class,
         CASE WHEN b.sp > m2.m THEN 'hi' ELSE 'lo' END AS to_class
  FROM per a
  JOIN per b ON b.o_custkey = a.o_custkey AND b.half = 2
  CROSS JOIN m1 CROSS JOIN m2
  WHERE a.half = 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM both_)
SELECT from_class, to_class, CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(CAST(COUNT(*) AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6)
         AS share_pct
FROM both_ CROSS JOIN tot GROUP BY from_class, to_class, n
"""


def q_orders_fulfillment_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-shipment economics: per order priority, how long the ship
    window runs (max - min lineitem shipdate, in days), the share of
    multi-day orders, and the worst case. Per-order spans aggregate
    once on orderkey; the rollup is |priorities|-bounded; means are
    exact integer day-sums."""
    li = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(
        F.datediff(
            F.max(F.to_date("l_shipdate")), F.min(F.to_date("l_shipdate"))
        ).cast("long").alias("__span")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    j = orders.join(li, "o_orderkey")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum("__span").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_span_days"),
        F.round(
            F.sum(F.when(F.col("__span") >= 1, 1).otherwise(0))
            .cast("double") * 100.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("multi_day_pct"),
        F.max("__span").cast("long").alias("max_span_days"),
    )


ORACLE_ORDERS_FULFILLMENT_SPAN = """
WITH li AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(date_diff('day', MIN(CAST(l_shipdate AS DATE)),
                        MAX(CAST(l_shipdate AS DATE))) AS BIGINT) AS span
  FROM lineitem GROUP BY 1)
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(SUM(span) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_span_days,
       round(CAST(SUM(CASE WHEN span >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / CAST(COUNT(*) AS DOUBLE), 6) AS multi_day_pct,
       CAST(MAX(span) AS BIGINT) AS max_span_days
FROM orders o JOIN li USING (o_orderkey)
GROUP BY 1
"""


def q_doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample (Duffield-Lund-Thorup):
    each doc gets priority w/u with w = token count and u a
    md5-derived uniform in (0, 1] — the top-20 by priority is a
    size-biased sample that is REPRODUCIBLE across runs and engines (no
    RNG state), the right shape for audit-grade corpus sampling at any
    scale: one map pass + TakeOrdered, no shuffle of the corpus."""
    docs = _ts(spark, sf_dir, "documents")
    w = F.size(X.tokens(F.lower(F.col("text")))).cast("long")
    u_long = D._md5_long(F.col("doc_id").cast("string"), 77)
    base = docs.select(
        "doc_id",
        w.alias("n_tokens"),
        (
            w.cast("double")
            / ((u_long.cast("double") + 1.0) / F.lit(2.0 ** 60))
        ).alias("__p"),
    ).filter(F.col("n_tokens") > 0)
    return (
        base.orderBy(F.desc("__p"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_tokens", F.round("__p", 6).alias("priority"))
    )


def _oracle_doc_priority_sample_sql() -> str:
    u = _dd_md5_long("concat('77:', CAST(doc_id AS VARCHAR))")
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         CAST(len({toks}) AS DOUBLE)
           / ((CAST({u} AS DOUBLE) + 1.0) / 1152921504606846976.0) AS p
  FROM documents)
SELECT doc_id, n_tokens, round(p, 6) AS priority
FROM base WHERE n_tokens > 0
ORDER BY p DESC, doc_id ASC
LIMIT 20
"""


def q_events_value_equidepth_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-depth (decile) histogram boundaries for the event value
    column — the optimizer-statistics artifact behind selectivity
    estimates and AQP stratification. Boundaries come off the cents
    VALUE HISTOGRAM with bounded-fan-in prefix sums and integer
    thresholds (10*cum >= b*n) — never a full sort, never a float
    rank; the 10 bucket ids attach as a tiny broadcast."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hist = ev.groupBy(
        F.round(F.col("value") * 100, 0).cast("long").alias("__k")
    ).agg(F.count(F.lit(1)).alias("__f"))
    hist, h = _hist_prefix(hist, "__k", "__f", "__cum")
    tot = hist.agg(F.sum("__f").alias("__n"))
    bs = spark.createDataFrame(
        [(b,) for b in range(1, 11)], "decile int"
    ).select(F.col("decile").cast("long").alias("decile"))
    j = (
        h.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(bs))
        .filter(
            10 * (F.col("__cum") + F.col("__f"))
            >= F.col("decile") * F.col("__n")
        )
    )
    return j.groupBy("decile").agg(
        (F.min("__k").cast("double") / 100.0).alias("upper_value")
    )


ORACLE_EVENTS_VALUE_EQUIDEPTH_HIST = """
WITH h AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS k, COUNT(*) AS f
  FROM events WHERE value IS NOT NULL GROUP BY 1),
cum AS (
  SELECT k, SUM(f) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cu
  FROM h),
tot AS (SELECT SUM(f) AS n FROM h),
bs AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS decile)
SELECT decile, CAST(MIN(k) AS DOUBLE) / 100.0 AS upper_value
FROM cum CROSS JOIN tot CROSS JOIN bs
WHERE 10 * cu >= decile * n
GROUP BY 1
"""


def q_corpus_df_truncation_impact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-pruning planner: what a document-frequency floor of 1/2/5
    would delete from the inverted index — vocabulary terms and postings
    removed, as shares. Everything runs on the (df -> term count)
    HISTOGRAM (bounded by distinct df levels); the three thresholds and
    the totals attach as tiny broadcasts."""
    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    ).distinct()
    vocab = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("__df")
    )
    hist = vocab.groupBy("__df").agg(
        F.count(F.lit(1)).cast("long").alias("__nt")
    )
    dec = "decimal(38,0)"
    tot = hist.agg(
        F.sum(F.col("__nt").cast(dec)).alias("__t_tokens"),
        F.sum((F.col("__df") * F.col("__nt")).cast(dec)).alias("__t_post"),
    )
    ts = spark.createDataFrame(
        [(1,), (2,), (5,)], "threshold int"
    ).select(F.col("threshold").cast("long").alias("threshold"))
    j = hist.crossJoin(F.broadcast(ts)).filter(
        F.col("__df") <= F.col("threshold")
    )
    per = j.groupBy("threshold").agg(
        F.sum(F.col("__nt").cast(dec)).alias("__r_tokens"),
        F.sum((F.col("__df") * F.col("__nt")).cast(dec)).alias("__r_post"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "threshold",
        F.col("__r_tokens").cast("long").alias("n_tokens_removed"),
        F.col("__r_post").cast("long").alias("n_postings_removed"),
        F.round(
            F.col("__r_tokens").cast("double") * 100.0
            / F.col("__t_tokens").cast("double"),
            6,
        ).alias("token_share_pct"),
        F.round(
            F.col("__r_post").cast("double") * 100.0
            / F.col("__t_post").cast("double"),
            6,
        ).alias("postings_share_pct"),
    )


ORACLE_CORPUS_DF_TRUNCATION_IMPACT = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS token
    FROM documents)),
vocab AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY 1),
hist AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS nt FROM vocab GROUP BY 1),
tot AS (SELECT SUM(nt) AS tt, SUM(df * nt) AS tp FROM hist),
ts AS (SELECT CAST(unnest([1, 2, 5]) AS BIGINT) AS threshold),
per AS (
  SELECT threshold, SUM(nt) AS rt, SUM(df * nt) AS rp
  FROM hist CROSS JOIN ts WHERE df <= threshold
  GROUP BY 1)
SELECT threshold,
       CAST(rt AS BIGINT) AS n_tokens_removed,
       CAST(rp AS BIGINT) AS n_postings_removed,
       round(CAST(rt AS DOUBLE) * 100.0 / CAST(tt AS DOUBLE), 6)
         AS token_share_pct,
       round(CAST(rp AS DOUBLE) * 100.0 / CAST(tp AS DOUBLE), 6)
         AS postings_share_pct
FROM per CROSS JOIN tot
"""


def q_part_size_ladder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-completeness audit: per part type, which sizes inside
    the observed [min, max] ladder are missing (assortment holes /
    ingestion drops). The expected ladder generates per type via
    sequence+explode (|types| x |size range| bounded) and anti-joins the
    observed distinct sizes — the dim-table form of the event-gap
    sequence anti-join."""
    p = _t(spark, sf_dir, "part").select("p_type", "p_size").distinct()
    rng = p.groupBy("p_type").agg(
        F.min("p_size").alias("__lo"),
        F.max("p_size").alias("__hi"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_sizes"),
    )
    ladder = rng.select(
        "p_type", "__lo", "__hi", "n_distinct_sizes",
        F.explode(F.sequence("__lo", "__hi")).alias("p_size"),
    )
    missing = ladder.join(p, ["p_type", "p_size"], "left_anti")
    miss_agg = missing.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_missing"),
        F.min("p_size").cast("long").alias("first_missing"),
    )
    return rng.join(miss_agg, "p_type", "left").select(
        "p_type",
        F.col("__lo").cast("long").alias("min_size"),
        F.col("__hi").cast("long").alias("max_size"),
        "n_distinct_sizes",
        F.coalesce("n_missing", F.lit(0)).cast("long").alias("n_missing"),
        "first_missing",
    )


ORACLE_PART_SIZE_LADDER_GAPS = """
WITH p AS (SELECT DISTINCT p_type, p_size FROM part),
rng AS (
  SELECT p_type, MIN(p_size) AS lo, MAX(p_size) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_sizes
  FROM p GROUP BY 1),
ladder AS (
  SELECT r.p_type, s.sz
  FROM rng r, LATERAL (SELECT unnest(generate_series(r.lo, r.hi)) AS sz) s),
miss AS (
  SELECT l.p_type, CAST(COUNT(*) AS BIGINT) AS n_missing,
         CAST(MIN(l.sz) AS BIGINT) AS first_missing
  FROM ladder l
  WHERE NOT EXISTS (SELECT 1 FROM p
                    WHERE p.p_type = l.p_type AND p.p_size = l.sz)
  GROUP BY 1)
SELECT rng.p_type, CAST(lo AS BIGINT) AS min_size,
       CAST(hi AS BIGINT) AS max_size, n_distinct_sizes,
       CAST(COALESCE(m.n_missing, 0) AS BIGINT) AS n_missing,
       m.first_missing
FROM rng LEFT JOIN miss m USING (p_type)
"""


def q_events_user_type_entropy_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral-diversity census: each user's event-type entropy,
    banded into 0.5-nat buckets — one number separating single-action
    drones (H = 0) from diverse real users. Per-user entropies come
    from |users x types| integer counts with 1e-9-quantized log folds;
    the band histogram is 5 rows."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    dec = "decimal(38,0)"
    lnq = F.round(F.log(F.col("__c").cast("double")) * 1e9, 0).cast("long")
    per_user = cnt.groupBy("user_id").agg(
        F.sum("__c").cast("long").alias("__t"),
        F.sum((F.col("__c") * lnq).cast(dec)).alias("__s"),
    )
    h = (
        F.log(F.col("__t").cast("double"))
        - F.col("__s").cast("double") / 1e9 / F.col("__t").cast("double")
    )
    hq = F.round(h * 1e9, 0).cast("long")
    band = F.least(F.floor(hq * 2 / 1e9), F.lit(4)).cast("long")
    bands = per_user.select(band.alias("__b"))
    per = bands.groupBy("__b").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    tot = bands.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return per.crossJoin(F.broadcast(tot)).select(
        (F.col("__b").cast("double") / 2.0).alias("entropy_band_lo"),
        "n_users",
        F.round(
            F.col("n_users").cast("double") * 100.0
            / F.col("__n").cast("double"),
            6,
        ).alias("share_pct"),
    )


ORACLE_EVENTS_USER_TYPE_ENTROPY_PROFILE = """
WITH cnt AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
pu AS (
  SELECT user_id, SUM(c) AS t,
         SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)) AS s
  FROM cnt GROUP BY 1),
b AS (
  SELECT LEAST(CAST(floor(CAST(round((ln(CAST(t AS DOUBLE))
                    - CAST(s AS DOUBLE) / 1e9 / CAST(t AS DOUBLE)) * 1e9)
                    AS BIGINT) * 2 / 1e9) AS BIGINT), 4) AS band
  FROM pu),
per AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_users FROM b GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b)
SELECT CAST(band AS DOUBLE) / 2.0 AS entropy_band_lo, n_users,
       round(CAST(n_users AS DOUBLE) * 100.0 / CAST(n AS DOUBLE), 6)
         AS share_pct
FROM per CROSS JOIN tot
"""


def q_events_session_concurrency_peak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrent sessions (capacity planning): the sweep-line over
    session [start, end] intervals — +1/−1 boundary deltas on a MINUTE
    histogram, running sum via the bounded-fan-in prefix, argmax with
    earliest-minute ties. Sessions are the repo's 30-min-gap definition
    (user-partitioned windows); everything after the per-session
    aggregate is |active minutes|-bounded."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "__sid",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_sess = sess.groupBy("user_id", "__sid").agg(
        F.floor(F.unix_timestamp(F.min("ts")) / 60).alias("__sm"),
        (F.floor(F.unix_timestamp(F.max("ts")) / 60) + 1).alias("__em"),
    ).localCheckpoint(eager=False)  # two delta branches + the count reuse it
    ns = per_sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    deltas = per_sess.select(
        F.col("__sm").alias("__m"), F.lit(1).alias("__d")
    ).unionAll(
        per_sess.select(F.col("__em").alias("__m"), F.lit(-1).alias("__d"))
    )
    hist = deltas.groupBy("__m").agg(F.sum("__d").alias("__nd"))
    # probe-bounded: zero-basing the epoch-minute key collapses the
    # ~29M-magnitude domain to the data's actual minute RANGE (1 level)
    hist, pre = _hist_prefix(hist, "__m", "__nd", "__p")
    scored = pre.select(
        "__m", (F.col("__p") + F.col("__nd")).alias("__conc")
    )
    top = scored.orderBy(F.desc("__conc"), F.asc("__m")).limit(1)
    return top.crossJoin(F.broadcast(ns)).select(
        "n_sessions",
        F.col("__conc").cast("long").alias("peak_concurrency"),
        F.date_format(
            F.timestamp_seconds(F.col("__m") * 60), "yyyy-MM-dd HH:mm"
        ).alias("peak_minute"),
    )


ORACLE_EVENTS_SESSION_CONCURRENCY_PEAK = """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
flags AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(prev)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM ordered),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags),
per_sess AS (
  SELECT user_id, sid,
         CAST(floor(CAST(floor(epoch(MIN(ts))) AS BIGINT) / 60.0)
              AS BIGINT) AS sm,
         CAST(floor(CAST(floor(epoch(MAX(ts))) AS BIGINT) / 60.0)
              AS BIGINT) + 1 AS em
  FROM sess GROUP BY 1, 2),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM per_sess),
deltas AS (
  SELECT sm AS m, 1 AS d FROM per_sess
  UNION ALL
  SELECT em AS m, -1 AS d FROM per_sess),
hist AS (SELECT m, SUM(d) AS nd FROM deltas GROUP BY 1),
cum AS (
  SELECT m, SUM(nd) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS conc
  FROM hist)
SELECT ns.n_sessions, CAST(conc AS BIGINT) AS peak_concurrency,
       strftime(to_timestamp(m * 60), '%Y-%m-%d %H:%M') AS peak_minute
FROM cum CROSS JOIN ns
ORDER BY conc DESC, m ASC
LIMIT 1
"""


def q_customer_order_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Overdispersion test on orders-per-customer: the variance/mean
    ratio (Poisson arrivals give 1; > 1 means bursty repeat buyers,
    < 1 means a quota-like cap) — the distributional sanity check
    behind any per-customer rate model. Zero-order customers count
    (left join); everything is three exact integer sums."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    per = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("c_custkey")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    base = cust.join(per, "c_custkey", "left").select(
        F.coalesce("__c", F.lit(0)).cast("long").alias("__c")
    )
    dec = "decimal(38,0)"
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("__c").cast(dec)).alias("__s"),
        F.sum((F.col("__c") * F.col("__c")).cast(dec)).alias("__s2"),
    )
    n = F.col("n_customers").cast("double")
    mean = F.col("__s").cast("double") / n
    var = F.col("__s2").cast("double") / n - mean * mean
    return agg.select(
        "n_customers",
        F.round(mean, 6).alias("mean_orders"),
        F.round(var, 6).alias("variance"),
        F.round(var / mean, 6).alias("dispersion_index"),
    )


ORACLE_CUSTOMER_ORDER_DISPERSION = """
WITH per AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1),
base AS (
  SELECT CAST(COALESCE(per.c, 0) AS BIGINT) AS c
  FROM customer LEFT JOIN per ON per.o_custkey = customer.c_custkey),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(c) AS s, SUM(c * c) AS s2
  FROM base)
SELECT n AS n_customers,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_orders,
       round(CAST(s2 AS DOUBLE) / n
             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 6)
         AS variance,
       round((CAST(s2 AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
             / (CAST(s AS DOUBLE) / n), 6) AS dispersion_index
FROM a
"""


def q_events_km_conversion_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier time-to-conversion with CENSORING: users who viewed
    but never purchased are censored at their last observed event
    instead of silently dropped (the funnel-lag quantiles condition on
    conversion; this is the unconditional survival curve). Day-level
    risk sets come off a |days|-bounded histogram; the product
    Π(1 − d/n) folds as 1e-9-quantized log terms through the
    bounded-fan-in prefix, so S(t) and the median crossing are
    engine-exact."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("__tv"),
        F.max("ts").alias("__last"),
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__tp"))
    )
    cohort = (
        per_user.filter(F.col("__tv").isNotNull())
        .join(first_purchase, "user_id", "left")
        .select(
            F.when(
                F.col("__tp").isNotNull() & (F.col("__tp") >= F.col("__tv")),
                F.floor(
                    (F.unix_timestamp("__tp") - F.unix_timestamp("__tv"))
                    / 86400
                ),
            ).alias("__ed"),
            F.floor(
                (F.unix_timestamp("__last") - F.unix_timestamp("__tv"))
                / 86400
            ).alias("__cd"),
        )
        .select(
            F.coalesce("__ed", "__cd").cast("long").alias("__day"),
            F.when(F.col("__ed").isNotNull(), 1).otherwise(0).alias("__e"),
        )
    )
    hist = cohort.groupBy("__day").agg(
        F.sum("__e").cast("long").alias("__d"),
        F.count(F.lit(1)).cast("long").alias("__a"),
    )
    # risk set n_i = total - (all subjects leaving strictly before day i);
    # probe-bounded depth (day range ≪ 65536 ⇒ ONE window level)
    hist, pre = _hist_prefix(hist, "__day", "__a", "__left")
    tot = hist.agg(F.sum("__a").cast("long").alias("__n_tot"))
    withn = pre.crossJoin(F.broadcast(tot)).select(
        "__day", "__d",
        (F.col("__n_tot") - F.col("__left")).alias("__n_risk"),
    )
    lnq = F.when(
        F.col("__d") > 0,
        F.round(
            F.log(
                1.0
                - F.col("__d").cast("double") / F.col("__n_risk").cast("double")
            ) * 1e9,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0))
    terms = withn.select("__day", lnq.alias("__l"))
    _tck, cum = _hist_prefix(terms, "__day", "__l", "__pl")
    curve = cum.select(
        "__day", (F.col("__pl") + F.col("__l")).alias("__cl")
    ).localCheckpoint(eager=False)

    def _s_at(day: int) -> Column:
        # __cl is monotone non-increasing in __day (each term ≤ 0), so the
        # curve value at the LAST day ≤ t is MIN over the prefix.
        return F.exp(
            F.min(F.when(F.col("__day") <= day, F.col("__cl"))).cast("double")
            / 1e9
        )

    import math

    half = int(round(math.log(0.5) * 1e9))
    med = F.min(F.when(F.col("__cl") <= half, F.col("__day")))
    agg = curve.agg(
        F.round(F.coalesce(_s_at(1), F.lit(1.0)), 6).alias("s_day1"),
        F.round(F.coalesce(_s_at(3), F.lit(1.0)), 6).alias("s_day3"),
        F.round(F.coalesce(_s_at(7), F.lit(1.0)), 6).alias("s_day7"),
        med.cast("long").alias("median_day"),
    )
    n = cohort.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    return agg.crossJoin(F.broadcast(n)).select(
        "n_users", "s_day1", "s_day3", "s_day7", "median_day"
    )


ORACLE_EVENTS_KM_CONVERSION_SURVIVAL = """
WITH pu AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS tv,
         MAX(ts) AS last_ts
  FROM events GROUP BY 1),
fp AS (
  SELECT user_id, MIN(ts) AS tp FROM events
  WHERE event_type = 'purchase' GROUP BY 1),
cohort AS (
  SELECT CAST(COALESCE(
           CASE WHEN fp.tp IS NOT NULL AND fp.tp >= pu.tv
                THEN (CAST(floor(epoch(fp.tp)) AS BIGINT)
                      - CAST(floor(epoch(pu.tv)) AS BIGINT)) // 86400 END,
           (CAST(floor(epoch(pu.last_ts)) AS BIGINT)
            - CAST(floor(epoch(pu.tv)) AS BIGINT)) // 86400)
         AS BIGINT) AS day,
         CASE WHEN fp.tp IS NOT NULL AND fp.tp >= pu.tv
              THEN 1 ELSE 0 END AS e
  FROM pu LEFT JOIN fp USING (user_id)
  WHERE pu.tv IS NOT NULL),
hist AS (
  SELECT day, CAST(SUM(e) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS a
  FROM cohort GROUP BY 1),
tot AS (SELECT SUM(a) AS n_tot FROM hist),
withn AS (
  SELECT day, d,
         n_tot - COALESCE(SUM(a) OVER (ORDER BY day
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n_risk
  FROM hist CROSS JOIN tot),
terms AS (
  SELECT day,
         CASE WHEN d > 0
              THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)
              ELSE 0 END AS l
  FROM withn),
curve AS (
  SELECT day,
         SUM(l) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cl
  FROM terms),
n_u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM cohort)
SELECT n_users,
       round(COALESCE(exp(CAST((SELECT MIN(cl) FROM curve WHERE day <= 1)
                               AS DOUBLE) / 1e9), 1.0), 6) AS s_day1,
       round(COALESCE(exp(CAST((SELECT MIN(cl) FROM curve WHERE day <= 3)
                               AS DOUBLE) / 1e9), 1.0), 6) AS s_day3,
       round(COALESCE(exp(CAST((SELECT MIN(cl) FROM curve WHERE day <= 7)
                               AS DOUBLE) / 1e9), 1.0), 6) AS s_day7,
       (SELECT CAST(MIN(day) AS BIGINT) FROM curve
        WHERE cl <= CAST(round(ln(0.5) * 1e9) AS BIGINT)) AS median_day
FROM n_u
"""


def q_embedding_dim_ablation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dimension-ablation eval: recall@10 of top-variance-32-dim cosine
    retrieval against the full 64-dim ground truth, on the vec_id < 20
    query sample — 'can I halve my vector storage'. Per-dim variances
    are exact integer sums over 1e-9-quantized units (ties on dim
    index); both retrievals rank with (distance, cid) determinism; the
    intersection is an exact pair join."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    uq = F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
    base = emb.filter(nrm > 0).select(
        F.col("vec_id").alias("__id"), uq.alias("__u")
    ).localCheckpoint(eager=False)
    dims = base.select(F.posexplode("__u").alias("dim", "__ui"))
    dec = "decimal(38,0)"
    var = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("__ui").cast(dec)).alias("__s"),
        F.sum((F.col("__ui") * F.col("__ui")).cast(dec)).alias("__s2"),
    )
    # integer-exact variance ORDER: n*s2 - s^2 (scale-free for ranking)
    score = var.select(
        "dim",
        (
            F.col("__n").cast(dec) * F.col("__s2")
            - F.col("__s") * F.col("__s")
        ).alias("__v"),
    )
    # |dims| = 64 rows: TakeOrdered, not a global window
    sel = score.orderBy(F.desc("__v"), F.asc("dim")).limit(32).select("dim")
    q = base.filter(F.col("__id") < 20).select(
        F.col("__id").alias("__qid"), F.posexplode("__u").alias("dim", "__qu")
    )
    c = base.select(
        F.col("__id").alias("__cid"), F.posexplode("__u").alias("dim", "__cu")
    )
    pairs = q.join(c, "dim").filter(F.col("__qid") != F.col("__cid"))
    full = pairs.groupBy("__qid", "__cid").agg(
        F.sum((F.col("__qu") * F.col("__cu")).cast(dec)).alias("__dot")
    )
    trunc = (
        pairs.join(F.broadcast(sel), "dim")
        .groupBy("__qid", "__cid")
        .agg(F.sum((F.col("__qu") * F.col("__cu")).cast(dec)).alias("__dot"))
    )
    wq = Window.partitionBy("__qid").orderBy(
        F.desc("__dot"), F.asc("__cid")
    )
    top_full = full.withColumn("__rk", F.row_number().over(wq)).filter(
        F.col("__rk") <= 10
    ).select("__qid", "__cid")
    top_trunc = trunc.withColumn("__rk", F.row_number().over(wq)).filter(
        F.col("__rk") <= 10
    ).select("__qid", "__cid")
    hits = top_full.join(top_trunc, ["__qid", "__cid"]).groupBy(
        "__qid"
    ).agg(F.count(F.lit(1)).alias("__h"))
    per_q = top_full.select("__qid").distinct().join(
        hits, "__qid", "left"
    ).select(F.coalesce("__h", F.lit(0)).alias("__h"))
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("__h").cast("double") * 10.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("recall_at10_pct"),
    )


ORACLE_EMBEDDING_DIM_ABLATION_RECALL = """
WITH nv AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings),
u AS (
  SELECT vec_id, s.i - 1 AS dim,
         CAST(round(CAST(embedding[s.i] AS DOUBLE) / nrm * 1e9) AS BIGINT)
           AS ui
  FROM nv,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
  WHERE nrm > 0),
var_ AS (
  SELECT dim, COUNT(*) AS n, SUM(ui) AS s,
         SUM(CAST(ui AS HUGEINT) * ui) AS s2
  FROM u GROUP BY 1),
sel AS (
  SELECT dim FROM (
    SELECT dim, ROW_NUMBER() OVER (
      ORDER BY n * s2 - CAST(s AS HUGEINT) * s DESC, dim ASC) AS rk
    FROM var_)
  WHERE rk <= 32),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, q.dim,
         CAST(q.ui AS HUGEINT) * c.ui AS prod
  FROM u q JOIN u c USING (dim)
  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
full_ AS (
  SELECT qid, cid, SUM(prod) AS dot FROM pairs GROUP BY 1, 2),
trunc_ AS (
  SELECT qid, cid, SUM(prod) AS dot
  FROM pairs JOIN sel USING (dim) GROUP BY 1, 2),
tf AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY dot DESC, cid ASC) AS rk FROM full_)
  WHERE rk <= 10),
tt AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY dot DESC, cid ASC) AS rk FROM trunc_)
  WHERE rk <= 10),
hits AS (
  SELECT tf.qid, COUNT(*) AS h
  FROM tf JOIN tt ON tt.qid = tf.qid AND tt.cid = tf.cid
  GROUP BY 1),
per_q AS (
  SELECT COALESCE(h.h, 0) AS h
  FROM (SELECT DISTINCT qid FROM tf) q LEFT JOIN hits h USING (qid))
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(CAST(SUM(h) AS DOUBLE) * 10.0 / CAST(COUNT(*) AS DOUBLE), 6)
         AS recall_at10_pct
FROM per_q
"""


# ===========================================================================
# Round-8 wave 15: Poisson-bootstrap CI, Mann-Kendall/Theil-Sen robust
# trend, dup-graph triangle census
# ===========================================================================

_BOOT_B = 40


def _pois_thresholds() -> tuple:
    """Poisson(1) inverse-CDF thresholds on the [0, P) universal-hash
    uniform (P = 2³¹−1, the minhash Mersenne prime): the replicate
    weight is the first k with u_b < T_k (else 9; tail mass ~1.1e-7).
    Integer literals shared by the Spark CASE and the DuckDB oracle, so
    both engines draw bit-identical weights."""
    import math

    cum, out = 0.0, []
    for k in range(9):
        cum += math.exp(-1.0) / math.factorial(k)
        out.append(int(math.floor(cum * D.MINHASH_P)))
    return tuple(out)


_POIS_T = _pois_thresholds()


def q_events_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean event value — uncertainty
    quantification that actually scales: classic resampling needs n draws
    per replicate from a global RNG; the Poisson(1) trick (Chamandy et
    al., 'Estimating Uncertainty for Massive Data Streams') gives each
    row an INDEPENDENT md5-derived weight per replicate, so the whole
    bootstrap is one map pass + a B-row aggregation (map-side combined —
    the shuffle carries B partial sums per partition, never rows).
    Deterministic across runs AND engines: no RNG state — ONE md5 per
    row, then the B replicate uniforms are the minhash universal-hash
    family (a_b·u + c_b mod P), pure integer arithmetic (measured 40
    md5s/row → 1: sf0.1 5.3 s → sub-second)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    base = ev.select(
        F.col("event_id").cast("long").alias("__eid"),
        F.round(F.col("value") * 100, 0).cast("long").alias("__vc"),
    ).localCheckpoint(eager=False)
    u_row = D._md5_long(F.col("__eid").cast("string"), 91) % D.MINHASH_P
    coeffs = D.minhash_coeffs(_BOOT_B)
    rep = base.select("__vc", u_row.alias("__u")).select(
        "__vc",
        F.posexplode(
            F.array(
                *[
                    (F.lit(a) * F.col("__u") + F.lit(c)) % D.MINHASH_P
                    for a, c in coeffs
                ]
            )
        ).alias("__b", "__ub"),
    )
    w = None
    for k, t in enumerate(_POIS_T):
        cond = F.col("__ub") < F.lit(t)
        w = F.when(cond, k) if w is None else w.when(cond, k)
    w = w.otherwise(F.lit(9)).cast("long")
    # long accumulators: w ≤ 9 and vc is cents, so per-replicate sums
    # stay far inside int64 at any realistic scale — no decimal tax
    per = (
        rep.select("__b", w.alias("__w"), "__vc")
        .groupBy("__b")
        .agg(
            F.sum("__w").alias("__sw"),
            F.sum(F.col("__w") * F.col("__vc")).alias("__swv"),
        )
        .filter(F.col("__sw") > 0)
        .select(
            (
                F.col("__swv").cast("double")
                / F.col("__sw").cast("double")
                / 100.0
            ).alias("__m")
        )
    )
    boot = per.agg(
        F.sort_array(F.collect_list("__m")).alias("__ms"),
        F.count(F.lit(1)).cast("long").alias("n_boot"),
    ).select(
        "n_boot",
        "__ms",
        F.round(0.025 * (F.col("n_boot") - 1).cast("double"), 0)
        .cast("int")
        .alias("__ilo"),
        F.round(0.975 * (F.col("n_boot") - 1).cast("double"), 0)
        .cast("int")
        .alias("__ihi"),
    )
    bootrow = boot.select(
        "n_boot",
        F.round(F.get(F.col("__ms"), F.col("__ilo")), 6).alias("boot_ci_lo"),
        F.round(F.get(F.col("__ms"), F.col("__ihi")), 6).alias("boot_ci_hi"),
    )
    pt = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(
            F.sum(F.col("__vc").cast(dec)).cast("double")
            / 100.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_value"),
    )
    return pt.crossJoin(F.broadcast(bootrow)).select(
        "n_events", "mean_value", "n_boot", "boot_ci_lo", "boot_ci_hi"
    )


def _oracle_events_value_bootstrap_ci_sql() -> str:
    u = _dd_md5_long("concat('91:', CAST(event_id AS VARCHAR))")
    vals = ", ".join(
        f"({b}, {a}, {c})"
        for b, (a, c) in enumerate(D.minhash_coeffs(_BOOT_B))
    )
    case = " ".join(
        f"WHEN (a * u + c) % {D.MINHASH_P} < {t} THEN {k}"
        for k, t in enumerate(_POIS_T)
    )
    return f"""
WITH base AS (
  SELECT ({u}) % {D.MINHASH_P} AS u,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events WHERE value IS NOT NULL),
co AS (SELECT * FROM (VALUES {vals}) AS t(b, a, c)),
rep AS (
  SELECT vc, b, CAST(CASE {case} ELSE 9 END AS BIGINT) AS w
  FROM base CROSS JOIN co),
perb AS (
  SELECT b, SUM(w) AS sw, SUM(w * vc) AS swv
  FROM rep GROUP BY 1),
means AS (
  SELECT CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0 AS m
  FROM perb WHERE sw > 0),
boot AS (
  SELECT list_sort(list(m)) AS ms, CAST(COUNT(*) AS BIGINT) AS n_boot
  FROM means),
pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         round(CAST(SUM(vc) AS DOUBLE) / 100.0
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_value
  FROM base)
SELECT n_events, mean_value, n_boot,
       round(ms[CAST(round(0.025 * (n_boot - 1)) AS BIGINT) + 1], 6)
         AS boot_ci_lo,
       round(ms[CAST(round(0.975 * (n_boot - 1)) AS BIGINT) + 1], 6)
         AS boot_ci_hi
FROM pt CROSS JOIN boot
"""


def q_orders_revenue_trend_robust(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust monthly-revenue trend: Mann-Kendall S with the
    tie-corrected normal z (monotonic-trend test immune to outliers and
    level shifts) plus the Theil-Sen slope (median of all pairwise
    slopes). The pair grid is |months|²-bounded — at ANY corpus scale the
    fact table reduces to one ~80-row monthly frame first, so the
    quadratic part never touches data volume; revenue compares are exact
    integer cents, and the median slope is an order statistic over the
    sorted pair list (no float accumulation)."""
    dec = "decimal(38,0)"
    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("__mx")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast(dec))
            .cast("long")
            .alias("__c")
        )
        .localCheckpoint(eager=False)
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    diff = F.col("b.__c") - F.col("a.__c")
    pairs = a.join(b, F.col("a.__mx") < F.col("b.__mx")).select(
        F.when(diff > 0, 1).when(diff < 0, -1).otherwise(0).alias("__sg"),
        (
            diff.cast("double")
            / 100.0
            / (F.col("b.__mx") - F.col("a.__mx")).cast("double")
        ).alias("__sl"),
    )
    pa = pairs.agg(
        F.sum("__sg").cast("long").alias("mk_s"),
        F.sort_array(F.collect_list("__sl")).alias("__sls"),
        F.count(F.lit(1)).cast("long").alias("__np"),
    )
    nm = monthly.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    ties = monthly.groupBy("__c").agg(
        F.count(F.lit(1)).cast("long").alias("__t")
    ).agg(
        F.coalesce(
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("__tie")
    )
    j = pa.crossJoin(F.broadcast(nm)).crossJoin(F.broadcast(ties))
    n = F.col("n_months")
    var = (
        (n * (n - 1) * (2 * n + 5) - F.col("__tie")).cast("double") / 18.0
    )
    s = F.col("mk_s").cast("double")
    z = F.when(var <= 0, 0.0).otherwise(
        F.when(s > 0, (s - 1) / F.sqrt(var))
        .when(s < 0, (s + 1) / F.sqrt(var))
        .otherwise(0.0)
    )
    half = (F.col("__np") / 2).cast("int")
    sen = F.when(
        F.col("__np") % 2 == 1, F.get(F.col("__sls"), half)
    ).otherwise(
        (
            F.get(F.col("__sls"), half - 1) + F.get(F.col("__sls"), half)
        )
        / 2.0
    )
    return j.select(
        "n_months",
        "mk_s",
        F.round(z, 6).alias("mk_z"),
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend"),
        F.round(sen, 6).alias("sen_slope"),
    )


ORACLE_ORDERS_REVENUE_TREND_ROBUST = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS mx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS c
  FROM orders GROUP BY 1),
pairs AS (
  SELECT CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg,
         CAST(b.c - a.c AS DOUBLE) / 100.0
           / CAST(b.mx - a.mx AS DOUBLE) AS sl
  FROM monthly a JOIN monthly b ON a.mx < b.mx),
pa AS (
  SELECT CAST(SUM(sg) AS BIGINT) AS mk_s,
         list_sort(list(sl)) AS sls,
         CAST(COUNT(*) AS BIGINT) AS np FROM pairs),
nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie
  FROM (SELECT COUNT(*) AS t FROM monthly GROUP BY c)),
j AS (
  SELECT *,
    CAST(n_months * (n_months - 1) * (2 * n_months + 5) - tie AS DOUBLE)
      / 18.0 AS var
  FROM pa CROSS JOIN nm CROSS JOIN ties),
z AS (
  SELECT *,
    CASE WHEN var <= 0 THEN 0.0
         WHEN mk_s > 0 THEN (CAST(mk_s AS DOUBLE) - 1) / sqrt(var)
         WHEN mk_s < 0 THEN (CAST(mk_s AS DOUBLE) + 1) / sqrt(var)
         ELSE 0.0 END AS zv
  FROM j)
SELECT n_months, mk_s, round(zv, 6) AS mk_z,
       CASE WHEN zv > 1.96 THEN 'increasing'
            WHEN zv < -1.96 THEN 'decreasing'
            ELSE 'none' END AS trend,
       round(CASE WHEN np % 2 = 1 THEN sls[CAST(np // 2 AS BIGINT) + 1]
                  ELSE (sls[CAST(np // 2 AS BIGINT)]
                        + sls[CAST(np // 2 AS BIGINT) + 1]) / 2.0 END, 6)
         AS sen_slope
FROM z
"""


def q_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the LSH candidate-pair graph: triangle count,
    wedge count, and the global clustering coefficient 3T/W — the
    transitivity health metric that separates 'chains of borderline
    matches' (low transitivity → LSH threshold too loose) from genuine
    duplicate cliques (high transitivity). Edges are canonical
    (id_a < id_b), so the e1(a,b)⋈e2(b,c)⋈e3(a,c) equi-join enumerates
    each triangle exactly once; the edge list is materialized once and
    every join is on edge keys — the classic distributed triangle count,
    bounded by the dup-pair graph, never the corpus."""
    docs = _ts(spark, sf_dir, "documents")
    edges = (
        D.minhash_lsh_candidates(
            docs, "doc_id", "text",
            k=_MINHASH_K, bands=_MINHASH_BANDS, shingle_n=3,
        )
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.id_a") == F.col("e1.id_b"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    nodes = edges.select(F.col("id_a").alias("__n")).unionAll(
        edges.select(F.col("id_b").alias("__n"))
    )
    deg = nodes.groupBy("__n").agg(F.count(F.lit(1)).cast("long").alias("__d"))
    wed = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.expr("sum(__d * (__d - 1)) div 2"), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    ec = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    out = wed.crossJoin(F.broadcast(ec)).crossJoin(F.broadcast(tri))
    cc = F.when(
        F.col("n_wedges") > 0,
        (3.0 * F.col("n_triangles").cast("double"))
        / F.col("n_wedges").cast("double"),
    ).otherwise(0.0)
    return out.select(
        "n_nodes", "n_edges", "n_triangles", "n_wedges",
        F.round(cc, 6).alias("global_clustering"),
    )


def _oracle_dup_graph_triangles_sql() -> str:
    pairs = _oracle_minhash_lsh_sql().strip().rstrip(";")
    return f"""
WITH e AS ({pairs}),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.id_a = e1.id_b
  JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT id_a AS n FROM e UNION ALL SELECT id_b FROM e)
  GROUP BY 1),
w AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM(d * (d - 1)) // 2, 0) AS BIGINT) AS n_wedges
  FROM deg),
ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       round(CASE WHEN n_wedges > 0
                  THEN 3.0 * CAST(n_triangles AS DOUBLE)
                       / CAST(n_wedges AS DOUBLE)
                  ELSE 0.0 END, 6) AS global_clustering
FROM w CROSS JOIN ec CROSS JOIN tri
"""


# ===========================================================================
# Round-8 wave 16: shuffle-skew salting audit, bloom-join sizing planner,
# converter-activity enrichment
# ===========================================================================


def q_orders_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew audit for the orders⋈customer shuffle: the top-10
    heaviest join keys with their ratio to the mean key load and the
    salt factor (ceil of the ratio) a skew-salting rewrite would need —
    the planner artifact behind 'do I enable AQE skew-join or pre-salt
    this key'. One |keys|-bounded aggregation; the mean attaches as a
    ONE-ROW broadcast; top-10 via TakeOrdered, never a global sort."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").cast("long").alias("o_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("__nk"),
        F.sum("n_rows").cast("long").alias("__tot"),
    )
    top = per.orderBy(F.desc("n_rows"), F.asc("o_custkey")).limit(10)
    ratio = (
        F.col("n_rows").cast("double")
        * F.col("__nk").cast("double")
        / F.col("__tot").cast("double")
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "n_rows",
        F.round(ratio, 6).alias("ratio_to_mean"),
        F.ceil(ratio).cast("long").alias("salt_factor"),
    )


ORACLE_ORDERS_JOIN_SKEW_AUDIT = """
WITH per AS (
  SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nk,
         CAST(SUM(n_rows) AS BIGINT) AS tot FROM per),
top AS (
  SELECT * FROM per ORDER BY n_rows DESC, o_custkey ASC LIMIT 10)
SELECT o_custkey, n_rows,
       round(CAST(n_rows AS DOUBLE) * CAST(nk AS DOUBLE)
             / CAST(tot AS DOUBLE), 6) AS ratio_to_mean,
       CAST(ceil(CAST(n_rows AS DOUBLE) * CAST(nk AS DOUBLE)
                 / CAST(tot AS DOUBLE)) AS BIGINT) AS salt_factor
FROM top CROSS JOIN tot
"""

_BLOOM_FPP = 0.01
_BLOOM_PRICE_CUTOFF = 150000.0


def q_lineitem_bloom_join_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter sizing for the semi-join pushdown 'lineitem rows of
    high-value orders': from the exact build-side key count, the optimal
    bit count m = ceil(-n·ln p / ln²2) and hash count k = round(m/n·ln 2)
    for a 1% target fpp, the achieved fpp at those (m, k), and the
    expected false-positive rows the probe scan would still pass — the
    numbers behind runtime-filter pushdown at 100 TB, where shipping a
    few-MB filter saves a full fact-table shuffle. Three exact COUNT
    aggregates (build keys, probe rows, true matches) + closed-form
    doubles; the formula constants are shared literals."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _BLOOM_PRICE_CUTOFF
    )
    li = _t(spark, sf_dir, "lineitem")
    build = o.agg(F.count(F.lit(1)).cast("long").alias("n_build_keys"))
    probe = li.agg(F.count(F.lit(1)).cast("long").alias("probe_rows"))
    match = (
        li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey"
        ).agg(F.count(F.lit(1)).cast("long").alias("match_rows"))
    )
    j = build.crossJoin(F.broadcast(probe)).crossJoin(F.broadcast(match))
    nd = F.col("n_build_keys").cast("double")
    ln2 = float(__import__("math").log(2.0))
    lnp = float(__import__("math").log(_BLOOM_FPP))
    mb = F.ceil(-(nd * F.lit(lnp)) / F.lit(ln2 * ln2)).cast("long")
    out = j.select(
        "n_build_keys", "probe_rows", "match_rows", mb.alias("bloom_bits")
    )
    kh = F.greatest(
        F.lit(1),
        F.round(F.col("bloom_bits").cast("double") / nd * F.lit(ln2), 0)
        .cast("long"),
    )
    out = out.select("*", kh.alias("bloom_hashes"))
    fpp = F.pow(
        1.0
        - F.exp(
            -(
                F.col("bloom_hashes").cast("double") * nd
            )
            / F.col("bloom_bits").cast("double")
        ),
        F.col("bloom_hashes").cast("double"),
    )
    return out.select(
        "n_build_keys", "probe_rows", "match_rows", "bloom_bits",
        "bloom_hashes",
        F.round(F.col("bloom_bits").cast("double") / 8192.0, 3)
        .alias("bloom_kib"),
        F.round(fpp, 9).alias("achieved_fpp"),
        F.round(
            (F.col("probe_rows") - F.col("match_rows")).cast("double") * fpp,
            3,
        ).alias("est_false_pass_rows"),
    )


def _oracle_lineitem_bloom_join_planner_sql() -> str:
    import math

    ln2, lnp = math.log(2.0), math.log(_BLOOM_FPP)
    return f"""
WITH hv AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > {_BLOOM_PRICE_CUTOFF}),
build AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_build_keys FROM hv),
probe AS (SELECT CAST(COUNT(*) AS BIGINT) AS probe_rows FROM lineitem),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS match_rows
  FROM lineitem l JOIN hv ON hv.o_orderkey = l.l_orderkey),
j AS (SELECT * FROM build CROSS JOIN probe CROSS JOIN m),
bits AS (
  SELECT *,
    CAST(ceil(-(CAST(n_build_keys AS DOUBLE) * {lnp!r})
              / {ln2 * ln2!r}) AS BIGINT) AS bloom_bits
  FROM j),
hashes AS (
  SELECT *,
    GREATEST(1, CAST(round(CAST(bloom_bits AS DOUBLE)
                           / CAST(n_build_keys AS DOUBLE) * {ln2!r})
                     AS BIGINT)) AS bloom_hashes
  FROM bits),
fp AS (
  SELECT *,
    pow(1.0 - exp(-(CAST(bloom_hashes AS DOUBLE)
                    * CAST(n_build_keys AS DOUBLE))
                  / CAST(bloom_bits AS DOUBLE)),
        CAST(bloom_hashes AS DOUBLE)) AS fpp
  FROM hashes)
SELECT n_build_keys, probe_rows, match_rows, bloom_bits, bloom_hashes,
       round(CAST(bloom_bits AS DOUBLE) / 8192.0, 3) AS bloom_kib,
       round(fpp, 9) AS achieved_fpp,
       round(CAST(probe_rows - match_rows AS DOUBLE) * fpp, 3)
         AS est_false_pass_rows
FROM fp
"""


def q_events_converter_type_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which activities are over-represented among users who eventually
    purchase: per non-purchase event type, the Haldane-corrected log
    odds ratio of 'user did this type' vs converter status. The 2×2
    cells come off ONE (user, type)-distinct pass joined to a per-user
    converter flag; the converter/non-converter totals attach as a
    ONE-ROW broadcast, so the shuffle is |users × types|-bounded and the
    output |types| rows."""
    ev = _t(spark, sf_dir, "events")
    conv = ev.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("__cv")
    )
    ut = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").cast("long").alias("user_id"), "event_type"
        )
        .distinct()
        .join(conv, "user_id")
    )
    cells = ut.groupBy("event_type").agg(
        F.sum("__cv").cast("long").alias("n_conv_with"),
        F.sum(1 - F.col("__cv")).cast("long").alias("n_nonconv_with"),
    )
    tot = conv.agg(
        F.sum("__cv").cast("long").alias("__nc"),
        F.sum(1 - F.col("__cv")).cast("long").alias("__nn"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    a = F.col("n_conv_with").cast("double") + 0.5
    b = F.col("n_nonconv_with").cast("double") + 0.5
    c = (F.col("__nc") - F.col("n_conv_with")).cast("double") + 0.5
    d = (F.col("__nn") - F.col("n_nonconv_with")).cast("double") + 0.5
    log_or = F.log((a * d) / (b * c))
    return j.select(
        "event_type", "n_conv_with", "n_nonconv_with",
        F.round(log_or, 6).alias("log_odds_ratio"),
        F.when(log_or > 0, "enriched").otherwise("depleted").alias(
            "direction"
        ),
    )


ORACLE_EVENTS_CONVERTER_TYPE_ENRICHMENT = """
WITH conv AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
  FROM events GROUP BY 1),
ut AS (
  SELECT DISTINCT CAST(e.user_id AS BIGINT) AS user_id, e.event_type
  FROM events e WHERE e.event_type <> 'purchase'),
cells AS (
  SELECT ut.event_type,
         CAST(SUM(c.cv) AS BIGINT) AS n_conv_with,
         CAST(SUM(1 - c.cv) AS BIGINT) AS n_nonconv_with
  FROM ut JOIN conv c USING (user_id) GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cv) AS BIGINT) AS nc,
         CAST(SUM(1 - cv) AS BIGINT) AS nn FROM conv)
SELECT event_type, n_conv_with, n_nonconv_with,
       round(ln(((CAST(n_conv_with AS DOUBLE) + 0.5)
                 * (CAST(nn - n_nonconv_with AS DOUBLE) + 0.5))
                / ((CAST(n_nonconv_with AS DOUBLE) + 0.5)
                   * (CAST(nc - n_conv_with AS DOUBLE) + 0.5))), 6)
         AS log_odds_ratio,
       CASE WHEN ln(((CAST(n_conv_with AS DOUBLE) + 0.5)
                 * (CAST(nn - n_nonconv_with AS DOUBLE) + 0.5))
                / ((CAST(n_nonconv_with AS DOUBLE) + 0.5)
                   * (CAST(nc - n_conv_with AS DOUBLE) + 0.5))) > 0
            THEN 'enriched' ELSE 'depleted' END AS direction
FROM cells CROSS JOIN tot
"""


# ===========================================================================
# Round-8 wave 17: Simpson's-paradox audit, Neyman sampling allocation,
# Wald-Wolfowitz runs test
# ===========================================================================


def q_lineitem_simpsons_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit on 'do high discounts associate with
    returns': the aggregate high-vs-low-discount return-rate gap next to
    the same gap within each ship-year stratum, flagging strata whose
    direction REVERSES the aggregate — the confounding check every
    observational metric readout needs before anyone acts on it. One
    |years × 2|-bounded aggregation; the aggregate gap attaches as a
    ONE-ROW broadcast; rates are exact-integer divisions."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("long").alias("ship_year"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("__hi"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("__r"),
    )
    cells = li.groupBy("ship_year").agg(
        F.sum(F.col("__hi") * F.col("__r")).cast("long").alias("__rh"),
        F.sum("__hi").cast("long").alias("__nh"),
        F.sum((1 - F.col("__hi")) * F.col("__r")).cast("long").alias("__rl"),
        F.sum(1 - F.col("__hi")).cast("long").alias("__nl"),
    )
    overall = cells.agg(
        (
            F.sum("__rh").cast("double") / F.sum("__nh").cast("double")
            - F.sum("__rl").cast("double") / F.sum("__nl").cast("double")
        ).alias("__od")
    )
    j = cells.filter(
        (F.col("__nh") > 0) & (F.col("__nl") > 0)
    ).crossJoin(F.broadcast(overall))
    diff = (
        F.col("__rh").cast("double") / F.col("__nh").cast("double")
        - F.col("__rl").cast("double") / F.col("__nl").cast("double")
    )
    rev = (
        (diff > 0) & (F.col("__od") < 0)
        | (diff < 0) & (F.col("__od") > 0)
    )
    return j.select(
        "ship_year",
        F.round(
            F.col("__rh").cast("double") / F.col("__nh").cast("double"), 6
        ).alias("hi_disc_return_rate"),
        F.round(
            F.col("__rl").cast("double") / F.col("__nl").cast("double"), 6
        ).alias("lo_disc_return_rate"),
        F.round(diff, 6).alias("stratum_gap"),
        F.round(F.col("__od"), 6).alias("aggregate_gap"),
        F.when(rev, 1).otherwise(0).cast("long").alias("reversed"),
    )


ORACLE_LINEITEM_SIMPSONS_CHECK = """
WITH li AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS hi,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
  FROM lineitem),
cells AS (
  SELECT ship_year,
         CAST(SUM(hi * r) AS BIGINT) AS rh,
         CAST(SUM(hi) AS BIGINT) AS nh,
         CAST(SUM((1 - hi) * r) AS BIGINT) AS rl,
         CAST(SUM(1 - hi) AS BIGINT) AS nl
  FROM li GROUP BY 1),
overall AS (
  SELECT CAST(SUM(rh) AS DOUBLE) / CAST(SUM(nh) AS DOUBLE)
         - CAST(SUM(rl) AS DOUBLE) / CAST(SUM(nl) AS DOUBLE) AS od
  FROM cells)
SELECT ship_year,
       round(CAST(rh AS DOUBLE) / CAST(nh AS DOUBLE), 6)
         AS hi_disc_return_rate,
       round(CAST(rl AS DOUBLE) / CAST(nl AS DOUBLE), 6)
         AS lo_disc_return_rate,
       round(CAST(rh AS DOUBLE) / CAST(nh AS DOUBLE)
             - CAST(rl AS DOUBLE) / CAST(nl AS DOUBLE), 6) AS stratum_gap,
       round(od, 6) AS aggregate_gap,
       CAST(CASE WHEN (CAST(rh AS DOUBLE) / CAST(nh AS DOUBLE)
                       - CAST(rl AS DOUBLE) / CAST(nl AS DOUBLE) > 0
                       AND od < 0)
                   OR (CAST(rh AS DOUBLE) / CAST(nh AS DOUBLE)
                       - CAST(rl AS DOUBLE) / CAST(nl AS DOUBLE) < 0
                       AND od > 0)
                 THEN 1 ELSE 0 END AS BIGINT) AS reversed
FROM cells CROSS JOIN overall
WHERE nh > 0 AND nl > 0
"""

_NEYMAN_BUDGET = 10000


def q_events_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sampling allocation over event types: a
    10k-row sample budget split ∝ N_h·S_h (stratum size × value stddev)
    vs the proportional split — the design artifact that makes a
    downstream value estimate minimum-variance for the same budget. Per
    stratum: exact DECIMAL sums of cents and squared cents, the sample
    stddev from integer moments; each N_h·S_h is quantized to 1e-6 units
    so the Σ(N_h·S_h) normalizer is an ORDER-FREE integer sum (the
    cross-engine determinism convention for float reductions)."""
    dec = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long").cast(dec)).alias(
            "__s"
        ),
        F.sum(
            (
                F.round(F.col("value") * 100, 0).cast("long")
                * F.round(F.col("value") * 100, 0).cast("long")
            ).cast(dec)
        ).alias("__s2"),
    ).filter(F.col("n_rows") > 1)
    n = F.col("n_rows").cast("double")
    var = (
        (
            F.col("n_rows").cast(dec) * F.col("__s2")
            - F.col("__s") * F.col("__s")
        ).cast("double")
        / (n * (n - 1.0))
        / 10000.0
    )
    sd = F.sqrt(var)
    wq = F.round(n * sd * 1e6, 0).cast("long")
    pq_ = per.select("event_type", "n_rows", sd.alias("__sd"), wq.alias("__w"))
    tot = pq_.agg(
        F.sum("__w").cast("long").alias("__wt"),
        F.sum("n_rows").cast("long").alias("__nt"),
    )
    j = pq_.crossJoin(F.broadcast(tot))
    return j.select(
        "event_type",
        "n_rows",
        F.round(F.col("__sd"), 6).alias("value_stddev"),
        F.round(
            F.lit(float(_NEYMAN_BUDGET))
            * F.col("__w").cast("double")
            / F.col("__wt").cast("double"),
            0,
        )
        .cast("long")
        .alias("neyman_n"),
        F.round(
            F.lit(float(_NEYMAN_BUDGET))
            * F.col("n_rows").cast("double")
            / F.col("__nt").cast("double"),
            0,
        )
        .cast("long")
        .alias("proportional_n"),
    )


ORACLE_EVENTS_NEYMAN_ALLOCATION = f"""
WITH per AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         SUM(CAST(round(value * 100) AS HUGEINT)) AS s,
         SUM(CAST(round(value * 100) AS HUGEINT)
             * CAST(round(value * 100) AS HUGEINT)) AS s2
  FROM events WHERE value IS NOT NULL GROUP BY 1
  HAVING COUNT(*) > 1),
sdq AS (
  SELECT event_type, n_rows,
         sqrt(CAST(n_rows * s2 - s * s AS DOUBLE)
              / (CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) - 1.0))
              / 10000.0) AS sd
  FROM per),
w AS (
  SELECT event_type, n_rows, sd,
         CAST(round(CAST(n_rows AS DOUBLE) * sd * 1e6) AS BIGINT) AS wq
  FROM sdq),
tot AS (
  SELECT CAST(SUM(wq) AS BIGINT) AS wt,
         CAST(SUM(n_rows) AS BIGINT) AS nt FROM w)
SELECT event_type, n_rows, round(sd, 6) AS value_stddev,
       CAST(round({float(_NEYMAN_BUDGET)!r} * CAST(wq AS DOUBLE)
                  / CAST(wt AS DOUBLE)) AS BIGINT) AS neyman_n,
       CAST(round({float(_NEYMAN_BUDGET)!r} * CAST(n_rows AS DOUBLE)
                  / CAST(nt AS DOUBLE)) AS BIGINT) AS proportional_n
FROM w CROSS JOIN tot
"""


def q_events_daily_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily event-volume series: are
    above/below-median days randomly interleaved, or do they cluster
    (regime shifts, ramps) / alternate (oscillation)? The day spine is
    gap-filled from the ONE-ROW min/max (missing days count 0), sides
    dichotomize STRICTLY ABOVE the exact histogram lower median (ties
    fall below, keeping the day spine unbroken), and runs come off a
    day → day+1 self-equi-join — LAG semantics with no unpartitioned
    window. Everything after the |days|-bounded histogram is exact
    integer arithmetic; E[R] and Var[R] are closed-form."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("__d")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    bounds = daily.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__d")
    )
    filled = spine.join(daily, "__d", "left").select(
        "__d", F.coalesce("__c", F.lit(0)).alias("__c")
    ).localCheckpoint(eager=False)
    hist = filled.groupBy("__c").agg(F.count(F.lit(1)).alias("__f"))
    hist, h = _hist_prefix(hist, "__c", "__f", "__cum")
    nd = filled.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    med = (
        h.crossJoin(F.broadcast(nd))
        .filter(2 * (F.col("__cum") + F.col("__f")) >= F.col("__n"))
        .agg(F.min("__c").alias("__med"))
    )
    sided = filled.crossJoin(F.broadcast(med)).select(
        "__d",
        F.when(F.col("__c") > F.col("__med"), 1).otherwise(0).alias("__s"),
    ).localCheckpoint(eager=False)
    nxt = sided.select(
        (F.col("__d") - 1).alias("__d"), F.col("__s").alias("__s2")
    )
    changes = sided.join(nxt, "__d").agg(
        F.sum(
            F.when(F.col("__s") != F.col("__s2"), 1).otherwise(0)
        ).cast("long").alias("__ch")
    )
    counts = sided.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("__s").cast("long").alias("n_above"),
        F.sum(1 - F.col("__s")).cast("long").alias("n_below"),
    )
    j = counts.crossJoin(F.broadcast(changes))
    n1, n2 = F.col("n_above").cast("double"), F.col("n_below").cast("double")
    r = (F.col("__ch") + 1).cast("long")
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    z = F.when(vr > 0, (r.cast("double") - er) / F.sqrt(vr)).otherwise(0.0)
    return j.select(
        "n_days", "n_above", "n_below",
        r.alias("n_runs"),
        F.round(er, 6).alias("expected_runs"),
        F.round(z, 6).alias("z"),
        F.when(z < -1.96, "clustered")
        .when(z > 1.96, "oscillating")
        .otherwise("random")
        .alias("verdict"),
    )


ORACLE_EVENTS_DAILY_RUNS_TEST = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
spine AS (
  SELECT unnest(generate_series(lo, hi)) AS d FROM bounds),
filled AS (
  SELECT s.d, COALESCE(dl.c, 0) AS c
  FROM spine s LEFT JOIN daily dl ON dl.d = s.d),
hist AS (SELECT c, COUNT(*) AS f FROM filled GROUP BY 1),
cum AS (
  SELECT c, SUM(f) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cu
  FROM hist),
nd AS (SELECT COUNT(*) AS n FROM filled),
med AS (
  SELECT MIN(c) AS med FROM cum CROSS JOIN nd WHERE 2 * cu >= n),
sided AS (
  SELECT d, CASE WHEN c > med THEN 1 ELSE 0 END AS s
  FROM filled CROSS JOIN med),
changes AS (
  SELECT CAST(SUM(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) AS BIGINT) AS ch
  FROM sided a JOIN sided b ON b.d = a.d + 1),
counts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(s) AS BIGINT) AS n_above,
         CAST(SUM(1 - s) AS BIGINT) AS n_below
  FROM sided),
j AS (
  SELECT *,
    1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) AS er,
    2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
         - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE))
      / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
         * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
         * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) - 1.0)) AS vr
  FROM counts CROSS JOIN changes),
zc AS (
  SELECT *,
    CASE WHEN vr > 0
         THEN (CAST(ch + 1 AS DOUBLE) - er) / sqrt(vr)
         ELSE 0.0 END AS zv
  FROM j)
SELECT n_days, n_above, n_below,
       CAST(ch + 1 AS BIGINT) AS n_runs,
       round(er, 6) AS expected_runs,
       round(zv, 6) AS z,
       CASE WHEN zv < -1.96 THEN 'clustered'
            WHEN zv > 1.96 THEN 'oscillating'
            ELSE 'random' END AS verdict
FROM zc
"""


# ===========================================================================
# Round-8 wave 18: DOW seasonality strength, exact midrank AUC, expected
# shortfall
# ===========================================================================


def q_events_dow_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How much of daily-volume variance is day-of-week: the η² variance
    decomposition (SS_between/SS_total) plus the one-way F statistic of
    the DOW model on daily counts. Day-of-week is epoch_day % 7 — pure
    integer, immune to engine locale/week-start conventions. Grand
    moments are exact DECIMAL sums; the 7 per-group S_g²/n_g terms are
    1e-6-quantized before summing so the between-group SS is an
    ORDER-FREE integer reduction."""
    dec = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("__d")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    glob = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("__c").cast(dec)).cast("long").alias("__s"),
        F.sum((F.col("__c") * F.col("__c")).cast(dec)).alias("__s2"),
    )
    per = daily.groupBy((F.col("__d") % 7).alias("__dw")).agg(
        F.count(F.lit(1)).cast("long").alias("__ng"),
        F.sum(F.col("__c").cast(dec)).cast("long").alias("__sg"),
    )
    terms = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_dows"),
        F.sum(
            F.round(
                F.col("__sg").cast("double")
                * F.col("__sg").cast("double")
                / F.col("__ng").cast("double")
                * 1e6,
                0,
            ).cast("long")
        ).cast("long").alias("__tq"),
    )
    j = glob.crossJoin(F.broadcast(terms))
    n = F.col("n_days").cast("double")
    s = F.col("__s").cast("double")
    corr = s * s / n
    ss_tot = F.col("__s2").cast("double") - corr
    ss_b = F.col("__tq").cast("double") / 1e6 - corr
    k = F.col("n_dows").cast("double")
    eta = F.when(ss_tot > 0, ss_b / ss_tot).otherwise(0.0)
    fstat = F.when(
        (F.col("n_dows") > 1)
        & (F.col("n_days") > F.col("n_dows"))
        & (ss_tot - ss_b > 0),
        (ss_b / (k - 1.0)) / ((ss_tot - ss_b) / (n - k)),
    ).otherwise(0.0)
    return j.select(
        "n_days", "n_dows",
        F.round(eta, 6).alias("eta_sq"),
        F.round(fstat, 6).alias("f_stat"),
    )


ORACLE_EVENTS_DOW_SEASONALITY_STRENGTH = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
gm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS s,
         SUM(CAST(c AS HUGEINT) * c) AS s2
  FROM daily),
per AS (
  SELECT d % 7 AS dw, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(c) AS BIGINT) AS sg
  FROM daily GROUP BY 1),
terms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_dows,
         CAST(SUM(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                             / CAST(ng AS DOUBLE) * 1e6) AS BIGINT))
              AS BIGINT) AS tq
  FROM per),
j AS (
  SELECT *,
    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS corr,
    CAST(s2 AS DOUBLE) AS s2d
  FROM gm CROSS JOIN terms)
SELECT n_days, n_dows,
       round(CASE WHEN s2d - corr > 0
                  THEN (CAST(tq AS DOUBLE) / 1e6 - corr) / (s2d - corr)
                  ELSE 0.0 END, 6) AS eta_sq,
       round(CASE WHEN n_dows > 1 AND n_days > n_dows
                       AND (s2d - corr) - (CAST(tq AS DOUBLE) / 1e6 - corr)
                           > 0
                  THEN ((CAST(tq AS DOUBLE) / 1e6 - corr)
                        / (CAST(n_dows AS DOUBLE) - 1.0))
                       / (((s2d - corr)
                           - (CAST(tq AS DOUBLE) / 1e6 - corr))
                          / (CAST(n_days AS DOUBLE)
                             - CAST(n_dows AS DOUBLE)))
                  ELSE 0.0 END, 6) AS f_stat
FROM j
"""


def q_embedding_label_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the embedding L2 norm as a one-vs-rest score for
    the dominant label — 'does vector magnitude leak the class', the
    representation-quality probe run before anyone trusts
    cosine-distance semantics. AUC is the Mann-Whitney statistic with
    midrank tie handling, computed EXACTLY on the 1e-9-quantized norm
    histogram: Σ pos_k·(2·neg_below_k + neg_k) / (2·P·N) — integer
    arithmetic end-to-end, one |distinct norms| shuffle, no per-row
    ranking window."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    scored = emb.select(
        F.col("label").cast("long").alias("__lab"),
        F.round(nrm * 1e9, 0).cast("long").alias("__q"),
    ).localCheckpoint(eager=False)
    top = (
        scored.groupBy("__lab")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("__lab"))
        .limit(1)
        .select(F.col("__lab").alias("__pos"))
    )
    flagged = scored.crossJoin(F.broadcast(top)).select(
        "__q",
        F.when(F.col("__lab") == F.col("__pos"), 1).otherwise(0).alias(
            "__y"
        ),
    )
    hist = flagged.groupBy("__q").agg(
        F.sum("__y").cast("long").alias("__p"),
        F.sum(1 - F.col("__y")).cast("long").alias("__g"),
    )
    hist, h = _hist_prefix(hist, "__q", "__g", "__gb")
    dec = "decimal(38,0)"
    agg = h.agg(
        F.sum("__p").cast("long").alias("n_pos"),
        F.sum("__g").cast("long").alias("n_neg"),
        F.sum(
            (
                F.col("__p") * (2 * F.col("__gb") + F.col("__g"))
            ).cast(dec)
        ).alias("__num"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("__num").cast("double")
        / (
            2.0
            * F.col("n_pos").cast("double")
            * F.col("n_neg").cast("double")
        ),
    ).otherwise(0.5)
    return agg.select(
        "n_pos", "n_neg", F.round(auc, 6).alias("auc"),
        F.when(auc >= 0.5, "norm-higher-for-class")
        .otherwise("norm-lower-for-class")
        .alias("direction"),
    )


ORACLE_EMBEDDING_LABEL_AUC = """
WITH nv AS (
  SELECT CAST(label AS BIGINT) AS lab,
         CAST(round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) * 1e9) AS BIGINT) AS q
  FROM embeddings),
top AS (
  SELECT lab AS pos FROM (
    SELECT lab, COUNT(*) AS n FROM nv GROUP BY 1
    ORDER BY n DESC, lab ASC LIMIT 1)),
flagged AS (
  SELECT q, CASE WHEN lab = pos THEN 1 ELSE 0 END AS y
  FROM nv CROSS JOIN top),
hist AS (
  SELECT q, CAST(SUM(y) AS BIGINT) AS p, CAST(SUM(1 - y) AS BIGINT) AS g
  FROM flagged GROUP BY 1),
h AS (
  SELECT *,
    COALESCE(SUM(g) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS gb
  FROM hist),
agg AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(g) AS BIGINT) AS n_neg,
         SUM(CAST(p AS HUGEINT) * (2 * gb + g)) AS num
  FROM h)
SELECT n_pos, n_neg,
       round(CASE WHEN n_pos > 0 AND n_neg > 0
                  THEN CAST(num AS DOUBLE)
                       / (2.0 * CAST(n_pos AS DOUBLE)
                          * CAST(n_neg AS DOUBLE))
                  ELSE 0.5 END, 6) AS auc,
       CASE WHEN (CASE WHEN n_pos > 0 AND n_neg > 0
                       THEN CAST(num AS DOUBLE)
                            / (2.0 * CAST(n_pos AS DOUBLE)
                               * CAST(n_neg AS DOUBLE))
                       ELSE 0.5 END) >= 0.5
            THEN 'norm-higher-for-class'
            ELSE 'norm-lower-for-class' END AS direction
FROM agg
"""


def q_events_value_expected_shortfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tail risk of the value column: the exact 95% VaR (smallest value
    with cumulative mass ≥ 0.95) and the expected shortfall E[X | X ≥
    VaR] — the coherent tail metric that p95 alone understates. Both
    come off the cents VALUE HISTOGRAM with integer thresholds
    (20·cum ≥ 19·n) and exact integer tail sums; no sort, no float
    rank."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hist = ev.groupBy(
        F.round(F.col("value") * 100, 0).cast("long").alias("__k")
    ).agg(F.count(F.lit(1)).cast("long").alias("__f"))
    hist, h = _hist_prefix(hist, "__k", "__f", "__cum")
    h = h.localCheckpoint(eager=False)  # consumed by the VaR + tail branches
    tot = hist.agg(F.sum("__f").cast("long").alias("__n"))
    var_ = (
        h.crossJoin(F.broadcast(tot))
        .filter(20 * (F.col("__cum") + F.col("__f")) >= 19 * F.col("__n"))
        .agg(F.min("__k").alias("__vk"))
    )
    dec = "decimal(38,0)"
    tail = (
        h.crossJoin(F.broadcast(var_))
        .filter(F.col("__k") >= F.col("__vk"))
        .agg(
            F.sum("__f").cast("long").alias("__tn"),
            F.sum((F.col("__k") * F.col("__f")).cast(dec)).alias("__ts"),
            F.min("__vk").alias("__vk"),
        )
    )
    j = tail.crossJoin(F.broadcast(tot))
    return j.select(
        F.col("__n").alias("n_events"),
        (F.col("__vk").cast("double") / 100.0).alias("var_95"),
        F.round(
            F.col("__ts").cast("double")
            / F.col("__tn").cast("double")
            / 100.0,
            6,
        ).alias("es_95"),
        F.col("__tn").alias("tail_n"),
        F.round(
            F.col("__tn").cast("double") / F.col("__n").cast("double"), 6
        ).alias("tail_share"),
    )


ORACLE_EVENTS_VALUE_EXPECTED_SHORTFALL = """
WITH hist AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS f
  FROM events WHERE value IS NOT NULL GROUP BY 1),
cum AS (
  SELECT k, f, SUM(f) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cu
  FROM hist),
tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM hist),
v AS (
  SELECT MIN(k) AS vk FROM cum CROSS JOIN tot WHERE 20 * cu >= 19 * n),
tail AS (
  SELECT CAST(SUM(f) AS BIGINT) AS tn,
         SUM(CAST(k AS HUGEINT) * f) AS ts,
         MIN(vk) AS vk
  FROM hist CROSS JOIN v WHERE k >= vk)
SELECT n AS n_events,
       CAST(vk AS DOUBLE) / 100.0 AS var_95,
       round(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) / 100.0, 6) AS es_95,
       tn AS tail_n,
       round(CAST(tn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS tail_share
FROM tail CROSS JOIN tot
"""


# ===========================================================================
# Round-8 wave 19: top principal component via distributed Gramian + power
# iteration, seasonal-naive forecast backtest, lang x source NMI
# ===========================================================================

_PCA_D = 64


def q_embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud — eigenvalue,
    share of total variance, and the dominant coordinate — via the
    scalable two-phase shape: ONE distributed pass builds the d²
    Gramian/covariance (per-row outer products map-side combined into
    4096 cells — the only n-dependent work), then THREE power-iteration
    steps run as array arithmetic on the constant-size matrix, each
    re-normalized and 1e-9-quantized so every float fold is a
    deterministic left-to-right sequence in both engines. The 'is my
    embedding space one-dimensional' red flag for representation
    collapse."""
    dec = "decimal(38,0)"
    emb = _ts(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e6, 0).cast("long"),
    )
    # r12: the n×d² outer-product pass runs as ONE vectorized integer
    # matmul per Arrow batch (operators/similarity.py gramian_partials)
    # instead of a posexplode over interpreted nested HOF lambdas that
    # materialized a 4096-element array per row — same exact integer
    # partials, summed to the same DECIMAL totals; the shuffle now
    # carries #batches × d² cells, never n × d². The isNotNull filter
    # mirrors posexplode's null-array behavior (emits nothing).
    parts = S.gramian_partials(
        emb.select(q.alias("__q")).filter(F.col("__q").isNotNull()),
        "__q",
        _PCA_D,
    ).localCheckpoint(eager=False)
    sij = (
        parts.select(F.posexplode("__g").alias("__p", "__v"))
        .groupBy("__p")
        .agg(F.sum(F.col("__v").cast(dec)).alias("__s"))
    )
    si = (
        parts.select(F.posexplode("__c").alias("__i", "__v"))
        .groupBy("__i")
        .agg(F.sum(F.col("__v").cast(dec)).alias("__si"))
    )
    cnt = emb.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    covdf = (
        sij.withColumn("__i", F.expr(f"__p div {_PCA_D}"))
        .withColumn("__j", F.col("__p") % _PCA_D)
        .join(F.broadcast(si), "__i")
        .join(
            F.broadcast(
                si.select(
                    F.col("__i").alias("__j"), F.col("__si").alias("__sj")
                )
            ),
            "__j",
        )
        .crossJoin(F.broadcast(cnt))
        .select(
            "__p",
            (
                (
                    F.col("__s").cast("double")
                    - F.col("__si").cast("double")
                    * F.col("__sj").cast("double")
                    / F.col("__n").cast("double")
                )
                / F.col("__n").cast("double")
            ).alias("__cov"),
            F.col("__n"),
        )
    )
    one = covdf.agg(
        F.sort_array(F.collect_list(F.struct("__p", "__cov"))).alias("__e"),
        F.max("__n").alias("n_vectors"),
    ).select(
        F.transform(F.col("__e"), lambda s: s["__cov"]).alias("__fl"),
        "n_vectors",
    )
    d = _PCA_D
    seq = F.sequence(F.lit(0), F.lit(d - 1))

    def matvec(fl: Column, v: Column) -> Column:
        return F.transform(
            seq,
            lambda i: F.aggregate(
                seq,
                F.lit(0.0),
                lambda acc, j: acc + F.get(fl, i * d + j) * F.get(v, j),
            ),
        )

    def norm_q(w: Column) -> Column:
        nrm = F.sqrt(F.aggregate(w, F.lit(0.0), lambda a, x: a + x * x))
        return F.transform(w, lambda x: F.round(x / nrm * 1e9, 0) / 1e9)

    fl = F.col("__fl")
    v = F.array(*([F.lit(0.125)] * d))
    st = one
    for step in range(3):
        # r12: a lazy checkpoint BARRIER per iteration step. Without it
        # Catalyst collapses the three projections and substitutes the
        # previous step's vector EXPRESSION at each of matvec's d²
        # references — an exponentially nested tree that cost ~3.8 s to
        # plan and ~3 s to evaluate interpreted on ONE row. Each barrier
        # is a one-row materialization (ms), and every matvec then reads
        # stored values instead of re-deriving its predecessor d² times.
        st = st.select(
            "__fl", "n_vectors", matvec(fl, v if step == 0 else F.col("__v")).alias("__w")
        ).select(
            "__fl", "n_vectors", norm_q(F.col("__w")).alias("__v")
        ).localCheckpoint(eager=False)
    final = st.select(
        "__fl", "n_vectors", "__v", matvec(fl, F.col("__v")).alias("__w")
    )
    lam = F.aggregate(
        seq,
        F.lit(0.0),
        lambda a, i: a + F.get(F.col("__v"), i) * F.get(F.col("__w"), i),
    )
    trace = F.aggregate(
        seq, F.lit(0.0), lambda a, i: a + F.get(fl, i * (d + 1))
    )
    absv = F.transform(F.col("__v"), F.abs)
    top_dim = (
        F.array_position(absv, F.array_max(absv)).cast("long") - 1
    )
    return final.select(
        "n_vectors",
        F.round(lam / 1e12, 6).alias("top_eigenvalue"),
        F.round(
            F.when(trace > 0, lam / trace).otherwise(0.0), 6
        ).alias("top_var_share"),
        top_dim.alias("top_dim"),
    )


def _oracle_embedding_top_component_sql() -> str:
    d = _PCA_D

    def mv(fl: str, v: str) -> str:
        return (
            f"list_transform(range(0, {d}), i -> list_reduce("
            f"list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(0, {d}),"
            f" j -> {fl}[i * {d} + j + 1] * {v}[j + 1])), (a, b) -> a + b))"
        )

    nq = (
        "list_transform(w, x -> round(x / sqrt(list_reduce(list_prepend("
        "CAST(0.0 AS DOUBLE), list_transform(w, y -> y * y)),"
        " (a, b) -> a + b)) * 1e9) / 1e9)"
    )
    return f"""
WITH qv AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS q
  FROM embeddings),
ex AS (
  SELECT (i - 1) * {d} + (j - 1) AS p,
         CAST(q[i] AS HUGEINT) * q[j] AS v
  FROM qv,
       LATERAL (SELECT unnest(generate_series(1, {d})) AS i) a,
       LATERAL (SELECT unnest(generate_series(1, {d})) AS j) b),
sij AS (SELECT p, SUM(v) AS s FROM ex GROUP BY 1),
di AS (
  SELECT i - 1 AS i, q[i] AS qi
  FROM qv, LATERAL (SELECT unnest(generate_series(1, {d})) AS i) a),
si AS (SELECT i, SUM(qi) AS sv FROM di GROUP BY 1),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qv),
cov AS (
  SELECT p,
         (CAST(s AS DOUBLE)
          - CAST(a.sv AS DOUBLE) * CAST(b.sv AS DOUBLE)
            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS c
  FROM sij
  JOIN si a ON a.i = p // {d}
  JOIN si b ON b.i = p % {d}
  CROSS JOIN cnt),
one AS (
  SELECT list(c ORDER BY p) AS fl, (SELECT n FROM cnt) AS n_vectors
  FROM cov),
w1 AS (SELECT fl, n_vectors,
         {mv('fl', f"list_transform(range(0, {d}), x -> 0.125)")} AS w
       FROM one),
v1 AS (SELECT fl, n_vectors, {nq} AS v FROM w1),
w2 AS (SELECT fl, n_vectors, {mv('fl', 'v')} AS w FROM v1),
v2 AS (SELECT fl, n_vectors, {nq} AS v FROM w2),
w3 AS (SELECT fl, n_vectors, {mv('fl', 'v')} AS w FROM v2),
v3 AS (SELECT fl, n_vectors, {nq} AS v FROM w3),
fin AS (SELECT fl, n_vectors, v, {mv('fl', 'v')} AS w FROM v3),
lamt AS (
  SELECT fl, n_vectors, v,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(0, {d}), i -> v[i + 1] * w[i + 1])),
      (a, b) -> a + b) AS lam,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(0, {d}), i -> fl[i * {d + 1} + 1])),
      (a, b) -> a + b) AS tr
  FROM fin)
SELECT n_vectors,
       round(lam / 1e12, 6) AS top_eigenvalue,
       round(CASE WHEN tr > 0 THEN lam / tr ELSE 0.0 END, 6)
         AS top_var_share,
       CAST(list_position(list_transform(v, x -> abs(x)),
                          list_max(list_transform(v, x -> abs(x)))) - 1
            AS BIGINT) AS top_dim
FROM lamt
"""


def q_orders_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast-model backtest on monthly revenue: mean absolute error
    of the seasonal-naive forecast (same month last year) vs the naive
    forecast (previous month), evaluated on every month where BOTH lags
    exist — the MASE-style read that says whether the series is
    seasonal enough to deserve a seasonal model. LAG semantics via
    month-index self-equi-joins (gap-aware, no unpartitioned window);
    errors are exact integer cents."""
    dec = "decimal(38,0)"
    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("__mx")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast(dec))
            .cast("long")
            .alias("__c")
        )
        .localCheckpoint(eager=False)
    )
    lag1 = monthly.select(
        (F.col("__mx") + 1).alias("__mx"), F.col("__c").alias("__c1")
    )
    lag12 = monthly.select(
        (F.col("__mx") + 12).alias("__mx"), F.col("__c").alias("__c12")
    )
    ev = monthly.join(lag1, "__mx").join(lag12, "__mx")
    agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_months"),
        F.sum(F.abs(F.col("__c") - F.col("__c1")).cast(dec))
        .cast("long")
        .alias("__e1"),
        F.sum(F.abs(F.col("__c") - F.col("__c12")).cast(dec))
        .cast("long")
        .alias("__e12"),
    )
    n = F.col("n_eval_months").cast("double")
    mae1 = F.col("__e1").cast("double") / n / 100.0
    mae12 = F.col("__e12").cast("double") / n / 100.0
    return agg.select(
        "n_eval_months",
        F.round(mae1, 6).alias("mae_naive"),
        F.round(mae12, 6).alias("mae_seasonal"),
        F.round(
            F.when(F.col("__e1") > 0, mae12 / mae1).otherwise(0.0), 6
        ).alias("seasonal_to_naive_ratio"),
        F.when(F.col("__e12") < F.col("__e1"), "seasonal")
        .when(F.col("__e12") > F.col("__e1"), "naive")
        .otherwise("tie")
        .alias("winner"),
    )


ORACLE_ORDERS_SEASONAL_NAIVE_BACKTEST = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS mx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS c
  FROM orders GROUP BY 1),
ev AS (
  SELECT m.c, l1.c AS c1, l12.c AS c12
  FROM monthly m
  JOIN monthly l1 ON l1.mx = m.mx - 1
  JOIN monthly l12 ON l12.mx = m.mx - 12),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_months,
         CAST(SUM(abs(c - c1)) AS BIGINT) AS e1,
         CAST(SUM(abs(c - c12)) AS BIGINT) AS e12
  FROM ev)
SELECT n_eval_months,
       round(CAST(e1 AS DOUBLE) / CAST(n_eval_months AS DOUBLE) / 100.0, 6)
         AS mae_naive,
       round(CAST(e12 AS DOUBLE) / CAST(n_eval_months AS DOUBLE) / 100.0, 6)
         AS mae_seasonal,
       round(CASE WHEN e1 > 0
                  THEN (CAST(e12 AS DOUBLE) / CAST(n_eval_months AS DOUBLE)
                        / 100.0)
                       / (CAST(e1 AS DOUBLE) / CAST(n_eval_months AS DOUBLE)
                          / 100.0)
                  ELSE 0.0 END, 6) AS seasonal_to_naive_ratio,
       CASE WHEN e12 < e1 THEN 'seasonal'
            WHEN e12 > e1 THEN 'naive'
            ELSE 'tie' END AS winner
FROM agg
"""


def q_corpus_lang_source_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between document language and
    source — 'are my sources language silos' (NMI→1) or well-mixed
    (NMI→0), the stratification check before per-source sampling caps.
    All Σ p·ln p terms run over the |langs × sources| contingency table
    as 1e-9-quantized integer sums (order-free); margins attach as
    broadcast joins, the grand total as a ONE-ROW broadcast."""
    docs = _ts(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).localCheckpoint(eager=False)
    ml = cells.groupBy("lang").agg(F.sum("__c").cast("long").alias("__nl"))
    ms = cells.groupBy("source").agg(
        F.sum("__c").cast("long").alias("__ns")
    )
    tot = cells.agg(F.sum("__c").cast("long").alias("__n"))
    j = (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
    )
    mi_t = F.round(
        F.col("__c").cast("double")
        * F.log(
            F.col("__n").cast("double")
            * F.col("__c").cast("double")
            / (F.col("__nl").cast("double") * F.col("__ns").cast("double"))
        )
        * 1e9,
        0,
    ).cast("long")
    mi_q = j.agg(F.sum(mi_t).cast("long").alias("__miq"))

    def _ent(m: DataFrame, c: str) -> DataFrame:
        t = F.round(
            F.col(c).cast("double")
            * F.log(F.col(c).cast("double") / F.col("__n").cast("double"))
            * 1e9,
            0,
        ).cast("long")
        return m.crossJoin(F.broadcast(tot)).agg(
            F.sum(t).cast("long").alias(f"__h{c}"),
            F.count(F.lit(1)).cast("long").alias(f"__k{c}"),
        )

    hl = _ent(ml, "__nl")
    hs = _ent(ms, "__ns")
    out = (
        mi_q.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
    )
    n = F.col("__n").cast("double")
    mi = F.col("__miq").cast("double") / 1e9 / n
    entl = -(F.col("__h__nl").cast("double") / 1e9) / n
    ents = -(F.col("__h__ns").cast("double") / 1e9) / n
    nmi = F.when(
        (entl > 0) & (ents > 0), mi / F.sqrt(entl * ents)
    ).otherwise(0.0)
    return out.select(
        F.col("__k__nl").alias("n_langs"),
        F.col("__k__ns").alias("n_sources"),
        F.round(mi, 6).alias("mutual_info_nats"),
        F.round(nmi, 6).alias("nmi"),
    )


ORACLE_CORPUS_LANG_SOURCE_NMI = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
ml AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM cells GROUP BY 1),
ms AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
miq AS (
  SELECT CAST(SUM(CAST(round(CAST(c.c AS DOUBLE)
           * ln(CAST(n AS DOUBLE) * CAST(c.c AS DOUBLE)
                / (CAST(nl AS DOUBLE) * CAST(ns AS DOUBLE))) * 1e9)
           AS BIGINT)) AS BIGINT) AS q
  FROM cells c JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot),
hl AS (
  SELECT CAST(SUM(CAST(round(CAST(nl AS DOUBLE)
           * ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9) AS BIGINT))
           AS BIGINT) AS hq,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM ml CROSS JOIN tot),
hs AS (
  SELECT CAST(SUM(CAST(round(CAST(ns AS DOUBLE)
           * ln(CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9) AS BIGINT))
           AS BIGINT) AS hq,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM ms CROSS JOIN tot),
j AS (
  SELECT n, miq.q AS miq, hl.hq AS hlq, hl.k AS n_langs,
         hs.hq AS hsq, hs.k AS n_sources
  FROM miq CROSS JOIN tot CROSS JOIN hl CROSS JOIN hs)
SELECT n_langs, n_sources,
       round(CAST(miq AS DOUBLE) / 1e9 / CAST(n AS DOUBLE), 6)
         AS mutual_info_nats,
       round(CASE WHEN -(CAST(hlq AS DOUBLE) / 1e9) / CAST(n AS DOUBLE) > 0
                   AND -(CAST(hsq AS DOUBLE) / 1e9) / CAST(n AS DOUBLE) > 0
                  THEN (CAST(miq AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
                       / sqrt((-(CAST(hlq AS DOUBLE) / 1e9)
                               / CAST(n AS DOUBLE))
                              * (-(CAST(hsq AS DOUBLE) / 1e9)
                                 / CAST(n AS DOUBLE)))
                  ELSE 0.0 END, 6) AS nmi
FROM j
"""


# ===========================================================================
# Round-8 wave 20: cross-modal dup agreement, A/A-test validator, Markov
# stationary distribution
# ===========================================================================


def q_doc_text_embedding_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-modal dedup agreement: do LSH TEXT near-dup pairs also sit
    close in EMBEDDING space? Mean exact cosine over the candidate
    pairs vs the corpus-wide mean pairwise cosine (Gram identity — no
    pair join for the baseline), and the lift between them. A healthy
    pipeline shows a large lift; lift ≈ 0 means the embeddings don't
    see what the shingles see. Pair dots are exact integer folds of
    1e-9 unit components; the pair join is bounded by the dup graph."""
    docs = _ts(spark, sf_dir, "documents")
    emb = _ts(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    uq = emb.filter(nrm > 0).select(
        F.col("vec_id"),
        F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
        .alias("__u"),
    ).localCheckpoint(eager=False)
    pairs = D.minhash_lsh_candidates(
        docs, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS,
        shingle_n=3,
    )
    dots = (
        pairs.join(
            uq.select(F.col("vec_id").alias("id_a"), F.col("__u").alias("__ua")),
            "id_a",
        )
        .join(
            uq.select(F.col("vec_id").alias("id_b"), F.col("__u").alias("__ub")),
            "id_b",
        )
        .select(
            F.aggregate(
                F.zip_with(F.col("__ua"), F.col("__ub"), lambda x, y: x * y),
                F.lit(0).cast(dec),
                lambda a, x: a + x.cast(dec),
            ).alias("__dot")
        )
    )
    dup = dots.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.sum("__dot").alias("__ds"),
    )
    per_dim = uq.select(F.posexplode("__u").alias("dim", "__ui")).groupBy(
        "dim"
    ).agg(
        F.sum(F.col("__ui").cast(dec)).alias("__sd"),
        F.sum((F.col("__ui") * F.col("__ui")).cast(dec)).alias("__sq"),
    )
    nv = uq.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    allp = per_dim.agg(
        F.sum(F.col("__sd") * F.col("__sd")).alias("__S2"),
        F.sum("__sq").alias("__Q"),
    ).crossJoin(F.broadcast(nv))
    j = dup.crossJoin(F.broadcast(allp))
    n = F.col("__n").cast("double")
    mean_all = (
        (F.col("__S2").cast("double") / 1e18 - F.col("__Q").cast("double") / 1e18)
        / (n * (n - 1.0))
    )
    mean_dup = F.when(
        F.col("n_dup_pairs") > 0,
        F.col("__ds").cast("double")
        / 1e18
        / F.col("n_dup_pairs").cast("double"),
    ).otherwise(0.0)
    return j.select(
        "n_dup_pairs",
        F.round(mean_dup, 6).alias("mean_dup_cosine"),
        F.round(mean_all, 6).alias("mean_all_cosine"),
        F.round(mean_dup - mean_all, 6).alias("cosine_lift"),
    )


def _oracle_doc_text_embedding_agreement_sql() -> str:
    pairs = _oracle_minhash_lsh_sql().strip().rstrip(";")
    return f"""
WITH pairs AS ({pairs}),
nv AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings),
uq AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) / nrm * 1e9) AS BIGINT)) AS u
  FROM nv WHERE nrm > 0),
dots AS (
  SELECT list_reduce(list_prepend(CAST(0 AS HUGEINT),
           list_transform(range(1, len(a.u) + 1),
             i -> CAST(a.u[i] AS HUGEINT) * b.u[i])),
           (x, y) -> x + y) AS dot
  FROM pairs p
  JOIN uq a ON a.vec_id = p.id_a
  JOIN uq b ON b.vec_id = p.id_b),
dup AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs, SUM(dot) AS ds
  FROM dots),
per_dim AS (
  SELECT s.i AS dim,
         SUM(CAST(u[s.i] AS HUGEINT)) AS sd,
         SUM(CAST(u[s.i] AS HUGEINT) * u[s.i]) AS sq
  FROM uq, LATERAL (SELECT unnest(generate_series(1, len(u))) AS i) s
  GROUP BY 1),
allp AS (
  SELECT SUM(sd * sd) AS s2, SUM(sq) AS q FROM per_dim),
nvn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uq),
j AS (SELECT * FROM dup CROSS JOIN allp CROSS JOIN nvn)
SELECT n_dup_pairs,
       round(CASE WHEN n_dup_pairs > 0
                  THEN CAST(ds AS DOUBLE) / 1e18
                       / CAST(n_dup_pairs AS DOUBLE)
                  ELSE 0.0 END, 6) AS mean_dup_cosine,
       round((CAST(s2 AS DOUBLE) / 1e18 - CAST(q AS DOUBLE) / 1e18)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
         AS mean_all_cosine,
       round((CASE WHEN n_dup_pairs > 0
                   THEN CAST(ds AS DOUBLE) / 1e18
                        / CAST(n_dup_pairs AS DOUBLE)
                   ELSE 0.0 END)
             - (CAST(s2 AS DOUBLE) / 1e18 - CAST(q AS DOUBLE) / 1e18)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
         AS cosine_lift
FROM j
"""


def q_events_aa_test_validator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A-test harness validation: split users into two arms by a
    md5-derived coin (the same deterministic hash an experimentation
    system would use), compare per-user total value with a Welch
    z-test — a |z| > 1.96 on a null split means the assignment or the
    metric pipeline is biased BEFORE any real experiment runs. Per-user
    totals are exact cents; arm moments are exact DECIMAL sums folded
    into the closed-form z."""
    dec = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    users = ev.groupBy(F.col("user_id").cast("long").alias("__uid")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long").cast(dec))
        .cast("long")
        .alias("__c")
    )
    arm = D._md5_long(F.col("__uid").cast("string"), 73) % 2
    stats = users.select(arm.alias("__arm"), "__c").agg(
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_users_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_users_b"),
        F.sum(
            F.when(F.col("__arm") == 0, F.col("__c")).otherwise(0).cast(dec)
        ).alias("__sa"),
        F.sum(
            F.when(F.col("__arm") == 1, F.col("__c")).otherwise(0).cast(dec)
        ).alias("__sb"),
        F.sum(
            F.when(F.col("__arm") == 0, F.col("__c") * F.col("__c"))
            .otherwise(0)
            .cast(dec)
        ).alias("__qa"),
        F.sum(
            F.when(F.col("__arm") == 1, F.col("__c") * F.col("__c"))
            .otherwise(0)
            .cast(dec)
        ).alias("__qb"),
    )
    na = F.col("n_users_a").cast("double")
    nb = F.col("n_users_b").cast("double")
    ma = F.col("__sa").cast("double") / na / 100.0
    mb = F.col("__sb").cast("double") / nb / 100.0
    va = (
        (na * F.col("__qa").cast("double") - F.col("__sa").cast("double")
         * F.col("__sa").cast("double"))
        / (na * (na - 1.0))
        / 10000.0
    )
    vb = (
        (nb * F.col("__qb").cast("double") - F.col("__sb").cast("double")
         * F.col("__sb").cast("double"))
        / (nb * (nb - 1.0))
        / 10000.0
    )
    z = F.when(
        (F.col("n_users_a") > 1) & (F.col("n_users_b") > 1)
        & (va / na + vb / nb > 0),
        (mb - ma) / F.sqrt(va / na + vb / nb),
    ).otherwise(0.0)
    return stats.select(
        "n_users_a", "n_users_b",
        F.round(ma, 6).alias("mean_value_a"),
        F.round(mb, 6).alias("mean_value_b"),
        F.round(z, 6).alias("welch_z"),
        F.when(F.abs(z) <= 1.96, "healthy").otherwise("biased").alias(
            "verdict"
        ),
    )


def _oracle_events_aa_test_validator_sql() -> str:
    u = _dd_md5_long("concat('73:', CAST(uid AS VARCHAR))")
    return f"""
WITH users AS (
  SELECT CAST(user_id AS BIGINT) AS uid,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1),
armed AS (
  SELECT ({u}) % 2 AS arm, c FROM users),
stats AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users_b,
         SUM(CASE WHEN arm = 0 THEN CAST(c AS HUGEINT) ELSE 0 END) AS sa,
         SUM(CASE WHEN arm = 1 THEN CAST(c AS HUGEINT) ELSE 0 END) AS sb,
         SUM(CASE WHEN arm = 0 THEN CAST(c AS HUGEINT) * c ELSE 0 END)
           AS qa,
         SUM(CASE WHEN arm = 1 THEN CAST(c AS HUGEINT) * c ELSE 0 END)
           AS qb
  FROM armed),
calc AS (
  SELECT *,
    CAST(sa AS DOUBLE) / CAST(n_users_a AS DOUBLE) / 100.0 AS ma,
    CAST(sb AS DOUBLE) / CAST(n_users_b AS DOUBLE) / 100.0 AS mb,
    (CAST(n_users_a AS DOUBLE) * CAST(qa AS DOUBLE)
     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
      / (CAST(n_users_a AS DOUBLE) * (CAST(n_users_a AS DOUBLE) - 1.0))
      / 10000.0 AS va,
    (CAST(n_users_b AS DOUBLE) * CAST(qb AS DOUBLE)
     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
      / (CAST(n_users_b AS DOUBLE) * (CAST(n_users_b AS DOUBLE) - 1.0))
      / 10000.0 AS vb
  FROM stats),
zc AS (
  SELECT *,
    CASE WHEN n_users_a > 1 AND n_users_b > 1
              AND va / CAST(n_users_a AS DOUBLE)
                  + vb / CAST(n_users_b AS DOUBLE) > 0
         THEN (mb - ma) / sqrt(va / CAST(n_users_a AS DOUBLE)
                               + vb / CAST(n_users_b AS DOUBLE))
         ELSE 0.0 END AS zv
  FROM calc)
SELECT n_users_a, n_users_b,
       round(ma, 6) AS mean_value_a,
       round(mb, 6) AS mean_value_b,
       round(zv, 6) AS welch_z,
       CASE WHEN abs(zv) <= 1.96 THEN 'healthy' ELSE 'biased' END
         AS verdict
FROM zc
"""


_MARKOV_ITERS = 8


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    user behavior settles in the long run — next to the empirical
    next-state share, per state. The |types|²-bounded transition matrix
    (dangling rows patched to uniform) folds through eight quantized
    power-iteration steps as constant-size array arithmetic: every
    inner product is a deterministic left-to-right fold and every
    iterate is 1e-9-quantized, so the fixed point is engine-exact. The
    n-dependent work is ONE pass building the transition counts."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("__a"),
            F.col("event_type").alias("__b"),
        )
        .filter(F.col("__a").isNotNull())
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .localCheckpoint(eager=False)
    )
    tot = trans.groupBy("__a").agg(F.sum("__n").alias("__t"))
    probs = trans.join(F.broadcast(tot), "__a").select(
        "__a", "__b",
        (F.col("__n").cast("double") / F.col("__t").cast("double")).alias(
            "__p"
        ),
    )
    sarr = (
        trans.select(F.col("__a").alias("__s"))
        .unionAll(trans.select(F.col("__b").alias("__s")))
        .distinct()
        .agg(F.sort_array(F.collect_list("__s")).alias("__sa"))
    )
    cells = probs.crossJoin(F.broadcast(sarr)).select(
        (
            (F.expr("array_position(__sa, __a)") - 1) * F.size("__sa")
            + F.expr("array_position(__sa, __b)")
            - 1
        ).cast("int").alias("__i"),
        "__p",
    )
    one = cells.agg(
        F.sort_array(F.collect_list(F.struct("__i", "__p"))).alias("__e")
    ).crossJoin(F.broadcast(sarr))
    kk = F.size("__sa")
    grid = F.sequence(F.lit(0), kk * kk - 1)
    rows_seq = F.sequence(F.lit(0), kk - 1)
    raw = F.transform(
        grid,
        lambda c: F.coalesce(
            F.get(
                F.filter(F.col("__e"), lambda s: s["__i"] == c), 0
            )["__p"],
            F.lit(0.0),
        ),
    )
    one = one.select("__sa", raw.alias("__m0")).localCheckpoint(eager=False)
    kk = F.size("__sa")
    rows_seq = F.sequence(F.lit(0), kk - 1)
    rs = F.transform(
        rows_seq,
        lambda i: F.aggregate(
            rows_seq,
            F.lit(0.0),
            lambda a, j: a + F.get(F.col("__m0"), i * kk + j),
        ),
    )
    one = one.select("__sa", "__m0", rs.alias("__rs")).localCheckpoint(
        eager=False
    )
    kk = F.size("__sa")
    grid = F.sequence(F.lit(0), kk * kk - 1)
    m = F.transform(
        grid,
        lambda c: F.when(
            F.get(F.col("__rs"), F.floor(c / kk).cast("int")) > 0,
            F.get(F.col("__m0"), c),
        ).otherwise(1.0 / kk.cast("double")),
    )
    st = one.select("__sa", m.alias("__m")).localCheckpoint(eager=False)
    kk = F.size("__sa")
    rows_seq = F.sequence(F.lit(0), kk - 1)
    pi0 = F.transform(rows_seq, lambda i: 1.0 / kk.cast("double"))
    st = st.select("__sa", "__m", pi0.alias("__pi"))
    for _it in range(_MARKOV_ITERS):
        nxt = F.transform(
            rows_seq,
            lambda j: F.round(
                F.aggregate(
                    rows_seq,
                    F.lit(0.0),
                    lambda a, i: a
                    + F.get(F.col("__pi"), i) * F.get(F.col("__m"), i * kk + j),
                )
                * 1e9,
                0,
            )
            / 1e9,
        )
        # plan barrier per step: without it Catalyst collapses the eight
        # projections into one exponentially-substituted expression tree
        # (k² references to __pi per step) and analysis never returns.
        st = st.select("__sa", "__m", nxt.alias("__pi")).localCheckpoint(
            eager=False
        )
    stat = st.select(
        F.posexplode(F.arrays_zip("__sa", "__pi")).alias("__pos", "__z")
    ).select(
        F.col("__z.__sa").alias("state"), F.col("__z.__pi").alias("__sp")
    )
    emp = trans.groupBy(F.col("__b").alias("state")).agg(
        F.sum("__n").cast("long").alias("__c")
    )
    tt = trans.agg(F.sum("__n").cast("long").alias("__tt"))
    out = stat.join(F.broadcast(emp), "state", "left").crossJoin(
        F.broadcast(tt)
    )
    share = F.coalesce(
        F.col("__c").cast("double") / F.col("__tt").cast("double"),
        F.lit(0.0),
    )
    return out.select(
        "state",
        F.round(F.col("__sp"), 6).alias("stationary_prob"),
        F.round(share, 6).alias("empirical_next_share"),
        F.round(F.col("__sp") - share, 6).alias("gap"),
    )


def _oracle_events_markov_stationary_sql() -> str:
    fold = "(a, b) -> a + b"
    z = "CAST(0.0 AS DOUBLE)"
    step = (
        "list_transform(range(0, len(sa)), j -> round(list_reduce("
        f"list_prepend({z}, list_transform(range(0, len(sa)),"
        " i -> pi[i + 1] * m[i * len(sa) + j + 1])),"
        f" {fold}) * 1e9) / 1e9)"
    )
    its = "\n".join(
        f"p{k} AS (SELECT sa, m, {step} AS pi FROM p{k - 1}),"
        for k in range(1, _MARKOV_ITERS + 1)
    )
    return f"""
WITH s AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS a,
         event_type AS b
  FROM events),
trans AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE a IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT a, SUM(n) AS t FROM trans GROUP BY 1),
probs AS (
  SELECT trans.a, trans.b,
         CAST(trans.n AS DOUBLE) / CAST(tot.t AS DOUBLE) AS p
  FROM trans JOIN tot ON trans.a = tot.a),
sa AS (
  SELECT list_sort(list(DISTINCT st)) AS sa
  FROM (SELECT a AS st FROM trans UNION ALL SELECT b FROM trans)),
cells AS (
  SELECT (list_position(sa, a) - 1) * len(sa)
           + list_position(sa, b) - 1 AS i, p
  FROM probs CROSS JOIN sa),
grid AS (
  SELECT gs.c AS i, COALESCE(cells.p, 0.0) AS p
  FROM (SELECT unnest(range(0, (SELECT len(sa) * len(sa) FROM sa))) AS c)
       gs
  LEFT JOIN cells ON cells.i = gs.c),
m0 AS (
  SELECT (SELECT sa FROM sa) AS sa, list(p ORDER BY i) AS m FROM grid),
rs AS (
  SELECT sa, m,
    list_transform(range(0, len(sa)), i -> list_reduce(
      list_prepend({z}, list_transform(range(0, len(sa)),
        j -> m[i * len(sa) + j + 1])), {fold})) AS rsum
  FROM m0),
mf AS (
  SELECT sa,
    list_transform(range(0, len(sa) * len(sa)),
      c -> CASE WHEN rsum[c // len(sa) + 1] > 0 THEN m[c + 1]
                ELSE 1.0 / len(sa) END) AS m
  FROM rs),
p0 AS (
  SELECT sa, m,
    list_transform(range(0, len(sa)), i -> 1.0 / len(sa)) AS pi
  FROM mf),
{its}
stat AS (
  SELECT sa[u.i] AS state, pi[u.i] AS sp
  FROM p{_MARKOV_ITERS},
       LATERAL (SELECT unnest(generate_series(1, len(sa))) AS i) u),
emp AS (SELECT b AS state, CAST(SUM(n) AS BIGINT) AS c
        FROM trans GROUP BY 1),
tt AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM trans)
SELECT state,
       round(sp, 6) AS stationary_prob,
       round(COALESCE(CAST(c AS DOUBLE) / t, 0.0), 6)
         AS empirical_next_share,
       round(sp - COALESCE(CAST(c AS DOUBLE) / t, 0.0), 6) AS gap
FROM stat LEFT JOIN emp USING (state) CROSS JOIN tt
"""


# ===========================================================================
# Round-8 wave 21: PSI drift monitor, dual-sourcing audit, kNN-graph
# reciprocity
# ===========================================================================


def q_doc_length_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the document token-length
    distribution between the first and second ingestion half (doc_id
    midpoint split) — THE model-monitoring drift score: bins are the
    REFERENCE half's exact deciles (equidepth thresholds off the length
    histogram), both halves are binned against them, and
    PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) with 0.5-Laplace smoothing
    runs as ten 1e-9-quantized integer terms. Everything after the
    |distinct lengths| histogram is 10-row arithmetic."""
    from beacon_indexer_spark.operators.text import _exclusive_prefix

    docs = _ts(spark, sf_dir, "documents")
    w = F.size(X.tokens(F.lower(F.col("text")))).cast("long")
    base = docs.select(F.col("doc_id").cast("long").alias("__id"), w.alias("__w"))
    mid = base.agg(
        F.floor((F.min("__id") + F.max("__id")) / 2).cast("long").alias("__mid")
    )
    halves = base.crossJoin(F.broadcast(mid)).select(
        "__w", (F.col("__id") <= F.col("__mid")).alias("__ref")
    )
    # ONE aggregation pass over the corpus: the (length, half) histogram
    # is tiny (|distinct lengths| × 2 rows) and every downstream frame —
    # reference histogram, totals, edges, per-bin counts — derives from
    # it. r12: previously halves itself was checkpointed and re-read by
    # three separate aggregations; the prefix sum also ran the full
    # static 64-bit depth, now bounded by a max-length probe on the
    # checkpointed histogram (a ~hundreds-of-rows job, not a corpus pass).
    hist2 = halves.groupBy("__w", "__ref").agg(
        F.count(F.lit(1)).cast("long").alias("__f")
    ).localCheckpoint(eager=False)
    mx = hist2.agg(F.max("__w").alias("mx")).first()["mx"]
    rhist = hist2.filter("__ref").select("__w", "__f")
    rh = _exclusive_prefix(
        rhist, "__w", "__f", "__cum", max_key=mx if mx is not None else 0
    )
    rtot = rhist.agg(F.sum("__f").cast("long").alias("__nr"))
    bins = spark.createDataFrame(
        [(b,) for b in range(1, 11)], "bin int"
    ).select(F.col("bin").cast("long").alias("bin"))
    edges = (
        rh.crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(bins))
        .filter(
            10 * (F.col("__cum") + F.col("__f"))
            >= F.col("bin") * F.col("__nr")
        )
        .groupBy("bin")
        .agg(F.min("__w").alias("__edge"))
    )
    assigned = (
        hist2.crossJoin(F.broadcast(edges))
        .filter(
            (F.col("__w") <= F.col("__edge")) | (F.col("bin") == 10)
        )
        .groupBy("__w", "__ref", "__f")
        .agg(F.min("bin").alias("bin"))
    )
    per_bin = assigned.groupBy("bin").agg(
        F.sum(F.when(F.col("__ref"), F.col("__f")).otherwise(0))
        .cast("long")
        .alias("__r"),
        F.sum(F.when(~F.col("__ref"), F.col("__f")).otherwise(0))
        .cast("long")
        .alias("__c"),
    )
    dense = bins.join(F.broadcast(per_bin), "bin", "left").select(
        "bin",
        F.coalesce("__r", F.lit(0)).alias("__r"),
        F.coalesce("__c", F.lit(0)).alias("__c"),
    )
    tots = hist2.agg(
        F.sum(F.when(F.col("__ref"), F.col("__f")).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(~F.col("__ref"), F.col("__f")).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    jd = dense.crossJoin(F.broadcast(tots))
    pr = (F.col("__r").cast("double") + 0.5) / (
        F.col("n_ref").cast("double") + 5.0
    )
    pc = (F.col("__c").cast("double") + 0.5) / (
        F.col("n_cur").cast("double") + 5.0
    )
    term = F.round((pc - pr) * F.log(pc / pr) * 1e9, 0).cast("long")
    psiq = jd.agg(F.sum(term).cast("long").alias("__pq"))
    out = psiq.crossJoin(F.broadcast(tots))
    psi = F.col("__pq").cast("double") / 1e9
    return out.select(
        "n_ref", "n_cur",
        F.round(psi, 6).alias("psi"),
        F.when(psi < 0.1, "stable")
        .when(psi < 0.25, "moderate")
        .otherwise("shifted")
        .alias("verdict"),
    )


def _oracle_doc_length_psi_drift_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST(len({toks}) AS BIGINT) AS w
  FROM documents),
mid AS (
  SELECT CAST(floor((MIN(id) + MAX(id)) / 2) AS BIGINT) AS m FROM base),
halves AS (
  SELECT w, id <= m AS ref FROM base CROSS JOIN mid),
rhist AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
  FROM halves WHERE ref GROUP BY 1),
rcum AS (
  SELECT w, SUM(f) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) AS cu
  FROM rhist),
rtot AS (SELECT CAST(SUM(f) AS BIGINT) AS nr FROM rhist),
bins AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS bin),
edges AS (
  SELECT bin, MIN(w) AS edge
  FROM rcum CROSS JOIN rtot CROSS JOIN bins
  WHERE 10 * cu >= bin * nr GROUP BY 1),
hist2 AS (
  SELECT w, ref, CAST(COUNT(*) AS BIGINT) AS f
  FROM halves GROUP BY 1, 2),
assigned AS (
  SELECT w, ref, f, MIN(bin) AS bin
  FROM hist2 CROSS JOIN edges
  WHERE w <= edge OR bin = 10
  GROUP BY 1, 2, 3),
per_bin AS (
  SELECT bin,
         CAST(SUM(CASE WHEN ref THEN f ELSE 0 END) AS BIGINT) AS r,
         CAST(SUM(CASE WHEN NOT ref THEN f ELSE 0 END) AS BIGINT) AS c
  FROM assigned GROUP BY 1),
dense AS (
  SELECT bins.bin, COALESCE(r, 0) AS r, COALESCE(c, 0) AS c
  FROM bins LEFT JOIN per_bin ON per_bin.bin = bins.bin),
tots AS (
  SELECT CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM halves),
psiq AS (
  SELECT CAST(SUM(CAST(round(((CAST(c AS DOUBLE) + 0.5)
                / (CAST(n_cur AS DOUBLE) + 5.0)
                - (CAST(r AS DOUBLE) + 0.5)
                  / (CAST(n_ref AS DOUBLE) + 5.0))
               * ln(((CAST(c AS DOUBLE) + 0.5)
                     / (CAST(n_cur AS DOUBLE) + 5.0))
                    / ((CAST(r AS DOUBLE) + 0.5)
                       / (CAST(n_ref AS DOUBLE) + 5.0))) * 1e9)
               AS BIGINT)) AS BIGINT) AS pq
  FROM dense CROSS JOIN tots)
SELECT n_ref, n_cur,
       round(CAST(pq AS DOUBLE) / 1e9, 6) AS psi,
       CASE WHEN CAST(pq AS DOUBLE) / 1e9 < 0.1 THEN 'stable'
            WHEN CAST(pq AS DOUBLE) / 1e9 < 0.25 THEN 'moderate'
            ELSE 'shifted' END AS verdict
FROM psiq CROSS JOIN tots
"""


def q_part_dual_sourcing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain redundancy audit: of the parts that actually traded,
    how many are single-sourced (one observed supplier — the resilience
    risk), the multi-source share, and the mean/max suppliers per part.
    ONE (part, supplier)-distinct pass, |parts|-bounded rollup, exact
    integer ratios."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").cast("long").alias("__p"),
        F.col("l_suppkey").cast("long").alias("__s"),
    ).distinct()
    per = ps.groupBy("__p").agg(F.count(F.lit(1)).cast("long").alias("__ns"))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts_traded"),
        F.sum(F.when(F.col("__ns") == 1, 1).otherwise(0))
        .cast("long")
        .alias("single_sourced"),
        F.round(
            F.sum(F.when(F.col("__ns") >= 2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("multi_source_share"),
        F.round(
            F.sum("__ns").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_suppliers"),
        F.max("__ns").alias("max_suppliers"),
    )


ORACLE_PART_DUAL_SOURCING = """
WITH ps AS (
  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p,
                  CAST(l_suppkey AS BIGINT) AS s
  FROM lineitem),
per AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS ns FROM ps GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts_traded,
       CAST(SUM(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS single_sourced,
       round(CAST(SUM(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS multi_source_share,
       round(CAST(SUM(ns) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_suppliers,
       MAX(ns) AS max_suppliers
FROM per
"""


def q_embedding_knn_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the k=5 NN graph on the deterministic vec_id < 100
    sample: the share of directed kNN edges whose reverse edge also
    exists — low reciprocity marks hubness (a few vectors appear in
    everyone's neighbor list while their own lists look elsewhere), the
    known failure mode of high-dimensional kNN before trusting
    kNN-based clustering or dedup. One audited brute-force pass
    (broadcast query side), then an edge self-equi-join."""
    emb = _ts(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < 100)
    edges = (
        S.brute_force_topk(sample, sample, k=5)
        .select(
            F.col("query_id").cast("long").alias("__q"),
            F.col("neighbor_id").cast("long").alias("__n"),
        )
        .localCheckpoint(eager=False)
    )
    rev = edges.select(
        F.col("__n").alias("__q"), F.col("__q").alias("__n")
    )
    mutual = edges.join(rev, ["__q", "__n"]).agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    )
    tot = edges.agg(
        F.countDistinct("__q").cast("long").alias("n_nodes"),
        F.count(F.lit(1)).cast("long").alias("n_edges"),
    )
    j = tot.crossJoin(F.broadcast(mutual))
    return j.select(
        "n_nodes", "n_edges",
        F.col("__m").alias("n_mutual_edges"),
        F.round(
            F.when(
                F.col("n_edges") > 0,
                F.col("__m").cast("double") / F.col("n_edges").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("reciprocity"),
    )


ORACLE_EMBEDDING_KNN_RECIPROCITY = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 100),
v AS (SELECT vec_id AS neighbor_id, embedding AS vv FROM embeddings
      WHERE vec_id < 100),
scored AS (
  SELECT query_id, neighbor_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, len(qv)),
        i -> CAST(qv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))),
      (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, len(qv)),
          i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))),
        (a, b) -> a + b))
      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(generate_series(1, len(vv)),
            i -> CAST(vv[i] AS DOUBLE) * CAST(vv[i] AS DOUBLE))),
          (a, b) -> a + b))) AS cos_sim
  FROM q, v WHERE query_id <> neighbor_id),
edges AS (
  SELECT CAST(query_id AS BIGINT) AS q, CAST(neighbor_id AS BIGINT) AS n
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id ASC) AS rk FROM scored)
  WHERE rk <= 5),
mutual AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m
  FROM edges e1 JOIN edges e2 ON e2.q = e1.n AND e2.n = e1.q),
tot AS (
  SELECT CAST(COUNT(DISTINCT q) AS BIGINT) AS n_nodes,
         CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM edges)
SELECT n_nodes, n_edges, m AS n_mutual_edges,
       round(CASE WHEN n_edges > 0
                  THEN CAST(m AS DOUBLE) / CAST(n_edges AS DOUBLE)
                  ELSE 0.0 END, 6) AS reciprocity
FROM tot CROSS JOIN mutual
"""


# ===========================================================================
# Round-8 wave 22: chunk-dedup savings planner, price-dispersion audit,
# audit-sample-size planner
# ===========================================================================

_CHUNK_SIZES = (16, 32, 64)


def q_corpus_chunk_dedup_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-data chunking planner: at chunk sizes of 16/32/64
    tokens, how many non-overlapping chunks exist, how many are
    distinct, and how many tokens exact-chunk dedup would delete — the
    'pick the chunk size before the packing run' sweep (smaller chunks
    catch more boilerplate but fragment documents). One token pass;
    chunks hash with a size-salted md5 so the only shuffle carries
    (size, hash) with map-side combine; the tail chunk keeps its true
    token count so savings are token-exact."""
    docs = _ts(spark, sf_dir, "documents")
    toks = X.tokens(F.lower(F.col("text")))
    base = docs.select(toks.alias("__tk")).filter(
        F.size("__tk") > 0
    ).localCheckpoint(eager=False)
    def _chunker(size: int):
        # closure factory, NOT a default arg: a two-arg HOF lambda would
        # receive the element index as its second parameter
        return lambda i: F.slice(F.col("__tk"), i * size + 1, size)

    branches = []
    for s in _CHUNK_SIZES:
        nchunks = F.ceil(F.size("__tk") / F.lit(s)).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), nchunks - 1), _chunker(s)
        )
        branches.append(
            base.select(F.explode(chunks).alias("__c")).select(
                F.lit(s).cast("long").alias("chunk_size"),
                F.md5(
                    F.concat_ws(
                        " ", F.concat(F.array(F.lit(f"{s}:")), F.col("__c"))
                    )
                ).alias("__h"),
                F.size("__c").cast("long").alias("__n"),
            )
        )
    allc = branches[0]
    for b in branches[1:]:
        allc = allc.unionAll(b)
    per_hash = allc.groupBy("chunk_size", "__h").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        F.max("__n").alias("__tok"),
    )
    return per_hash.groupBy("chunk_size").agg(
        F.sum("__cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(
            1.0
            - F.count(F.lit(1)).cast("double")
            / F.sum("__cnt").cast("double"),
            6,
        ).alias("dup_share"),
        F.sum((F.col("__cnt") - 1) * F.col("__tok"))
        .cast("long")
        .alias("tokens_saved"),
    )


def _oracle_corpus_chunk_dedup_planner_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    parts = []
    for s in _CHUNK_SIZES:
        parts.append(f"""
  SELECT CAST({s} AS BIGINT) AS chunk_size,
         md5('{s}: ' || array_to_string(
           list_slice(tk, ci * {s} + 1, ci * {s} + {s}), ' ')) AS h,
         CAST(len(list_slice(tk, ci * {s} + 1, ci * {s} + {s}))
              AS BIGINT) AS n
  FROM base,
       LATERAL (SELECT unnest(range(0,
         CAST(ceil(len(tk) / {s}.0) AS BIGINT))) AS ci) c""")
    union = "\nUNION ALL".join(parts)
    return f"""
WITH base AS (
  SELECT {toks} AS tk FROM documents WHERE len({toks}) > 0),
allc AS ({union}),
per_hash AS (
  SELECT chunk_size, h, CAST(COUNT(*) AS BIGINT) AS cnt,
         MAX(n) AS tok
  FROM allc GROUP BY 1, 2)
SELECT chunk_size,
       CAST(SUM(cnt) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
         AS dup_share,
       CAST(SUM((cnt - 1) * tok) AS BIGINT) AS tokens_saved
FROM per_hash GROUP BY 1
"""


def q_part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procurement-arbitrage audit: the top-10 multi-supplier parts by
    coefficient of variation of per-supplier unit price (Σ extended
    price / Σ quantity per supplier). Supplier prices quantize to 1e-6
    units so the per-part moments are exact integers; two bounded
    rollups, TakeOrdered output."""
    # keyed spread: the per-supplier rollup is the first shuffle, so the
    # spread IS its exchange (one exchange, complete agg — §2.4)
    li = _ts(spark, sf_dir, "lineitem", by=("l_partkey", "l_suppkey"))
    dec = "decimal(38,0)"
    per_supp = li.groupBy(
        F.col("l_partkey").cast("long").alias("part"),
        F.col("l_suppkey").cast("long").alias("supp"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast(dec))
        .cast("long")
        .alias("__ec"),
        F.sum(F.round(F.col("l_quantity"), 0).cast("long"))
        .cast("long")
        .alias("__q"),
    ).filter(F.col("__q") > 0)
    pq_ = per_supp.select(
        "part",
        F.round(
            F.col("__ec").cast("double")
            / F.col("__q").cast("double")
            / 100.0
            * 1e6,
            0,
        )
        .cast("long")
        .alias("__p6"),
    )
    per_part = pq_.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(F.col("__p6").cast(dec)).alias("__s"),
        # decimal BEFORE the square: p6 reaches ~1e11 and p6² overflows
        # int64 under ANSI
        F.sum(F.col("__p6").cast(dec) * F.col("__p6").cast(dec)).alias(
            "__s2"
        ),
        F.min("__p6").alias("__lo"),
        F.max("__p6").alias("__hi"),
    ).filter(F.col("n_suppliers") >= 2)
    n = F.col("n_suppliers").cast("double")
    mean = F.col("__s").cast("double") / n
    var = (
        (
            F.col("n_suppliers").cast(dec) * F.col("__s2")
            - F.col("__s") * F.col("__s")
        ).cast("double")
        / (n * (n - 1.0))
    )
    cv = F.when(mean > 0, F.sqrt(var) / mean).otherwise(0.0)
    scored = per_part.select(
        "part", "n_suppliers",
        F.round(F.col("__lo").cast("double") / 1e6, 6).alias("min_price"),
        F.round(F.col("__hi").cast("double") / 1e6, 6).alias("max_price"),
        F.round(cv, 6).alias("price_cv"),
    )
    return scored.orderBy(F.desc("price_cv"), F.asc("part")).limit(10)


ORACLE_PART_PRICE_DISPERSION = """
WITH per_supp AS (
  SELECT CAST(l_partkey AS BIGINT) AS part,
         CAST(l_suppkey AS BIGINT) AS supp,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS HUGEINT))
              AS BIGINT) AS ec,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2 HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 0),
pq AS (
  SELECT part,
         CAST(round(CAST(ec AS DOUBLE) / CAST(q AS DOUBLE) / 100.0 * 1e6)
              AS BIGINT) AS p6
  FROM per_supp),
per_part AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         SUM(CAST(p6 AS HUGEINT)) AS s,
         SUM(CAST(p6 AS HUGEINT) * p6) AS s2,
         MIN(p6) AS lo, MAX(p6) AS hi
  FROM pq GROUP BY 1 HAVING COUNT(*) >= 2),
scored AS (
  SELECT part, n_suppliers,
         round(CAST(lo AS DOUBLE) / 1e6, 6) AS min_price,
         round(CAST(hi AS DOUBLE) / 1e6, 6) AS max_price,
         round(CASE WHEN CAST(s AS DOUBLE) / CAST(n_suppliers AS DOUBLE) > 0
                    THEN sqrt(CAST(n_suppliers * s2 - s * s AS DOUBLE)
                              / (CAST(n_suppliers AS DOUBLE)
                                 * (CAST(n_suppliers AS DOUBLE) - 1.0)))
                         / (CAST(s AS DOUBLE)
                            / CAST(n_suppliers AS DOUBLE))
                    ELSE 0.0 END, 6) AS price_cv
  FROM per_part)
SELECT * FROM scored ORDER BY price_cv DESC, part ASC LIMIT 10
"""

_AUDIT_Z = 1.959964
_AUDIT_E = 0.03


def q_corpus_audit_sample_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Human-audit budgeting: per source, how many documents must be
    sampled to estimate the quality-pass share within ±3% at 95%
    confidence — the Cochran n₀ = z²·p̂(1−p̂)/e² with the finite-
    population correction n = n₀/(1 + (n₀−1)/N). Pass proxy is token
    count ≥ 30 (the long-doc gate). One |sources|-bounded aggregation;
    the plan is closed-form from exact counts."""
    docs = _ts(spark, sf_dir, "documents")
    w = F.size(X.tokens(F.lower(F.col("text"))))
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(w >= 30, 1).otherwise(0)).cast("long").alias("__pass"),
    )
    nd = F.col("n_docs").cast("double")
    p = F.col("__pass").cast("double") / nd
    # Cochran caps worst-case variance at p = 0.5 when the observed
    # share is degenerate (0 or 1 would plan a zero sample)
    psafe = F.when((p > 0) & (p < 1), p).otherwise(0.5)
    n0 = (
        F.lit(_AUDIT_Z * _AUDIT_Z)
        * psafe
        * (1.0 - psafe)
        / F.lit(_AUDIT_E * _AUDIT_E)
    )
    nfpc = n0 / (1.0 + (n0 - 1.0) / nd)
    sample = F.ceil(nfpc).cast("long")
    return per.select(
        "source", "n_docs",
        F.round(p, 6).alias("pass_share"),
        sample.alias("sample_needed"),
        F.round(sample.cast("double") / nd, 6).alias("sample_rate"),
    )


def _oracle_corpus_audit_sample_planner_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    z2 = _AUDIT_Z * _AUDIT_Z
    e2 = _AUDIT_E * _AUDIT_E
    return f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN len({toks}) >= 30 THEN 1 ELSE 0 END)
              AS BIGINT) AS pass_n
  FROM documents GROUP BY 1),
calc AS (
  SELECT source, n_docs,
    CAST(pass_n AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p
  FROM per),
safe AS (
  SELECT *, CASE WHEN p > 0 AND p < 1 THEN p ELSE 0.5 END AS ps
  FROM calc),
n0c AS (
  SELECT *, {z2!r} * ps * (1.0 - ps) / {e2!r} AS n0 FROM safe)
SELECT source, n_docs,
       round(p, 6) AS pass_share,
       CAST(ceil(n0 / (1.0 + (n0 - 1.0) / CAST(n_docs AS DOUBLE)))
            AS BIGINT) AS sample_needed,
       round(CAST(CAST(ceil(n0 / (1.0 + (n0 - 1.0)
                                  / CAST(n_docs AS DOUBLE))) AS BIGINT)
                  AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS sample_rate
FROM n0c
"""


# ===========================================================================
# Round-8 wave 23: Holt exponential smoothing, duplicate-invoice screen,
# Elias-gamma postings compression estimate
# ===========================================================================

_HOLT_A = 0.5
_HOLT_B = 0.3


def q_events_hourly_holt_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt's linear exponential smoothing over the hourly volume
    series, with 1/2/3-hour-ahead forecasts — the capacity-planning
    smoother. The recursion (level/trend updates) runs as ONE
    deterministic left-to-right fold over the |hours|-bounded sorted
    array, every update 1e-9-quantized, so the smoothed state is
    engine-exact — the template for any stateful time-series recursion
    on an engine built around order-free aggregation."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("__h")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    one = hourly.agg(
        F.sort_array(F.collect_list(F.struct("__h", "__c"))).alias("__e"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    vals = F.transform(F.col("__e"), lambda s: s["__c"].cast("double"))

    def q9(x: Column) -> Column:
        return F.round(x * 1e9, 0) / 1e9

    a, b = float(_HOLT_A), float(_HOLT_B)
    zero = F.struct(
        F.lit(0.0).alias("l"), F.lit(0.0).alias("b"),
        F.lit(0).cast("int").alias("i"),
    )

    def merge(acc: Column, v: Column) -> Column:
        al, ab, ai = acc["l"], acc["b"], acc["i"]
        nl = q9(F.lit(a) * v + F.lit(1.0 - a) * (al + ab))
        nb = q9(
            F.lit(b) * (q9(F.lit(a) * v + F.lit(1.0 - a) * (al + ab)) - al)
            + F.lit(1.0 - b) * ab
        )
        return (
            F.when(
                ai == 0,
                F.struct(
                    v.alias("l"), F.lit(0.0).alias("b"),
                    F.lit(1).cast("int").alias("i"),
                ),
            )
            .when(
                ai == 1,
                F.struct(
                    v.alias("l"), q9(v - al).alias("b"),
                    F.lit(2).cast("int").alias("i"),
                ),
            )
            .otherwise(
                F.struct(
                    nl.alias("l"), nb.alias("b"),
                    (ai + 1).cast("int").alias("i"),
                )
            )
        )

    st = F.aggregate(vals, zero, merge)
    lvl, trd = st["l"], st["b"]
    return one.select(
        "n_hours",
        F.round(lvl, 6).alias("level"),
        F.round(trd, 6).alias("trend"),
        F.round(lvl + trd, 6).alias("forecast_1h"),
        F.round(lvl + 2 * trd, 6).alias("forecast_2h"),
        F.round(lvl + 3 * trd, 6).alias("forecast_3h"),
    )


def _oracle_events_hourly_holt_forecast_sql() -> str:
    # State rides as a LIST [l, b, i], not a struct: DuckDB's list_reduce
    # overwrites a STRUCT accumulator field-by-field in place once the
    # fold has ≥2 combines, so a later field reading acc.l sees the NEW
    # value (probed; list-valued accumulators are clean).
    a, b = float(_HOLT_A), float(_HOLT_B)
    nl = (
        f"round(({a!r} * e[1] + {1.0 - a!r} * (acc[1] + acc[2])) * 1e9)"
        " / 1e9"
    )
    merge = f"""CASE
      WHEN acc[3] = 0 THEN [e[1], CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)]
      WHEN acc[3] = 1 THEN [e[1], round((e[1] - acc[1]) * 1e9) / 1e9,
                            CAST(2.0 AS DOUBLE)]
      ELSE [{nl},
            round(({b!r} * (({nl}) - acc[1])
                   + {1.0 - b!r} * acc[2]) * 1e9) / 1e9,
            acc[3] + 1]
    END"""
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
one AS (
  SELECT list_transform(list(c ORDER BY h),
           x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE),
                 CAST(0.0 AS DOUBLE)]) AS vals,
         CAST(COUNT(*) AS BIGINT) AS n_hours
  FROM hourly),
folded AS (
  SELECT n_hours,
    list_reduce(list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                              CAST(0.0 AS DOUBLE)], vals),
                (acc, e) -> {merge}) AS st
  FROM one)
SELECT n_hours,
       round(st[1], 6) AS level,
       round(st[2], 6) AS trend,
       round(st[1] + st[2], 6) AS forecast_1h,
       round(st[1] + 2 * st[2], 6) AS forecast_2h,
       round(st[1] + 3 * st[2], 6) AS forecast_3h
FROM folded
"""


def q_orders_duplicate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-billing screen: order groups sharing (customer, exact
    cents amount, order date) — the accounts-payable duplicate-invoice
    check. One |groups|-bounded aggregation; exact integer counts and
    shares."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy(
        F.col("o_custkey").cast("long").alias("__c"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__v"),
        F.col("o_orderdate").alias("__d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return g.agg(
        F.sum("__n").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("__n") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("dup_groups"),
        F.sum(F.when(F.col("__n") >= 2, F.col("__n")).otherwise(0))
        .cast("long")
        .alias("orders_in_dup_groups"),
        F.max("__n").alias("max_group"),
        F.round(
            F.sum(F.when(F.col("__n") >= 2, F.col("__n")).otherwise(0))
            .cast("double")
            / F.sum("__n").cast("double"),
            6,
        ).alias("dup_order_share"),
    )


ORACLE_ORDERS_DUPLICATE_SCREEN = """
WITH g AS (
  SELECT CAST(o_custkey AS BIGINT) AS c,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         o_orderdate AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2, 3)
SELECT CAST(SUM(n) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_groups,
       CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
         AS orders_in_dup_groups,
       MAX(n) AS max_group,
       round(CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE), 6) AS dup_order_share
FROM g
"""


def q_corpus_postings_compression_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-engineering estimate: Elias-gamma bit cost of delta-gap
    encoding the inverted index's doc-id postings (2·⌊log₂ gap⌋ + 1
    bits per gap, first posting stored as doc_id + 1), vs raw 64-bit
    ids. ⌊log₂⌋ comes from the BINARY STRING length (exact integer —
    no float log at power-of-two boundaries); gaps are term-partitioned
    LAG over the postings, the same bounded shuffle the postings query
    itself pays."""
    docs = _ts(spark, sf_dir, "documents")
    post = docs.select(
        F.col("doc_id").cast("long").alias("__d"),
        F.explode(
            F.array_distinct(X.tokens(F.lower(F.col("text"))))
        ).alias("__t"),
    )
    w = Window.partitionBy("__t").orderBy("__d")
    gaps = post.select(
        "__t",
        F.coalesce(
            F.col("__d") - F.lag("__d").over(w), F.col("__d") + 1
        ).alias("__g"),
    )
    bits = 2 * (F.length(F.bin(F.col("__g"))) - 1) + 1
    dec = "decimal(38,0)"
    agg = gaps.agg(
        F.countDistinct("__t").cast("long").alias("n_terms"),
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.sum(bits.cast(dec)).cast("long").alias("total_bits"),
    )
    return agg.select(
        "n_terms", "n_postings", "total_bits",
        F.round(
            F.col("total_bits").cast("double")
            / F.col("n_postings").cast("double"),
            6,
        ).alias("bits_per_posting"),
        F.round(
            F.col("total_bits").cast("double")
            / (64.0 * F.col("n_postings").cast("double")),
            6,
        ).alias("ratio_vs_int64"),
    )


def _oracle_corpus_postings_compression_estimate_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH post AS (
  SELECT DISTINCT CAST(doc_id AS BIGINT) AS d, t.tok AS term
  FROM documents,
       LATERAL (SELECT unnest({toks}) AS tok) t),
gaps AS (
  SELECT term,
         COALESCE(d - lag(d) OVER (PARTITION BY term ORDER BY d),
                  d + 1) AS g
  FROM post),
agg AS (
  SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
         CAST(COUNT(*) AS BIGINT) AS n_postings,
         CAST(SUM(2 * (length(bin(g)) - 1) + 1) AS BIGINT) AS total_bits
  FROM gaps)
SELECT n_terms, n_postings, total_bits,
       round(CAST(total_bits AS DOUBLE) / CAST(n_postings AS DOUBLE), 6)
         AS bits_per_posting,
       round(CAST(total_bits AS DOUBLE)
             / (64.0 * CAST(n_postings AS DOUBLE)), 6) AS ratio_vs_int64
FROM agg
"""


# ===========================================================================
# Round-8 wave 24: revenue reconciliation, TWAP, junk-token profile
# ===========================================================================


def q_orders_revenue_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level cross-table reconciliation: per order, the lineitem
    charge sum Σ extprice·(1−disc)·(1+tax) against o_totalprice — the
    financial-close audit (the count-level reconcile is
    customers_orders_reconcile; this one checks MONEY). Line charges
    round to cents identically in both engines before the exact DECIMAL
    per-order sum; one orderkey-keyed join; mismatch = |diff| beyond a
    5-cent rounding tolerance."""
    dec = "decimal(38,0)"
    # keyed spreads: per-order rollup and the orders probe side land
    # pre-partitioned on the reconciliation join key (§2.4)
    li = _ts(spark, sf_dir, "lineitem", by=("l_orderkey",))
    per_order = li.groupBy(
        F.col("l_orderkey").cast("long").alias("__k")
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1.0 - F.col("l_discount"))
                * (1.0 + F.col("l_tax"))
                * 100,
                0,
            ).cast("long").cast(dec)
        ).cast("long").alias("__lc")
    )
    o = _ts(spark, sf_dir, "orders", by=("o_orderkey",)).select(
        F.col("o_orderkey").cast("long").alias("__k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("__oc"),
    )
    j = o.join(per_order, "__k", "left")
    diff = F.col("__lc") - F.col("__oc")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("__lc").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_without_lines"),
        F.sum(
            F.when(F.abs(diff) > 5, 1).otherwise(0)
        ).cast("long").alias("n_mismatched"),
        F.round(
            F.sum(F.coalesce(F.abs(diff), F.lit(0)).cast(dec))
            .cast("double")
            / 100.0,
            6,
        ).alias("total_abs_drift"),
        F.coalesce(F.max(F.abs(diff)), F.lit(0)).alias("max_abs_diff_cents"),
    )


ORACLE_ORDERS_REVENUE_RECONCILE = """
WITH per_order AS (
  SELECT CAST(l_orderkey AS BIGINT) AS k,
         CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount)
                             * (1.0 + l_tax) * 100) AS BIGINT)) AS BIGINT)
           AS lc
  FROM lineitem GROUP BY 1),
o AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS oc
  FROM orders),
j AS (SELECT o.k, oc, lc FROM o LEFT JOIN per_order USING (k))
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN lc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_without_lines,
       CAST(SUM(CASE WHEN abs(lc - oc) > 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched,
       round(CAST(SUM(COALESCE(abs(lc - oc), 0)) AS DOUBLE) / 100.0, 6)
         AS total_abs_drift,
       CAST(COALESCE(MAX(abs(lc - oc)), 0) AS BIGINT)
         AS max_abs_diff_cents
FROM j
"""


def q_events_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average value (TWAP) vs the naive mean — the
    irregular-sampling correction: each observation holds until the
    next event (the last one until midnight), so burst periods stop
    dominating the average. Weights are integer seconds × integer
    cents summed as DECIMAL per day; adjacency is a day-partitioned
    LEAD, never a global window."""
    dec = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        F.to_date("ts").alias("__day"),
        F.unix_timestamp("ts").alias("__s"),
        F.col("event_id").cast("long").alias("__eid"),
        F.round(F.col("value") * 100, 0).cast("long").alias("__vc"),
    )
    w = Window.partitionBy("__day").orderBy("__s", "__eid")
    day_end = (
        F.unix_timestamp(F.col("__day").cast("timestamp")) + 86400
    )
    dt = F.coalesce(F.lead("__s").over(w), day_end) - F.col("__s")
    per_day = base.select("__day", "__vc", dt.alias("__dt")).groupBy(
        "__day"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("__vc") * F.col("__dt")).cast(dec)).alias("__wv"),
        F.sum(F.col("__dt").cast(dec)).cast("long").alias("__wt"),
        F.sum(F.col("__vc").cast(dec)).cast("long").alias("__sv"),
    )
    twap = (
        F.col("__wv").cast("double")
        / F.col("__wt").cast("double")
        / 100.0
    )
    mean = (
        F.col("__sv").cast("double")
        / F.col("n_events").cast("double")
        / 100.0
    )
    return per_day.filter(F.col("__wt") > 0).select(
        F.col("__day").alias("day"),
        "n_events",
        F.round(twap, 6).alias("twap_value"),
        F.round(mean, 6).alias("mean_value"),
        F.round(twap - mean, 6).alias("twap_minus_mean"),
    )


ORACLE_EVENTS_VALUE_TWAP = """
WITH base AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(event_id AS BIGINT) AS eid,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events WHERE value IS NOT NULL),
dts AS (
  SELECT day, vc,
         COALESCE(lead(s) OVER (PARTITION BY day ORDER BY s, eid),
                  CAST(floor(epoch(CAST(day AS TIMESTAMP))) AS BIGINT)
                  + 86400) - s AS dt
  FROM base),
per_day AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(vc AS HUGEINT) * dt) AS wv,
         CAST(SUM(dt) AS BIGINT) AS wt,
         CAST(SUM(vc) AS BIGINT) AS sv
  FROM dts GROUP BY 1)
SELECT day, n_events,
       round(CAST(wv AS DOUBLE) / CAST(wt AS DOUBLE) / 100.0, 6)
         AS twap_value,
       round(CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0, 6)
         AS mean_value,
       round(CAST(wv AS DOUBLE) / CAST(wt AS DOUBLE) / 100.0
             - CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0, 6)
         AS twap_minus_mean
FROM per_day WHERE wt > 0
"""


def q_corpus_junk_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source junk-token census: shares of purely numeric, URL-ish,
    and email-ish tokens — the cleaning signal that separates scraped
    navigation/boilerplate sources from prose BEFORE quality scoring.
    Map-only classification (regex in the Java/RE2 common subset) into
    one |sources|-bounded aggregation."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(X.tokens(F.lower(F.col("text")))).alias("__t"),
    )
    is_num = F.col("__t").rlike("^[0-9]+$")
    is_url = F.col("__t").rlike("^(https?|www\\.)") | F.col("__t").contains(
        "://"
    )
    is_email = F.col("__t").contains("@") & F.col("__t").contains(".")
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_tokens"),
        F.round(
            F.sum(F.when(is_num, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("numeric_share"),
        F.round(
            F.sum(F.when(is_url, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("url_share"),
        F.round(
            F.sum(F.when(is_email, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("email_share"),
    )


def _oracle_corpus_junk_token_profile_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH tok AS (
  SELECT source, t.tk AS t
  FROM documents, LATERAL (SELECT unnest({toks}) AS tk) t)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS total_tokens,
       round(CAST(SUM(CASE WHEN regexp_matches(t, '^[0-9]+$')
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS numeric_share,
       round(CAST(SUM(CASE WHEN regexp_matches(t, '^(https?|www\\.)')
                                OR contains(t, '://')
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS url_share,
       round(CAST(SUM(CASE WHEN contains(t, '@') AND contains(t, '.')
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS email_share
FROM tok GROUP BY 1
"""


# ===========================================================================
# Round-8 wave 25: embedding ingestion drift, Cramér's V association,
# attribution model comparison
# ===========================================================================


def q_embedding_ingestion_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representation drift across ingestion: per vec_id-range decile,
    the mean vector norm and the cosine of the decile centroid to the
    GLOBAL centroid — the embedding-space twin of the token-level
    ingestion-drift monitor (an encoder change shows up here before any
    text statistic moves). Unit components quantize to 1e-9; centroid
    coordinates re-quantize before the dot/norm sums, so every float
    reduction is an exact integer sum; shuffles are |deciles × dims|-
    bounded."""
    emb = _ts(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    base = emb.filter(nrm > 0).select(
        F.col("vec_id").cast("long").alias("__id"),
        F.round(nrm * 1e9, 0).cast("long").alias("__nq"),
        F.transform(v, lambda x: F.round(x / nrm * 1e9, 0).cast("long"))
        .alias("__u"),
    ).localCheckpoint(eager=False)
    rng = base.agg(
        F.min("__id").alias("__lo"), F.max("__id").alias("__hi")
    )
    decile = F.least(
        F.lit(9),
        F.floor(
            (F.col("__id") - F.col("__lo"))
            * 10
            / (F.col("__hi") - F.col("__lo") + 1)
        ),
    ).cast("long")
    dd = base.crossJoin(F.broadcast(rng)).select(
        decile.alias("__dc"), "__nq", "__u"
    )
    dims = dd.select(
        "__dc", F.posexplode("__u").alias("dim", "__ui")
    ).groupBy("__dc", "dim").agg(
        F.sum(F.col("__ui").cast(dec)).alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    gdims = dims.groupBy("dim").agg(
        F.sum("__s").alias("__gs"), F.sum("__n").cast("long").alias("__gn")
    )
    j = dims.join(F.broadcast(gdims), "dim")
    qa = F.round(
        F.col("__s").cast("double") / F.col("__n").cast("double"), 0
    ).cast("long")
    qb = F.round(
        F.col("__gs").cast("double") / F.col("__gn").cast("double"), 0
    ).cast("long")
    terms = j.select("__dc", qa.alias("__qa"), qb.alias("__qb"))
    per = terms.groupBy("__dc").agg(
        F.sum((F.col("__qa") * F.col("__qb")).cast(dec)).alias("__dot"),
        F.sum((F.col("__qa") * F.col("__qa")).cast(dec)).alias("__na"),
        F.sum((F.col("__qb") * F.col("__qb")).cast(dec)).alias("__nb"),
    )
    norms = dd.groupBy("__dc").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.col("__nq").cast(dec)).cast("long").alias("__ns"),
    )
    out = norms.join(per, "__dc")
    cosd = F.col("__dot").cast("double") / F.sqrt(
        F.col("__na").cast("double") * F.col("__nb").cast("double")
    )
    return out.select(
        F.col("__dc").alias("decile"),
        "n_vectors",
        F.round(
            F.col("__ns").cast("double")
            / F.col("n_vectors").cast("double")
            / 1e9,
            6,
        ).alias("mean_norm"),
        F.round(cosd, 6).alias("centroid_cos_to_global"),
    )


ORACLE_EMBEDDING_INGESTION_DRIFT = """
WITH nv AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)) AS nrm
  FROM embeddings),
base AS (
  SELECT id, CAST(round(nrm * 1e9) AS BIGINT) AS nq,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) / nrm * 1e9) AS BIGINT)) AS u
  FROM nv WHERE nrm > 0),
rng AS (SELECT MIN(id) AS lo, MAX(id) AS hi FROM base),
dd AS (
  SELECT LEAST(9, CAST(floor(CAST((id - lo) * 10 AS DOUBLE)
                             / (hi - lo + 1)) AS BIGINT)) AS dc, nq, u
  FROM base CROSS JOIN rng),
dims AS (
  SELECT dc, s.i - 1 AS dim,
         SUM(CAST(u[s.i] AS HUGEINT)) AS sv,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM dd, LATERAL (SELECT unnest(generate_series(1, len(u))) AS i) s
  GROUP BY 1, 2),
gdims AS (
  SELECT dim, SUM(sv) AS gs, CAST(SUM(n) AS BIGINT) AS gn
  FROM dims GROUP BY 1),
terms AS (
  SELECT dc,
         CAST(round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
           AS qa,
         CAST(round(CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)) AS BIGINT)
           AS qb
  FROM dims JOIN gdims USING (dim)),
per AS (
  SELECT dc,
         SUM(CAST(qa AS HUGEINT) * qb) AS dot,
         SUM(CAST(qa AS HUGEINT) * qa) AS na,
         SUM(CAST(qb AS HUGEINT) * qb) AS nb
  FROM terms GROUP BY 1),
norms AS (
  SELECT dc, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(SUM(nq) AS BIGINT) AS ns
  FROM dd GROUP BY 1)
SELECT norms.dc AS decile, n_vectors,
       round(CAST(ns AS DOUBLE) / CAST(n_vectors AS DOUBLE) / 1e9, 6)
         AS mean_norm,
       round(CAST(dot AS DOUBLE)
             / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
         AS centroid_cos_to_global
FROM norms JOIN per ON per.dc = norms.dc
"""


def q_part_brand_type_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between part brand and part type — 'does
    brand determine product line' as ONE number in [0, 1], the
    categorical-pair strength NMI doesn't normalize the same way. Uses
    the observed-cells identity χ² = Σ o²·N/(r_b·c_t) − N so zero cells
    never materialize; each cell term is 1e-6-quantized for an
    order-free sum; margins attach as broadcast joins."""
    # no checkpoint (r12): all four consumers of `cells` land in the ONE
    # final-aggregate job, where ReuseExchange already dedupes the cell
    # aggregation's exchange — a lazy checkpoint here only adds its
    # build-time stage execution (the change-4 lesson applied)
    p = _t(spark, sf_dir, "part")
    cells = p.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).cast("long").alias("__o")
    )
    rb = cells.groupBy("p_brand").agg(F.sum("__o").cast("long").alias("__rb"))
    ct = cells.groupBy("p_type").agg(F.sum("__o").cast("long").alias("__ct"))
    tot = cells.agg(
        F.sum("__o").cast("long").alias("__n"),
        F.countDistinct("p_brand").cast("long").alias("n_brands"),
        F.countDistinct("p_type").cast("long").alias("n_types"),
    )
    j = (
        cells.join(F.broadcast(rb), "p_brand")
        .join(F.broadcast(ct), "p_type")
        .crossJoin(F.broadcast(tot))
    )
    term = F.round(
        F.col("__o").cast("double")
        * F.col("__o").cast("double")
        * F.col("__n").cast("double")
        / (F.col("__rb").cast("double") * F.col("__ct").cast("double"))
        * 1e6,
        0,
    ).cast("long")
    agg = j.agg(
        F.sum(term).cast("long").alias("__tq"),
        F.max("__n").alias("__n"),
        F.max("n_brands").alias("n_brands"),
        F.max("n_types").alias("n_types"),
    )
    chi2 = F.greatest(
        F.lit(0.0),
        F.col("__tq").cast("double") / 1e6 - F.col("__n").cast("double"),
    )
    dof = F.least(F.col("n_brands") - 1, F.col("n_types") - 1).cast("double")
    vee = F.when(
        (dof > 0) & (F.col("__n") > 0),
        F.sqrt(chi2 / (F.col("__n").cast("double") * dof)),
    ).otherwise(0.0)
    return agg.select(
        "n_brands", "n_types",
        F.round(chi2, 4).alias("chi2"),
        F.round(vee, 6).alias("cramers_v"),
    )


ORACLE_PART_BRAND_TYPE_CRAMERS_V = """
WITH cells AS (
  SELECT p_brand, p_type, CAST(COUNT(*) AS BIGINT) AS o
  FROM part GROUP BY 1, 2),
rb AS (SELECT p_brand, CAST(SUM(o) AS BIGINT) AS rbn FROM cells GROUP BY 1),
ct AS (SELECT p_type, CAST(SUM(o) AS BIGINT) AS ctn FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
         CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types
  FROM cells),
agg AS (
  SELECT CAST(SUM(CAST(round(CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
                             * CAST(n AS DOUBLE)
                             / (CAST(rbn AS DOUBLE) * CAST(ctn AS DOUBLE))
                             * 1e6) AS BIGINT)) AS BIGINT) AS tq,
         MAX(n) AS n, MAX(n_brands) AS n_brands, MAX(n_types) AS n_types
  FROM cells JOIN rb USING (p_brand) JOIN ct USING (p_type)
       CROSS JOIN tot),
calc AS (
  SELECT n_brands, n_types, n,
    GREATEST(0.0, CAST(tq AS DOUBLE) / 1e6 - CAST(n AS DOUBLE)) AS chi2,
    CAST(LEAST(n_brands - 1, n_types - 1) AS DOUBLE) AS dof
  FROM agg)
SELECT n_brands, n_types,
       round(chi2, 4) AS chi2,
       round(CASE WHEN dof > 0 AND n > 0
                  THEN sqrt(chi2 / (CAST(n AS DOUBLE) * dof))
                  ELSE 0.0 END, 6) AS cramers_v
FROM calc
"""


def q_events_attribution_comparison(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Marketing attribution bake-off: for every converter, credit the
    PRE-conversion activity types under first-touch, last-touch, and
    linear models side by side — the table that shows how much the
    model choice (not the data) moves budget. First/last come off ONE
    user-partitioned ordered pass; linear credit quantizes 1/k per
    user to 1e-9 before the per-type integer sum."""
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(F.min("ts").alias("__tp"))
    )
    pre = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            "ts",
            F.col("event_id").cast("long").alias("__eid"),
        )
        .join(conv, "user_id")
        .filter(F.col("ts") < F.col("__tp"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "__eid")
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("__eid")
    )
    flagged = pre.select(
        "user_id", "event_type",
        F.row_number().over(w).alias("__rf"),
        F.row_number().over(wd).alias("__rl"),
    )
    fl = flagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("__rf") == 1, 1).otherwise(0))
        .cast("long")
        .alias("first_touch"),
        F.sum(F.when(F.col("__rl") == 1, 1).otherwise(0))
        .cast("long")
        .alias("last_touch"),
    )
    ut = pre.select("user_id", "event_type").distinct()
    k = ut.groupBy("user_id").agg(F.count(F.lit(1)).alias("__k"))
    lin = (
        ut.join(F.broadcast(k), "user_id")
        .select(
            "event_type",
            F.round(1e9 / F.col("__k"), 0).cast("long").alias("__cq"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.sum("__cq").cast("double") / 1e9, 6).alias(
                "linear_credit"
            )
        )
    )
    return fl.join(lin, "event_type").select(
        "event_type", "first_touch", "last_touch", "linear_credit"
    )


ORACLE_EVENTS_ATTRIBUTION_COMPARISON = """
WITH conv AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, MIN(ts) AS tp
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
pre AS (
  SELECT e.user_id, e.event_type, e.ts, CAST(e.event_id AS BIGINT) AS eid
  FROM (SELECT CAST(user_id AS BIGINT) AS user_id, event_type, ts,
               event_id
        FROM events WHERE event_type <> 'purchase') e
  JOIN conv USING (user_id)
  WHERE e.ts < tp),
flagged AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, eid) AS rf,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, eid DESC) AS rl
  FROM pre),
fl AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS first_touch,
         CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS last_touch
  FROM flagged GROUP BY 1),
ut AS (SELECT DISTINCT user_id, event_type FROM pre),
k AS (SELECT user_id, COUNT(*) AS kk FROM ut GROUP BY 1),
lin AS (
  SELECT event_type,
         round(CAST(SUM(CAST(round(1e9 / kk) AS BIGINT)) AS DOUBLE)
               / 1e9, 6) AS linear_credit
  FROM ut JOIN k USING (user_id) GROUP BY 1)
SELECT event_type, first_touch, last_touch, linear_credit
FROM fl JOIN lin USING (event_type)
"""


# ===========================================================================
# Round-8 wave 26: fingerprint-aggressiveness ladder, exact midrank
# Spearman, SPC control chart
# ===========================================================================


def q_dedup_fingerprint_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aggressiveness ladder: removable docs under the three
    fingerprint strengths — exact text, token MULTISET (order-
    insensitive, count-preserving: catches reshuffled templates), and
    token SET (also count-insensitive) — plus the marginal catch of
    each step up. The 'how much more would looser matching delete'
    read before choosing a policy. Three md5 map passes sharing one
    token computation; three |fingerprint|-bounded rollups."""
    docs = _ts(spark, sf_dir, "documents")
    toks = X.tokens(F.lower(F.col("text")))
    fps = docs.select(
        X.fingerprint("text").alias("__fe"),
        F.md5(F.array_join(F.array_sort(toks), " ")).alias("__fb"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(toks)), " ")
        ).alias("__fs"),
    ).localCheckpoint(eager=False)

    def dupn(c: str) -> DataFrame:
        return (
            fps.groupBy(c)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(
                F.sum(F.col("__n") - 1).cast("long").alias(f"__d{c}"),
            )
        )

    tot = fps.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    j = (
        tot.crossJoin(F.broadcast(dupn("__fe")))
        .crossJoin(F.broadcast(dupn("__fb")))
        .crossJoin(F.broadcast(dupn("__fs")))
    )
    return j.select(
        "n_docs",
        F.col("__d__fe").alias("exact_dup_docs"),
        F.col("__d__fb").alias("bag_dup_docs"),
        F.col("__d__fs").alias("set_dup_docs"),
        (F.col("__d__fb") - F.col("__d__fe")).alias("reorder_only_docs"),
        (F.col("__d__fs") - F.col("__d__fb")).alias("countchange_only_docs"),
    )


def _oracle_dedup_fingerprint_ladder_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    norm = _DD_NORM.format(c="text")
    return f"""
WITH fps AS (
  SELECT md5({norm}) AS fe,
         md5(array_to_string(list_sort({toks}), ' ')) AS fb,
         md5(array_to_string(list_sort(list_distinct({toks})), ' ')) AS fs
  FROM documents),
de AS (SELECT CAST(SUM(n - 1) AS BIGINT) AS d
       FROM (SELECT COUNT(*) AS n FROM fps GROUP BY fe)),
db AS (SELECT CAST(SUM(n - 1) AS BIGINT) AS d
       FROM (SELECT COUNT(*) AS n FROM fps GROUP BY fb)),
ds AS (SELECT CAST(SUM(n - 1) AS BIGINT) AS d
       FROM (SELECT COUNT(*) AS n FROM fps GROUP BY fs)),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM fps)
SELECT n_docs,
       de.d AS exact_dup_docs,
       db.d AS bag_dup_docs,
       ds.d AS set_dup_docs,
       db.d - de.d AS reorder_only_docs,
       ds.d - db.d AS countchange_only_docs
FROM tot CROSS JOIN de CROSS JOIN db CROSS JOIN ds
"""


def q_part_size_price_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between part size and retail price —
    the monotone-association read Pearson misses when the relationship
    is nonlinear. Midranks come off the two VALUE HISTOGRAMS as
    2·cum_below + f + 1 (doubled to stay integer), each row joins its
    two ranks via broadcast rank maps, and ρ is Pearson on exact
    DECIMAL rank sums — no sort, no per-row ranking window."""
    dec = "decimal(38,0)"
    p = _t(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("__x"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("__y"),
    ).localCheckpoint(eager=False)

    def rank_map(c: str) -> DataFrame:
        hist = p.groupBy(c).agg(F.count(F.lit(1)).alias("__f"))
        _hck, h = _hist_prefix(hist, c, "__f", "__cb")
        return h.select(
            c, (2 * F.col("__cb") + F.col("__f") + 1).alias(f"__r{c}")
        )

    j = p.join(F.broadcast(rank_map("__x")), "__x").join(
        F.broadcast(rank_map("__y")), "__y"
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("__r__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__r__y").cast(dec)).alias("__sy"),
        F.sum(F.col("__r__x").cast(dec) * F.col("__r__y").cast(dec)).alias(
            "__sxy"
        ),
        F.sum(F.col("__r__x").cast(dec) * F.col("__r__x").cast(dec)).alias(
            "__sxx"
        ),
        F.sum(F.col("__r__y").cast(dec) * F.col("__r__y").cast(dec)).alias(
            "__syy"
        ),
    )
    n = F.col("n_parts").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = n * F.col("__sxy").cast("double") - sx * sy
    den = F.sqrt(
        (n * F.col("__sxx").cast("double") - sx * sx)
        * (n * F.col("__syy").cast("double") - sy * sy)
    )
    rho = F.when(den > 0, num / den).otherwise(0.0)
    return agg.select(
        "n_parts", F.round(rho, 6).alias("spearman_rho")
    )


ORACLE_PART_SIZE_PRICE_SPEARMAN = """
WITH p AS (
  SELECT CAST(p_size AS BIGINT) AS x,
         CAST(round(p_retailprice * 100) AS BIGINT) AS y
  FROM part),
hx AS (SELECT x, COUNT(*) AS f FROM p GROUP BY 1),
cx AS (
  SELECT x, 2 * COALESCE(SUM(f) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + f + 1 AS rx
  FROM hx),
hy AS (SELECT y, COUNT(*) AS f FROM p GROUP BY 1),
cy AS (
  SELECT y, 2 * COALESCE(SUM(f) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + f + 1 AS ry
  FROM hy),
j AS (
  SELECT rx, ry FROM p JOIN cx USING (x) JOIN cy USING (y)),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(CAST(rx AS HUGEINT)) AS sx,
         SUM(CAST(ry AS HUGEINT)) AS sy,
         SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
         SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
         SUM(CAST(ry AS HUGEINT) * ry) AS syy
  FROM j)
SELECT n_parts,
       round(CASE WHEN sqrt((CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_parts AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                       > 0
                  THEN (CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((CAST(n_parts AS DOUBLE)
                               * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n_parts AS DOUBLE)
                                 * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE)))
                  ELSE 0.0 END, 6) AS spearman_rho
FROM agg
"""


def q_events_value_spc_xbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals chart on daily mean value: center line and
    ±3σ control limits from the daily means themselves, and the count
    of out-of-control days — completing the SPC family next to CUSUM
    and EWMA. Daily means quantize to 1e-6 before the |days|-bounded
    exact moment sums, so the limits are engine-exact."""
    dec = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("__d")).agg(
        (
            F.sum(F.round(F.col("value") * 100, 0).cast("long").cast(dec))
            .cast("double")
            / F.count(F.lit(1)).cast("double")
            / 100.0
        ).alias("__m")
    ).select(
        "__d", F.round(F.col("__m") * 1e6, 0).cast("long").alias("__mq")
    ).localCheckpoint(eager=False)
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("__mq").cast(dec)).alias("__s"),
        F.sum(F.col("__mq").cast(dec) * F.col("__mq").cast(dec)).alias(
            "__s2"
        ),
    )
    n = F.col("n_days").cast("double")
    center = F.col("__s").cast("double") / n / 1e6
    sd = F.sqrt(
        (
            n * F.col("__s2").cast("double")
            - F.col("__s").cast("double") * F.col("__s").cast("double")
        )
        / (n * (n - 1.0))
    ) / 1e6
    lim = mom.select(
        "n_days",
        F.round(center, 6).alias("center"),
        F.round(center + 3.0 * sd, 6).alias("ucl"),
        F.round(center - 3.0 * sd, 6).alias("lcl"),
        (center + 3.0 * sd).alias("__u"),
        (center - 3.0 * sd).alias("__l"),
    )
    out = daily.crossJoin(F.broadcast(lim)).agg(
        F.sum(
            F.when(
                (F.col("__mq").cast("double") / 1e6 > F.col("__u"))
                | (F.col("__mq").cast("double") / 1e6 < F.col("__l")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_out_of_control"),
        F.max("n_days").alias("n_days"),
        F.max("center").alias("center"),
        F.max("ucl").alias("ucl"),
        F.max("lcl").alias("lcl"),
    )
    return out.select("n_days", "center", "ucl", "lcl", "n_out_of_control")


ORACLE_EVENTS_VALUE_SPC_XBAR = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(round(CAST(SUM(CAST(round(value * 100) AS HUGEINT))
                         AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) / 100.0 * 1e6) AS BIGINT)
           AS mq
  FROM events WHERE value IS NOT NULL GROUP BY 1),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(mq AS HUGEINT)) AS s,
         SUM(CAST(mq AS HUGEINT) * mq) AS s2
  FROM daily),
lim AS (
  SELECT n_days,
    CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) / 1e6 AS center,
    sqrt((CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)))
      / 1e6 AS sd
  FROM mom)
SELECT n_days,
       round(center, 6) AS center,
       round(center + 3.0 * sd, 6) AS ucl,
       round(center - 3.0 * sd, 6) AS lcl,
       (SELECT CAST(SUM(CASE WHEN CAST(mq AS DOUBLE) / 1e6
                                  > center + 3.0 * sd
                              OR CAST(mq AS DOUBLE) / 1e6
                                  < center - 3.0 * sd
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM daily) AS n_out_of_control
FROM lim
"""


# ===========================================================================
# Round-8 wave 27: term burstiness, max drawdown, micro/macro conversion
# ===========================================================================


def q_corpus_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: the top-15 terms by mean
    occurrences PER CONTAINING DOC (cf/df, df ≥ 3) — bursty terms
    concentrate in few documents (names, boilerplate markers) and break
    the Poisson assumptions behind tf-idf-style weighting. One token
    pass into a vocabulary-bounded (term → df, cf) rollup;
    deterministic TakeOrdered output."""
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").cast("long").alias("__d"),
        F.explode(X.tokens(F.lower(F.col("text")))).alias("__t"),
    )
    per = tok.groupBy("__t").agg(
        F.countDistinct("__d").cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("cf"),
    ).filter(F.col("df") >= 3)
    ratio = F.col("cf").cast("double") / F.col("df").cast("double")
    return (
        per.select(
            F.col("__t").alias("term"), "df", "cf",
            F.round(ratio, 6).alias("burstiness"),
        )
        .orderBy(F.desc("burstiness"), F.asc("term"))
        .limit(15)
    )


def _oracle_corpus_term_burstiness_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    return f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS d, t.tk AS term
  FROM documents, LATERAL (SELECT unnest({toks}) AS tk) t),
per AS (
  SELECT term, CAST(COUNT(DISTINCT d) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS cf
  FROM tok GROUP BY 1 HAVING COUNT(DISTINCT d) >= 3)
SELECT term, df, cf,
       round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burstiness
FROM per
ORDER BY burstiness DESC, term ASC
LIMIT 15
"""


def q_events_value_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily value series — the
    worst peak-to-trough slide, the risk read a mean or variance hides.
    Daily sums are exact cents; the cumulative series comes off the
    bounded-fan-in prefix; the peak search runs on the |days|² day-pair
    grid (a ~30-row table squared, not data), ties resolved to the
    earliest trough then earliest peak."""
    dec = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("__d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long").cast(dec))
        .cast("long")
        .alias("__c")
    )
    _dck, h = _hist_prefix(daily, "__d", "__c", "__cb")
    cum = h.select(
        "__d", (F.col("__cb") + F.col("__c")).alias("__cum")
    ).localCheckpoint(eager=False)
    a, b = cum.alias("a"), cum.alias("b")
    pairs = a.join(b, F.col("a.__d") <= F.col("b.__d")).select(
        F.col("a.__d").alias("__pk"),
        F.col("b.__d").alias("__tr"),
        (F.col("a.__cum") - F.col("b.__cum")).alias("__dd"),
    )
    nd = cum.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    best = (
        pairs.orderBy(F.desc("__dd"), F.asc("__tr"), F.asc("__pk"))
        .limit(1)
    )
    return best.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.round(F.col("__dd").cast("double") / 100.0, 6).alias(
            "max_drawdown"
        ),
        F.date_add(F.lit("1970-01-01"), F.col("__pk").cast("int")).alias(
            "peak_day"
        ),
        F.date_add(F.lit("1970-01-01"), F.col("__tr").cast("int")).alias(
            "trough_day"
        ),
    )


ORACLE_EVENTS_VALUE_MAX_DRAWDOWN = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(SUM(CAST(round(value * 100) AS HUGEINT)) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1),
cum AS (
  SELECT d, SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cu
  FROM daily),
pairs AS (
  SELECT a.d AS pk, b.d AS tr, a.cu - b.cu AS dd
  FROM cum a JOIN cum b ON a.d <= b.d),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM cum),
best AS (
  SELECT * FROM pairs ORDER BY dd DESC, tr ASC, pk ASC LIMIT 1)
SELECT n_days,
       round(CAST(dd AS DOUBLE) / 100.0, 6) AS max_drawdown,
       DATE '1970-01-01' + CAST(pk AS INTEGER) AS peak_day,
       DATE '1970-01-01' + CAST(tr AS INTEGER) AS trough_day
FROM best CROSS JOIN nd
"""


def q_events_conversion_micro_macro(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Micro vs macro average conversion: purchases-per-view pooled
    over all events (micro) against the mean of per-user rates (macro)
    — the aggregation-bias read (heavy users dominate micro; macro
    weights every user equally; a big gap means 'the average user' and
    'the average event' tell different stories). Per-user rates
    quantize to 1e-9 before the order-free mean."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy(F.col("user_id").cast("long").alias("__u")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).cast("long").alias("__v"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("__p"),
    ).filter(F.col("__v") > 0)
    rq = F.round(
        F.col("__p").cast("double") / F.col("__v").cast("double") * 1e9, 0
    ).cast("long")
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("__v").cast("long").alias("__tv"),
        F.sum("__p").cast("long").alias("__tp"),
        F.sum(rq).cast("long").alias("__rq"),
    )
    micro = F.col("__tp").cast("double") / F.col("__tv").cast("double")
    macro = F.col("__rq").cast("double") / 1e9 / F.col("n_users").cast(
        "double"
    )
    return agg.select(
        "n_users",
        F.round(micro, 6).alias("micro_rate"),
        F.round(macro, 6).alias("macro_rate"),
        F.round(macro - micro, 6).alias("macro_minus_micro"),
    )


ORACLE_EVENTS_CONVERSION_MICRO_MACRO = """
WITH per AS (
  SELECT CAST(user_id AS BIGINT) AS u,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS v,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS p
  FROM events GROUP BY 1
  HAVING SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(v) AS BIGINT) AS tv,
         CAST(SUM(p) AS BIGINT) AS tp,
         CAST(SUM(CAST(round(CAST(p AS DOUBLE) / CAST(v AS DOUBLE) * 1e9)
                       AS BIGINT)) AS BIGINT) AS rq
  FROM per)
SELECT n_users,
       round(CAST(tp AS DOUBLE) / CAST(tv AS DOUBLE), 6) AS micro_rate,
       round(CAST(rq AS DOUBLE) / 1e9 / CAST(n_users AS DOUBLE), 6)
         AS macro_rate,
       round(CAST(rq AS DOUBLE) / 1e9 / CAST(n_users AS DOUBLE)
             - CAST(tp AS DOUBLE) / CAST(tv AS DOUBLE), 6)
         AS macro_minus_micro
FROM agg
"""


def q_supplier_wait_fault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the multi-correlated-EXISTS / NOT-EXISTS
    decorrelation): suppliers who were the ONLY late supplier on
    finished multi-supplier orders. 'Late' = shipped more than 60 days
    after the order date (the driver's lineitem carries no
    commit/receipt dates — same decorrelation shape). Spark-first plan:
    instead of per-row subqueries, both EXISTS and NOT-EXISTS collapse
    into ONE per-(order, supplier) profile aggregation + ONE per-order
    rollup (supplier count, late-supplier count); the fault set is a
    single equi-join of the late profiles against orders with
    n_supp > 1 AND n_late = 1. The fact scan + order join + profile
    aggregation run ONCE behind a lazy localCheckpoint (one exchange on
    l_orderkey); the post-barrier rollup/join shuffles only the narrow
    |order x supplier| profile — at scale that is orders of magnitude
    smaller than re-scanning lineitem per consumer. Ends with a
    |suppliers| aggregate, a broadcast name attach, and a TakeOrdered
    top-20 (no global sort)."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # one explicit shuffle on the order key: HashPartitioning on a
        # SUBSET of the group keys satisfies ClusteredDistribution for
        # the (l_orderkey, l_suppkey) aggregate AND the per-order rollup
        # AND the profile self-join — three downstream ops, one exchange
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.datediff("l_shipdate", "o_orderdate") > 60
            ).alias("__sup_late")
        )
        # consumed twice (late filter + per-order rollup); the lazy
        # barrier materializes the |order x supplier| profile once
        # instead of re-running the fact scan + join per consumer
        .localCheckpoint(eager=False)
    )
    prof = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("__n_supp"),
        F.sum(F.col("__sup_late").cast("int")).alias("__n_late"),
    )
    fault = per.filter(F.col("__sup_late")).join(
        prof.filter((F.col("__n_supp") > 1) & (F.col("__n_late") == 1)),
        "l_orderkey",
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        fault.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


ORACLE_SUPPLIER_WAIT_FAULT = """
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         datediff('day', o_orderdate, l_shipdate) > 60 AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS sup_late
  FROM l GROUP BY 1, 2)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, per p1
WHERE s_suppkey = p1.l_suppkey
  AND p1.sup_late
  AND EXISTS (SELECT 1 FROM per p2
              WHERE p2.l_orderkey = p1.l_orderkey
                AND p2.l_suppkey <> p1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM per p3
                  WHERE p3.l_orderkey = p1.l_orderkey
                    AND p3.l_suppkey <> p1.l_suppkey
                    AND p3.sup_late)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q_customer_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (count-of-counts over a LEFT OUTER join): the
    distribution of non-urgent order counts per customer, INCLUDING
    zero-order customers — the null-group semantics a plain inner
    join + groupBy silently drops. The order-side filter sits under
    the join (pushed to the orders scan); count('o_orderkey') counts
    only matched rows, so unmatched customers land in the c_count=0
    bucket; the second groupBy is over at most |distinct counts| rows."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    pc = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        pc.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_CUSTOMER_ORDER_COUNT_DIST = """
WITH pc AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY 1)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM pc GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""


def q_lineitem_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional sums over a fact->dim join, grouped
    by a derived shipping dimension): lines shipped in 1996 bucketed by
    ship latency (FAST <= 30 days, REGULAR <= 365, else SLOW — the
    driver's lineitem has no l_shipmode; the derived bucket exercises
    the same shape), split into high- vs low-priority line counts via
    SUM(CASE). The date range prunes the lineitem scan before the join;
    the output is |buckets| rows."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .select("l_orderkey", "l_shipdate")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = F.datediff("l_shipdate", "o_orderdate")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.when(d <= 30, "FAST")
            .when(d <= 365, "REGULAR")
            .otherwise("SLOW")
            .alias("ship_speed")
        )
        .agg(
            F.sum(hi.cast("int")).cast("long").alias("high_line_count"),
            F.sum((~hi).cast("int")).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_speed")
    )


ORACLE_LINEITEM_SHIPMODE_PRIORITY = """
SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
            WHEN datediff('day', o_orderdate, l_shipdate) <= 365 THEN 'REGULAR'
            ELSE 'SLOW' END AS ship_speed,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY 1
ORDER BY 1
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (max-attach via one-row broadcast): the
    supplier(s) with the maximum discounted revenue over 1996Q1,
    ties included. The correlated `= (SELECT MAX(...))` decorrelates
    into a one-row aggregate crossJoin-broadcast against the per-
    supplier revenue rollup; revenue stays decimal-exact through the
    equality (no float max comparison), cast to double only at output.
    The supplier name attach is a broadcast hash join."""
    rev = F.sum(
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    ).alias("__rev")
    per = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(rev)
    )
    mx = per.agg(F.max("__rev").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("__rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_TOP_REVENUE_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2))
                - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp derived deterministically from lineitem's observed
    (part, supplier) pairs — the driver dataset ships no partsupp table,
    so the TPC-H Q11/Q20 shapes build it from the fact table's own join
    graph (every derived pair has lineitem support, mirroring TPC-H's
    referential consistency). availqty and supplycost (integer cents)
    are exact integer functions of the keys; the DuckDB oracle repeats
    the identical derivation, so both engines see one partsupp."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (
            (F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 13) % 9999 + 1
        ).alias("ps_availqty"),
        (
            (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 90000
            + 10000
        ).alias("ps_supplycost_cents"),
    )


_ORACLE_PARTSUPP_CTE = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 7 + ps_suppkey * 13) % 9999 + 1 AS ps_availqty,
         (ps_partkey * 31 + ps_suppkey * 17) % 90000 + 10000
           AS ps_supplycost_cents
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem))
"""


def q_partsupp_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 shape (group-HAVING vs a GLOBAL scalar subquery): parts
    whose nation-7 inventory value exceeds 1/10000 of the nation's total
    inventory value. The classic decorrelation: the scalar subquery
    aggregates the SAME filtered frame as the grouped aggregate, so the
    frame is lazily checkpointed and read by both jobs (one scan), and
    the one-row total attaches via crossJoin-broadcast. All value
    arithmetic is exact integers (supplycost in cents); the fractional
    threshold compares as value*10000 > total over decimal(38) so no
    float boundary exists at any scale."""
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    ger = (
        _derived_partsupp(spark, sf_dir)
        .join(
            F.broadcast(supp),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "ps_partkey",
            (
                F.col("ps_supplycost_cents").cast("decimal(38,0)")
                * F.col("ps_availqty")
            ).alias("__v"),
        )
        .localCheckpoint(eager=False)
    )
    per = ger.groupBy("ps_partkey").agg(F.sum("__v").alias("__value"))
    total = ger.agg(F.sum("__v").alias("__total"))
    return (
        per.crossJoin(F.broadcast(total))
        .filter(F.col("__value") * 10000 > F.col("__total"))
        .select(
            "ps_partkey",
            (F.col("__value").cast("double") / 100).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


ORACLE_PARTSUPP_VALUE_CONCENTRATION = f"""
WITH {_ORACLE_PARTSUPP_CTE},
ger AS (
  SELECT ps_partkey,
         CAST(ps_supplycost_cents AS DECIMAL(38,0)) * ps_availqty AS v
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_7')
SELECT ps_partkey, CAST(SUM(v) AS DOUBLE) / 100 AS value
FROM ger
GROUP BY ps_partkey
HAVING SUM(v) * 10000 > (SELECT SUM(v) FROM ger)
ORDER BY value DESC, ps_partkey
"""


def q_supplier_excess_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-join + correlated per-key threshold):
    nation-3 suppliers holding excess stock of 'small *' parts — availqty
    more than half the 1996 shipped quantity for that exact (part,
    supplier) pair. Decorrelation: the correlated SUM becomes ONE
    aggregation over lineitem grouped by (partkey, suppkey) with a
    conditional 1996 sum AND a 1996 row count (pairs with no 1996 rows
    must be EXCLUDED, matching the correlated subquery's NULL — a plain
    conditional sum would admit them as availqty > 0); since
    `_derived_partsupp` shuffles on the same keys, the partsupp⋈qty join
    is co-partitioned. The half threshold compares 2*availqty >
    qty(decimal) — exact at every scale. Part filter broadcasts; the
    final supplier attach is a semi-join then broadcast name fetch."""
    li = _t(spark, sf_dir, "lineitem")
    in96 = (F.col("l_shipdate") >= "1996-01-01") & (
        F.col("l_shipdate") < "1997-01-01"
    )
    qty = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(
            F.when(in96, F.col("l_quantity").cast(_DEC)).otherwise(
                F.lit(0).cast(_DEC)
            )
        ).alias("__q96"),
        F.sum(F.when(in96, 1).otherwise(0)).alias("__n96"),
    )
    forest = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small "))
        .select("p_partkey")
    )
    excess = (
        _derived_partsupp(spark, sf_dir)
        .join(
            F.broadcast(forest),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(
            qty,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(
            (F.col("__n96") > 0)
            & (
                (F.col("ps_availqty") * 2).cast("decimal(38,2)")
                > F.col("__q96")
            )
        )
        .select("ps_suppkey")
        .distinct()
    )
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        supp.join(
            excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_SUPPLIER_EXCESS_CAPACITY = f"""
WITH {_ORACLE_PARTSUPP_CTE},
qty AS (
  SELECT l_partkey, l_suppkey,
         SUM(CASE WHEN l_shipdate >= DATE '1996-01-01'
                   AND l_shipdate < DATE '1997-01-01'
                  THEN CAST(l_quantity AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS q96,
         SUM(CASE WHEN l_shipdate >= DATE '1996-01-01'
                   AND l_shipdate < DATE '1997-01-01'
                  THEN 1 ELSE 0 END) AS n96
  FROM lineitem GROUP BY 1, 2),
excess AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %') p
    ON ps_partkey = p_partkey
  JOIN qty ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
  WHERE n96 > 0 AND CAST(ps_availqty * 2 AS DECIMAL(38,2)) > q96)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_3'
WHERE s_suppkey IN (SELECT ps_suppkey FROM excess)
ORDER BY s_suppkey
"""


def q_corpus_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental-ingest exact-substring dedup — the third leg of the
    incremental trio (text shingles: `dedup_incremental`, embeddings:
    `embedding_incremental`, exact substrings: this): documents with
    doc_id % 5 == 4 play the incoming batch; spans in batch docs covered
    by an 8-token shingle already present in the STORED corpus are
    flagged before the batch is admitted. Same operator as
    decontamination with roles swapped — the stored side reduces to a
    DISTINCT gram index (written once at ingest in production), the
    batch pays one equi-join; per-batch cost is O(batch), the corpus is
    never re-paired."""
    docs = _ts(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 4
    return D.cross_corpus_contamination_spans(
        docs.filter(is_new), docs.filter(~is_new), "doc_id", "text", k=8
    ).select("doc_id", "span_start", "span_end", "n_tokens")


ORACLE_CORPUS_SUBSTRING_INCREMENTAL = r"""
WITH tk AS (
  SELECT doc_id, {toks} AS toks FROM documents),
newg AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM tk, unnest(generate_series(1, CAST(len(toks) - 7 AS INT))) AS u(i)
  WHERE len(toks) >= 8 AND doc_id % 5 = 4),
oldg AS (
  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM tk, unnest(generate_series(1, CAST(len(toks) - 7 AS INT))) AS u(i)
  WHERE len(toks) >= 8 AND doc_id % 5 <> 4),
marked AS (
  SELECT doc_id, pos FROM newg JOIN oldg USING (gram)),
lagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM marked),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM lagged)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS n_tokens
FROM grp GROUP BY doc_id, g
""".replace("{toks}", _DD_TOKENS.format(c="text"))


def q_corpus_substring_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-substring dedup headline: one row with total
    tokens, tokens inside duplicated >=8-token spans, affected document
    count, and the corpus duplication rate — the number a curation run
    reports before deciding whether span-removal is worth a rewrite
    pass. Derived from `substring_dup_rate` (disjoint spans, exact
    sums)."""
    docs = _ts(spark, sf_dir, "documents")
    rates = D.substring_dup_rate(docs, "doc_id", "text", k=8)
    return rates.agg(
        F.sum("doc_tokens").cast("long").alias("total_tokens"),
        F.sum("dup_tokens").cast("long").alias("dup_tokens"),
        F.sum((F.col("dup_tokens") > 0).cast("int"))
        .cast("long")
        .alias("docs_affected"),
        F.round(
            F.sum("dup_tokens") / F.greatest(F.sum("doc_tokens"), F.lit(1)),
            6,
        ).alias("dup_rate"),
    )


ORACLE_CORPUS_SUBSTRING_SUMMARY = (
    _SUBSTRING_SPANS_CTE.format(toks=_DD_TOKENS.format(c="text"))
    + r"""
, covered AS (
  SELECT doc_id, SUM(span_end - span_start + 1) AS dup_tokens
  FROM spans GROUP BY doc_id),
per AS (
  SELECT t.doc_id, len(toks) AS doc_tokens, COALESCE(dup_tokens, 0) AS dup_tokens
  FROM tk t LEFT JOIN covered c USING (doc_id))
SELECT CAST(SUM(doc_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens,
       CAST(SUM(CASE WHEN dup_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_affected,
       round(SUM(dup_tokens) / CAST(greatest(SUM(doc_tokens), 1) AS DOUBLE), 6)
         AS dup_rate
FROM per
"""
)


def q_corpus_substring_dedup_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keep-first exact substring dedup plan (operators/dedup.py
    substring_dup_spans_keep_first — the actual Lee et al. 2022 removal
    policy): spans covering only NON-FIRST occurrences of duplicated
    8-token shingles, so stripping them keeps exactly one copy of every
    passage. The occurrence rank rides the same gram-partitioned window
    as the occurrence count — no extra shuffle over
    `corpus_substring_spans`."""
    docs = _ts(spark, sf_dir, "documents")
    return D.substring_dup_spans_keep_first(
        docs, "doc_id", "text", k=8
    ).select("doc_id", "span_start", "span_end", "n_tokens")


ORACLE_CORPUS_SUBSTRING_DEDUP_PLAN = r"""
WITH tk AS (
  SELECT doc_id, {toks} AS toks FROM documents),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM tk, unnest(generate_series(1, CAST(len(toks) - 7 AS INT))) AS u(i)
  WHERE len(toks) >= 8),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           COUNT(*) OVER (PARTITION BY gram) AS occ,
           row_number() OVER (PARTITION BY gram
                              ORDER BY doc_id, pos) AS rn
    FROM grams)
  WHERE occ >= 2 AND rn >= 2),
lagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM marked),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM lagged)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS n_tokens
FROM grp GROUP BY doc_id, g
""".replace("{toks}", _DD_TOKENS.format(c="text"))


def q_domain_temperature_sampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-balanced domain mixing (the multilingual-sampling
    p_i ∝ n_i^α rule, α = 1/2): per source, its document count, its
    α-tempered mixing weight, and the target document count for a
    rebalanced corpus of the same total size — small domains up-weighted,
    head domains down-weighted, the standard alternative to DSIR when no
    target distribution exists. α = 1/2 on purpose: sqrt is correctly
    rounded in IEEE (bit-identical across engines) where pow(x, 0.7) is
    not; per-domain weights are quantized to 1e-9 integers BEFORE the
    denominator sum (the batch_psi idiom), so the total is order-free
    exact integer arithmetic — no unpartitioned window, no
    summation-order dependence. |domains|-row arithmetic after one count
    aggregation."""
    per = (
        _ts(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    wq = F.round(F.sqrt(F.col("n_docs").cast("double")) * 1e9, 0).cast(
        "long"
    )
    q = per.withColumn("__wq", wq)
    tot = q.agg(
        F.sum("__wq").cast("long").alias("__wtot"),
        F.sum("n_docs").cast("long").alias("__ntot"),
    )
    frac = F.col("__wq").cast("double") / F.col("__wtot").cast("double")
    return (
        q.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(frac, 6).alias("weight"),
            F.floor(F.col("__ntot") * frac).cast("long").alias("target_docs"),
        )
        .orderBy("source")
    )


ORACLE_DOMAIN_TEMPERATURE_SAMPLING = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
q AS (
  SELECT source, n_docs,
         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e9, 0) AS BIGINT) AS wq
  FROM per),
tot AS (SELECT SUM(wq) AS wtot, SUM(n_docs) AS ntot FROM q)
SELECT source, n_docs,
       round(CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE), 6) AS weight,
       CAST(floor(ntot * (CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE)))
         AS BIGINT) AS target_docs
FROM q CROSS JOIN tot
ORDER BY source
"""


def q_doc_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering with round-robin domain interleaving
    (operators/sampling.py curriculum_interleave): within each source
    docs rank by quality DESC (best first), and the loader key strides
    sources round-robin (src_rank · n_sources + source_index) so
    consecutive batches always mix domains — quality-paced curriculum
    without hot-spotting one source. One source-partitioned window; the
    source index is bounded driver state (sorted distinct sources)."""
    docs = _ts(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.round(X.quality_score("text"), 6).alias("q6"),
    )
    return SP.curriculum_interleave(docs, "doc_id", "q6", "source")


ORACLE_DOC_CURRICULUM_INTERLEAVE = r"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct
  FROM documents),
m AS (
  SELECT doc_id, source, len(toks) AS nt, n_chars, n_punct,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM t),
q AS (
  SELECT doc_id, source,
         round((least(n_chars / 500.0, 1.0) * 0.4
           + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
           + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
           * (CASE WHEN nt > 0 THEN 1.0 ELSE 0.0 END), 6) AS q6
  FROM m),
r AS (
  SELECT doc_id, source, q6,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY q6 DESC, doc_id) - 1 AS BIGINT)
           AS src_rank,
         CAST(dense_rank() OVER (ORDER BY source) - 1 AS BIGINT) AS gi
  FROM q)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, q6, src_rank,
       CAST(src_rank * (SELECT COUNT(DISTINCT source) FROM documents) + gi
            AS BIGINT) AS curriculum_pos
FROM r
"""


def q_doc_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/sampling.py
    global_shuffle_order): every document's total position in the
    md5-shuffled training order plus its round-robin output shard — the
    order + striping a distributed data loader consumes. The oracle is
    the naive global ``row_number() OVER (ORDER BY md5)``; the engine
    computes the SAME total order as 256 bucket-partitioned windows plus
    broadcast cumulative offsets (bucket-major IS hash order), so no
    task ever sees more than ~1/256 of the corpus — the distributed
    global-rank idiom, machine-checked equal to the naive form."""
    docs = _ts(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return SP.global_shuffle_order(docs, "doc_id", n_shards=8)


ORACLE_DOC_TRAIN_ORDER = """
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(concat('shuf:', CAST(CAST(doc_id AS BIGINT) AS VARCHAR))) AS hh
  FROM documents),
r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY hh, doc_id) - 1 AS BIGINT)
           AS shuffle_pos
  FROM h)
SELECT doc_id, shuffle_pos,
       CAST(shuffle_pos % 8 AS BIGINT) AS shard
FROM r
"""


_EPOCH_BUDGET_MULT = 2  # train-token budget as a multiple of corpus tokens
_EPOCH_CAP = 4.0  # beyond ~4 epochs repeated data stops helping (data-
#                   constrained scaling, Muennighoff et al. 2023)


def q_source_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training allocation (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): given a train-token
    budget of 2× the corpus, split it across sources by the α=1/2
    temperature weights (the `domain_temperature_sampling` rule applied
    to TOKEN mass), convert each source's share to EPOCHS over its
    unique tokens, cap at 4 epochs (where repetition stops helping), and
    report the tokens actually served under the cap — the per-source
    repetition plan a budgeted pretraining run executes.

    Determinism contract: sqrt is IEEE-correctly-rounded (bit-identical
    across engines); per-source weights quantize to 1e-9 integers BEFORE
    the denominator sum (order-free exact integer arithmetic); epochs
    and served tokens derive from exact integer budgets. One count
    aggregation + |sources|-row arithmetic, one-row broadcast attach."""
    from beacon_indexer_spark.operators import text as TX

    per = (
        _ts(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(TX.token_count(F.col("text")))
            .cast("long")
            .alias("tokens")
        )
    )
    wq = F.round(F.sqrt(F.col("tokens").cast("double")) * 1e9, 0).cast("long")
    q = per.withColumn("__wq", wq)
    tot = q.agg(
        F.sum("__wq").cast("long").alias("__wtot"),
        F.sum("tokens").cast("long").alias("__ntot"),
    )
    frac = F.col("__wq").cast("double") / F.col("__wtot").cast("double")
    budget = F.floor(
        F.col("__ntot") * F.lit(float(_EPOCH_BUDGET_MULT)) * frac
    ).cast("long")
    j = q.crossJoin(F.broadcast(tot)).withColumn("budget_tokens", budget)
    epochs_raw = F.col("budget_tokens").cast("double") / F.greatest(
        F.col("tokens"), F.lit(1)
    ).cast("double")
    epochs = F.least(epochs_raw, F.lit(_EPOCH_CAP))
    served = F.least(
        F.col("budget_tokens").cast("double"),
        F.col("tokens").cast("double") * F.lit(_EPOCH_CAP),
    )
    return j.select(
        "source",
        "tokens",
        F.round(frac, 6).alias("weight"),
        "budget_tokens",
        F.round(epochs, 6).alias("epochs"),
        F.floor(served).cast("long").alias("served_tokens"),
        (F.col("budget_tokens") - F.floor(served))
        .cast("long")
        .alias("unfilled_tokens"),
    ).orderBy("source")


ORACLE_SOURCE_EPOCH_ALLOCATION = rf"""
WITH per AS (
  SELECT source,
         CAST(SUM(len({_DD_TOKENS.format(c="text")})) AS BIGINT) AS tokens
  FROM documents GROUP BY 1),
q AS (
  SELECT source, tokens,
         CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e9, 0) AS BIGINT) AS wq
  FROM per),
tot AS (SELECT SUM(wq) AS wtot, SUM(tokens) AS ntot FROM q),
j AS (
  SELECT source, tokens,
         CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE) AS frac,
         CAST(floor(ntot * {float(_EPOCH_BUDGET_MULT)!r}
                    * (CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE)))
              AS BIGINT) AS budget_tokens
  FROM q CROSS JOIN tot),
e AS (
  SELECT *,
         least(CAST(budget_tokens AS DOUBLE)
               / CAST(greatest(tokens, 1) AS DOUBLE), {_EPOCH_CAP!r}) AS epochs,
         least(CAST(budget_tokens AS DOUBLE),
               CAST(tokens AS DOUBLE) * {_EPOCH_CAP!r}) AS served
  FROM j)
SELECT source, tokens,
       round(frac, 6) AS weight,
       budget_tokens,
       round(epochs, 6) AS epochs,
       CAST(floor(served) AS BIGINT) AS served_tokens,
       CAST(budget_tokens - floor(served) AS BIGINT) AS unfilled_tokens
FROM e
ORDER BY source
"""


def q_corpus_decontamination_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination (`CurationRun.contamination_spans`, over
    operators/dedup.py cross_corpus_contamination_spans): documents from
    source 'src0' play the held-out evaluation set; every span in the
    REST of the corpus covered by an 8-token shingle that appears
    anywhere in src0 is flagged for removal before training. The test
    side reduces to a DISTINCT gram set (bounded by the benchmark size);
    the train side pays one equi-join — strictly cheaper than full
    substring dedup, no self-pairing anywhere."""
    return _src0_curation(spark, sf_dir).contamination_spans()


_DECON_SPANS_CTE = r"""
WITH tk AS (
  SELECT doc_id, source, {toks} AS toks FROM documents),
trgrams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM tk, unnest(generate_series(1, CAST(len(toks) - 7 AS INT))) AS u(i)
  WHERE len(toks) >= 8 AND source <> 'src0'),
tegrams AS (
  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM tk, unnest(generate_series(1, CAST(len(toks) - 7 AS INT))) AS u(i)
  WHERE len(toks) >= 8 AND source = 'src0'),
marked AS (
  SELECT doc_id, pos FROM trgrams JOIN tegrams USING (gram)),
lagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM marked),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM lagged),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
  FROM grp GROUP BY doc_id, g)
"""

ORACLE_CORPUS_DECONTAMINATION_SPANS = (
    _DECON_SPANS_CTE.format(toks=_DD_TOKENS.format(c="text"))
    + r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(span_end AS BIGINT) AS span_end,
       CAST(span_end - span_start + 1 AS BIGINT) AS n_tokens
FROM spans
"""
)


def q_corpus_decontaminated_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span REMOVAL applied (operators/dedup.py strip_spans over
    `CurationRun.contamination_spans`): the train corpus with every
    src0-contaminated span stripped — per doc the
    original/kept token counts and the md5 of the reconstructed clean
    text, which pins the rebuilt string byte-for-byte against the
    oracle's independent reconstruction (positions → anti-range filter →
    ordered string_agg). One HOF filter per doc, tokens never explode on
    the Spark side."""
    run = _src0_curation(spark, sf_dir)
    out = D.strip_spans(run.docs, run.contamination_spans(), "doc_id", "text")
    return out.select(
        "doc_id",
        "orig_tokens",
        "kept_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


ORACLE_CORPUS_DECONTAMINATED_STATS = (
    _DECON_SPANS_CTE.format(toks=_DD_TOKENS.format(c="text"))
    + r"""
, posns AS (
  SELECT t.doc_id, u.i, t.toks[u.i] AS tok, len(t.toks) AS n
  FROM tk t, unnest(generate_series(1, CAST(len(t.toks) AS INT))) AS u(i)
  WHERE t.source <> 'src0'),
kept AS (
  SELECT p.doc_id, p.i, p.tok, p.n
  FROM posns p
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = p.doc_id
      AND p.i - 1 BETWEEN s.span_start AND s.span_end))
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(len(t.toks) AS BIGINT) AS orig_tokens,
       CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept_tokens,
       md5(COALESCE(k.txt, '')) AS clean_md5
FROM tk t
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS kept,
         string_agg(tok, ' ' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id) k ON k.doc_id = t.doc_id
WHERE t.source <> 'src0'
"""
)


def q_doc_contamination_verdict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document decontamination ACTION
    (`CurationRun.contamination_verdict`, on top of
    `corpus_decontamination_spans`): every train doc
    gets a total verdict from its src0-contaminated token fraction —
    'keep' (< 5% contaminated), 'trim' (5-50%: strip the spans, keep the
    rest), 'drop' (> 50%: mostly benchmark text). The span aggregation
    is a per-doc sum of disjoint maximal runs (exact); docs with no
    contamination report rate 0 through the left join."""
    return _src0_curation(spark, sf_dir).contamination_verdict()


ORACLE_DOC_CONTAMINATION_VERDICT = (
    _DECON_SPANS_CTE.format(toks=_DD_TOKENS.format(c="text"))
    + r"""
, covered AS (
  SELECT doc_id, SUM(span_end - span_start + 1) AS contam_tokens
  FROM spans GROUP BY doc_id)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(len(toks) AS BIGINT) AS doc_tokens,
       CAST(COALESCE(contam_tokens, 0) AS BIGINT) AS contam_tokens,
       round(COALESCE(contam_tokens, 0)
             / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS contam_rate,
       CASE WHEN COALESCE(contam_tokens, 0)
                 / CAST(greatest(len(toks), 1) AS DOUBLE) > 0.5 THEN 'drop'
            WHEN COALESCE(contam_tokens, 0)
                 / CAST(greatest(len(toks), 1) AS DOUBLE) >= 0.05 THEN 'trim'
            ELSE 'keep' END AS verdict
FROM tk t LEFT JOIN covered c USING (doc_id)
WHERE t.source <> 'src0'
"""
)


def q_corpus_decontamination_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row corpus headline for the decontamination family (the
    `corpus_dedup_summary` convention): keep/trim/drop document counts,
    affected-doc count, and the contaminated-token share of the training
    corpus — the numbers a curation run reports before deciding whether
    span-stripping is worth a rewrite. One aggregate over the per-doc
    verdict (`CurationRun.contamination_verdict`): everything after the
    gram equi-join is |train docs| rows into one row."""
    per_doc = _src0_curation(spark, sf_dir).contamination_verdict()
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum((F.col("verdict") == v).cast("int")).cast("long").alias(f"n_{v}")
            for v in ("keep", "trim", "drop")
        ],
        F.sum((F.col("contam_tokens") > 0).cast("int"))
        .cast("long")
        .alias("docs_affected"),
        F.sum("doc_tokens").cast("long").alias("total_tokens"),
        F.sum("contam_tokens").cast("long").alias("contam_tokens"),
        F.round(
            F.sum("contam_tokens").cast("double")
            / F.greatest(F.sum("doc_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("contam_token_share"),
    )


ORACLE_CORPUS_DECONTAMINATION_SUMMARY = (
    _DECON_SPANS_CTE.format(toks=_DD_TOKENS.format(c="text"))
    + r"""
, covered AS (
  SELECT doc_id, SUM(span_end - span_start + 1) AS contam_tokens
  FROM spans GROUP BY doc_id),
per_doc AS (
  SELECT len(toks) AS doc_tokens,
         COALESCE(contam_tokens, 0) AS ct,
         CASE WHEN COALESCE(contam_tokens, 0)
                   / CAST(greatest(len(toks), 1) AS DOUBLE) > 0.5 THEN 'drop'
              WHEN COALESCE(contam_tokens, 0)
                   / CAST(greatest(len(toks), 1) AS DOUBLE) >= 0.05 THEN 'trim'
              ELSE 'keep' END AS verdict
  FROM tk t LEFT JOIN covered c USING (doc_id)
  WHERE t.source <> 'src0')
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN verdict = 'trim' THEN 1 ELSE 0 END) AS BIGINT) AS n_trim,
       CAST(SUM(CASE WHEN verdict = 'drop' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop,
       CAST(SUM(CASE WHEN ct > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
       CAST(SUM(doc_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(ct) AS BIGINT) AS contam_tokens,
       round(CAST(SUM(ct) AS DOUBLE)
             / CAST(greatest(SUM(doc_tokens), 1) AS DOUBLE), 6)
         AS contam_token_share
FROM per_doc
"""
)


def q_nation_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): for every
    'gear' line item, profit = revenue − supply cost, rolled up by the
    supplier's nation and the order year. The five-way join is planned
    as: lineitem ⋈ derived-partsupp on (partkey, suppkey) — both sides
    shuffle on the SAME keys (partsupp is the lineitem distinct, so the
    join is co-partitioned), the part filter and the supplier→nation
    attach broadcast, and only the orders join shuffles a second key.
    Profit stays decimal-exact in CENTS (revenue·100 − cost_cents·qty —
    no decimal division anywhere); one double division by 100 at
    output."""
    # keyed spread: co-partitions with the partsupp join (§2.4)
    li = _ts(spark, sf_dir, "lineitem", by=("l_partkey", "l_suppkey")).select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    gear = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("gear"))
        .select("p_partkey")
    )
    supp_nat = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    ps = _derived_partsupp(spark, sf_dir).select(
        "ps_partkey", "ps_suppkey", "ps_supplycost_cents"
    )
    profit_cents = (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
        * 100
        - F.col("ps_supplycost_cents").cast("decimal(38,0)")
        * F.col("l_quantity").cast(_DEC)
    )
    return (
        li.join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(F.sum(profit_cents).alias("__p"))
        .select(
            "nation",
            "o_year",
            (F.col("__p").cast("double") / 100).alias("sum_profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE_NATION_PRODUCT_PROFIT = f"""
WITH {_ORACLE_PARTSUPP_CTE}
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                * 100
                - CAST(ps_supplycost_cents AS DECIMAL(38,0))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / 100
         AS sum_profit
FROM lineitem
JOIN (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%') p
  ON l_partkey = p_partkey
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (COUNT DISTINCT + NOT-IN anti-subquery): how many
    qualified suppliers stock each (brand, type, size) combination,
    excluding 'complaint' suppliers (negative account balance stands in
    for the comment scan — same anti-join shape). The NOT IN
    decorrelates to a broadcast LEFT ANTI join (the excluded supplier
    set is tiny); the part attribute filter broadcasts; the only
    shuffle is the final distinct-count aggregation."""
    ps = _derived_partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    parts = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").startswith("PROMO"))
            & (F.col("p_size").isin(1, 3, 5, 7))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("ps_suppkey"))
    )
    return (
        ps.join(F.broadcast(parts), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad), "ps_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


ORACLE_PART_SUPPLIER_COUNTS = f"""
WITH {_ORACLE_PARTSUPP_CTE}
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 3, 5, 7)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_embedding_stream_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index-freshness monitor (streaming/drift.py
    ann_recall_monitor): vectors with vec_id % 5 == 4 play the incoming
    micro-batch, the rest are the corpus the IVF index was FITTED on
    (k=8 md5-deterministic centroids). The batch is searched through the
    probe-limited index (nprobe=2) and recall@5 is scored against the
    batch-exact top-5 — one (n_queries, mean_recall, verdict) row, the
    drift.py fit-once/score-per-batch contract applied to retrieval
    quality. The streaming parity test
    (tests/test_stateful_stream.py::test_streaming_ann_recall_monitor)
    asserts per-micro-batch foreachBatch rows equal this batch shape."""
    from beacon_indexer_spark.streaming.drift import ann_recall_monitor

    emb = _ts(spark, sf_dir, "embeddings").localCheckpoint(
        eager=False
    )
    is_new = F.col("vec_id") % 5 == 4
    corpus = emb.filter(~is_new)
    batch = emb.filter(is_new)
    cents = S.ivf_centroids(corpus, k=8)
    return ann_recall_monitor(
        corpus, cents, batch, k=5, nprobe=2, max_queries=100
    )


def _oracle_embedding_stream_recall_sql(
    k: int = 8, nprobe: int = 2, topk: int = 5, max_queries: int = 100
) -> str:
    """DuckDB mirror of q_embedding_stream_recall: centroids md5-sampled
    from the CORPUS subset only, the `-2·v·c + ||c||²` assignment for
    corpus lists (rk=1) and query probes (rk<=nprobe), exact cosine on
    probed candidates and on the brute-force control, and the identical
    Σhits/(n·topk) recall + verdict fences."""
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    dot_vc = fold.format(
        arr="list_transform(generate_series(1, len(v.embedding)),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i])"
    )
    sq_c = fold.format(arr="list_transform(c.cv, x -> x * x)")
    dot_qv = fold.format(
        arr="list_transform(generate_series(1, len(qe.embedding)),"
        " i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ve.embedding[i] AS DOUBLE))"
    )
    norm = (
        "sqrt("
        + fold.format(
            arr="list_transform({e}.embedding,"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        + ")"
    )
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id % 5 <> 4
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}),
qsamp AS (
  SELECT vec_id FROM embeddings WHERE vec_id % 5 = 4
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {max_queries}),
assigned AS (
  SELECT v.vec_id, v.vec_id % 5 = 4 AS is_new, c.cid,
         -({dot_vc}) * 2 + ({sq_c}) AS d2
  FROM embeddings v CROSS JOIN cents c
  WHERE v.vec_id % 5 <> 4 OR v.vec_id IN (SELECT vec_id FROM qsamp)),
ranked AS (
  SELECT vec_id, is_new, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
  FROM assigned),
vlist AS (SELECT vec_id AS neighbor_id, cid FROM ranked
          WHERE rk = 1 AND NOT is_new),
qlist AS (SELECT vec_id AS query_id, cid FROM ranked
          WHERE rk <= {nprobe} AND is_new),
pairs AS (
  SELECT DISTINCT q.query_id, vl.neighbor_id
  FROM qlist q JOIN vlist vl ON q.cid = vl.cid),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, p.neighbor_id,
           row_number() OVER (PARTITION BY p.query_id ORDER BY
             ({dot_qv}) / (({norm.format(e='qe')}) * ({norm.format(e='ve')}))
               DESC, p.neighbor_id ASC) AS rank
    FROM pairs p
    JOIN embeddings qe ON qe.vec_id = p.query_id
    JOIN embeddings ve ON ve.vec_id = p.neighbor_id)
  WHERE rank <= {topk}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qe.vec_id AS query_id, ve.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qe.vec_id ORDER BY
             ({dot_qv}) / (({norm.format(e='qe')}) * ({norm.format(e='ve')}))
               DESC, ve.vec_id ASC) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id IN (SELECT vec_id FROM qsamp)) qe
    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 5 <> 4) ve)
  WHERE rank <= {topk}),
hits AS (
  SELECT COUNT(*) AS n_hits
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
nq AS (SELECT COUNT(*) AS n_queries FROM qsamp)
SELECT CAST(n_queries AS BIGINT) AS n_queries,
       round(CASE WHEN n_queries > 0
                  THEN CAST(n_hits AS DOUBLE) / (n_queries * {topk})
                  ELSE 0.0 END, 6) AS mean_recall,
       CASE WHEN n_queries = 0 THEN 'empty'
            WHEN CAST(n_hits AS DOUBLE) / (n_queries * {topk}) >= 0.9
              THEN 'healthy'
            WHEN CAST(n_hits AS DOUBLE) / (n_queries * {topk}) >= 0.6
              THEN 'degraded'
            ELSE 'stale' END AS verdict
FROM nq CROSS JOIN hits
"""


def q_similarity_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over RESIDUALS — the production FAISS ``IVFx,PQy`` layout
    (operators/similarity.py ivfpq_residual_topk, composed from the
    audited ivf_assign + pq_residual_codebooks halves): the corpus is
    bucketed into 8 coarse inverted lists, reduced to residuals against
    the list centroid, PQ-encoded with residual-trained codebooks
    (m=8, k=16), and the 5 probe queries scan only their nprobe=2
    nearest lists by asymmetric distance over PER-LIST query residuals.
    The coarse quantizer is kmeans-FITTED (2 Lloyd rounds from md5
    seeds, the q_embedding_kmeans trajectory) — fitted centroids are
    what makes residuals small (measured on this corpus: recall@5 0.175
    fitted vs 0.075 plain PQ at equal bits; raw md5-sample centroids
    leave residual MSE WORSE than plain). Oracle re-derives the Lloyd
    trajectory, the residual codebook sample, the (d2, j)-tie-broken
    subspace encoding, and the sequential-fold ADC in DuckDB SQL; recall
    dominance over plain PQ at equal bits is asserted in
    tests/test_ivfpq_residual.py."""
    from beacon_indexer_spark.operators.clustering import kmeans_centroids

    # lazy checkpoint: the Lloyd fit + codebook sample + encode + probe
    # chain issues ~8 driver-blocking jobs over this frame — one
    # materialized scan serves them all instead of re-reading parquet
    emb = _ts(spark, sf_dir, "embeddings").localCheckpoint(eager=False)
    # the Lloyd fit and the PQ codebook SAMPLE are independent (the
    # sample is reduced against the fitted centroids only on the driver,
    # after both exist) — build them from two driver threads so the two
    # serial collect chains interleave (r12, overlap-independent-jobs)
    cents, samp = run_concurrently([
        lambda: kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=2),
        lambda: S.ivf_centroids(emb, "vec_id", "embedding", k=16),
    ], max_workers=2)
    cbs = S.pq_residual_codebooks(
        emb, cents, "vec_id", "embedding", m=8, k=16, sample=samp
    )
    qs = emb.filter(F.col("vec_id") < 5)
    out = S.ivfpq_residual_topk(
        emb, qs, cents, cbs, "vec_id", "embedding", k=5, nprobe=2
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
        "adc_dist",
    )


def q_events_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitters summary (streaming/frequency.py
    mg_merge, PODS'12 mergeable form) run on its batch path: one merge of
    the whole events table at capacity 16 over user_id. Output is the
    bounded summary (key, cnt, err, d_total) with the deterministic
    sandwich cnt <= true <= cnt + err; the STREAMING path (per-micro-batch
    merges of the same algorithm) is parity-tested in
    tests/test_stateful_stream.py. The oracle replays the merge in SQL:
    exact counts, d = (capacity+1)-th largest, subtract-and-drop."""
    from beacon_indexer_spark.streaming.frequency import mg_merge

    e = _t(spark, sf_dir, "events")
    return mg_merge(None, e, "user_id", capacity=16)


ORACLE_EVENTS_HEAVY_HITTERS_MG = """
WITH counts AS (
  SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt
  FROM events GROUP BY 1),
rk AS (
  SELECT *, row_number() OVER (ORDER BY cnt DESC, key ASC) AS r FROM counts),
d AS (SELECT coalesce(max(cnt), 0) AS dv FROM rk WHERE r > 16)
SELECT key,
       CAST(cnt - d.dv AS BIGINT) AS cnt,
       CAST(d.dv AS BIGINT) AS err,
       CAST(d.dv AS BIGINT) AS d_total
FROM rk, d WHERE cnt > d.dv
"""


def _oracle_similarity_ivfpq_residual_sql(
    kc: int = 8, iters: int = 2, m: int = 8, k: int = 16, sub: int = 8,
    nprobe: int = 2, topk: int = 5,
) -> str:
    """DuckDB mirror of q_similarity_ivfpq_residual. Every float op
    replays Spark's order exactly: the coarse quantizer re-runs the
    _oracle_embedding_kmeans_sql Lloyd trajectory (md5 seeds, means
    rounded to 6 decimals between iterations — the cross-engine
    determinism contract); centroid assignment is the same
    `-2·v·c + ||c||²` sequential fold with (d2, cid) tie-break; residuals
    are elementwise double subtraction (exact in IEEE); subspace encoding
    is the (d2, j) argmin over the SAME md5-sampled residual codebook;
    and the ADC sum folds per-subspace distances in ascending-s order,
    matching the engine's aggregate(sequence(0, m-1), ...) accumulation."""
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    # --- fitted coarse centroids: the q_embedding_kmeans CTE chain ---
    kdot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(generate_series(1, CAST(len(e.embedding) AS INT)),"
        " t -> CAST(e.embedding[t] AS DOUBLE) * c.cv[t])), (a, b) -> a + b)"
    )
    knormsq = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(c.cv, x -> x * x)), (a, b) -> a + b)"
    )
    kassign = (
        "SELECT vec_id, j AS cluster FROM (\n"
        "    SELECT e.vec_id, c.j,\n"
        f"           row_number() OVER (PARTITION BY e.vec_id ORDER BY\n"
        f"             ((-({kdot})) * 2 + {knormsq}) ASC, c.j ASC) AS rk\n"
        "    FROM embeddings e, {cents} c) WHERE rk = 1"
    )
    kparts = [
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS j,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {kc})"""
    ]
    for it in range(iters):
        kparts.append(f"ka{it} AS (\n  " + kassign.format(cents=f"c{it}") + ")")
        kparts.append(
            f"""ku{it} AS (
  SELECT a.cluster AS j, x.pos, round(avg(x.v), 6) AS m
  FROM ka{it} a JOIN (
    SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings) x USING (vec_id)
  GROUP BY 1, 2)"""
        )
        kparts.append(
            f"""c{it + 1} AS (
  SELECT p.j, coalesce(n.cv, p.cv) AS cv
  FROM c{it} p LEFT JOIN (
    SELECT j, list(m ORDER BY pos) AS cv FROM ku{it} GROUP BY 1) n USING (j))"""
        )
    kmeans_chain = ",\n".join(kparts)
    dot_vc = fold.format(
        arr="list_transform(generate_series(1, len(v.embedding)),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i])"
    )
    sq_c = fold.format(arr="list_transform(c.cv, x -> x * x)")
    residual = (
        "list_transform(generate_series(1, len(e.embedding)),"
        " i -> CAST(e.embedding[i] AS DOUBLE) - c.cv[i])"
    )
    enc_term = f"(v.rv[subs.s * {sub} + t] - sp.rv[subs.s * {sub} + t])"
    dq_term = f"(q.rv[subs.s * {sub} + t] - sp.rv[subs.s * {sub} + t])"
    enc_d2 = fold.format(
        arr=f"list_transform(generate_series(1, {sub}),"
        f" t -> {enc_term} * {enc_term})"
    )
    dq_d2 = fold.format(
        arr=f"list_transform(generate_series(1, {sub}),"
        f" t -> {dq_term} * {dq_term})"
    )
    adc_sum = fold.format(arr="list(dq.d2 ORDER BY dq.s)")
    return f"""
WITH {kmeans_chain},
cents AS (SELECT j AS cid, cv FROM c{iters}),
assigned AS (
  SELECT v.vec_id, c.cid, -({dot_vc}) * 2 + ({sq_c}) AS d2
  FROM embeddings v CROSS JOIN cents c),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
  FROM assigned),
samp AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(e.vec_id AS VARCHAR))) - 1 AS j,
         {residual} AS rv
  FROM embeddings e
  JOIN ranked r ON r.vec_id = e.vec_id AND r.rk = 1
  JOIN cents c ON c.cid = r.cid
  ORDER BY md5(CAST(e.vec_id AS VARCHAR)) LIMIT {k}),
vres AS (
  SELECT e.vec_id AS neighbor_id, r.cid AS ivf_list, {residual} AS rv
  FROM embeddings e
  JOIN ranked r ON r.vec_id = e.vec_id AND r.rk = 1
  JOIN cents c ON c.cid = r.cid),
subs AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
denc AS (
  SELECT v.neighbor_id, v.ivf_list, subs.s, sp.j, {enc_d2} AS d2
  FROM vres v, subs, samp sp),
enc AS (
  SELECT neighbor_id, ivf_list, s, j AS code FROM (
    SELECT neighbor_id, ivf_list, s, j,
           row_number() OVER (PARTITION BY neighbor_id, s
                              ORDER BY d2 ASC, j ASC) AS rk
    FROM denc) WHERE rk = 1),
qres AS (
  SELECT e.vec_id AS query_id, r.cid AS ivf_list, {residual} AS rv
  FROM embeddings e
  JOIN ranked r ON r.vec_id = e.vec_id AND r.rk <= {nprobe}
  JOIN cents c ON c.cid = r.cid
  WHERE e.vec_id < 5),
dq AS (
  SELECT q.query_id, q.ivf_list, subs.s, sp.j, {dq_d2} AS d2
  FROM qres q, subs, samp sp),
adc AS (
  SELECT dq.query_id, en.neighbor_id,
         round({adc_sum}, 6) AS adc_dist
  FROM enc en
  JOIN dq ON dq.ivf_list = en.ivf_list AND dq.s = en.s AND dq.j = en.code
  WHERE en.neighbor_id <> dq.query_id
  GROUP BY 1, 2),
final AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, adc_dist
FROM final WHERE rank <= {topk}
"""


def q_customer_untapped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape ('global sales opportunity'): customers whose
    account balance beats the average POSITIVE balance yet placed no
    URGENT-priority order — scalar-subquery threshold + filtered
    anti-join, grouped by nation (the cntrycode grouping; this schema
    carries no phone column — c_nationkey is the country axis, and every
    customer here has SOME order, so the idle predicate is
    priority-scoped to keep the shape non-vacuous). The average is
    compared as an EXACT integer cross-product (bal_cents * n >
    sum_cents), so no float-boundary row can flip between engines; the
    threshold attaches as a broadcast one-row aggregate and the
    no-urgent-orders check is a left_anti hash join with the priority
    filter pushed below it, never a per-row subquery."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("__bc"),
    )
    pos = c.filter(F.col("__bc") > 0).agg(
        F.sum("__bc").cast("long").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    cand = c.crossJoin(F.broadcast(pos)).filter(
        F.col("__bc") * F.col("__n") > F.col("__s")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cand.join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("__bc").cast("double") / 100.0).alias("total_acctbal"),
        )
    )


ORACLE_CUSTOMER_UNTAPPED_BALANCE = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bc
  FROM customer),
pos AS (SELECT SUM(bc) AS s, COUNT(*) AS n FROM c WHERE bc > 0),
cand AS (SELECT c.* FROM c, pos WHERE c.bc * pos.n > pos.s),
noord AS (
  SELECT * FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = cand.c_custkey
                      AND o.o_orderpriority = '1-URGENT'))
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bc) AS DOUBLE) / 100.0 AS total_acctbal
FROM noord GROUP BY 1
"""


_RRF_K = 60.0


def _rank_small(
    df: DataFrame, score_col: str, id_col: str, rank_name: str
) -> DataFrame:
    """Integer rank over a BOUNDED frame without any global window: 1 +
    count of strictly-better rows via a broadcast self-join on the
    (score desc, id asc) total order. Only for frames already capped by
    a limit() — the join is |frame|², which is the point: tiny and
    partition-free instead of a single-task window."""
    b = df.select(
        F.col(score_col).alias("__bs"), F.col(id_col).alias("__bi")
    )
    cond = (F.col("__bs") > F.col(score_col)) | (
        (F.col("__bs") == F.col(score_col)) & (F.col("__bi") < F.col(id_col))
    )
    return (
        df.join(F.broadcast(b), cond, "left")
        .groupBy(id_col, score_col)
        .agg((F.count("__bi") + 1).cast("long").alias(rank_name))
    )


def q_doc_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the lexical arm is
    the BM25 top-20 for the fixed `_BM25_TERMS` query; the semantic arm
    is pseudo-relevance feedback — the mean embedding of the lexical
    top-3 becomes the query vector and ranks the corpus by cosine — and
    the two rankings fuse by RRF (score = Σ 1/(60 + rank), the
    Cormack/Clarke fusion that needs no score calibration across arms).

    100-TB shape: corpus-side work is one term-filtered token pass (BM25)
    plus one narrow cosine map under a broadcast one-row query vector,
    each ending in a TakeOrdered — the rank/fusion stages run on ≤ 20-row
    frames (broadcast self-join ranks, full-outer fuse), so nothing
    downstream of the two scans scales with the corpus. Oracle mirrors
    every stage (same rounded scores, same tie-breaks, same sequential
    folds) in DuckDB SQL."""
    docs = _ts(spark, sf_dir, "documents")
    lex20 = (
        _bm25_per_doc(docs)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.round("__score", 6).alias("__bm"),
        )
        .orderBy(F.desc("__bm"), F.asc("doc_id"))
        .limit(20)
        .localCheckpoint(eager=False)
    )
    # ^ consumed three times (rank self-join ×2, top-3 seed); the barrier
    # keeps the BM25 token pass from re-running per consumer
    lexr = _rank_small(lex20, "__bm", "doc_id", "lex_rank")
    top3 = (
        lex20.orderBy(F.desc("__bm"), F.asc("doc_id")).limit(3)
        .select("doc_id")
    )
    emb = _t(spark, sf_dir, "embeddings")
    zero = F.lit(0.0).cast("double")
    qarr = (
        emb.join(F.broadcast(top3), emb["vec_id"] == F.col("doc_id"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos", "v"),
        )
        .groupBy("pos")
        .agg(
            (
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("doc_id"), F.col("v"))
                        )
                    ),
                    zero,
                    lambda acc, s: acc + s["v"],
                )
                / 3.0
            ).alias("qv")
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("qv")))
                ),
                lambda s: s["qv"],
            ).alias("__q")
        )
    )
    vec = emb.select(
        F.col("vec_id").cast("long").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__e"),
    )
    dot = F.aggregate(
        F.zip_with("__e", "__q", lambda x, y: x * y),
        zero,
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(
            F.transform("__e", lambda x: x * x), zero, lambda a, x: a + x
        )
    )
    nq = F.sqrt(
        F.aggregate(
            F.transform("__q", lambda x: x * x), zero, lambda a, x: a + x
        )
    )
    sem20 = (
        vec.crossJoin(F.broadcast(qarr))
        .select("doc_id", F.round(dot / (nv * nq), 6).alias("__cs"))
        .orderBy(F.desc("__cs"), F.asc("doc_id"))
        .limit(20)
        .localCheckpoint(eager=False)
    )
    semr = _rank_small(sem20, "__cs", "doc_id", "sem_rank")
    lterm = F.when(
        F.col("lex_rank").isNotNull(),
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")),
    ).otherwise(0.0)
    sterm = F.when(
        F.col("sem_rank").isNotNull(),
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")),
    ).otherwise(0.0)
    return (
        lexr.select("doc_id", "lex_rank")
        .join(semr.select("doc_id", "sem_rank"), "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(lterm + sterm, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


def _oracle_doc_hybrid_retrieval_rrf_sql() -> str:
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    dot_eq = fold.format(
        arr="list_transform(generate_series(1, len(e.embedding)),"
        " i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i])"
    )
    sq_e = fold.format(
        arr="list_transform(e.embedding,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    sq_q = fold.format(arr="list_transform(q.qv, x -> x * x)")
    return f"""
WITH {_dd_bm25_per_doc_cte()},
lex AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS bm
  FROM per_doc ORDER BY bm DESC, doc_id LIMIT 20),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm DESC, doc_id) AS lex_rank
  FROM lex),
top3 AS (SELECT doc_id FROM lex ORDER BY bm DESC, doc_id LIMIT 3),
qpos AS (
  SELECT pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(v ORDER BY doc_id)), (a, b) -> a + b) / 3.0 AS qv
  FROM (
    SELECT t.doc_id, generate_subscripts(e.embedding, 1) AS pos,
           CAST(unnest(e.embedding) AS DOUBLE) AS v
    FROM top3 t JOIN embeddings e ON e.vec_id = t.doc_id)
  GROUP BY pos),
qarr AS (SELECT list(qv ORDER BY pos) AS qv FROM qpos),
cos AS (
  SELECT e.vec_id AS doc_id,
         round(({dot_eq}) / (sqrt({sq_e}) * sqrt({sq_q})), 6) AS cs
  FROM embeddings e, qarr q),
sem AS (SELECT doc_id, cs FROM cos ORDER BY cs DESC, doc_id LIMIT 20),
semr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cs DESC, doc_id) AS sem_rank
  FROM sem),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
         round(coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
               + coalesce(1.0 / (60.0 + s.sem_rank), 0.0), 6) AS rrf_score
  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(sem_rank AS BIGINT) AS sem_rank,
       rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
"""


def q_similarity_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: the residual IVF-PQ shortlist (top-20 by ADC over
    compressed codes) re-ranked by EXACT cosine on the shortlisted pairs
    — the production retrieval layout (FAISS shortlist + full-precision
    re-rank). The compressed scan does the corpus work; the exact pass
    touches only |queries| × 20 vectors through two id-equi-joins, so the
    full-precision read never scales with the corpus. Output keeps
    adc_rank next to the final rank so the re-ordering the exact pass
    applied is visible (and oracle-checked)."""
    from beacon_indexer_spark.operators.clustering import kmeans_centroids

    emb = _ts(spark, sf_dir, "embeddings").localCheckpoint(eager=False)
    # ^ same shared-scan barrier as q_similarity_ivfpq_residual, and the
    # same concurrent fit+sample staging (r12, overlap-independent-jobs)
    cents, samp = run_concurrently([
        lambda: kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=2),
        lambda: S.ivf_centroids(emb, "vec_id", "embedding", k=16),
    ], max_workers=2)
    cbs = S.pq_residual_codebooks(
        emb, cents, "vec_id", "embedding", m=8, k=16, sample=samp
    )
    qs = emb.filter(F.col("vec_id") < 5)
    short = S.ivfpq_residual_topk(
        emb, qs, cents, cbs, "vec_id", "embedding", k=20, nprobe=2
    )
    pairs = short.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("adc_rank"),
    )
    qe = emb.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__qe"),
    )
    ve = emb.select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__ve"),
    )
    zero = F.lit(0.0).cast("double")
    dot = F.aggregate(
        F.zip_with("__qe", "__ve", lambda x, y: x * y),
        zero,
        lambda acc, x: acc + x,
    )
    nq = F.sqrt(
        F.aggregate(
            F.transform("__qe", lambda x: x * x), zero, lambda a, x: a + x
        )
    )
    nv = F.sqrt(
        F.aggregate(
            F.transform("__ve", lambda x: x * x), zero, lambda a, x: a + x
        )
    )
    scored = (
        pairs.join(qe, "query_id")
        .join(ve, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_rank",
            F.round(dot / (nq * nv), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "cos_sim",
            "adc_rank",
        )
    )


def _oracle_similarity_ivfpq_rerank_sql(
    shortlist: int = 20, topk: int = 5
) -> str:
    """The residual IVF-PQ oracle (topk=shortlist) nested as a CTE, then
    the exact-cosine re-rank with the same sequential folds and the
    (rounded cos desc, neighbor asc) per-query ordering."""
    inner = _oracle_similarity_ivfpq_residual_sql(topk=shortlist).strip()
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    dot_qv = fold.format(
        arr="list_transform(generate_series(1, len(qe.embedding)),"
        " i -> CAST(qe.embedding[i] AS DOUBLE)"
        " * CAST(ve.embedding[i] AS DOUBLE))"
    )
    norm = (
        "sqrt("
        + fold.format(
            arr="list_transform({e}.embedding,"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        + ")"
    )
    return f"""
WITH short AS (
{inner}
),
rcos AS (
  SELECT s.query_id, s.neighbor_id, s.rank AS adc_rank,
         round(({dot_qv}) / (({norm.format(e='qe')}) * ({norm.format(e='ve')})), 6)
           AS cos_sim
  FROM short s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ve ON ve.vec_id = s.neighbor_id),
rr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM rcos)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, cos_sim,
       CAST(adc_rank AS BIGINT) AS adc_rank
FROM rr WHERE rank <= {topk}
"""


def q_events_user_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate vs the exact count
    (operators/sketches.py): md5-derived 60-bit hashes split into 64
    registers (low 6 bits) and a 54-bit pattern whose leading-zero rank
    feeds MAX per register — the Flajolet/Fuchs/Gandouet/Meunier
    estimator with the small-range (linear-counting) correction.
    Register math is pure integers: the 2^-M harmonic sum accumulates as
    Σ 2^(55-M) in a LONG (exact, order-free — the repo's quantized-sum
    convention) with ONE double division at the end, so both engines
    compute bit-identical registers and estimate. Narrow map + 64-row
    aggregate; the sketch is O(m) state at any corpus size, and the
    register relation is MERGEABLE (per-register MAX) — the streaming
    path in tests/test_stateful_stream.py asserts byte-identical
    batch/stream estimates."""
    from beacon_indexer_spark.operators import sketches as K

    e = _t(spark, sf_dir, "events")
    est = K.hll_estimate(K.hll_registers(e, "user_id", salt=91))
    ex = e.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return est.crossJoin(F.broadcast(ex)).select(
        "n_exact",
        "n_zero_registers",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            4,
        ).alias("rel_err"),
    )


def q_events_user_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates for every user vs exact counts
    (operators/sketches.py cm_cells/cm_query: depth=4 salted hash rows ×
    width=64 columns, exact integer cells). With more users than columns
    every row has collisions, so the upper-bias guarantee does real work:
    the estimate is the MIN over a key's depth cells — always >= the
    true count — and the overcount column shows exactly what collisions
    cost. Cells merge by SUM, so the same sketch accumulates across
    micro-batches (streaming parity asserted in
    tests/test_stateful_stream.py); the shuffle carries depth×width
    cells, never corpus rows."""
    from beacon_indexer_spark.operators import sketches as K

    e = _t(spark, sf_dir, "events")
    # spread ONLY the projected key column across cores: cm_cells fans
    # each key to depth=4 md5 rows — CPU-bound on few input splits, and a
    # full-row repartition would move the whole table to save it
    cells = K.cm_cells(
        _spread_as(e.select("user_id"), spark, sf_dir, "events"), "user_id"
    )
    keys = e.select("user_id").distinct()
    est = K.cm_query(cells, keys, "user_id")
    exact = e.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return est.join(exact, "key").select(
        F.col("key").cast("long").alias("user_id"),
        "n_exact",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("n_exact"))
        .cast("long")
        .alias("overcount"),
    )


def _oracle_events_user_countmin_sql(depth: int = 4, width: int = 64) -> str:
    hcell = _dd_md5_long(
        "concat('23:', CAST(row AS VARCHAR), '|', k)"
    )
    hprobe = _dd_md5_long(
        "concat('23:', CAST(r.row AS VARCHAR), '|', key)"
    )
    return f"""
WITH keyed AS (
  SELECT CAST(user_id AS VARCHAR) AS k,
         unnest(generate_series(0, {depth - 1})) AS row
  FROM events),
cells AS (
  SELECT row, {hcell} % {width} AS col, COUNT(*) AS n
  FROM keyed GROUP BY 1, 2),
keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
probes AS (
  SELECT key, r.row, {hprobe} % {width} AS col
  FROM keys, (SELECT unnest(generate_series(0, {depth - 1})) AS row) r),
est AS (
  SELECT key, MIN(coalesce(c.n, 0)) AS cm_estimate
  FROM probes p LEFT JOIN cells c USING (row, col) GROUP BY 1),
ex AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n_exact
       FROM events GROUP BY 1)
SELECT CAST(key AS BIGINT) AS user_id, CAST(n_exact AS BIGINT) AS n_exact,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - n_exact AS BIGINT) AS overcount
FROM est JOIN ex USING (key)
"""


def _oracle_events_user_hll_sql() -> str:
    from beacon_indexer_spark.operators.sketches import (
        HLL_ALPHA_NUM as _HLL_ALPHA_NUM,
        HLL_M as _HLL_M,
        HLL_POW as _HLL_POW,
    )

    h = _dd_md5_long("concat('91:', CAST(user_id AS VARCHAR))")
    est = (
        f"CASE WHEN ({_HLL_ALPHA_NUM!r} / (CAST(si AS DOUBLE) / {_HLL_POW!r}))"
        f" <= {2.5 * _HLL_M!r} AND vz > 0"
        f" THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(vz AS DOUBLE))"
        f" ELSE ({_HLL_ALPHA_NUM!r} / (CAST(si AS DOUBLE) / {_HLL_POW!r})) END"
    )
    return f"""
WITH hh AS (SELECT {h} AS h FROM events),
regs AS (
  SELECT h % {_HLL_M} AS j,
         CASE WHEN h // {_HLL_M} = 0 THEN 55
              ELSE 55 - length(bin(h // {_HLL_M})) END AS r
  FROM hh),
per AS (SELECT j, MAX(r) AS m FROM regs GROUP BY 1),
spine AS (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS j),
fullr AS (SELECT coalesce(p.m, 0) AS m FROM spine s LEFT JOIN per p USING (j)),
acc AS (
  SELECT SUM(CAST(1 AS BIGINT) << CAST(55 - m AS INT)) AS si,
         SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS vz
  FROM fullr),
ex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
SELECT CAST(ex.n_exact AS BIGINT) AS n_exact,
       CAST(acc.vz AS BIGINT) AS n_zero_registers,
       round({est}, 4) AS hll_estimate,
       round(abs(round({est}, 4) - CAST(ex.n_exact AS DOUBLE))
             / CAST(ex.n_exact AS DOUBLE), 4) AS rel_err
FROM acc, ex
"""


def q_events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deciles from a bottom-k priority sample vs exact deciles
    (operators/sketches.py bottomk_sample: the 256 rows with smallest
    md5(event_id) — a uniform RNG-free sample gathered by TakeOrdered,
    merge-closed so the streaming path accumulates losslessly, asserted
    in tests/test_stateful_stream.py). Both sides use the same discrete
    rule — value at integer rank ceil(q·n) = (q10·n+9) DIV 10, picked
    from a cents histogram via the bounded-fan-in exclusive prefix sum —
    so the comparison isolates SAMPLING error, not rule mismatch. The
    exact side's histogram is |distinct cents|-bounded, never a raw-row
    sort; integer ranks keep both engines bit-identical (no 0.1·n
    float-boundary surprises)."""
    from beacon_indexer_spark.operators import sketches as K

    e = _t(spark, sf_dir, "events")
    samp = K.bottomk_sample(e, "value", "event_id", k=256)
    qf = spark.createDataFrame(
        [(i,) for i in range(1, 10)], "q10 long"
    )

    def deciles(vals: DataFrame, out: str) -> DataFrame:
        hist = vals.groupBy(
            F.round(F.col("value") * 100, 0).cast("long").alias("__k")
        ).agg(F.count(F.lit(1)).cast("long").alias("__f"))
        hist, h = _hist_prefix(hist, "__k", "__f", "__cum")
        tot = hist.agg(F.sum("__f").cast("long").alias("__n"))
        return (
            h.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(qf))
            .filter(
                F.col("__cum") + F.col("__f")
                >= F.expr("CAST((q10 * __n + 9) DIV 10 AS BIGINT)")
            )
            .groupBy("q10")
            .agg((F.min("__k").cast("double") / 100.0).alias(out))
        )

    est = deciles(samp.select("value"), "est")
    exact = deciles(
        e.select(F.col("value").cast("double").alias("value")), "exact"
    )
    return est.join(exact, "q10").select(
        (F.col("q10").cast("double") / 10.0).alias("q"),
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")), 2).alias("abs_err"),
    )


def _oracle_events_value_quantile_sketch_sql(k: int = 256) -> str:
    pri = _dd_md5_long("concat('47:', CAST(event_id AS VARCHAR))")
    return f"""
WITH samp AS (
  SELECT {pri} AS pri, CAST(value AS DOUBLE) AS value
  FROM events ORDER BY pri LIMIT {k}),
qs AS (SELECT unnest(generate_series(1, 9)) AS q10),
eh AS (
  SELECT k, SUM(f) OVER (ORDER BY k) AS cum FROM (
    SELECT CAST(round(value * 100, 0) AS BIGINT) AS k, COUNT(*) AS f
    FROM samp GROUP BY 1)),
en AS (SELECT COUNT(*) AS n FROM samp),
est AS (
  SELECT q.q10, MIN(h.k) AS kk
  FROM eh h, en n, qs q
  WHERE h.cum >= (q.q10 * n.n + 9) // 10 GROUP BY 1),
xh AS (
  SELECT k, SUM(f) OVER (ORDER BY k) AS cum FROM (
    SELECT CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS k,
           COUNT(*) AS f
    FROM events GROUP BY 1)),
xn AS (SELECT COUNT(*) AS n FROM events),
exact AS (
  SELECT q.q10, MIN(h.k) AS kk
  FROM xh h, xn n, qs q
  WHERE h.cum >= (q.q10 * n.n + 9) // 10 GROUP BY 1)
SELECT CAST(e.q10 AS DOUBLE) / 10.0 AS q,
       CAST(e.kk AS DOUBLE) / 100.0 AS est,
       CAST(x.kk AS DOUBLE) / 100.0 AS exact,
       round(abs(CAST(e.kk AS DOUBLE) / 100.0
                 - CAST(x.kk AS DOUBLE) / 100.0), 2) AS abs_err
FROM est e JOIN exact x USING (q10)
"""


def q_events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier (event_type, date,
    value-decade): for each k in {2, 5, 10, 20}, how many quasi-id
    groups and rows sit BELOW the anonymity threshold — the re-ident
    risk read a privacy review runs before releasing event data. One
    |quasi-combos|-bounded aggregation; the 4 thresholds fan out as a
    broadcast literal and re-aggregate map-side."""
    e = _t(spark, sf_dir, "events")
    groups = e.groupBy(
        "event_type",
        F.to_date("ts").alias("__d"),
        F.floor(F.col("value").cast("double") / 10).cast("long").alias("__b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    kf = spark.createDataFrame([(2,), (5,), (10,), (20,)], "k long")
    return (
        groups.crossJoin(F.broadcast(kf))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("__c") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_groups_below"),
            F.sum(F.when(F.col("__c") < F.col("k"), F.col("__c")).otherwise(0))
            .cast("long")
            .alias("n_rows_below"),
            F.sum("__c").cast("long").alias("n_rows_total"),
        )
        .select(
            "k",
            "n_groups_below",
            "n_rows_below",
            F.round(
                F.col("n_rows_below").cast("double") * 100.0
                / F.col("n_rows_total").cast("double"),
                4,
            ).alias("pct_rows_below"),
        )
    )


ORACLE_EVENTS_K_ANONYMITY = """
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(floor(CAST(value AS DOUBLE) / 10) AS BIGINT) AS b,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3),
ks AS (SELECT unnest([2, 5, 10, 20]) AS k)
SELECT CAST(k AS BIGINT) AS k,
       CAST(SUM(CASE WHEN c < k THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
       CAST(SUM(CASE WHEN c < k THEN c ELSE 0 END) AS BIGINT) AS n_rows_below,
       round(CAST(SUM(CASE WHEN c < k THEN c ELSE 0 END) AS DOUBLE) * 100.0
             / CAST(SUM(c) AS DOUBLE), 4) AS pct_rows_below
FROM g, ks GROUP BY 1
"""


def q_user_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 state history from an event stream: each user's run-length
    intervals of consecutive same-type events as (state, valid_from,
    valid_to, n_events) — the slowly-changing-dimension build every
    warehouse does from change events. Two windows, both partitioned by
    user (one ordered pass for run ids, one over the |runs|-bounded
    frame for valid_to); deterministic (ts, event_id) ordering."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = (
        e.withColumn(
            "__run",
            F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(
            F.col("user_id").cast("long").alias("user_id"), F.col("__run")
        )
        .agg(
            F.max("event_type").alias("state"),
            F.min(F.unix_timestamp("ts")).cast("long").alias("valid_from"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("__run")
    return runs.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).cast("long").alias("valid_to"),
        "n_events",
    )


ORACLE_USER_TYPE_SCD2 = """
WITH o AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ets, ts,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
           AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM o),
runs AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, run,
         MAX(event_type) AS state,
         MIN(ets) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM r GROUP BY 1, 2)
SELECT user_id, state, CAST(valid_from AS BIGINT) AS valid_from,
       CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
            AS BIGINT) AS valid_to,
       n_events
FROM runs
"""


def q_embedding_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the IVF index: nDCG@10 of the
    approximate ranking against the exact-cosine ideal, per probe query
    (gains = cos+1 so negative similarities stay monotone; discounts
    1/log2(rank+1)). Complements the recall gate (`embedding_ann_recall`)
    with an order-sensitive metric. DCG sums fold over rank-sorted
    10-element lists (deterministic accumulation); corpus-scale work is
    the two ranking passes, both already audited."""
    emb = _ts(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(emb, k=8)
    queries = emb.filter(F.col("vec_id") < 5)
    # ONE corpus scan for both rankings (r13, §1.2), checkpoint-staged
    # because the two DCG aggregations are separate consumers — the old
    # shape ran ivf_topk + brute_force_topk (two corpus scans, two
    # cosine passes); the surviving frame is <= 2k rows per query.
    pairs = S.ivf_exact_scored(
        emb, queries, cents, k=10, nprobe=2
    ).localCheckpoint(eager=False)
    approx = pairs.filter(
        (F.col("is_cand") == 1) & (F.col("ivf_rank") <= 10)
    ).select(
        "query_id", "neighbor_id", "cos_sim",
        F.col("ivf_rank").alias("rank"),
    )
    exact = pairs.filter(F.col("rank") <= 10)
    zero = F.lit(0.0).cast("double")

    def dcg(df, out):
        return df.groupBy(
            F.col("query_id").cast("long").alias("query_id")
        ).agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("rank").alias("rank"),
                            F.round("cos_sim", 6).alias("g"),
                        )
                    )
                ),
                zero,
                lambda acc, s: acc
                + (s["g"] + 1.0) / F.log2(s["rank"].cast("double") + 1.0),
            ).alias(out)
        )

    a = dcg(approx, "__dcg")
    i = dcg(exact, "__idcg")
    return a.join(i, "query_id").select(
        "query_id",
        F.round("__dcg", 6).alias("dcg"),
        F.round("__idcg", 6).alias("idcg"),
        F.round(F.col("__dcg") / F.col("__idcg"), 6).alias("ndcg"),
    )


def _oracle_embedding_ann_ndcg_sql() -> str:
    approx = _oracle_similarity_ivf_sql(topk=10).strip()
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a,b) -> a + b)"
    )
    dot_qv = fold.format(
        arr="list_transform(generate_series(1, len(qe.embedding)),"
        " i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ve.embedding[i] AS DOUBLE))"
    )
    norm = (
        "sqrt("
        + fold.format(
            arr="list_transform({e}.embedding,"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        + ")"
    )
    # ranks are contiguous 1..10, so the rank-ordered gain list's index
    # IS the rank — no struct needed
    dcg = fold.format(
        arr="list_transform(generate_series(1, len(list(g ORDER BY rank))),"
        " i -> (list(g ORDER BY rank)[i] + 1.0)"
        " / log2(CAST(i AS DOUBLE) + 1.0))"
    )
    return f"""
WITH approx AS (
{approx}
),
ecos AS (
  SELECT qe.vec_id AS query_id, ve.vec_id AS neighbor_id,
         ({dot_qv}) / (({norm.format(e='qe')}) * ({norm.format(e='ve')}))
           AS cos_sim
  FROM embeddings qe, embeddings ve
  WHERE qe.vec_id < 5 AND ve.vec_id <> qe.vec_id),
etk AS (
  SELECT query_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM ecos),
adcg AS (
  SELECT query_id, {dcg} AS dcg
  FROM (SELECT query_id, rank, round(cos_sim, 6) AS g FROM approx)
  GROUP BY 1),
idcg AS (
  SELECT query_id, {dcg} AS dcg
  FROM (SELECT query_id, rank, round(cos_sim, 6) AS g FROM etk
        WHERE rank <= 10)
  GROUP BY 1)
SELECT CAST(a.query_id AS BIGINT) AS query_id,
       round(a.dcg, 6) AS dcg, round(i.dcg, 6) AS idcg,
       round(a.dcg / i.dcg, 6) AS ndcg
FROM adcg a JOIN idcg i USING (query_id)
"""


_SHAPLEY_CHANNELS = ("click", "error", "signup", "view")


def _shapley_terms() -> list[tuple[str, str, str, float]]:
    """(channel, T_key, T∪c_key, weight) for every channel and every
    subset T of the other channels — the exact Shapley enumeration at
    k=4 (8 terms per channel), shared verbatim by the Spark literal
    frame and the oracle VALUES table."""
    import itertools
    import math

    k = len(_SHAPLEY_CHANNELS)
    out = []
    for c in _SHAPLEY_CHANNELS:
        rest = [x for x in _SHAPLEY_CHANNELS if x != c]
        for r in range(len(rest) + 1):
            for t in itertools.combinations(rest, r):
                w = (
                    math.factorial(r)
                    * math.factorial(k - 1 - r)
                    / math.factorial(k)
                )
                tk = ",".join(sorted(t))
                tck = ",".join(sorted(t + (c,)))
                out.append((c, tk, tck, w))
    return out


def q_events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution (the cooperative-game MTA
    standard): each user's coalition = the set of channel types touched
    strictly BEFORE their first purchase (all touches for
    non-converters), v(coalition) = that exact set's conversion rate,
    and each channel's credit is the exact 4-channel Shapley sum —
    coalition values from one |2^k|-bounded rollup, the 32-term
    enumeration shipped as a broadcast literal (shared with the oracle),
    per-term products 1e-9-quantized so the sum is order-free."""
    e = _t(spark, sf_dir, "events")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_timestamp("ts")).alias("__pts"))
    )
    nonp = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("__ets")
    )
    touched = (
        nonp.join(purch, "user_id", "left")
        .filter(F.col("__pts").isNull() | (F.col("__ets") < F.col("__pts")))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set("event_type"))
            ).alias("skey")
        )
    )
    users = (
        e.select("user_id")
        .distinct()
        .join(touched, "user_id", "left")
        .join(purch, "user_id", "left")
        .select(
            F.coalesce("skey", F.lit("")).alias("skey"),
            F.when(F.col("__pts").isNotNull(), 1).otherwise(0).alias("__cv"),
        )
    )
    v = users.groupBy("skey").agg(
        (
            F.sum("__cv").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("v")
    )
    terms = spark.createDataFrame(
        _shapley_terms(), "channel string, tk string, tck string, w double"
    )
    vt = v.select(F.col("skey").alias("tk"), F.col("v").alias("__vt"))
    vtc = v.select(F.col("skey").alias("tck"), F.col("v").alias("__vtc"))
    scored = (
        terms.join(F.broadcast(vt), "tk", "left")
        .join(F.broadcast(vtc), "tck", "left")
        .select(
            "channel",
            F.round(
                F.col("w")
                * (
                    F.coalesce("__vtc", F.lit(0.0))
                    - F.coalesce("__vt", F.lit(0.0))
                )
                * 1e9,
                0,
            )
            .cast("long")
            .alias("__q"),
        )
    )
    return (
        scored.groupBy("channel")
        .agg((F.sum("__q").cast("double") / 1e9).alias("__s"))
        .select("channel", F.round("__s", 6).alias("shapley_value"))
    )


def _oracle_events_shapley_attribution_sql() -> str:
    rows = ",\n    ".join(
        f"('{c}', '{tk}', '{tck}', {w!r})"
        for c, tk, tck, w in _shapley_terms()
    )
    return f"""
WITH purch AS (
  SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS pts
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
touched AS (
  SELECT e.user_id,
         array_to_string(list_sort(list(DISTINCT e.event_type)), ',') AS skey
  FROM events e LEFT JOIN purch p USING (user_id)
  WHERE e.event_type <> 'purchase'
    AND (p.pts IS NULL OR CAST(floor(epoch(e.ts)) AS BIGINT) < p.pts)
  GROUP BY 1),
users AS (
  SELECT coalesce(t.skey, '') AS skey,
         CASE WHEN p.pts IS NOT NULL THEN 1 ELSE 0 END AS cv
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN touched t USING (user_id)
  LEFT JOIN purch p USING (user_id)),
v AS (
  SELECT skey, CAST(SUM(cv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS v
  FROM users GROUP BY 1),
terms(channel, tk, tck, w) AS (VALUES
    {rows}),
scored AS (
  SELECT t.channel,
         CAST(round(t.w * (coalesce(vc.v, 0.0) - coalesce(vt.v, 0.0)) * 1e9,
                    0) AS BIGINT) AS q
  FROM terms t
  LEFT JOIN v vt ON vt.skey = t.tk
  LEFT JOIN v vc ON vc.skey = t.tck)
SELECT channel, round(CAST(SUM(q) AS DOUBLE) / 1e9, 6) AS shapley_value
FROM scored GROUP BY 1
"""


def q_user_session_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-presence matrix: for every user pair, how many of their
    sessions OVERLAP in time and for how many total seconds — the
    bot-ring / shared-device screen. Sessions come from the standard
    gap-1800s run windows; the pairing is the `interval_overlap_join`
    operator (operators/relational.py): hour-bucketed equi-join with the
    claim-bucket dedup (a pair is emitted only in the bucket holding
    max(starts) — both intervals cover that instant, so exactly one
    shared bucket claims it and no distinct shuffle is needed). Never an
    inequality join; per-bucket volume is bounded by concurrent sessions
    per hour."""
    # keyed spread: the sessionize window partitions by user_id, so the
    # spread IS its exchange (§2.4)
    e = _ts(spark, sf_dir, "events", by=("user_id",))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1,
    ).otherwise(0)
    sess = (
        e.withColumn(
            "__run",
            F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(F.col("user_id").cast("long").alias("user_id"), "__run")
        .agg(
            F.min(F.unix_timestamp("ts")).cast("long").alias("s"),
            F.max(F.unix_timestamp("ts")).cast("long").alias("e"),
        )
    )
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    pairs = R.interval_overlap_join(
        a, b, "s_a", "e_a", "s_b", "e_b", bucket=3600
    ).filter(F.col("user_a") < F.col("user_b"))
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.sum(
            F.least("e_a", "e_b") - F.greatest("s_a", "s_b") + 1
        ).cast("long").alias("total_overlap_s"),
    )


ORACLE_USER_SESSION_COPRESENCE = """
WITH o AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS ets,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM o),
sess AS (
  SELECT user_id, run, MIN(ets) AS s, MAX(ets) AS e
  FROM r GROUP BY 1, 2),
p AS (
  SELECT a.user_id AS ua, b.user_id AS ub,
         least(a.e, b.e) - greatest(a.s, b.s) + 1 AS ov
  FROM sess a JOIN sess b
    ON a.user_id < b.user_id
   AND greatest(a.s, b.s) <= least(a.e, b.e))
SELECT CAST(ua AS BIGINT) AS user_a, CAST(ub AS BIGINT) AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_overlaps,
       CAST(SUM(ov) AS BIGINT) AS total_overlap_s
FROM p GROUP BY 1, 2
"""


def q_user_value_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day per-user rollup via a time-RANGE window frame
    (`rangeBetween(-7d, 0)` on epoch seconds) — the value-based frame
    type the surface's row-based frames don't cover; same-second ties
    are frame peers in both engines, so the result is tie-order-free.
    Sums accumulate as exact integer cents inside the frame (float sums
    under a retractable sliding aggregation are order-fragile); ONE
    user-partitioned window."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("ts").alias("__s"),
        F.round(F.col("value") * 100, 0).cast("long").alias("__c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__s")
        .rangeBetween(-7 * 86400, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_7d"),
        F.round(F.sum("__c").over(w).cast("double") / 100.0, 2).alias(
            "sum_7d"
        ),
    )


ORACLE_USER_VALUE_ROLLING_7D = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
       round(CAST(SUM(c) OVER w AS DOUBLE) / 100.0, 2) AS sum_7d
FROM (SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY s
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
"""


_HEAVY_USER_CENTS = 330_000


def q_events_salted_user_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew-mitigation operator in the gated surface
    (operators/skew.py salted_join): events enriched with their user's
    total spend through an 8-way SALTED join — the hot side gets a
    routing salt, the dim replicates 8×, each hot key spreads over 8
    reducers — then per-type rollup of top-spender activity. The salt
    source is nondeterministic ON PURPOSE (only routing changes, results
    don't); the oracle is the PLAIN join, which is exactly the
    correctness claim salting makes."""
    from beacon_indexer_spark.operators.skew import salted_join

    e = _t(spark, sf_dir, "events")
    fact = e.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("__c"),
    )
    dim = fact.groupBy("user_id").agg(
        F.sum("__c").cast("long").alias("__tot")
    )
    joined = salted_join(fact, dim, ["user_id"], n_salts=8)
    return (
        joined.filter(F.col("__tot") > _HEAVY_USER_CENTS)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_heavy_users"),
            F.round(F.sum("__c").cast("double") / 100.0, 2).alias(
                "value_sum"
            ),
        )
    )


ORACLE_EVENTS_SALTED_USER_ENRICH = f"""
WITH f AS (
  SELECT user_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events),
d AS (SELECT user_id, SUM(c) AS tot FROM f GROUP BY 1)
SELECT f.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_heavy_users,
       round(CAST(SUM(f.c) AS DOUBLE) / 100.0, 2) AS value_sum
FROM f JOIN d USING (user_id)
WHERE d.tot > {_HEAVY_USER_CENTS}
GROUP BY 1
"""


def q_customer_returns_above_nation_avg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS Q1 shape: customers whose RETURNED-lineitem revenue exceeds
    1.2× the average returned-revenue of their nation — the
    correlated-scalar-per-GROUP pattern, decorrelated to one per-customer
    rollup + a |nations|-row broadcast average attach. The 1.2× compare
    is EXACT integer arithmetic (revenue kept as cents×(100−disc_cents)
    units; 10·tot·n > 12·sum replaces the float threshold), so no
    boundary row can flip between engines."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("c_nationkey")
    )
    units = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
    )
    per_cust = (
        li.select(F.col("l_orderkey").alias("o_orderkey"), units.alias("__u"))
        .join(o, "o_orderkey")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum("__u").cast("long").alias("__tot"))
        .join(F.broadcast(c), "c_custkey")
    )
    nation = per_cust.groupBy("c_nationkey").agg(
        F.sum("__tot").cast("long").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    return (
        per_cust.join(F.broadcast(nation), "c_nationkey")
        .filter(
            F.col("__tot") * F.col("__n") * 10 > F.col("__s") * 12
        )
        .select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_nationkey",
            F.round(F.col("__tot").cast("double") / 10000.0, 2).alias(
                "ret_revenue"
            ),
            F.round(
                F.col("__s").cast("double")
                / F.col("__n").cast("double")
                / 10000.0,
                2,
            ).alias("nation_avg"),
        )
    )


ORACLE_CUSTOMER_RETURNS_ABOVE_NATION_AVG = """
WITH u AS (
  SELECT l_orderkey,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
         * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS units
  FROM lineitem WHERE l_returnflag = 'R'),
pc AS (
  SELECT o.o_custkey AS c_custkey, SUM(u.units) AS tot
  FROM u JOIN orders o ON o.o_orderkey = u.l_orderkey
  GROUP BY 1),
pcn AS (
  SELECT pc.c_custkey, CAST(c.c_nationkey AS BIGINT) AS c_nationkey, pc.tot
  FROM pc JOIN customer c USING (c_custkey)),
nat AS (
  SELECT c_nationkey, SUM(tot) AS s, COUNT(*) AS n
  FROM pcn GROUP BY 1)
SELECT CAST(p.c_custkey AS BIGINT) AS c_custkey, p.c_nationkey,
       round(CAST(p.tot AS DOUBLE) / 10000.0, 2) AS ret_revenue,
       round(CAST(nat.s AS DOUBLE) / CAST(nat.n AS DOUBLE) / 10000.0, 2)
         AS nation_avg
FROM pcn p JOIN nat USING (c_nationkey)
WHERE p.tot * nat.n * 10 > nat.s * 12
"""


_MMR_LAMBDA = 0.7
_MMR_CAND = 10
_MMR_K = 5


def q_embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell/Goldstein) diversified
    re-rank: exact-cosine top-10 candidates for query vec_id=0, then 5
    greedy picks maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) —
    the classic redundancy-punishing selection between retrieval and
    context assembly. The greedy loop is FIVE chained DataFrame steps
    over ≤10-row frames (lazy localCheckpoint per pick against plan
    blow-up — the Markov/PCA convention), never a driver collect; the
    corpus-scale work is one cosine map + TakeOrdered, exactly the
    brute-force arm's shape. Oracle unrolls the five picks as CTEs with
    the same rounded sims and unrounded-score ordering."""
    emb = _ts(spark, sf_dir, "embeddings")
    zero = F.lit(0.0).cast("double")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("__q")
    )
    vec = emb.select(
        F.col("vec_id").cast("long").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__e"),
    )
    dot = F.aggregate(
        F.zip_with("__e", "__q", lambda x, y: x * y), zero,
        lambda a, x: a + x,
    )
    ne = F.sqrt(F.aggregate(
        F.transform("__e", lambda x: x * x), zero, lambda a, x: a + x))
    nq = F.sqrt(F.aggregate(
        F.transform("__q", lambda x: x * x), zero, lambda a, x: a + x))
    cand = (
        vec.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("doc_id", F.round(dot / (ne * nq), 6).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(_MMR_CAND)
        .localCheckpoint(eager=False)
    )
    a = cand.select(F.col("doc_id").alias("a")).join(
        vec.select(F.col("doc_id").alias("a"), F.col("__e").alias("__ea")),
        "a",
    )
    b = cand.select(F.col("doc_id").alias("b")).join(
        vec.select(F.col("doc_id").alias("b"), F.col("__e").alias("__eb")),
        "b",
    )
    dot_ab = F.aggregate(
        F.zip_with("__ea", "__eb", lambda x, y: x * y), zero,
        lambda a_, x: a_ + x,
    )
    na = F.sqrt(F.aggregate(
        F.transform("__ea", lambda x: x * x), zero, lambda a_, x: a_ + x))
    nb = F.sqrt(F.aggregate(
        F.transform("__eb", lambda x: x * x), zero, lambda a_, x: a_ + x))
    pairs = (
        a.join(F.broadcast(b), F.col("a") != F.col("b"))
        .select("a", "b", F.round(dot_ab / (na * nb), 6).alias("sim"))
        .localCheckpoint(eager=False)
    )
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    selected = (
        cand.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(1)
        .select(
            "doc_id", "rel",
            F.round(F.col("rel") * lam, 6).alias("mmr_score"),
            F.lit(1).cast("long").alias("sel_order"),
        )
        .localCheckpoint(eager=False)
    )
    for i in range(2, _MMR_K + 1):
        pen = (
            pairs.join(
                F.broadcast(selected.select(F.col("doc_id").alias("b"))), "b"
            )
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.max("sim").alias("__pen"))
        )
        sc = F.col("rel") * lam - F.col("__pen") * mu
        pick = (
            cand.join(selected.select("doc_id"), "doc_id", "left_anti")
            .join(pen, "doc_id")
            .orderBy(F.desc(sc), F.asc("doc_id"))
            .limit(1)
            .select(
                "doc_id", "rel",
                F.round(sc, 6).alias("mmr_score"),
                F.lit(i).cast("long").alias("sel_order"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected.select("sel_order", "doc_id", "rel", "mmr_score")


def _oracle_embedding_mmr_rerank_sql(
    lam: float = _MMR_LAMBDA, cand_n: int = _MMR_CAND, k: int = _MMR_K
) -> str:
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (x,y) -> x + y)"
    dot_eq = fold.format(
        arr="list_transform(generate_series(1, len(e.embedding)),"
        " i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i])"
    )
    sq = "sqrt(" + fold.format(
        arr="list_transform({t}.embedding,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    ) + ")"
    sq_q = "sqrt(" + fold.format(arr="list_transform(q.qv, x -> x * x)") + ")"
    dot_ab = fold.format(
        arr="list_transform(generate_series(1, len(ea.embedding)),"
        " i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))"
    )
    mu = 1.0 - lam
    parts = [
        f"""q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0)""",
        f"""cand AS (
  SELECT e.vec_id AS doc_id,
         round(({dot_eq}) / (({sq.format(t='e')}) * ({sq_q})), 6) AS rel
  FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY rel DESC, doc_id LIMIT {cand_n})""",
        f"""pairs AS (
  SELECT ca.doc_id AS a, cb.doc_id AS b,
         round(({dot_ab}) / (({sq.format(t='ea')}) * ({sq.format(t='eb')})), 6) AS sim
  FROM cand ca JOIN embeddings ea ON ea.vec_id = ca.doc_id,
       cand cb JOIN embeddings eb ON eb.vec_id = cb.doc_id
  WHERE ca.doc_id <> cb.doc_id)""",
        f"""s1 AS (
  SELECT doc_id, rel, round(rel * {lam!r}, 6) AS mmr_score,
         CAST(1 AS BIGINT) AS sel_order
  FROM cand ORDER BY rel DESC, doc_id LIMIT 1)""",
    ]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT doc_id FROM s{j}" for j in range(1, i)
        )
        parts.append(
            f"""s{i} AS (
  SELECT c.doc_id, c.rel,
         round(c.rel * {lam!r} - p.pen * {mu!r}, 6) AS mmr_score,
         CAST({i} AS BIGINT) AS sel_order
  FROM cand c
  JOIN (SELECT a AS doc_id, MAX(sim) AS pen FROM pairs
        WHERE b IN ({prev}) GROUP BY 1) p USING (doc_id)
  WHERE c.doc_id NOT IN ({prev})
  ORDER BY (c.rel * {lam!r} - p.pen * {mu!r}) DESC, c.doc_id LIMIT 1)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, k + 1))
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT sel_order, CAST(doc_id AS BIGINT) AS doc_id, rel, mmr_score
FROM ({union})
"""
    )




def q_events_channel_intersect_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS Q38/Q87 set-op family (the multi-channel INTERSECT/EXCEPT
    count shapes): users active in ALL THREE channels (view, click,
    purchase — Q38's three-way INTERSECT count) and users active in the
    first channel ONLY (Q87's EXCEPT chain), one row.

    Scale shape — the set ops are NOT executed as row-wise intersects of
    fact frames: the fact table reduces to DISTINCT (user, channel) rows
    (map-side combine), one groupBy folds each user's channel presence
    into three flags, and both counts are flag arithmetic over |users|
    rows. A literal ``a INTERSECT b INTERSECT c`` ships three full
    distinct frames through two extra shuffles; this form shuffles the
    (user, channel) pairs once. The DuckDB oracle runs the LITERAL
    INTERSECT/EXCEPT chains, proving the rewrite exact."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            F.col("user_id").cast("long").alias("user_id"), "event_type"
        )
        .distinct()
    )
    flags = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("__v"),
        F.max((F.col("event_type") == "click").cast("int")).alias("__c"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("__p"),
    )
    return flags.agg(
        F.sum(F.col("__v") * F.col("__c") * F.col("__p"))
        .cast("long")
        .alias("n_all_three"),
        F.sum(
            (
                (F.col("__v") == 1) & (F.col("__c") == 0) & (F.col("__p") == 0)
            ).cast("int")
        )
        .cast("long")
        .alias("n_view_only"),
    )


ORACLE_EVENTS_CHANNEL_INTERSECT_COUNTS = """
WITH v AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id FROM events
           WHERE event_type = 'view'),
c AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id FROM events
      WHERE event_type = 'click'),
p AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id FROM events
      WHERE event_type = 'purchase')
SELECT
  (SELECT COUNT(*) FROM (SELECT user_id FROM v
                         INTERSECT SELECT user_id FROM c
                         INTERSECT SELECT user_id FROM p)) AS n_all_three,
  (SELECT COUNT(*) FROM (SELECT user_id FROM v
                         EXCEPT SELECT user_id FROM c
                         EXCEPT SELECT user_id FROM p)) AS n_view_only
"""


def q_part_cross_priority_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS Q14 cross-channel shape: parts sold under ALL of the three
    top order priorities (1-URGENT, 2-HIGH, 3-MEDIUM — the three
    "channels"), then per-priority revenue and distinct-part counts over
    that qualifying intersection only.

    Scale shape: the qualifying-part list derives from DISTINCT
    (partkey, priority) pairs folded by one groupBy + HAVING
    count-distinct = 3 — never a row-wise INTERSECT of three fact
    scans — and rejoins the fact rows as an equi semi-join on partkey.
    The oracle computes the same part list with literal INTERSECTs."""
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("o_orderpriority").isin(pri))
    )
    qual = (
        li.select("l_partkey", "o_orderpriority")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.countDistinct("o_orderpriority").alias("__n"))
        .filter(F.col("__n") == 3)
        .select("l_partkey")
    )
    return (
        li.join(qual, "l_partkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("l_partkey").cast("long").alias("n_parts"),
            F.sum(
                F.col("l_extendedprice").cast(_DEC)
                * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_PART_CROSS_PRIORITY_REVENUE = """
WITH li AS (
  SELECT l_partkey, o_orderpriority, l_extendedprice, l_discount
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
),
qual AS (
  SELECT l_partkey FROM li WHERE o_orderpriority = '1-URGENT'
  INTERSECT SELECT l_partkey FROM li WHERE o_orderpriority = '2-HIGH'
  INTERSECT SELECT l_partkey FROM li WHERE o_orderpriority = '3-MEDIUM'
)
SELECT o_orderpriority,
       COUNT(DISTINCT l_partkey) AS n_parts,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM li
WHERE l_partkey IN (SELECT l_partkey FROM qual)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_customer_bulk_order_tickets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS Q34/Q73 consecutive-count having-join shape: "tickets"
    (orders) with an unusually large item count (8-13 lineitems — the
    Q34 between-bound), HAVING-filtered at the ticket grain and joined
    back through orders to the customer, returning (c_custkey, c_name,
    o_orderkey, n_items) ordered by count desc then keys.

    Scale shape: the count runs at the l_orderkey grain FIRST (partial
    aggregate, map-side combine), the HAVING prunes to the rare bulk
    tickets, and only the survivors join orders -> customer — the join
    input is the having-filtered frame, never the fact table. At 100 TB
    the orderkey groupBy is the only full shuffle; both joins carry
    ~|bulk tickets| rows."""
    cnts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"))
        .filter(F.col("n_items").between(8, 13))
    )
    return (
        cnts.join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", "o_orderkey", "n_items")
        .orderBy(F.desc("n_items"), "c_custkey", "o_orderkey")
    )


ORACLE_CUSTOMER_BULK_ORDER_TICKETS = """
SELECT c_custkey, c_name, o_orderkey, n_items
FROM (SELECT l_orderkey, COUNT(*) AS n_items FROM lineitem
      GROUP BY l_orderkey HAVING COUNT(*) BETWEEN 8 AND 13) t
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY n_items DESC, c_custkey, o_orderkey
"""




def q_doc_streaming_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING curation decision as a batch-expressible query
    (streaming/curation.py `admit_decision` — the pure function
    `StreamingCuration` runs per micro-batch inside foreachBatch): docs
    with doc_id % 5 == 4 play the arriving batch, the rest of the
    non-eval corpus is the STORED band-key index, source='src0' is the
    held-out eval corpus reduced to its distinct 8-gram set. Every batch
    doc gets the full online verdict — dup_of/n_matches under
    first-seen-wins semantics (stored index + earlier-id batch mates),
    quality q6 + split, contamination keep/trim/drop, and the composed
    ``admit`` flag.

    Scale shape: one staged `minhash_band_keys` frame serves both join
    sides (the dedup_incremental discipline); the dedup candidate join
    and the gram join are both equi-joins bounded by O(batch + matched
    index rows); quality/split are narrow maps. The DuckDB oracle
    mirrors the ONLINE semantics (prior OR earlier-id predicate on the
    band join) — not the batch CC clustering, which is the documented
    deviation streaming trades for O(batch) ingest."""
    from beacon_indexer_spark.streaming.curation import admit_decision

    docs = _ts(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    is_new = F.col("doc_id") % 5 == 4
    keyed = D.minhash_band_keys(
        train, "doc_id", "text", k=_MINHASH_K, bands=_MINHASH_BANDS,
        shingle_n=3,
    ).localCheckpoint(eager=False)
    eval_grams = D.token_kgram_positions(
        docs.filter(F.col("source") == "src0"), "doc_id", "text", 8
    ).select("gram").distinct()
    return admit_decision(
        train.filter(is_new),
        "doc_id",
        "text",
        stored_keys=keyed.filter(~is_new),
        batch_keys=keyed.filter(is_new),
        eval_grams=eval_grams,
        k=_MINHASH_K,
        bands=_MINHASH_BANDS,
        decon_k=8,
    )


def _oracle_doc_streaming_admit_sql() -> str:
    bkt = _dd_md5_long("concat('13:', CAST(doc_id AS VARCHAR))")
    where = " WHERE source <> 'src0'"
    decon = _DECON_SPANS_CTE.format(
        toks=_DD_TOKENS.format(c="text")
    ).strip()
    assert decon.startswith("WITH ")
    decon_ctes = decon[len("WITH "):]
    return rf"""
WITH {_dd_minhash_keyed_ctes(where)},
nk AS (SELECT * FROM keyed WHERE doc_id % 5 = 4),
cands AS (
  SELECT band, key, doc_id, TRUE AS prior FROM keyed WHERE doc_id % 5 <> 4
  UNION ALL
  SELECT band, key, doc_id, FALSE AS prior FROM nk),
dd AS (
  SELECT n.doc_id, MIN(c.doc_id) AS dup_of,
         COUNT(DISTINCT c.doc_id) AS n_matches
  FROM nk n JOIN cands c ON n.band = c.band AND n.key = c.key
  WHERE c.prior OR c.doc_id < n.doc_id
  GROUP BY 1),
qt AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct,
         ({bkt}) % 1000000 AS bkt
  FROM documents
  WHERE source <> 'src0' AND doc_id % 5 = 4),
qm AS (
  SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct, bkt,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl
  FROM qt),
qq AS (
  SELECT doc_id, n_tokens,
         round((least(n_chars / 500.0, 1.0) * 0.4
               + greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) * 5) * 0.3
               + (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END) * 0.3)
               * (CASE WHEN n_tokens > 0 THEN 1.0 ELSE 0.0 END), 6) AS q6,
         CASE WHEN bkt < 800000 THEN 'train'
              WHEN bkt < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM qm),
{decon_ctes},
covered AS (
  SELECT doc_id, SUM(span_end - span_start + 1) AS contam_tokens
  FROM spans GROUP BY doc_id)
SELECT CAST(qq.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(dd.dup_of, qq.doc_id) AS BIGINT) AS dup_of,
       CAST(COALESCE(dd.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(CASE WHEN dd.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS keep,
       qq.q6,
       CAST(CASE WHEN qq.q6 >= 0.5 THEN 1 ELSE 0 END AS INT) AS q_pass,
       qq.split,
       CAST(CASE WHEN dd.dup_of IS NULL AND qq.q6 >= 0.5
                 THEN 1 ELSE 0 END AS INT) AS include,
       CAST(COALESCE(c.contam_tokens, 0) AS BIGINT) AS contam_tokens,
       round(COALESCE(c.contam_tokens, 0)
             / CAST(greatest(qq.n_tokens, 1) AS DOUBLE), 6) AS contam_rate,
       CASE WHEN COALESCE(c.contam_tokens, 0)
                 / CAST(greatest(qq.n_tokens, 1) AS DOUBLE) > 0.5 THEN 'drop'
            WHEN COALESCE(c.contam_tokens, 0)
                 / CAST(greatest(qq.n_tokens, 1) AS DOUBLE) >= 0.05 THEN 'trim'
            ELSE 'keep' END AS contam_verdict,
       CAST(CASE WHEN dd.dup_of IS NULL AND qq.q6 >= 0.5
                  AND NOT (COALESCE(c.contam_tokens, 0)
                           / CAST(greatest(qq.n_tokens, 1) AS DOUBLE) > 0.5)
                 THEN 1 ELSE 0 END AS INT) AS admit
FROM qq
LEFT JOIN dd ON dd.doc_id = qq.doc_id
LEFT JOIN covered c ON c.doc_id = qq.doc_id
"""




def q_doc_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (operators/text.py
    `hashed_classifier_score` — the fastText-style linear classifier
    stage CCNet/RefinedWeb run after heuristic gates): per-doc mean
    hashed token weight + keep/cull label. Shuffle-free narrow map, one
    sequential fold per document — the exact plan a trained-weight
    deployment uses (only the weight expression changes)."""
    docs = _ts(spark, sf_dir, "documents")
    return X.hashed_classifier_score(docs, "doc_id", "text")


def _oracle_doc_classifier_score_sql() -> str:
    toks = _DD_TOKENS.format(c="text")
    w = (
        "(CAST(" + _dd_hex15_to_long("md5(concat('qw:', t))")
        + " % 2001 AS BIGINT) - 1000) / 1024.0"
    )
    return rf"""
WITH tk AS (SELECT doc_id, {toks} AS toks FROM documents),
sc AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(toks, t -> {w})), (a, b) -> a + b)
                   / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS raw
  FROM tk)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       floor(raw * 1e6 + 0.5) / 1e6 AS lin_score,
       CASE WHEN raw >= 0 THEN 'keep' ELSE 'cull' END AS label
FROM sc
"""


# ---------------------------------------------------------------------------
# registry, derived from the names above (see the module docstring)
# ---------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    name[2:]: fn
    for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
}


def _oracle(name: str) -> str:
    const = globals().get(f"ORACLE_{name.upper()}")
    build = globals().get(f"_oracle_{name}_sql")
    if (const is None) == (build is None):
        raise LookupError(
            f"query {name!r} needs exactly one of ORACLE_{name.upper()} "
            f"and _oracle_{name}_sql()"
        )
    return const if const is not None else build()


def oracles() -> dict[str, str]:
    return {name: _oracle(name) for name in QUERIES}
