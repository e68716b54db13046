"""Planted-scenario tests for round-8 additions, starting with the
ADVICE-r7 closures: the funnel-lag empty-input shape and the oracle
gate's negative-zero-safe row sort key."""

from __future__ import annotations

from datetime import datetime

from beacon_indexer_spark.plans.queries import QUERIES


def _plant(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / f"{name}.parquet")
    )


def test_events_funnel_conversion_lag_zero_conversions(spark, tmp_path):
    """A corpus with views but zero view->purchase conversions must return
    ZERO rows (matching the oracle's GROUP BY tot.n shape), not one
    all-NULL global-agg row (ADVICE r7)."""
    t0 = datetime(2024, 6, 1, 10, 0)
    rows = [
        (1, t0, 1, "view"),
        (2, t0, 2, "view"),
        (3, t0, 3, "click"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = QUERIES["events_funnel_conversion_lag"](spark, str(tmp_path))
    assert out.count() == 0


def test_part_bracket_revenue_disjunctive_predicates(spark, tmp_path):
    """Q19-shape brackets: each (brand, size, quantity) conjunct must be
    honored, a row matching no bracket is dropped, and revenue is the
    discounted DECIMAL-exact sum."""
    _plant(
        spark, tmp_path, "part",
        [
            (1, "Brand#12", 5),    # small bracket (size 1..10)
            (2, "Brand#12", 40),   # size out of range -> no bracket
            (3, "Brand#23", 15),   # medium bracket
            (4, "Brand#15", 25),   # large bracket
            (5, "Brand#99", 5),    # brand matches nothing
        ],
        "p_partkey long, p_brand string, p_size int",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, 5.0, 100.0, 0.10),   # small: qty 1..11 -> 90.00
            (1, 12.0, 100.0, 0.10),  # qty out of small range -> dropped
            (2, 5.0, 100.0, 0.0),    # part size off-bracket -> dropped
            (3, 15.0, 200.0, 0.50),  # medium -> 100.00
            (4, 25.0, 300.0, 0.0),   # large -> 300.00
            (4, 5.0, 300.0, 0.0),    # qty below large range -> dropped
            (5, 5.0, 100.0, 0.0),    # unknown brand -> dropped
        ],
        "l_partkey long, l_quantity double, l_extendedprice double,"
        " l_discount double",
    )
    out = {
        r["bracket"]: (r["n_items"], r["revenue"])
        for r in QUERIES["part_bracket_revenue"](spark, str(tmp_path)).collect()
    }
    assert out == {
        "small": (1, 90.0),
        "medium": (1, 100.0),
        "large": (1, 300.0),
    }


def test_customer_sales_opportunity_mean_and_anti_join(spark, tmp_path):
    """Q22 shape: mean positive balance = (100+300)/2 = 200; customers
    above it AND without orders survive; negative balances never enter
    the mean; a customer with orders is anti-joined away."""
    _plant(
        spark, tmp_path, "customer",
        [
            (1, "BUILDING", 100.0),   # below mean
            (2, "BUILDING", 300.0),   # above mean, has an order -> dropped
            (3, "MACHINERY", 250.0),  # above mean, no orders -> kept
            (4, "MACHINERY", -50.0),  # negative: excluded from mean, below it
        ],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    _plant(
        spark, tmp_path, "orders",
        [(10, 2)],
        "o_orderkey long, o_custkey long",
    )
    rows = QUERIES["customer_sales_opportunity"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r["c_mktsegment"], r["n_customers"], r["total_acctbal"]) == (
        "MACHINERY", 1, 250.0
    )


def test_orders_with_returns_by_priority_semi_join(spark, tmp_path):
    """Q4 shape: an order counts ONCE however many returned lines it has;
    priorities with zero returns still appear with rate 0."""
    _plant(
        spark, tmp_path, "orders",
        [(1, "1-URGENT"), (2, "1-URGENT"), (3, "5-LOW"), (4, "5-LOW")],
        "o_orderkey long, o_orderpriority string",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, "R"), (1, "R"),  # two returned lines, one order
            (2, "N"),
            (3, "A"), (4, "A"),
        ],
        "l_orderkey long, l_returnflag string",
    )
    out = {
        r["o_orderpriority"]: (
            r["n_orders"], r["n_with_returns"], r["return_rate_pct"]
        )
        for r in QUERIES["orders_with_returns_by_priority"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "1-URGENT": (2, 1, 50.0),
        "5-LOW": (2, 0, 0.0),
    }


def test_nation_trade_flow_directions_and_filters(spark, tmp_path):
    """Q7 shape: both shipping directions appear as separate rows,
    same-nation trade is excluded, and ship years outside 1995-1996
    are pruned."""
    _plant(spark, tmp_path, "nation",
           [(1, "NATION_1"), (2, "NATION_2"), (3, "NATION_3")],
           "n_nationkey int, n_name string")
    _plant(spark, tmp_path, "supplier",
           [(10, 1), (20, 2), (30, 3)],
           "s_suppkey long, s_nationkey int")
    _plant(spark, tmp_path, "customer",
           [(100, 1), (200, 2)],
           "c_custkey long, c_nationkey int")
    _plant(spark, tmp_path, "orders",
           [(1000, 100), (2000, 200)],
           "o_orderkey long, o_custkey long")
    _plant(
        spark, tmp_path, "lineitem",
        [
            # supp N1 -> cust N2: 100 * (1-0) = 100
            (2000, 10, datetime(1995, 3, 1), 100.0, 0.0),
            # supp N2 -> cust N1: 200 * (1-0.5) = 100
            (1000, 20, datetime(1996, 3, 1), 200.0, 0.5),
            # same nation (N1 -> N1): excluded
            (1000, 10, datetime(1995, 3, 1), 999.0, 0.0),
            # year out of range: excluded
            (2000, 10, datetime(1994, 3, 1), 999.0, 0.0),
            # supplier nation outside the pair: excluded
            (2000, 30, datetime(1995, 3, 1), 999.0, 0.0),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp,"
        " l_extendedprice double, l_discount double",
    )
    out = {
        (r["supp_nation"], r["cust_nation"], r["l_year"]):
            (r["n_items"], r["revenue"])
        for r in QUERIES["nation_trade_flow"](spark, str(tmp_path)).collect()
    }
    assert out == {
        ("NATION_1", "NATION_2", 1995): (1, 100.0),
        ("NATION_2", "NATION_1", 1996): (1, 100.0),
    }


def test_nation_market_share_numerator_denominator(spark, tmp_path):
    """Q8 shape: denominator is ALL supplier revenue into EUROPE
    customers; numerator only NATION_3 suppliers; non-EUROPE customers
    never enter either."""
    _plant(spark, tmp_path, "region",
           [(1, "EUROPE"), (2, "ASIA")],
           "r_regionkey int, r_name string")
    _plant(spark, tmp_path, "nation",
           [(1, "NATION_1", 1), (3, "NATION_3", 1), (5, "NATION_5", 2)],
           "n_nationkey int, n_name string, n_regionkey int")
    _plant(spark, tmp_path, "supplier",
           [(10, 3), (20, 1)],
           "s_suppkey long, s_nationkey int")
    _plant(spark, tmp_path, "customer",
           [(100, 1), (200, 5)],  # 100 in EUROPE, 200 in ASIA
           "c_custkey long, c_nationkey int")
    _plant(spark, tmp_path, "orders",
           [(1000, 100, datetime(1995, 6, 1)),
            (2000, 200, datetime(1995, 6, 1))],
           "o_orderkey long, o_custkey long, o_orderdate timestamp")
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1000, 10, 60.0, 0.0),   # NATION_3 supp -> EUROPE cust
            (1000, 20, 40.0, 0.0),   # NATION_1 supp -> EUROPE cust
            (2000, 10, 999.0, 0.0),  # ASIA customer: excluded entirely
        ],
        "l_orderkey long, l_suppkey long, l_extendedprice double,"
        " l_discount double",
    )
    [r] = QUERIES["nation_market_share"](spark, str(tmp_path)).collect()
    assert (r["o_year"], r["nation_revenue"], r["market_revenue"],
            r["mkt_share_pct"]) == (1995, 60.0, 100.0, 60.0)


def test_part_basket_pairs_dedup_and_lift(spark, tmp_path):
    """Basket pairs: duplicate lines of the same part in one order count
    ONCE; lift = n_pair * n_orders / (m_a * m_b)."""
    _plant(
        spark, tmp_path, "lineitem",
        [
            # order 1: parts {1, 2} (part 1 twice -> dedup)
            (1, 1), (1, 1), (1, 2),
            # order 2: parts {1, 2, 3}
            (2, 1), (2, 2), (2, 3),
            # order 3: part {3} alone -> no pair
            (3, 3),
        ],
        "l_orderkey long, l_partkey long",
    )
    rows = QUERIES["part_basket_pairs"](spark, str(tmp_path)).collect()
    out = {(r["part_a"], r["part_b"]): (r["n_pair"], r["lift"]) for r in rows}
    # marginals: m1=2, m2=2, m3=2; n_orders=3
    # (1,2): n=2 -> lift 2*3/(2*2)=1.5 ; (1,3) and (2,3): n=1 -> 0.75
    assert out == {
        (1, 2): (2, 1.5),
        (1, 3): (1, 0.75),
        (2, 3): (1, 0.75),
    }
    # deterministic ordering: support desc, then (part_a, part_b)
    assert [(r["part_a"], r["part_b"]) for r in rows] == [
        (1, 2), (1, 3), (2, 3)
    ]


def test_events_hill_tail_index_closed_form(spark, tmp_path):
    """Hill alpha on planted e^k purchase values: with values
    {e^3, e^2, e^1, e^0} the threshold is e^0 = 1 and the log-ratio sum
    is 3 + 2 + 1 = 6, so alpha = 3/6 = 0.5 exactly."""
    import math

    t0 = datetime(2024, 6, 1)
    rows = [
        (1, t0, 1, "purchase", math.exp(3)),
        (2, t0, 1, "purchase", math.exp(2)),
        (3, t0, 1, "purchase", math.exp(1)),
        (4, t0, 1, "purchase", 1.0),
        (5, t0, 1, "view", 999.0),        # wrong type: excluded
        (6, t0, 1, "purchase", 0.0),      # non-positive: excluded
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_hill_tail_index"](spark, str(tmp_path)).collect()
    assert (r["n_tail"], r["x_threshold"], r["hill_alpha"]) == (3, 1.0, 0.5)


def test_corpus_token_gini_closed_form(spark, tmp_path):
    """Token counts {a:3, b:1, c:1}: ranks ascending give
    s1 = 1*1 + 2*1 + 3*3 = 12, gini = 2*12/(3*5) - 4/3 = 0.266667."""
    _plant(
        spark, tmp_path, "documents",
        [(1, "a a a b"), (2, "c")],
        "doc_id long, text string",
    )
    [r] = QUERIES["corpus_token_gini"](spark, str(tmp_path)).collect()
    assert (r["vocab_size"], r["total_tokens"]) == (3, 5)
    assert r["gini"] == round(2 * 12 / (3 * 5) - 4 / 3, 6)


def test_embedding_silhouette_separated_clusters(spark, tmp_path):
    """Two orthogonal 2-point clusters: every point has a = 0 (own-label
    twin identical) and b = 1 (cosine distance to the other axis), so
    s = 1 for all; a single-member label has no own-label distance and
    is excluded."""
    _plant(
        spark, tmp_path, "embeddings",
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 1),
            (3, [0.0, 1.0], 1),
            (4, [0.6, 0.8], 2),  # singleton label: excluded
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r["label"]: (r["n_points"], r["mean_silhouette"])
        for r in QUERIES["embedding_silhouette"](spark, str(tmp_path)).collect()
    }
    assert out == {0: (2, 1.0), 1: (2, 1.0)}


def test_embedding_knn_radius_orthogonal_plant(spark, tmp_path):
    """Sample point e1 with one exact duplicate and five orthogonal
    corpus vectors: NN distances are (0, 1, 1, 1, 1, 1), so the 5th-NN
    radius is exactly 1.0; corpus ids >= 100 never enter the sample."""

    def e(i):
        v = [0.0] * 6
        v[i] = 1.0
        return v

    rows = [(0, e(0), 0)]  # the only sampled point
    rows += [(200 + k, e(k + 1), 0) for k in range(5)]  # orthogonal corpus
    rows += [(205, e(0), 0)]  # exact duplicate -> distance 0 is rank 1
    _plant(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    [r] = QUERIES["embedding_knn_radius"](spark, str(tmp_path)).collect()
    assert (r["label"], r["n_points"], r["mean_radius"], r["min_radius"],
            r["max_radius"]) == (0, 1, 1.0, 1.0, 1.0)


def test_source_embedding_centroids_orthogonal_sources(spark, tmp_path):
    """Centroids: srcA = mean of two e1 vectors, srcB = e2, srcC = e1.
    cos(A,B) = 0, cos(A,C) = 1, cos(B,C) = 0; pairs are emitted once
    with source_a < source_b."""
    _plant(
        spark, tmp_path, "documents",
        [(1, "srcA"), (2, "srcA"), (3, "srcB"), (4, "srcC")],
        "doc_id long, source string",
    )
    _plant(
        spark, tmp_path, "embeddings",
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 1.0], 0),
            (4, [1.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        (r["source_a"], r["source_b"]): r["centroid_cosine"]
        for r in QUERIES["source_embedding_centroids"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        ("srcA", "srcB"): 0.0,
        ("srcA", "srcC"): 1.0,
        ("srcB", "srcC"): 0.0,
    }


def test_events_value_cusum_level_shift(spark, tmp_path):
    """Daily purchase totals (1, 1, 1, 5): mean 2, cusum peaks at day 3
    with |prefix - d*mean| = 3, direction negative (running below the
    mean before the jump)."""
    rows = [
        (1, datetime(2024, 6, 1, 10), 1, "purchase", 1.0),
        (2, datetime(2024, 6, 2, 10), 1, "purchase", 1.0),
        (3, datetime(2024, 6, 3, 10), 1, "purchase", 1.0),
        (4, datetime(2024, 6, 4, 10), 1, "purchase", 5.0),
        (5, datetime(2024, 6, 2, 11), 1, "view", 99.0),  # excluded
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_value_cusum"](spark, str(tmp_path)).collect()
    assert (r["n_days"], r["changepoint_day"], r["max_abs_cusum"],
            r["direction"]) == (4, "2024-06-03", 3.0, -1)


def test_events_props_key_profile_mixed_keys(spark, tmp_path):
    """Key profile over heterogeneous JSON payloads: presence rate and
    value cardinality per key; values compare as strings."""
    t0 = datetime(2024, 6, 1)
    rows = [
        (1, t0, 1, "view", '{"k": 1, "device": "ios"}'),
        (2, t0, 1, "view", '{"k": 2}'),
        (3, t0, 1, "view", '{"k": 2, "device": "android"}'),
        (4, t0, 1, "view", '{"other": "x"}'),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " props string",
    )
    out = {
        r["key"]: (r["n_present"], r["presence_pct"], r["n_distinct_values"])
        for r in QUERIES["events_props_key_profile"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "k": (3, 75.0, 2),
        "device": (2, 50.0, 2),
        "other": (1, 25.0, 1),
    }


def test_lineitem_order_date_integrity_violations(spark, tmp_path):
    """Ship-before-order violations counted per order year; equal dates
    are NOT violations."""
    _plant(
        spark, tmp_path, "orders",
        [(1, datetime(1995, 5, 10)), (2, datetime(1996, 5, 10))],
        "o_orderkey long, o_orderdate timestamp",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, datetime(1995, 5, 1)),   # violation (ship < order)
            (1, datetime(1995, 5, 10)),  # equal: not a violation
            (1, datetime(1995, 6, 1)),   # fine
            (2, datetime(1996, 7, 1)),   # fine
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    out = {
        r["o_year"]: (r["n_items"], r["n_violations"], r["violation_pct"])
        for r in QUERIES["lineitem_order_date_integrity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        1995: (3, 1, round(100 / 3, 6)),
        1996: (1, 0, 0.0),
    }


def test_doc_hapax_burden_topk_shares(spark, tmp_path):
    """Corpus tokens: 'common' appears in all docs; doc 1 is pure hapax
    (2/2), doc 2 half (1/2... of 3), doc 3 none."""
    _plant(
        spark, tmp_path, "documents",
        [
            (1, "zzz yyy"),                 # both hapax -> 100%
            (2, "common xxx common"),       # 1 of 3 -> 33.33%
            (3, "common common"),           # 0%
        ],
        "doc_id long, text string",
    )
    rows = QUERIES["doc_hapax_burden_topk"](spark, str(tmp_path)).collect()
    got = [
        (r["doc_id"], r["n_tokens"], r["n_hapax"], r["hapax_pct"])
        for r in rows
    ]
    assert got == [
        (1, 2, 2, 100.0),
        (2, 3, 1, round(100 / 3, 6)),
        (3, 2, 0, 0.0),
    ]


def test_embedding_knn_purity_sweep_majority_and_ties(spark, tmp_path):
    """Three axis clusters; majority vote at k in {1,3,5} with ties
    breaking on the SMALLER label (qid 0's k=5 vote ties 2-2 between
    label 0 and 1 -> label 0 wins -> match; qid 2's ties 2-2 between
    5 and 9 -> label 5 wins -> mismatch)."""

    def e(i):
        v = [0.0] * 3
        v[i] = 1.0
        return v

    rows = [
        (0, e(0), 0), (200, e(0), 0), (201, e(0), 0),
        (1, e(1), 1), (300, e(1), 1), (301, e(1), 1), (302, e(1), 1),
        (2, e(2), 9), (400, e(2), 5), (401, e(2), 5),
        (402, e(2), 9), (403, e(2), 9),
    ]
    _plant(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r["k"]: (r["n_points"], r["n_match"], r["purity_pct"])
        for r in QUERIES["embedding_knn_purity_sweep"](
            spark, str(tmp_path)
        ).collect()
    }
    third = round(200 / 3, 6)
    assert out == {1: (3, 2, third), 3: (3, 2, third), 5: (3, 2, third)}


def test_customer_segment_revenue_trend_exact_slope(spark, tmp_path):
    """Two months of segment-A revenue (100 then 200) give slope exactly
    100/month in closed form; a single-month segment is dropped
    (n_months > 1)."""
    _plant(
        spark, tmp_path, "customer",
        [(1, "A"), (2, "B")],
        "c_custkey long, c_mktsegment string",
    )
    _plant(
        spark, tmp_path, "orders",
        [
            (10, 1, datetime(1995, 1, 15), 100.0),
            (11, 1, datetime(1995, 2, 15), 200.0),
            (12, 2, datetime(1995, 1, 20), 999.0),  # one month only
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    rows = QUERIES["customer_segment_revenue_trend"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r["c_mktsegment"], r["n_months"], r["monthly_trend"],
            r["intercept"]) == ("A", 2, 100.0, -2393900.0)


def test_events_error_rate_wilson_interval(spark, tmp_path):
    """Wilson bounds replicated in python for 1 error of 4 events and
    0 of 2 (zero-rate hour still gets a positive upper bound)."""
    import math

    def wilson(e, n):
        z, p = 1.96, e / n
        center = p + z * z / (2 * n)
        spread = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        den = 1 + z * z / n
        return (round((center - spread) / den * 100, 6),
                round((center + spread) / den * 100, 6))

    rows = [
        (1, datetime(2024, 6, 1, 10, 5), 1, "error"),
        (2, datetime(2024, 6, 1, 10, 10), 1, "view"),
        (3, datetime(2024, 6, 1, 10, 20), 1, "view"),
        (4, datetime(2024, 6, 1, 10, 30), 1, "view"),
        (5, datetime(2024, 6, 1, 11, 5), 1, "view"),
        (6, datetime(2024, 6, 1, 11, 10), 1, "view"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        r["hour"]: (r["n_events"], r["n_errors"], r["error_pct"],
                    r["wilson_lo_pct"], r["wilson_hi_pct"])
        for r in QUERIES["events_error_rate_wilson"](
            spark, str(tmp_path)
        ).collect()
    }
    lo10, hi10 = wilson(1, 4)
    lo11, hi11 = wilson(0, 2)
    assert out == {
        10: (4, 1, 25.0, lo10, hi10),
        11: (2, 0, 0.0, lo11, hi11),
    }
    assert out[11][4] > 0  # zero-rate hour keeps a positive upper bound


def test_supplier_assortment_distincts_and_order(spark, tmp_path):
    """Distinct parts/orders per supplier; revenue-desc ordering with
    suppkey tiebreak."""
    _plant(
        spark, tmp_path, "supplier",
        [(1, "S1"), (2, "S2")],
        "s_suppkey long, s_name string",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            # supp 1: parts {7, 7, 8} -> 2 distinct; orders {100, 101}
            (100, 1, 7, 100.0, 0.0),
            (100, 1, 7, 100.0, 0.0),
            (101, 1, 8, 100.0, 0.0),
            # supp 2: one line, revenue 400 -> ranks first
            (102, 2, 9, 400.0, 0.0),
        ],
        "l_orderkey long, l_suppkey long, l_partkey long,"
        " l_extendedprice double, l_discount double",
    )
    rows = QUERIES["supplier_assortment"](spark, str(tmp_path)).collect()
    got = [
        (r["s_suppkey"], r["s_name"], r["n_parts"], r["n_orders"],
         r["revenue"])
        for r in rows
    ]
    assert got == [(2, "S2", 1, 1, 400.0), (1, "S1", 2, 2, 300.0)]


def test_part_brand_price_iqr_exact_quartiles(spark, tmp_path):
    """Four prices 10, 20, 30, 40: thresholds 4*cum >= k*n give
    p25 = 10, p50 = 20, p75 = 30, iqr = 20."""
    _plant(
        spark, tmp_path, "part",
        [(1, "B1", 10.0), (2, "B1", 20.0), (3, "B1", 30.0),
         (4, "B1", 40.0), (5, "B2", 7.5)],
        "p_partkey long, p_brand string, p_retailprice double",
    )
    out = {
        r["p_brand"]: (r["n_parts"], r["p25"], r["p50"], r["p75"], r["iqr"])
        for r in QUERIES["part_brand_price_iqr"](spark, str(tmp_path)).collect()
    }
    assert out == {
        "B1": (4, 10.0, 20.0, 30.0, 20.0),
        "B2": (1, 7.5, 7.5, 7.5, 0.0),
    }


def test_events_bot_burst_screen_max_minute(spark, tmp_path):
    """User 1 fires 3 events in one minute (of 4 total); user 2 is
    spread out; ordering by burst desc."""
    rows = [
        (1, datetime(2024, 6, 1, 10, 5, 1), 1, "view"),
        (2, datetime(2024, 6, 1, 10, 5, 20), 1, "view"),
        (3, datetime(2024, 6, 1, 10, 5, 59), 1, "view"),
        (4, datetime(2024, 6, 1, 11, 0, 0), 1, "view"),
        (5, datetime(2024, 6, 1, 10, 5, 1), 2, "view"),
        (6, datetime(2024, 6, 1, 10, 6, 1), 2, "view"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = [
        (r["user_id"], r["max_per_minute"], r["n_events"],
         r["burst_share_pct"])
        for r in QUERIES["events_bot_burst_screen"](
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == [(1, 3, 4, 75.0), (2, 1, 2, 50.0)]


def test_orders_qoq_growth_gap_aware_lag(spark, tmp_path):
    """QoQ growth joins on quarter_index - 1: Q1->Q2 computes growth,
    and after a missing Q3 the Q4 row has NULL prev (no silent lag
    across the gap)."""
    _plant(
        spark, tmp_path, "orders",
        [
            (1, datetime(1995, 1, 10), 100.0),
            (2, datetime(1995, 2, 10), 100.0),   # Q1 total 200
            (3, datetime(1995, 4, 10), 300.0),   # Q2 total 300
            (4, datetime(1995, 10, 10), 500.0),  # Q4 (Q3 missing)
        ],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    out = {
        r["quarter"]: (r["n_orders"], r["revenue"], r["prev_revenue"],
                       r["qoq_pct"])
        for r in QUERIES["orders_qoq_growth"](spark, str(tmp_path)).collect()
    }
    assert out == {
        "1995-Q1": (2, 200.0, None, None),
        "1995-Q2": (1, 300.0, 200.0, 50.0),
        "1995-Q4": (1, 500.0, None, None),
    }


def test_customer_value_quadrants_medians(spark, tmp_path):
    """Four customers, balances (10, 20, 30, 40), spends (0, 5, 50, 100):
    median bal = 20, median spend = 5 (strictly-above splits hi);
    customer 4 has no orders -> spend 0."""
    _plant(
        spark, tmp_path, "customer",
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)],
        "c_custkey long, c_acctbal double",
    )
    _plant(
        spark, tmp_path, "orders",
        [
            (10, 1, 5.0),
            (11, 2, 50.0),
            (12, 3, 100.0),
        ],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    out = {
        r["quadrant"]: (r["n_customers"], r["share_pct"])
        for r in QUERIES["customer_value_quadrants"](
            spark, str(tmp_path)
        ).collect()
    }
    # bal median 20, spend median 5: c1 (10, 5) lo/lo; c2 (20, 50) lo/hi;
    # c3 (30, 100) hi/hi; c4 (40, 0) hi/lo
    assert out == {
        "lo_bal/lo_spend": (1, 25.0),
        "lo_bal/hi_spend": (1, 25.0),
        "hi_bal/hi_spend": (1, 25.0),
        "hi_bal/lo_spend": (1, 25.0),
    }


def test_orders_line_status_consistency_classes(spark, tmp_path):
    """F with only F lines = consistent; O with a mixed profile =
    inconsistent; P with a mix = consistent; an order without lines is
    never consistent."""
    _plant(
        spark, tmp_path, "orders",
        [(1, "F"), (2, "O"), (3, "P"), (4, "F")],
        "o_orderkey long, o_orderstatus string",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, "F"), (1, "F"),        # order 1: all F -> consistent
            (2, "O"), (2, "F"),        # order 2: mixed under O -> bad
            (3, "O"), (3, "F"),        # order 3: mixed under P -> ok
            # order 4: NO lines -> inconsistent
        ],
        "l_orderkey long, l_linestatus string",
    )
    out = {
        r["o_orderstatus"]: (r["n_orders"], r["n_consistent"],
                             r["consistency_pct"])
        for r in QUERIES["orders_line_status_consistency"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "F": (2, 1, 50.0),
        "O": (1, 0, 0.0),
        "P": (1, 1, 100.0),
    }


def test_events_value_ks_exact_sup_distance(spark, tmp_path):
    """Purchases {1, 2} vs clicks {2, 3}: ECDF gap peaks at 0.5, first
    reached at value 1.0 (argmax ties break on the smaller value)."""
    t0 = datetime(2024, 6, 1)
    rows = [
        (1, t0, 1, "purchase", 1.0),
        (2, t0, 1, "purchase", 2.0),
        (3, t0, 1, "click", 2.0),
        (4, t0, 1, "click", 3.0),
        (5, t0, 1, "view", 99.0),  # other types excluded
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_value_ks_test"](spark, str(tmp_path)).collect()
    assert (r["n_purchase"], r["n_click"], r["ks_stat"],
            r["ks_at_value"]) == (2, 2, 0.5, 1.0)


def test_corpus_source_token_hhi_two_sources(spark, tmp_path):
    """Token totals A=3, B=1: HHI = (9+1)/16 = 0.625, effective
    sources = 1.6."""
    _plant(
        spark, tmp_path, "documents",
        [(1, "x y z", "A"), (2, "w", "B")],
        "doc_id long, text string, source string",
    )
    [r] = QUERIES["corpus_source_token_hhi"](spark, str(tmp_path)).collect()
    assert (r["n_sources"], r["total_tokens"], r["hhi"],
            r["effective_sources"]) == (2, 4, 0.625, 1.6)


def test_events_hour_entropy_uniform_two_bins(spark, tmp_path):
    """Two equal hour bins give H = ln 2 (replicated with the same 1e-9
    log quantization the query uses)."""
    import math

    rows = [
        (1, datetime(2024, 6, 1, 10, 0), 1, "view"),
        (2, datetime(2024, 6, 1, 10, 30), 1, "view"),
        (3, datetime(2024, 6, 1, 11, 0), 1, "view"),
        (4, datetime(2024, 6, 1, 11, 30), 1, "view"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    [r] = QUERIES["events_hour_entropy_by_type"](
        spark, str(tmp_path)
    ).collect()
    lnq2 = round(math.log(2.0) * 1e9)
    expected = math.log(4.0) - (4 * lnq2) / 1e9 / 4.0
    assert (r["event_type"], r["n_events"], r["n_active_hours"]) == (
        "view", 4, 2
    )
    assert r["entropy_nats"] == round(expected, 6)
    assert r["entropy_norm"] == round(expected / math.log(24.0), 6)


def test_events_weekly_retention_triangle_cohorts(spark, tmp_path):
    """Users 1,2 first seen in week W (1970-01-01 is day 0, so Jan 1-7
    1970-anchored weeks); user 1 returns in W+1; user 3 starts in W+1.
    Retention: W cohort size 2, 50% at offset 1."""
    rows = [
        (1, datetime(2024, 6, 3), 1, "view"),    # week A
        (2, datetime(2024, 6, 4), 2, "view"),    # week A
        (3, datetime(2024, 6, 10), 1, "view"),   # week A+1 (user 1 back)
        (4, datetime(2024, 6, 11), 3, "view"),   # week A+1 (new cohort)
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        (r["cohort_week"], r["week_offset"]):
            (r["n_active"], r["cohort_size"], r["retention_pct"])
        for r in QUERIES["events_weekly_retention_triangle"](
            spark, str(tmp_path)
        ).collect()
    }
    # 2024-06-03 is a Monday; epoch-day//7 week containing it starts
    # 2024-05-30 (Thursday-anchored weeks from 1970-01-01)
    weeks = sorted({k[0] for k in out})
    assert len(weeks) == 2
    wa, wb = weeks
    assert out[(wa, 0)] == (2, 2, 100.0)
    assert out[(wa, 1)] == (1, 2, 50.0)
    assert out[(wb, 0)] == (1, 1, 100.0)


def test_doc_embedding_coverage_missing_vectors(spark, tmp_path):
    """Source A: 2 of 3 docs embedded; source B: none."""
    _plant(
        spark, tmp_path, "documents",
        [(1, "A"), (2, "A"), (3, "A"), (4, "B")],
        "doc_id long, source string",
    )
    _plant(
        spark, tmp_path, "embeddings",
        [(1, [1.0], 0), (2, [1.0], 0), (99, [1.0], 0)],  # 99 is an orphan
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r["source"]: (r["n_docs"], r["n_with_vec"], r["coverage_pct"])
        for r in QUERIES["doc_embedding_coverage"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "A": (3, 2, round(200 / 3, 6)),
        "B": (1, 0, 0.0),
    }


def test_orders_basket_size_profile_means(spark, tmp_path):
    """Baskets of size 1 (orders 1, 2: values 10, 30 -> avg 20) and
    size 2 (order 3: value 100)."""
    _plant(
        spark, tmp_path, "orders",
        [(1, 10.0), (2, 30.0), (3, 100.0)],
        "o_orderkey long, o_totalprice double",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [(1,), (2,), (3,), (3,)],
        "l_orderkey long",
    )
    out = {
        r["basket_size"]: (r["n_orders"], r["avg_order_value"],
                           r["total_value"])
        for r in QUERIES["orders_basket_size_profile"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        1: (2, 20.0, 40.0),
        2: (1, 100.0, 100.0),
    }


def test_lineitem_price_qty_elasticity_perfect_line(spark, tmp_path):
    """Two parts on an exact log-log line with slope -2 (unit price 1 ->
    qty 100; unit price 10 -> qty 1): elasticity -2, r2 = 1, intercept
    ln(100)."""
    import math

    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, 100.0, 100.0),  # unit price 1
            (2, 1.0, 10.0),     # unit price 10
        ],
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    [r] = QUERIES["lineitem_price_qty_elasticity"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_parts"], r["elasticity"], r["r2"]) == (2, -2.0, 1.0)
    assert r["intercept"] == round(math.log(100.0), 6)


def test_nation_revenue_rank_shift_swap(spark, tmp_path):
    """A and B swap the #1 spot between 1995 and 1996: rank_gain +1 for
    the climber, -1 for the faller, NULL prev in the first year."""
    _plant(spark, tmp_path, "nation",
           [(1, "A"), (2, "B")], "n_nationkey int, n_name string")
    _plant(spark, tmp_path, "customer",
           [(10, 1), (20, 2)], "c_custkey long, c_nationkey int")
    _plant(
        spark, tmp_path, "orders",
        [
            (1, 10, datetime(1995, 3, 1), 200.0),
            (2, 20, datetime(1995, 3, 1), 100.0),
            (3, 10, datetime(1996, 3, 1), 100.0),
            (4, 20, datetime(1996, 3, 1), 200.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    out = {
        (r["o_year"], r["n_name"]): (r["rank"], r["prev_rank"],
                                     r["rank_gain"], r["revenue"])
        for r in QUERIES["nation_revenue_rank_shift"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        (1995, "A"): (1, None, None, 200.0),
        (1995, "B"): (2, None, None, 100.0),
        (1996, "A"): (2, 1, -1, 100.0),
        (1996, "B"): (1, 2, 1, 200.0),
    }


def test_customer_concentration_by_year_top10_cut(spark, tmp_path):
    """12 customers: eleven worth 1.0 and one whale worth 100 -> top-10
    revenue = 100 + 9*1 = 109 of 111."""
    rows = [
        (i, i, datetime(1995, 3, 1), 1.0) for i in range(1, 12)
    ] + [(12, 12, datetime(1995, 3, 1), 100.0)]
    _plant(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    [r] = QUERIES["customer_concentration_by_year"](
        spark, str(tmp_path)
    ).collect()
    assert (r["o_year"], r["n_customers"], r["top10_revenue"],
            r["total_revenue"]) == (1995, 12, 109.0, 111.0)
    assert r["top10_share_pct"] == round(109 / 111 * 100, 6)


def test_events_type_trigrams_topk_user_streams(spark, tmp_path):
    """Trigrams never cross user boundaries: user 1's stream
    v>c>p, c>p>v; user 2's two events yield none."""
    rows = [
        (1, datetime(2024, 6, 1, 10, 0), 1, "view"),
        (2, datetime(2024, 6, 1, 10, 1), 1, "click"),
        (3, datetime(2024, 6, 1, 10, 2), 1, "purchase"),
        (4, datetime(2024, 6, 1, 10, 3), 1, "view"),
        (5, datetime(2024, 6, 1, 10, 0), 2, "view"),
        (6, datetime(2024, 6, 1, 10, 1), 2, "click"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        r["trigram"]: r["n"]
        for r in QUERIES["events_type_trigrams_topk"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {"view>click>purchase": 1, "click>purchase>view": 1}


def test_lineitem_return_rate_by_discount_relative_risk(spark, tmp_path):
    """Band 0%: 1 of 2 returned; band 10%: 1 of 1; base rate 2/3 ->
    relative risks 0.75 and 1.5."""
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, 0.0, "R"), (2, 0.0, "N"),
            (3, 0.10, "R"),
        ],
        "l_orderkey long, l_discount double, l_returnflag string",
    )
    out = {
        r["discount_pct"]: (r["n_items"], r["n_returns"], r["return_pct"],
                            r["relative_risk"])
        for r in QUERIES["lineitem_return_rate_by_discount"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        0: (2, 1, 50.0, 0.75),
        10: (1, 1, 100.0, 1.5),
    }


def test_doc_ingestion_drift_deciles_buckets(spark, tmp_path):
    """Ids 0..9 with 10 buckets: one doc per decile; token counts 1..10
    so mean_tokens per decile equals the planted count."""
    rows = [(i, "tok " * (i + 1)) for i in range(10)]
    _plant(
        spark, tmp_path, "documents",
        [(i, t.strip()) for i, t in rows],
        "doc_id long, text string",
    )
    out = {
        r["decile"]: (r["n_docs"], r["mean_tokens"])
        for r in QUERIES["doc_ingestion_drift_deciles"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {i: (1, float(i + 1)) for i in range(10)}


def test_supplier_customer_repeat_affinity_threshold(spark, tmp_path):
    """(supp 1, cust 10) trades in 2 distinct orders -> kept; multiple
    lines inside one order count once; single-order pairs drop."""
    _plant(
        spark, tmp_path, "orders",
        [(100, 10), (101, 10), (102, 20)],
        "o_orderkey long, o_custkey long",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            (100, 1), (100, 1),  # same order: one distinct
            (101, 1),
            (102, 1),            # cust 20: only one order -> dropped
        ],
        "l_orderkey long, l_suppkey long",
    )
    rows = QUERIES["supplier_customer_repeat_affinity"](
        spark, str(tmp_path)
    ).collect()
    assert [(r["s_suppkey"], r["c_custkey"], r["n_orders"])
            for r in rows] == [(1, 10, 2)]


def test_customer_spend_migration_matrix(spark, tmp_path):
    """Two customers active in both halves: c1 spends 100 then 10,
    c2 spends 10 then 100 -> medians 10/10 per half (min of the two
    survives the 2*cum >= n threshold), so c1 migrates hi->lo and c2
    lo->hi; a customer active only in H1 is excluded."""
    _plant(
        spark, tmp_path, "orders",
        [
            (1, 1, datetime(1995, 1, 1), 100.0),
            (2, 2, datetime(1995, 1, 2), 10.0),
            (3, 3, datetime(1995, 1, 3), 5.0),    # H1 only
            (4, 1, datetime(1996, 12, 1), 10.0),
            (5, 2, datetime(1996, 12, 2), 100.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    out = {
        (r["from_class"], r["to_class"]): (r["n_customers"], r["share_pct"])
        for r in QUERIES["customer_spend_migration"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        ("hi", "lo"): (1, 50.0),
        ("lo", "hi"): (1, 50.0),
    }


def test_orders_fulfillment_span_days(spark, tmp_path):
    """Order 1 ships over 3 days (span 2), order 2 same-day (span 0):
    mean 1.0, 50% multi-day, max 2."""
    _plant(
        spark, tmp_path, "orders",
        [(1, "1-URGENT"), (2, "1-URGENT")],
        "o_orderkey long, o_orderpriority string",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, datetime(1995, 5, 1)),
            (1, datetime(1995, 5, 3)),
            (2, datetime(1995, 6, 1)),
            (2, datetime(1995, 6, 1)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    [r] = QUERIES["orders_fulfillment_span"](spark, str(tmp_path)).collect()
    assert (r["o_orderpriority"], r["n_orders"], r["mean_span_days"],
            r["multi_day_pct"], r["max_span_days"]) == (
        "1-URGENT", 2, 1.0, 50.0, 2
    )


def test_doc_priority_sample_deterministic_and_size_biased(spark, tmp_path):
    """Priority sampling is reproducible (same md5-derived priorities on
    every run) and size-biased: with equal uniforms impossible, we just
    pin the contract — top-20 of 5 docs returns all 5, ordered by
    priority, and two runs agree exactly."""
    docs = [(i, "tok " * (i + 1)) for i in range(5)]
    _plant(
        spark, tmp_path, "documents",
        [(i, t.strip()) for i, t in docs],
        "doc_id long, text string",
    )
    r1 = QUERIES["doc_priority_sample"](spark, str(tmp_path)).collect()
    r2 = QUERIES["doc_priority_sample"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    assert len(r1) == 5
    ps = [r["priority"] for r in r1]
    assert ps == sorted(ps, reverse=True)
    # every priority >= its weight (u <= 1 always)
    assert all(r["priority"] >= r["n_tokens"] for r in r1)


def test_events_value_equidepth_hist_boundaries(spark, tmp_path):
    """Values 1..10: decile b's boundary is the smallest v with
    10*cum >= b*10 -> exactly v = b."""
    t0 = datetime(2024, 6, 1)
    rows = [(i, t0, 1, "purchase", float(i)) for i in range(1, 11)]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    out = {
        r["decile"]: r["upper_value"]
        for r in QUERIES["events_value_equidepth_hist"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {b: float(b) for b in range(1, 11)}


def test_corpus_df_truncation_impact_sweep(spark, tmp_path):
    """Vocab dfs: a=3 docs, b=2, c=1, d=1 -> threshold 1 removes 2
    terms / 2 postings; threshold 2 removes 3 / 4; threshold 5 all
    4 / 7."""
    _plant(
        spark, tmp_path, "documents",
        [
            (1, "a b c"),
            (2, "a b d"),
            (3, "a a"),  # duplicate within doc counts once for df
        ],
        "doc_id long, text string",
    )
    out = {
        r["threshold"]: (r["n_tokens_removed"], r["n_postings_removed"],
                         r["token_share_pct"], r["postings_share_pct"])
        for r in QUERIES["corpus_df_truncation_impact"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        1: (2, 2, 50.0, round(2 / 7 * 100, 6)),
        2: (3, 4, 75.0, round(4 / 7 * 100, 6)),
        5: (4, 7, 100.0, 100.0),
    }


def test_part_size_ladder_gaps_holes(spark, tmp_path):
    """Type A observes sizes {1, 2, 5}: ladder 1..5 misses {3, 4};
    type B is complete."""
    _plant(
        spark, tmp_path, "part",
        [(1, "A", 1), (2, "A", 2), (3, "A", 5), (4, "A", 5),
         (5, "B", 7), (6, "B", 8)],
        "p_partkey long, p_type string, p_size int",
    )
    out = {
        r["p_type"]: (r["min_size"], r["max_size"], r["n_distinct_sizes"],
                      r["n_missing"], r["first_missing"])
        for r in QUERIES["part_size_ladder_gaps"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "A": (1, 5, 3, 2, 3),
        "B": (7, 8, 2, 0, None),
    }


def test_events_user_type_entropy_profile_bands(spark, tmp_path):
    """User 1: one type only -> H = 0 -> band 0.0; user 2: two equal
    types -> H = ln 2 ~ 0.693 -> band 0.5."""
    t0 = datetime(2024, 6, 1)
    rows = [
        (1, t0, 1, "view"), (2, t0, 1, "view"),
        (3, t0, 2, "view"), (4, t0, 2, "click"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        r["entropy_band_lo"]: (r["n_users"], r["share_pct"])
        for r in QUERIES["events_user_type_entropy_profile"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {0.0: (1, 50.0), 0.5: (1, 50.0)}


def test_events_session_concurrency_peak_sweep_line(spark, tmp_path):
    """Three single-user sessions: u1 10:00-10:05, u2 10:03-10:04,
    u3 11:00 — peak concurrency 2 at 10:03; u1's second burst at 12:00
    (31-min gap from 10:05... actually new session) makes 4 sessions."""
    rows = [
        (1, datetime(2024, 6, 1, 10, 0), 1, "view"),
        (2, datetime(2024, 6, 1, 10, 5), 1, "view"),
        (3, datetime(2024, 6, 1, 10, 3), 2, "view"),
        (4, datetime(2024, 6, 1, 10, 4), 2, "view"),
        (5, datetime(2024, 6, 1, 11, 0), 3, "view"),
        (6, datetime(2024, 6, 1, 12, 0), 1, "view"),  # gap > 30min: new
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    [r] = QUERIES["events_session_concurrency_peak"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_sessions"], r["peak_concurrency"], r["peak_minute"]) == (
        4, 2, "2024-06-01 10:03"
    )


def test_customer_order_dispersion_closed_form(spark, tmp_path):
    """Counts (0, 1, 3) including the zero-order customer: mean 4/3,
    var 14/9, dispersion 7/6."""
    _plant(
        spark, tmp_path, "customer",
        [(1,), (2,), (3,)],
        "c_custkey long",
    )
    _plant(
        spark, tmp_path, "orders",
        [(10, 2), (11, 3), (12, 3), (13, 3)],
        "o_orderkey long, o_custkey long",
    )
    [r] = QUERIES["customer_order_dispersion"](spark, str(tmp_path)).collect()
    assert (r["n_customers"], r["mean_orders"], r["variance"],
            r["dispersion_index"]) == (
        3, round(4 / 3, 6), round(14 / 9, 6), round(7 / 6, 6)
    )


def test_events_km_conversion_survival_censoring(spark, tmp_path):
    """Three viewers: conversions at day 1 and 3, one censored at day 5
    (never purchased). KM: S(1) = 2/3, S(3) = 1/3, median day 3; a
    purchase-only user never enters the cohort."""
    import math

    d0 = datetime(2024, 6, 1, 12)

    def at(days):
        from datetime import timedelta
        return d0 + timedelta(days=days)

    rows = [
        (1, d0, 1, "view"), (2, at(1), 1, "purchase"),
        (3, d0, 2, "view"), (4, at(3), 2, "purchase"),
        (5, d0, 3, "view"), (6, at(5), 3, "click"),   # censored
        (7, d0, 4, "purchase"),                        # no view: excluded
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    [r] = QUERIES["events_km_conversion_survival"](
        spark, str(tmp_path)
    ).collect()
    l1 = round(math.log(2 / 3) * 1e9)
    l3 = round(math.log(1 / 2) * 1e9)
    assert r["n_users"] == 3
    assert r["s_day1"] == round(math.exp(l1 / 1e9), 6)
    assert r["s_day3"] == round(math.exp((l1 + l3) / 1e9), 6)
    assert r["s_day7"] == r["s_day3"]
    assert r["median_day"] == 3


def test_embedding_dim_ablation_recall_zero_tail(spark, tmp_path):
    """Vectors whose upper 32 dims are all zero: the top-variance-32
    selection is exactly the signal half, truncated retrieval equals the
    full ground truth, recall@10 = 100."""
    rows = []
    for i in range(25):
        v = [1.0 + ((i + j) % 5) * 0.1 for j in range(32)] + [0.0] * 32
        rows.append((i, v, 0))
    _plant(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    [r] = QUERIES["embedding_dim_ablation_recall"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_queries"], r["recall_at10_pct"]) == (20, 100.0)


def test_oracle_gate_sort_key_negative_zero_and_tiebreak():
    """_row_sort_key must (a) give -0.0 and 0.0 the same key so a
    -1e-10 vs +1e-10 engine disagreement can't flip row order, and
    (b) tie-break equal 1e-6-rounded keys by full precision so rows
    separated by more than the compare tolerance sort deterministically
    (ADVICE r7)."""
    from tools.run_oracle_gate import _row_sort_key

    neg = _row_sort_key([("f", -1e-10)])
    pos = _row_sort_key([("f", 1e-10)])
    # lead and rounded components identical; the tie component may differ
    # (full precision) but the rounded key must not
    assert neg[0] == pos[0] and neg[1] == pos[1]
    assert "-0.0" not in neg[1]

    # rows equal at 1e-6 rounding but separated by > compare tolerance:
    # full-precision tie-break orders them, same way in both engines
    a = _row_sort_key([("f", 1.0000001)])
    b = _row_sort_key([("f", 1.0000004)])
    assert a[1] == b[1]  # tie at the rounded key
    assert a < b  # resolved by the full-precision component

    # non-floats still lead and dominate
    x = _row_sort_key([("s", "a"), ("f", 9.9)])
    y = _row_sort_key([("s", "b"), ("f", 0.1)])
    assert x < y


def test_events_value_bootstrap_ci_python_replica(spark, tmp_path):
    """The Poisson-bootstrap CI must be bit-reproducible: a pure-Python
    replica of the one-md5 + universal-hash weight draws and replicate
    means predicts the exact output (no RNG state anywhere)."""
    import hashlib
    import math

    from beacon_indexer_spark.plans.queries import _BOOT_B, _POIS_T

    t0 = datetime(2024, 6, 1, 10, 0)
    vals = [5.0, 7.25, 9.5, 12.0, 3.75, 20.0, 1.0, 15.5, 8.0, 11.25]
    rows = [(i + 1, t0, 1, "view", v) for i, v in enumerate(vals)]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )

    from beacon_indexer_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    coeffs = minhash_coeffs(_BOOT_B)

    def pois_w(eid, b):
        u = int(hashlib.md5(f"91:{eid}".encode()).hexdigest()[:15], 16) \
            % MINHASH_P
        a, c = coeffs[b]
        ub = (a * u + c) % MINHASH_P
        for k, t in enumerate(_POIS_T):
            if ub < t:
                return k
        return 9

    cents = [round(v * 100) for v in vals]
    means = []
    for b in range(_BOOT_B):
        ws = [pois_w(i + 1, b) for i in range(len(vals))]
        sw = sum(ws)
        if sw > 0:
            means.append(sum(w * c for w, c in zip(ws, cents)) / sw / 100.0)
    means.sort()
    nb = len(means)
    ilo = int(math.floor(0.025 * (nb - 1) + 0.5))
    ihi = int(math.floor(0.975 * (nb - 1) + 0.5))
    [r] = QUERIES["events_value_bootstrap_ci"](spark, str(tmp_path)).collect()
    assert r["n_events"] == len(vals)
    assert r["n_boot"] == nb
    assert abs(r["mean_value"] - round(sum(cents) / 100.0 / len(vals), 6)) < 1e-9
    assert abs(r["boot_ci_lo"] - round(means[ilo], 6)) < 1e-9
    assert abs(r["boot_ci_hi"] - round(means[ihi], 6)) < 1e-9
    assert r["boot_ci_lo"] <= r["mean_value"] <= r["boot_ci_hi"]


def test_orders_revenue_trend_robust_monotone(spark, tmp_path):
    """Five strictly increasing months: MK S = C(5,2) = 10, tie term 0,
    var = 5*4*15/18, z = 9/sqrt(var) > 1.96 -> 'increasing'; linear
    revenue makes every pairwise slope exactly 10.0/month."""
    import math

    from datetime import date

    rows = [
        (i + 1, date(2024, m, 15), 10.0 * m)
        for i, m in enumerate(range(1, 6))
    ]
    _plant(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    [r] = QUERIES["orders_revenue_trend_robust"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_months"], r["mk_s"]) == (5, 10)
    var = (5 * 4 * 15) / 18.0
    assert abs(r["mk_z"] - round(9 / math.sqrt(var), 6)) < 1e-9
    assert r["trend"] == "increasing"
    assert r["sen_slope"] == 10.0


def test_dup_graph_triangles_planted(spark, tmp_path):
    """Three identical docs form one triangle (3 edges, clustering 1.0);
    a separate identical pair adds an edge but no wedge; a unique doc
    adds nothing. 3*T/W = 3*1/3 = 1.0 overall."""
    tri_text = "the quick brown fox jumps over the lazy dog tonight"
    pair_text = "pack my box with five dozen liquor jugs right now"
    rows = [
        (1, tri_text), (2, tri_text), (3, tri_text),
        (10, pair_text), (11, pair_text),
        (20, "completely unrelated singleton document text body here"),
    ]
    _plant(spark, tmp_path, "documents", rows, "doc_id long, text string")
    [r] = QUERIES["dup_graph_triangles"](spark, str(tmp_path)).collect()
    assert r["n_nodes"] == 5
    assert r["n_edges"] == 4
    assert r["n_triangles"] == 1
    assert r["n_wedges"] == 3
    assert r["global_clustering"] == 1.0


def test_orders_join_skew_audit_hot_key(spark, tmp_path):
    """One customer holds 8 of 12 orders across 5 keys: mean load is
    12/5 = 2.4, so the hot key's ratio is 8/2.4 = 10/3 and its salt
    factor ceil(10/3) = 4; a uniform key gets ratio 1/2.4 and salt 1."""
    from datetime import date

    rows = [(i + 1, 100, date(2024, 1, 1), 10.0) for i in range(8)] + [
        (9, 200, date(2024, 1, 1), 10.0),
        (10, 300, date(2024, 1, 1), 10.0),
        (11, 400, date(2024, 1, 1), 10.0),
        (12, 500, date(2024, 1, 1), 10.0),
    ]
    _plant(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    out = {
        r["o_custkey"]: r
        for r in QUERIES["orders_join_skew_audit"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(out) == 5
    hot = out[100]
    assert hot["n_rows"] == 8
    assert abs(hot["ratio_to_mean"] - round(8 * 5 / 12.0, 6)) < 1e-9
    assert hot["salt_factor"] == 4
    assert out[200]["salt_factor"] == 1


def test_lineitem_bloom_join_planner_formulas(spark, tmp_path):
    """Two high-value build keys: m = ceil(2·ln(100)/ln²2) = 20 bits,
    k = round(20/2·ln2) = 7 hashes; match_rows counts only lineitems of
    those orders; false-pass estimate is (probe − match)·fpp."""
    import math

    from datetime import date

    _plant(
        spark, tmp_path, "orders",
        [
            (1, 1, date(2024, 1, 1), 200000.0),
            (2, 1, date(2024, 1, 1), 300000.0),
            (3, 1, date(2024, 1, 1), 50000.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [(1, 1.0), (1, 2.0), (2, 1.0), (3, 1.0), (3, 2.0), (3, 3.0)],
        "l_orderkey long, l_quantity double",
    )
    [r] = QUERIES["lineitem_bloom_join_planner"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_build_keys"], r["probe_rows"], r["match_rows"]) == (2, 6, 3)
    ln2 = math.log(2.0)
    m = math.ceil(-(2 * math.log(0.01)) / (ln2 * ln2))
    assert r["bloom_bits"] == m
    k = max(1, round(m / 2 * ln2))
    assert r["bloom_hashes"] == k
    fpp = (1.0 - math.exp(-(k * 2.0) / m)) ** k
    assert abs(r["achieved_fpp"] - round(fpp, 9)) < 1e-12
    assert abs(r["est_false_pass_rows"] - round(3 * fpp, 3)) < 1e-9


def test_events_converter_type_enrichment_log_odds(spark, tmp_path):
    """Converters u1, u2 both clicked; non-converters u3, u4 did not
    (u3 viewed): click log-OR = ln((2.5·2.5)/(0.5·0.5)) (enriched),
    view log-OR = ln((1.5·1.5)/(1.5·1.5)) = 0 (depleted by the > 0
    tie-break)."""
    import math

    t0 = datetime(2024, 6, 1, 10, 0)
    rows = [
        (1, t0, 1, "click"), (2, t0, 1, "purchase"), (3, t0, 1, "view"),
        (4, t0, 2, "click"), (5, t0, 2, "purchase"),
        (6, t0, 3, "view"),
        (7, t0, 4, "idle"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        r["event_type"]: r
        for r in QUERIES["events_converter_type_enrichment"](
            spark, str(tmp_path)
        ).collect()
    }
    click = out["click"]
    assert (click["n_conv_with"], click["n_nonconv_with"]) == (2, 0)
    assert abs(
        click["log_odds_ratio"]
        - round(math.log((2.5 * 2.5) / (0.5 * 0.5)), 6)
    ) < 1e-9
    assert click["direction"] == "enriched"
    view = out["view"]
    assert (view["n_conv_with"], view["n_nonconv_with"]) == (1, 1)
    assert view["log_odds_ratio"] == 0.0
    assert view["direction"] == "depleted"


def test_lineitem_simpsons_check_reversal(spark, tmp_path):
    """Classic paradox plant: within EACH year high-discount lines
    return LESS, but high-discount volume concentrates in the high-
    return year, so the aggregate gap is positive — both strata must
    flag reversed = 1."""
    from datetime import date

    rows = []
    kid = [0]

    def add(year, hi, returned, n):
        for _ in range(n):
            kid[0] += 1
            rows.append(
                (
                    kid[0], 1,
                    0.06 if hi else 0.0,
                    "R" if returned else "N",
                    date(year, 6, 1),
                )
            )

    # 2023: base return rate 50%; hi-discount 40% (lower), mostly hi rows
    add(2023, True, True, 40), add(2023, True, False, 60)    # hi: 40%
    add(2023, False, True, 5), add(2023, False, False, 5)    # lo: 50%
    # 2024: base return rate 5%; hi-discount 2% (lower), mostly lo rows
    add(2024, True, True, 1), add(2024, True, False, 49)     # hi: 2%
    add(2024, False, True, 5), add(2024, False, False, 95)   # lo: 5%
    _plant(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_partkey long, l_discount double,"
        " l_returnflag string, l_shipdate date",
    )
    out = {
        r["ship_year"]: r
        for r in QUERIES["lineitem_simpsons_check"](
            spark, str(tmp_path)
        ).collect()
    }
    # aggregate: hi 41/150 vs lo 10/110 -> positive gap
    agg = 41 / 150.0 - 10 / 110.0
    assert agg > 0
    for y, hi_rate, lo_rate in [(2023, 0.4, 0.5), (2024, 0.02, 0.05)]:
        r = out[y]
        assert r["hi_disc_return_rate"] == hi_rate
        assert r["lo_disc_return_rate"] == lo_rate
        assert r["stratum_gap"] < 0
        assert r["reversed"] == 1
        assert abs(r["aggregate_gap"] - round(agg, 6)) < 1e-9


def test_events_neyman_allocation_closed_form(spark, tmp_path):
    """Two strata with equal size but 3x the stddev: Neyman gives the
    noisy stratum 3/4 of the budget while proportional splits 50/50."""
    t0 = datetime(2024, 6, 1, 10, 0)
    rows = []
    eid = [0]

    def add(tp, vals):
        for v in vals:
            eid[0] += 1
            rows.append((eid[0], t0, 1, tp, v))

    add("calm", [10.0, 12.0] * 50)      # sd of {10,12} pattern
    add("noisy", [10.0, 16.0] * 50)     # 3x the deviation
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    out = {
        r["event_type"]: r
        for r in QUERIES["events_neyman_allocation"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out["calm"]["n_rows"] == 100 and out["noisy"]["n_rows"] == 100
    assert abs(
        out["noisy"]["value_stddev"] - 3 * out["calm"]["value_stddev"]
    ) < 1e-4
    assert out["calm"]["proportional_n"] == 5000
    assert out["noisy"]["proportional_n"] == 5000
    assert out["calm"]["neyman_n"] == 2500
    assert out["noisy"]["neyman_n"] == 7500


def test_events_daily_runs_test_clustered(spark, tmp_path):
    """Ten days: five busy (2 events) then five quiet (1 event) — a
    maximally clustered series has R = 2 runs vs E[R] = 6, z < 0; sides
    split 5/5 at the strictly-above-lower-median dichotomy."""
    import math

    from datetime import timedelta

    t0 = datetime(2024, 6, 1, 10, 0)
    rows = []
    eid = [0]
    for d in range(10):
        n = 2 if d < 5 else 1
        for _ in range(n):
            eid[0] += 1
            rows.append((eid[0], t0 + timedelta(days=d), 1, "view"))
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    [r] = QUERIES["events_daily_runs_test"](spark, str(tmp_path)).collect()
    assert (r["n_days"], r["n_above"], r["n_below"]) == (10, 5, 5)
    assert r["n_runs"] == 2
    assert r["expected_runs"] == 6.0
    var = 2 * 5 * 5 * (2 * 5 * 5 - 10) / (100.0 * 9.0)
    assert abs(r["z"] - round((2 - 6.0) / math.sqrt(var), 6)) < 1e-9
    assert r["verdict"] == "clustered"


def test_events_dow_seasonality_strength_pure_dow(spark, tmp_path):
    """Fourteen days whose counts depend ONLY on epoch_day % 7 (two full
    identical weeks): within-group variance is zero, so eta_sq = 1 and
    F is 0 by the SSw > 0 guard; a constant series gets eta_sq = 0."""
    from datetime import timedelta

    t0 = datetime(2024, 6, 2, 12, 0)
    rows, eid = [], [0]
    for d in range(14):
        n = (d % 7) + 1
        for _ in range(n):
            eid[0] += 1
            rows.append((eid[0], t0 + timedelta(days=d), 1, "view"))
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    [r] = QUERIES["events_dow_seasonality_strength"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_days"], r["n_dows"]) == (14, 7)
    assert r["eta_sq"] == 1.0
    assert r["f_stat"] == 0.0


def test_embedding_label_auc_separable(spark, tmp_path):
    """Dominant label 0 has norms {3, 4}, label 1 has norms {1, 2} — a
    perfectly separable score gives AUC = 1; a tied norm would get
    midrank credit (checked via one shared value -> AUC 0.875)."""
    rows = [
        (1, [3.0, 0.0], 0), (2, [0.0, 4.0], 0), (3, [5.0, 0.0], 0),
        (4, [1.0, 0.0], 1), (5, [0.0, 2.0], 1),
    ]
    _plant(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label long",
    )
    [r] = QUERIES["embedding_label_auc"](spark, str(tmp_path)).collect()
    assert (r["n_pos"], r["n_neg"]) == (3, 2)
    assert r["auc"] == 1.0
    assert r["direction"] == "norm-higher-for-class"
    # midrank: pos {2,3,4}, neg {1,2} -> pairs: 2v1=1, 2v2=.5, 3,4 beat all
    rows2 = [
        (1, [2.0, 0.0], 0), (2, [0.0, 3.0], 0), (3, [4.0, 0.0], 0),
        (4, [1.0, 0.0], 1), (5, [0.0, 2.0], 1),
    ]
    import shutil

    shutil.rmtree(tmp_path / "embeddings.parquet")
    _plant(
        spark, tmp_path, "embeddings", rows2,
        "vec_id long, embedding array<float>, label long",
    )
    [r2] = QUERIES["embedding_label_auc"](spark, str(tmp_path)).collect()
    assert r2["auc"] == round((1 + 0.5 + 2 + 2) / 6.0, 6)


def test_events_value_expected_shortfall_exact_tail(spark, tmp_path):
    """Twenty values 1..20: VaR95 is the smallest value with cum >= 19
    (i.e. 19.0), the >= tail is {19, 20}, ES = 19.5, tail share 0.1."""
    t0 = datetime(2024, 6, 1, 10, 0)
    rows = [(i, t0, 1, "view", float(i)) for i in range(1, 21)]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_value_expected_shortfall"](
        spark, str(tmp_path)
    ).collect()
    assert r["n_events"] == 20
    assert r["var_95"] == 19.0
    assert r["es_95"] == 19.5
    assert (r["tail_n"], r["tail_share"]) == (2, 0.1)


def test_embedding_top_component_axis_aligned(spark, tmp_path):
    """All variance on dim 0 (values 1..4, every other dim constant):
    the population covariance has one nonzero entry 1.25, so the top
    eigenvalue is 1.25, the variance share 1.0, and power iteration
    locks onto dim 0."""
    def vec(a):
        v = [0.0] * 64
        v[0] = a
        v[1] = 5.0  # constant -> zero variance
        return v

    rows = [(i, vec(float(i)), 0) for i in range(1, 5)]
    _plant(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label long",
    )
    [r] = QUERIES["embedding_top_component"](spark, str(tmp_path)).collect()
    assert r["n_vectors"] == 4
    assert r["top_eigenvalue"] == 1.25
    assert r["top_var_share"] == 1.0
    assert r["top_dim"] == 0


def test_orders_seasonal_naive_backtest_pure_seasonal(spark, tmp_path):
    """Two years with an identical month profile: the seasonal-naive
    forecast is perfect (MAE 0) while the naive one is not, so the
    seasonal model wins on the 12 evaluable months."""
    from datetime import date

    profile = [100.0, 200.0, 150.0, 300.0, 250.0, 120.0,
               180.0, 220.0, 160.0, 280.0, 140.0, 260.0]
    rows = []
    k = 0
    for y in (2023, 2024):
        for m in range(12):
            k += 1
            rows.append((k, date(y, m + 1, 10), profile[m]))
    _plant(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    [r] = QUERIES["orders_seasonal_naive_backtest"](
        spark, str(tmp_path)
    ).collect()
    assert r["n_eval_months"] == 12
    assert r["mae_seasonal"] == 0.0
    assert r["mae_naive"] > 0
    assert r["seasonal_to_naive_ratio"] == 0.0
    assert r["winner"] == "seasonal"


def test_corpus_lang_source_nmi_silos(spark, tmp_path):
    """Perfect silos (each language exclusive to one source): MI equals
    the marginal entropy ln 2 and NMI = 1; a fully mixed grid drives
    NMI to 0."""
    import shutil

    rows = [
        (1, "x", "en", "a"), (2, "y", "en", "a"),
        (3, "z", "fr", "b"), (4, "w", "fr", "b"),
    ]
    _plant(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string",
    )
    [r] = QUERIES["corpus_lang_source_nmi"](spark, str(tmp_path)).collect()
    assert (r["n_langs"], r["n_sources"]) == (2, 2)
    assert abs(r["mutual_info_nats"] - 0.693147) < 1e-6
    assert abs(r["nmi"] - 1.0) < 1e-6
    shutil.rmtree(tmp_path / "documents.parquet")
    rows2 = [
        (1, "x", "en", "a"), (2, "y", "en", "b"),
        (3, "z", "fr", "a"), (4, "w", "fr", "b"),
    ]
    _plant(
        spark, tmp_path, "documents", rows2,
        "doc_id long, text string, lang string, source string",
    )
    [r2] = QUERIES["corpus_lang_source_nmi"](spark, str(tmp_path)).collect()
    assert r2["nmi"] == 0.0


def test_doc_text_embedding_agreement_planted(spark, tmp_path):
    """Two identical texts (ids 1, 2) whose embeddings are identical
    unit-ish vectors -> mean dup cosine 1.0; the corpus baseline over
    {e0, e0, e1} pairs is (2*0 + 1)/3 = 1/3, so the lift is 2/3."""
    txt = "the quick brown fox jumps over the lazy dog tonight"
    _plant(
        spark, tmp_path, "documents",
        [(1, txt), (2, txt), (3, "another unrelated piece of text body")],
        "doc_id long, text string",
    )
    _plant(
        spark, tmp_path, "embeddings",
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label long",
    )
    [r] = QUERIES["doc_text_embedding_agreement"](
        spark, str(tmp_path)
    ).collect()
    assert r["n_dup_pairs"] == 1
    assert r["mean_dup_cosine"] == 1.0
    assert abs(r["mean_all_cosine"] - round(1 / 3.0, 6)) < 1e-9
    assert abs(r["cosine_lift"] - round(1 - 1 / 3.0, 6)) < 1e-9


def test_events_aa_test_validator_python_replica(spark, tmp_path):
    """A deterministic md5 replica of the arm assignment predicts the
    arm sizes and means exactly; a symmetric value layout across many
    users should read 'healthy'."""
    import hashlib

    t0 = datetime(2024, 6, 1, 10, 0)
    rows = []
    for uid in range(1, 41):
        rows.append((uid, t0, uid, "view", float(10 + (uid % 7))))

    def arm(uid):
        h = hashlib.md5(f"73:{uid}".encode()).hexdigest()[:15]
        return int(h, 16) % 2

    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_aa_test_validator"](spark, str(tmp_path)).collect()
    a = [10 + (u % 7) for u in range(1, 41) if arm(u) == 0]
    b = [10 + (u % 7) for u in range(1, 41) if arm(u) == 1]
    assert (r["n_users_a"], r["n_users_b"]) == (len(a), len(b))
    assert abs(r["mean_value_a"] - round(sum(a) / len(a), 6)) < 1e-6
    assert abs(r["mean_value_b"] - round(sum(b) / len(b), 6)) < 1e-6
    assert r["verdict"] == "healthy"


def test_events_markov_stationary_two_state(spark, tmp_path):
    """An alternating A/B stream gives the doubly stochastic permutation
    chain whose stationary distribution is exactly uniform; power
    iteration from the uniform start stays at (0.5, 0.5) every step."""
    from datetime import timedelta

    t0 = datetime(2024, 6, 1, 10, 0)
    rows = []
    for i in range(20):
        rows.append((i + 1, t0 + timedelta(minutes=i), 1,
                     "alpha" if i % 2 == 0 else "beta"))
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        r["state"]: r
        for r in QUERIES["events_markov_stationary"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {"alpha", "beta"}
    assert out["alpha"]["stationary_prob"] == 0.5
    assert out["beta"]["stationary_prob"] == 0.5
    # 19 transitions: 10 into beta, 9 into alpha
    assert abs(out["beta"]["empirical_next_share"] - round(10 / 19, 6)) < 1e-9
    assert abs(out["alpha"]["gap"] - round(0.5 - 9 / 19, 6)) < 1e-9


def test_doc_length_psi_drift_shifted(spark, tmp_path):
    """Reference half has short docs, current half long docs — every
    current doc lands in the top reference bin, PSI blows past 0.25 and
    the verdict reads 'shifted'; an identical-distribution corpus reads
    'stable'."""
    import shutil

    short = "a b c"
    long_ = " ".join(["tok"] * 40)
    rows = [(i, short) for i in range(1, 21)] + [
        (i, long_) for i in range(21, 41)
    ]
    _plant(spark, tmp_path, "documents", rows, "doc_id long, text string")
    [r] = QUERIES["doc_length_psi_drift"](spark, str(tmp_path)).collect()
    assert (r["n_ref"], r["n_cur"]) == (20, 20)
    assert r["psi"] > 0.25
    assert r["verdict"] == "shifted"
    shutil.rmtree(tmp_path / "documents.parquet")
    rows2 = [(i, short if i % 2 == 0 else long_) for i in range(1, 41)]
    _plant(spark, tmp_path, "documents", rows2, "doc_id long, text string")
    [r2] = QUERIES["doc_length_psi_drift"](spark, str(tmp_path)).collect()
    assert r2["verdict"] == "stable"


def test_part_dual_sourcing_counts(spark, tmp_path):
    """Part 1 ships from two suppliers (dedup across repeat lines),
    parts 2 and 3 from one each: 1/3 multi-sourced, mean 4/3, max 2."""
    _plant(
        spark, tmp_path, "lineitem",
        [(1, 1, 10), (1, 1, 10), (2, 1, 20), (3, 2, 10), (4, 3, 30)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    [r] = QUERIES["part_dual_sourcing"](spark, str(tmp_path)).collect()
    assert (r["n_parts_traded"], r["single_sourced"]) == (3, 2)
    assert abs(r["multi_source_share"] - round(1 / 3, 6)) < 1e-9
    assert abs(r["mean_suppliers"] - round(4 / 3, 6)) < 1e-9
    assert r["max_suppliers"] == 2


def test_embedding_knn_reciprocity_two_cliques(spark, tmp_path):
    """Six vectors in two tight orthogonal triples with k=2: every kNN
    edge stays inside its triple and every edge is mutual —
    reciprocity would be 1.0 at k=2; at the query's k=5 each node must
    also reach the other clique, and those cross edges stay mutual by
    symmetry, so reciprocity is still 1.0."""
    rows = []
    for i in range(3):
        v = [0.0] * 4
        v[0] = 1.0
        v[1] = 0.01 * i
        rows.append((i, v, 0))
    for i in range(3):
        v = [0.0] * 4
        v[2] = 1.0
        v[3] = 0.01 * i
        rows.append((3 + i, v, 1))
    _plant(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label long",
    )
    [r] = QUERIES["embedding_knn_reciprocity"](spark, str(tmp_path)).collect()
    assert r["n_nodes"] == 6
    assert r["n_edges"] == 30  # 6 nodes x k=5 on a 6-point sample
    assert r["n_mutual_edges"] == 30
    assert r["reciprocity"] == 1.0


def test_corpus_chunk_dedup_planner_exact_savings(spark, tmp_path):
    """Two identical 32-token docs + one unique 16-token doc: at size
    16 there are 5 chunks, 3 distinct, 32 tokens saved; at size 64 each
    doc is one (tail) chunk -> 2 distinct of 3, 32 saved."""
    rep = " ".join(f"w{i}" for i in range(32))
    uniq = " ".join(f"u{i}" for i in range(16))
    _plant(
        spark, tmp_path, "documents",
        [(1, rep), (2, rep), (3, uniq)],
        "doc_id long, text string",
    )
    out = {
        r["chunk_size"]: r
        for r in QUERIES["corpus_chunk_dedup_planner"](
            spark, str(tmp_path)
        ).collect()
    }
    s16 = out[16]
    assert (s16["n_chunks"], s16["n_distinct"]) == (5, 3)
    assert s16["tokens_saved"] == 32
    assert abs(s16["dup_share"] - round(1 - 3 / 5, 6)) < 1e-9
    s64 = out[64]
    assert (s64["n_chunks"], s64["n_distinct"]) == (3, 2)
    assert s64["tokens_saved"] == 32


def test_part_price_dispersion_spread(spark, tmp_path):
    """Part 1 sells at unit 10.00 and 20.00 from two suppliers (exact
    CV from the quantized moments); part 2 has two suppliers at the
    same price -> CV 0 ranks below part 1."""
    import math

    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, 1, 1, 2.0, 20.0), (1, 1, 2, 1.0, 20.0),
            (2, 2, 1, 1.0, 5.0), (2, 2, 2, 2.0, 10.0),
            (3, 3, 1, 1.0, 7.0),  # single supplier: excluded
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_quantity double, l_extendedprice double",
    )
    rows = QUERIES["part_price_dispersion"](spark, str(tmp_path)).collect()
    assert [r["part"] for r in rows] == [1, 2]
    r1 = rows[0]
    assert r1["n_suppliers"] == 2
    assert (r1["min_price"], r1["max_price"]) == (10.0, 20.0)
    # sample stddev of {10, 20} = sqrt(50), mean 15
    assert abs(r1["price_cv"] - round(math.sqrt(50) / 15.0, 6)) < 1e-6
    assert rows[1]["price_cv"] == 0.0


def test_corpus_audit_sample_planner_cochran(spark, tmp_path):
    """A 1000-doc source at 50% pass share needs the full-variance
    Cochran sample with FPC: n0 = z^2*0.25/0.0009, n = ceil(n0/(1 +
    (n0-1)/1000)); a degenerate all-pass source falls back to p = 0.5
    variance rather than planning zero."""
    import math

    long_ = " ".join(["tok"] * 40)
    rows = [(i, long_ if i % 2 == 0 else "a b", "big") for i in range(1000)]
    rows += [(10000 + i, long_, "pure") for i in range(50)]
    _plant(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r
        for r in QUERIES["corpus_audit_sample_planner"](
            spark, str(tmp_path)
        ).collect()
    }
    z2, e2 = 1.959964**2, 0.03**2
    n0 = z2 * 0.25 / e2
    exp_big = math.ceil(n0 / (1 + (n0 - 1) / 1000))
    big = out["big"]
    assert (big["n_docs"], big["pass_share"]) == (1000, 0.5)
    assert big["sample_needed"] == exp_big
    pure = out["pure"]
    assert pure["pass_share"] == 1.0
    exp_pure = math.ceil(n0 / (1 + (n0 - 1) / 50))
    assert pure["sample_needed"] == exp_pure


def test_events_hourly_holt_forecast_python_replica(spark, tmp_path):
    """A pure-Python replica of the quantized Holt recursion (alpha 0.5,
    beta 0.3, l1 = v1, b1 = v1 - v0) predicts level/trend/forecasts
    exactly on a 6-hour series."""
    from datetime import timedelta

    t0 = datetime(2024, 6, 1, 0, 30)
    counts = [4, 6, 5, 9, 7, 12]
    rows, eid = [], 0
    for h, n in enumerate(counts):
        for _ in range(n):
            eid += 1
            rows.append((eid, t0 + timedelta(hours=h), 1, "view"))
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )

    def q9(x):
        import math

        return math.floor(x * 1e9 + 0.5) / 1e9 if x >= 0 \
            else -math.floor(-x * 1e9 + 0.5) / 1e9

    l, b = None, None
    for i, v in enumerate(float(c) for c in counts):
        if i == 0:
            l, b = v, 0.0
        elif i == 1:
            l, b = v, q9(v - l)
        else:
            nl = q9(0.5 * v + 0.5 * (l + b))
            b = q9(0.3 * (nl - l) + 0.7 * b)
            l = nl
    [r] = QUERIES["events_hourly_holt_forecast"](
        spark, str(tmp_path)
    ).collect()
    assert r["n_hours"] == 6
    assert abs(r["level"] - round(l, 6)) < 1e-9
    assert abs(r["trend"] - round(b, 6)) < 1e-9
    assert abs(r["forecast_3h"] - round(l + 3 * b, 6)) < 1e-9


def test_orders_duplicate_screen_planted(spark, tmp_path):
    """Three orders share (customer, cents, date) and two more share
    another key: 2 dup groups holding 5 of 7 orders, max group 3."""
    from datetime import date

    d = date(2024, 3, 1)
    rows = [
        (1, 7, d, 100.0), (2, 7, d, 100.0), (3, 7, d, 100.0),
        (4, 8, d, 55.5), (5, 8, d, 55.5),
        (6, 7, d, 200.0), (7, 9, d, 100.0),
    ]
    _plant(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    [r] = QUERIES["orders_duplicate_screen"](spark, str(tmp_path)).collect()
    assert (r["n_orders"], r["dup_groups"]) == (7, 2)
    assert (r["orders_in_dup_groups"], r["max_group"]) == (5, 3)
    assert abs(r["dup_order_share"] - round(5 / 7, 6)) < 1e-9


def test_corpus_postings_compression_estimate_exact_bits(spark, tmp_path):
    """Term 'x' posts in docs 1 and 3: first gap 1+1=2 (3 bits), delta
    gap 2 (3 bits); term 'y' posts in doc 2 only: gap 3 (3 bits). Total
    9 bits over 3 postings."""
    _plant(
        spark, tmp_path, "documents",
        [(1, "x"), (2, "y"), (3, "x")],
        "doc_id long, text string",
    )
    [r] = QUERIES["corpus_postings_compression_estimate"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_terms"], r["n_postings"]) == (2, 3)
    assert r["total_bits"] == 9
    assert r["bits_per_posting"] == 3.0
    assert abs(r["ratio_vs_int64"] - round(9 / (64.0 * 3), 6)) < 1e-9


def test_orders_revenue_reconcile_planted_drift(spark, tmp_path):
    """Order 1 reconciles exactly, order 2 is off by 10.00 (mismatch),
    order 3 has no lineitems: 1 mismatch, 1 unmatched, drift 10.00."""
    from datetime import date

    _plant(
        spark, tmp_path, "orders",
        [
            (1, 1, date(2024, 1, 1), 108.9),   # 100*(1-0.1)*(1+0.21)
            (2, 1, date(2024, 1, 1), 60.0),    # lines say 50.00
            (3, 1, date(2024, 1, 1), 99.0),    # no lines
        ],
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    _plant(
        spark, tmp_path, "lineitem",
        [
            (1, 100.0, 0.10, 0.21),
            (2, 25.0, 0.0, 0.0), (2, 25.0, 0.0, 0.0),
        ],
        "l_orderkey long, l_extendedprice double, l_discount double,"
        " l_tax double",
    )
    [r] = QUERIES["orders_revenue_reconcile"](spark, str(tmp_path)).collect()
    assert r["n_orders"] == 3
    assert r["n_without_lines"] == 1
    assert r["n_mismatched"] == 1
    assert r["total_abs_drift"] == 10.0
    assert r["max_abs_diff_cents"] == 1000


def test_events_value_twap_holding_weights(spark, tmp_path):
    """One day: value 10 held for 6h, then value 20 held for the
    remaining 18h -> TWAP = 17.5 while the naive mean is 15."""
    t0 = datetime(2024, 6, 1, 0, 0)
    from datetime import timedelta

    rows = [
        (1, t0, 1, "view", 10.0),
        (2, t0 + timedelta(hours=6), 1, "view", 20.0),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_value_twap"](spark, str(tmp_path)).collect()
    assert r["n_events"] == 2
    assert r["twap_value"] == 17.5
    assert r["mean_value"] == 15.0
    assert r["twap_minus_mean"] == 2.5


def test_corpus_junk_token_profile_classes(spark, tmp_path):
    """Source 'web' carries numeric, url and email junk in known
    shares; source 'prose' is clean."""
    _plant(
        spark, tmp_path, "documents",
        [
            (1, "visit https://x.co or www.y.com call 12345 mail a@b.c now",
             "en", "web"),
            (2, "plain words only here", "en", "prose"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {
        r["source"]: r
        for r in QUERIES["corpus_junk_token_profile"](
            spark, str(tmp_path)
        ).collect()
    }
    web = out["web"]
    assert web["total_tokens"] == 9
    assert web["numeric_share"] == round(1 / 9, 6)   # 12345
    assert web["url_share"] == round(2 / 9, 6)       # https://..., www....
    assert web["email_share"] == round(1 / 9, 6)     # a@b.c
    prose = out["prose"]
    assert prose["numeric_share"] == 0.0
    assert prose["url_share"] == 0.0
    assert prose["email_share"] == 0.0


def test_embedding_ingestion_drift_rotated_half(spark, tmp_path):
    """First half of ids on axis e0, second half on e1: each decile
    centroid is axis-aligned, so deciles 0-4 have cosine 1 to... the
    GLOBAL centroid sits at 45 degrees, giving cos ~ 0.7071 for every
    decile; norms are exactly 2.0 and 3.0 per half."""
    rows = []
    for i in range(10):
        v = [0.0, 0.0]
        if i < 5:
            v[0] = 2.0
        else:
            v[1] = 3.0
        rows.append((i, v, 0))
    _plant(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label long",
    )
    out = {
        r["decile"]: r
        for r in QUERIES["embedding_ingestion_drift"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(out) == 10
    assert out[0]["mean_norm"] == 2.0 and out[9]["mean_norm"] == 3.0
    import math

    for d, r in out.items():
        assert abs(r["centroid_cos_to_global"] - round(1 / math.sqrt(2), 6)) < 1e-6


def test_part_brand_type_cramers_v_extremes(spark, tmp_path):
    """Brand determines type exactly -> V = 1; an independent 2x2 grid
    -> chi2 = 0 and V = 0."""
    import shutil

    rows = [(i, f"B{i % 2}", f"T{i % 2}", 1) for i in range(1, 9)]
    _plant(
        spark, tmp_path, "part", rows,
        "p_partkey long, p_brand string, p_type string, p_size int",
    )
    [r] = QUERIES["part_brand_type_cramers_v"](spark, str(tmp_path)).collect()
    assert (r["n_brands"], r["n_types"]) == (2, 2)
    assert r["cramers_v"] == 1.0
    shutil.rmtree(tmp_path / "part.parquet")
    rows2 = [
        (1, "B0", "T0", 1), (2, "B0", "T1", 1),
        (3, "B1", "T0", 1), (4, "B1", "T1", 1),
    ]
    _plant(
        spark, tmp_path, "part", rows2,
        "p_partkey long, p_brand string, p_type string, p_size int",
    )
    [r2] = QUERIES["part_brand_type_cramers_v"](spark, str(tmp_path)).collect()
    assert r2["chi2"] == 0.0
    assert r2["cramers_v"] == 0.0


def test_events_attribution_comparison_models_disagree(spark, tmp_path):
    """Converter journey view -> click -> purchase: view wins first-
    touch, click wins last-touch, both get 0.5 linear credit; a
    post-purchase event earns nothing."""
    from datetime import timedelta

    t0 = datetime(2024, 6, 1, 10, 0)
    rows = [
        (1, t0, 1, "view"),
        (2, t0 + timedelta(minutes=1), 1, "click"),
        (3, t0 + timedelta(minutes=2), 1, "purchase"),
        (4, t0 + timedelta(minutes=3), 1, "view"),   # post-purchase
        (5, t0, 2, "click"),
        (6, t0 + timedelta(minutes=1), 2, "purchase"),
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        r["event_type"]: r
        for r in QUERIES["events_attribution_comparison"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out["view"]["first_touch"] == 1
    assert out["view"]["last_touch"] == 0
    assert out["view"]["linear_credit"] == 0.5
    assert out["click"]["first_touch"] == 1
    assert out["click"]["last_touch"] == 2
    assert out["click"]["linear_credit"] == 1.5


def test_dedup_fingerprint_ladder_marginal_catch(spark, tmp_path):
    """Docs: two exact copies, one reordered copy, one count-changed
    copy, one unique -> exact removes 1, bag removes 2, set removes 3;
    the marginals are 1 and 1."""
    _plant(
        spark, tmp_path, "documents",
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),          # exact dup of 1
            (3, "gamma alpha beta"),          # reorder of 1
            (4, "alpha alpha beta gamma"),    # count change of 1
            (5, "totally different thing"),
        ],
        "doc_id long, text string",
    )
    [r] = QUERIES["dedup_fingerprint_ladder"](spark, str(tmp_path)).collect()
    assert r["n_docs"] == 5
    assert r["exact_dup_docs"] == 1
    assert r["bag_dup_docs"] == 2
    assert r["set_dup_docs"] == 3
    assert r["reorder_only_docs"] == 1
    assert r["countchange_only_docs"] == 1


def test_part_size_price_spearman_monotone_and_ties(spark, tmp_path):
    """A perfectly monotone nonlinear map (price = size^3) gives rho =
    1 even though Pearson would not; reversing the order gives -1."""
    import shutil

    rows = [(i, f"B", f"T", i, float(i**3)) for i in range(1, 9)]
    _plant(
        spark, tmp_path, "part", rows,
        "p_partkey long, p_brand string, p_type string, p_size int,"
        " p_retailprice double",
    )
    [r] = QUERIES["part_size_price_spearman"](spark, str(tmp_path)).collect()
    assert r["n_parts"] == 8
    assert r["spearman_rho"] == 1.0
    shutil.rmtree(tmp_path / "part.parquet")
    rows2 = [(i, "B", "T", i, float((9 - i) ** 2)) for i in range(1, 9)]
    _plant(
        spark, tmp_path, "part", rows2,
        "p_partkey long, p_brand string, p_type string, p_size int,"
        " p_retailprice double",
    )
    [r2] = QUERIES["part_size_price_spearman"](spark, str(tmp_path)).collect()
    assert r2["spearman_rho"] == -1.0


def test_events_value_spc_xbar_outlier_day(spark, tmp_path):
    """Twenty-nine calm days at mean exactly 10 and one day at mean
    100: the spike inflates its own limits (classic masking), but with
    29 in-control points the 3-sigma fence still lands near 62 and the
    spike day is flagged."""
    from datetime import timedelta

    t0 = datetime(2024, 6, 1, 12, 0)
    rows, eid = [], 0
    for d in range(29):
        for v in (9.0 + (d % 3), 11.0 - (d % 3)):
            eid += 1
            rows.append((eid, t0 + timedelta(days=d), 1, "view", v))
    eid += 1
    rows.append((eid, t0 + timedelta(days=29), 1, "view", 100.0))
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_value_spc_xbar"](spark, str(tmp_path)).collect()
    assert r["n_days"] == 30
    assert r["n_out_of_control"] == 1
    assert r["lcl"] < 10.0 < r["ucl"] < 100.0


def test_corpus_term_burstiness_concentrated_term(spark, tmp_path):
    """'spam' appears 4x in each of 3 docs (burstiness 4.0); 'the'
    appears once in each of 4 docs (burstiness 1.0); a df=2 term is
    excluded by the df >= 3 floor."""
    _plant(
        spark, tmp_path, "documents",
        [
            (1, "the spam spam spam spam"),
            (2, "the spam spam spam spam"),
            (3, "the spam spam spam spam"),
            (4, "the rare rare"),
            (5, "rare filler words"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["term"]: r
        for r in QUERIES["corpus_term_burstiness"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out["spam"]["df"] == 3 and out["spam"]["cf"] == 12
    assert out["spam"]["burstiness"] == 4.0
    assert out["the"]["burstiness"] == 1.0
    assert "rare" not in out  # df = 2 < 3


def test_events_value_max_drawdown_planted_slide(spark, tmp_path):
    """Daily net values +10, +20, -25, -15, +30: cumulative peaks at 30
    on day 2, troughs at -10 on day 4 -> max drawdown 40.00 from day-2
    peak to day-4 trough."""
    from datetime import timedelta

    t0 = datetime(2024, 6, 1, 12, 0)
    vals = [10.0, 20.0, -25.0, -15.0, 30.0]
    rows = [
        (i + 1, t0 + timedelta(days=i), 1, "view", v)
        for i, v in enumerate(vals)
    ]
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    [r] = QUERIES["events_value_max_drawdown"](spark, str(tmp_path)).collect()
    assert r["n_days"] == 5
    assert r["max_drawdown"] == 40.0
    assert str(r["peak_day"]) == "2024-06-02"
    assert str(r["trough_day"]) == "2024-06-04"


def test_events_conversion_micro_macro_heavy_user_bias(spark, tmp_path):
    """User A: 100 views 1 purchase (1%); user B: 1 view 1 purchase
    (100%): micro = 2/101 while macro = 50.5% — the classic heavy-user
    distortion the query is built to expose."""
    from datetime import timedelta

    t0 = datetime(2024, 6, 1, 10, 0)
    rows, eid = [], 0
    for _ in range(100):
        eid += 1
        rows.append((eid, t0, 1, "view"))
    eid += 1
    rows.append((eid, t0 + timedelta(minutes=1), 1, "purchase"))
    eid += 1
    rows.append((eid, t0, 2, "view"))
    eid += 1
    rows.append((eid, t0 + timedelta(minutes=1), 2, "purchase"))
    _plant(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    [r] = QUERIES["events_conversion_micro_macro"](
        spark, str(tmp_path)
    ).collect()
    assert r["n_users"] == 2
    assert r["micro_rate"] == round(2 / 101, 6)
    assert r["macro_rate"] == round((0.01 + 1.0) / 2, 6)
    assert r["macro_minus_micro"] > 0.4
