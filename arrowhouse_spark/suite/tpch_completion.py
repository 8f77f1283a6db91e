"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arrowhouse_spark.suite import (
    _doc_shingles_guarded,
    _events,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# TPC-H completion (round 8): the eight queries the fixture's schema forced
# previous rounds to defer — Q2/Q7/Q8/Q9/Q11/Q16/Q20/Q21. The fixture has no
# partsupp table, no l_commitdate/l_receiptdate, and no comment columns, so
# each is a DOCUMENTED ADAPTATION that preserves the query's canonical PLAN
# SHAPE (the thing worth grading: correlated regional min, two-nation volume
# join, market-share conditional ratio, profit expression over a part join,
# HAVING over a global scalar, NOT-IN supplier exclusion, quantity-dominance
# semi-join, sole-late-supplier exists/not-exists) against the columns that
# exist. Determinism doctrine throughout: money sums that feed RATIOS or
# sign-mixing expressions are quantized to DECIMAL(38,9) before aggregation
# (exact, combine-order-free — the decayed_event_score lesson); plain 2-dp
# revenue rollups keep the suite's established convention.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ),
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    ),
    eo AS (
      SELECT o.l_partkey, o.l_suppkey, o.unit_cost, e.s_name, e.s_acctbal, e.n_name
      FROM offers o JOIN eur e ON e.s_suppkey = o.l_suppkey
    ),
    mc AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM eo GROUP BY 1)
    SELECT p.p_partkey, p.p_name, eo.s_name, eo.n_name,
           round(eo.s_acctbal, 2) AS s_acctbal,
           round(eo.unit_cost, 6) AS unit_cost
    FROM eo
    JOIN mc ON mc.l_partkey = eo.l_partkey AND eo.unit_cost = mc.min_cost
    JOIN part p ON p.p_partkey = eo.l_partkey
    WHERE p.p_size >= 40 AND p.p_type = 'LARGE'
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted: the fixture has no
    partsupp, so the supply catalog is DERIVED — per (part, supplier) the
    minimum observed unit price (l_extendedprice/l_quantity) plays
    ps_supplycost. The canonical shape survives intact: a correlated
    MIN-per-part subquery over the region-restricted offer relation,
    decorrelated into a keyed min + join-back on (part, cost) equality —
    exactly how Catalyst executes the scalar subquery form. The double
    equality join is engine-safe: both sides take min() over IDENTICAL
    IEEE division results, never re-derived arithmetic. EUROPE
    suppliers; large top-size parts keep the output part-bounded. All
    ties at the minimum are emitted (standard Q2 behavior)."""
    li = _t(spark, sf_dir, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_cost"
        )
    )
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eo = offers.join(F.broadcast(eur), eur.s_suppkey == offers.l_suppkey)
    mc = eo.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 40) & (F.col("p_type") == "LARGE")
    )
    return (
        eo.join(
            F.broadcast(mc.withColumnRenamed("l_partkey", "__mk")),
            (F.col("__mk") == eo.l_partkey)
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(F.broadcast(part), part.p_partkey == eo.l_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.round("unit_cost", 6).alias("unit_cost"),
        )
    )


@register(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional trade between two
    nations, grouped (supp_nation, cust_nation, ship year) — the
    two-dimension-table double-role join (nation joins TWICE, as the
    supplier's and the customer's) with a disjunctive cross-filter that
    only applies AFTER both joins. Both nation sides broadcast; the
    lineitem-orders-customer chain stays keyed; the 2-year ship-date
    filter pushes into the lineitem scan. Schema note: the fixture's
    nations are NATION_0..24 (generic names), all columns canonical."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(
            _t(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "q8_market_share",
    """
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,9)) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(volume), 2) AS DOUBLE) AS total_volume,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(38,9)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of ECONOMY-part
    volume sold into AMERICA-region customers per order year — the
    conditional-ratio aggregate over an eight-relation join where nation
    joins twice in DIFFERENT roles (customer's nation chains to region
    for the filter; supplier's nation feeds the CASE numerator).
    Determinism: the ratio's numerator and denominator are sums of
    DECIMAL(38,9)-quantized volume terms (exact, order-free), divided as
    doubles only at the end — round-after-double-sum ratios are exactly
    the shape the round-7 driver flake taught us to quantize."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            _t(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(nc), F.col("nc_key") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("nc_region"))
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(38,9)")
            .alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(38,9)")
    return vol.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("volume"), 2).cast("double").alias("total_volume"),
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share"),
    )


@register(
    "q9_product_profit",
    """
    SELECT ns.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(
             l.l_extendedprice * (1 - l.l_discount)
             - 0.55 * p.p_retailprice * l.l_quantity AS DECIMAL(38,9))), 2)
             AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: no partsupp means no
    ps_supplycost, so unit cost is proxied as 0.55 x p_retailprice — the
    profit expression keeps Q9's defining property of MIXED-SIGN terms
    (revenue minus cost can cancel), grouped (supplier nation, order
    year) across every year, with the part filter a name substring
    (LIKE '%red%', Q9's '%green%' against this fixture's color-named
    parts). Sign-mixing sums cancel catastrophically in doubles, so each
    term is DECIMAL(38,9)-quantized before aggregation — exact and
    combine-order-free. Plan: the part filter prunes the probe side
    before the join chain; nation broadcasts; one keyed aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("nation")
    )
    profit_term = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.55) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(38,9)")
    joined = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            _t(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
    )
    return joined.groupBy(
        "nation", F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(profit_term), 2).cast("double").alias("profit"),
    )


@register(
    "q11_important_parts",
    """
    WITH ev AS (
      SELECT l.l_partkey,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(38,9))) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY 1
    ),
    tot AS (SELECT sum(v) AS t FROM ev)
    SELECT ev.l_partkey AS p_partkey,
           CAST(round(ev.v, 2) AS DOUBLE) AS value
    FROM ev, tot
    WHERE CAST(ev.v AS DOUBLE) > 0.001 * CAST(tot.t AS DOUBLE)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: no partsupp means stock
    value is DERIVED as per-part revenue from EUROPE-region suppliers'
    line items (value stands in for ps_supplycost*ps_availqty; the
    nation filter widened to a region so the relation isn't trivially
    small). The canonical shape is exactly preserved: a keyed aggregate
    filtered by a GLOBAL scalar aggregate of ITSELF (HAVING sum(v) >
    fraction * total) — the global total is a 1-row broadcast, never a
    window over the whole relation. Determinism: both the per-part
    values and the total are sums of DECIMAL(38,9)-quantized terms, so
    the threshold comparison (parts sitting arbitrarily close to the
    cut) is exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey")
    )
    ev = (
        li.join(F.broadcast(eur), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,9)"
                )
            ).alias("v")
        )
    )
    tot = ev.agg(F.sum("v").alias("t"))
    return (
        ev.crossJoin(F.broadcast(tot))
        .filter(
            F.col("v").cast("double") > F.lit(0.001) * F.col("t").cast("double")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("v", 2).cast("double").alias("value"),
        )
    )


@register(
    "q16_part_supplier_variety",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: the supplier
    catalog relation is derived from lineitem's (part, supplier) pairs
    (no partsupp), and the 'customer complaints' NOT-IN exclusion keys
    on s_acctbal < 0 (no comment column). Shape intact: a triple-negated
    filter stack (brand <>, type <>, size IN-list) on the dimension, a
    NOT IN that compiles to a broadcast ANTI join (the blacklist is
    supplier-bounded), and a DISTINCT-count aggregate over the surviving
    pairs. Exact integers throughout — no float surface at all."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin([1, 5, 10, 15, 20, 25, 30, 35])
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_shipper",
    """
    WITH sq AS (
      SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small%'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ),
    pa AS (SELECT l_partkey, avg(qty) AS avg_qty FROM sq GROUP BY 1),
    dom AS (
      SELECT sq.l_suppkey, count(*) AS n_dominant
      FROM sq JOIN pa ON pa.l_partkey = sq.l_partkey
      WHERE sq.qty > 1.5 * pa.avg_qty
      GROUP BY 1
    )
    SELECT s.s_name, n.n_name AS nation,
           CAST(dom.n_dominant AS BIGINT) AS n_dominant
    FROM dom
    JOIN supplier s ON s.s_suppkey = dom.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    """,
)
def q20_excess_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (excess availability), adapted: with no ps_availqty the
    dominance test inverts onto shipped quantity — a supplier qualifies
    when some 'small%'-named part's 1997 shipments from it exceed 1.5x
    that part's per-supplier average (Q20's availqty > 0.5 * shipped,
    re-anchored to observable data). Shape intact: the name-filtered
    part probe, a per-(part,supplier) keyed quantity rollup, a
    correlated per-part scalar (decorrelated to a keyed avg + broadcast
    join back), and the nation/region-restricted supplier semi-join at
    the top. Determinism: quantities are small integral doubles, so
    sums and averages are IEEE-exact on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    sq = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    pa = sq.groupBy("l_partkey").agg(F.avg("qty").alias("avg_qty"))
    dom = (
        sq.join(
            F.broadcast(pa.withColumnRenamed("l_partkey", "__pk")),
            F.col("__pk") == sq.l_partkey,
        )
        .filter(F.col("qty") > F.lit(1.5) * F.col("avg_qty"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant"))
    )
    asian = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
    return dom.join(
        F.broadcast(asian), F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_name", "nation", F.col("n_dominant").cast("long").alias("n_dominant"))


@register(
    "q21_sole_late_shipper",
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2
    ),
    os AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
      FROM lo GROUP BY 1
    ),
    w AS (
      SELECT lo.l_suppkey, count(*) AS numwait
      FROM lo JOIN os ON os.l_orderkey = lo.l_orderkey
      WHERE lo.late = 1 AND os.n_supp >= 2 AND os.n_late = 1
      GROUP BY 1
    )
    SELECT s.s_name, CAST(w.numwait AS BIGINT) AS numwait
    FROM w JOIN supplier s ON s.s_suppkey = w.l_suppkey
    ORDER BY w.numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: with no
    l_commitdate/l_receiptdate, 'late' means shipped more than 90 days
    after the order date. The EXISTS (another supplier in the order) /
    NOT EXISTS (another LATE supplier) pair is algebraized into ONE
    per-(order, supplier) rollup + per-order counts: a supplier waits on
    order o iff it is late in o, o has >= 2 suppliers, and o has exactly
    1 late supplier — semantically identical to the self-join pair but
    one shuffle narrower (the per-order counts relation is order-keyed
    and joins back on the same key; Catalyst plans the correlated
    EXISTS forms into exactly these semi/anti hash joins anyway). Top 20
    by (numwait DESC, s_name) — a total order, so the LIMIT boundary is
    deterministic on any engine."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    lo = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    os_ = lo.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    w = (
        lo.join(os_.withColumnRenamed("l_orderkey", "__ok"),
                F.col("__ok") == lo.l_orderkey)
        .filter(
            (F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        w.join(
            F.broadcast(_t(spark, sf_dir, "supplier")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .select("s_name", F.col("numwait").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "doc_token_runs",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(arr) AS token,
             unnest(range(len(arr))) AS pos
      FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS arr
            FROM documents)
    ),
    b AS (
      SELECT doc_id, token, pos,
             CASE WHEN lag(token) OVER w IS NULL
                    OR lag(token) OVER w <> token THEN 1 ELSE 0 END AS boundary
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    i AS (
      SELECT *, sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM b
    )
    SELECT doc_id,
           CAST(min(pos) AS INTEGER) AS start_pos,
           min(token) AS token,
           CAST(count(*) AS INTEGER) AS run_len
    FROM i GROUP BY doc_id, island HAVING count(*) >= 2
    """,
)
def doc_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated-token runs per document (operators/udtf_ops.py:
    token_runs_declarative) — the positional repetition signal
    (gaps-and-islands over the token stream: per-doc lag boundary +
    running-sum island id + one keyed island aggregate). The registered
    form is the fully declarative hot path; its Spark-4 Python-UDTF twin
    (token_runs_udtf_table, LATERAL join over a row-fanning table
    function — the API surface sources/pyds.py gives the DataSource
    side) is pinned row-identical in tests/test_udtf.py. Oracle replays
    the same islands construction; both windows are doc-partitioned."""
    from arrowhouse_spark.operators.udtf_ops import token_runs_declarative

    return token_runs_declarative(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


@register(
    "doc_repetition_filter",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(arr) AS token,
             unnest(range(len(arr))) AS pos
      FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS arr
            FROM documents)
    ),
    b AS (
      SELECT doc_id, token, pos,
             CASE WHEN lag(token) OVER w IS NULL
                    OR lag(token) OVER w <> token THEN 1 ELSE 0 END AS boundary
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    i AS (
      SELECT *, sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM b
    ),
    runs AS (
      SELECT doc_id, count(*) AS run_len
      FROM i GROUP BY doc_id, island HAVING count(*) >= 3
    ),
    flagged AS (SELECT DISTINCT doc_id FROM runs)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE f.doc_id IS NOT NULL) AS BIGINT)
             AS n_dropped,
           CAST(count(*) FILTER (WHERE f.doc_id IS NULL) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
    GROUP BY 1
    """,
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate composed from the run detector
    (operators/udtf_ops.py:token_runs_declarative): documents containing
    any >= 3-long repeated-token run are dropped (the positional form of
    the Gopher duplicate-n-gram-fraction family — a run of 3 is the
    degenerate repetition a fraction threshold can miss in short docs),
    reported as per-source kept/dropped counts. Plan: the run relation is
    doc-keyed; flagging is one distinct + a LEFT join back on doc_id;
    the rollup is one keyed aggregate — all shuffles on doc_id/source."""
    from arrowhouse_spark.operators.udtf_ops import token_runs_declarative

    docs = _t(spark, sf_dir, "documents")
    flagged = (
        token_runs_declarative(docs, min_run=3)
        .select("doc_id")
        .distinct()
        .withColumn("__flag", F.lit(1))
    )
    return (
        docs.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__flag").alias("n_dropped"),
            F.sum(
                F.when(F.col("__flag").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_kept"),
        )
    )


@register(
    "scd2_snapshot_asof",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, event_type, event_id,
             lag(event_type) OVER w AS prev,
             (row_number() OVER w) = 1 AS first
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
      SELECT user_id, ts, event_type, event_id FROM marked
      WHERE first OR prev IS DISTINCT FROM event_type
    ),
    hist AS (
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER w2 AS valid_to
      FROM starts WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    snap AS (
      SELECT user_id, event_type FROM hist
      WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
        AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM snap GROUP BY 1
    """,
)
def scd2_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension snapshot from the SCD2 history — the READ
    side of scd2_user_state / stream_scd2 (the lakehouse "as of T" query
    every history table exists to answer): build validity intervals from
    the change log, keep each user's interval CONTAINING the snapshot
    instant (half-open [valid_from, valid_to)), roll up state occupancy.
    At most one interval per key can contain T by construction, so the
    snapshot is exactly the dimension state at T — late-arriving history
    handled by the same rebuild as the streaming store. Plan: the scd2
    windows (doc-keyed) + a map-side interval filter + one keyed rollup;
    at rest the stored history prunes to intervals overlapping T via
    min/max file stats on valid_from."""
    from arrowhouse_spark.operators.merge import scd2_from_log

    t = F.lit("2024-01-15 00:00:00").cast("timestamp")
    hist = scd2_from_log(
        _events(spark, sf_dir),
        key_cols=["user_id"],
        ts_col="ts",
        attr_col="event_type",
        tie_col="event_id",
    )
    snap = hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


@register(
    "source_entropy_report",
    """
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')) AS token
      FROM documents
    ),
    cnt AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS t, count(*) AS n_distinct
            FROM cnt GROUP BY 1)
    SELECT cnt.source,
           CAST(max(tot.t) AS BIGINT) AS n_tokens,
           CAST(max(tot.n_distinct) AS BIGINT) AS n_distinct,
           CAST(round(sum(CAST(
             -(c / t) * log2(c / t) AS DECIMAL(38,15))), 6) AS DOUBLE)
             AS entropy_bits,
           round(CAST(max(tot.n_distinct) AS DOUBLE) / max(tot.t), 6)
             AS type_token_ratio
    FROM cnt JOIN tot ON tot.source = cnt.source
    GROUP BY 1
    """,
)
def source_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy + type-token ratio — the
    information-theoretic corpus diversity readout next to
    source_kl_divergence (low entropy = templated/boilerplate-heavy
    source; TTR separates small-vocab repetition from short-corpus
    effects). Plan: ONE (source, token) keyed count, a source-keyed
    total broadcast back, map-side p·log2(p) terms, one keyed rollup.
    Determinism doctrine: each entropy term is DECIMAL(38,15)-quantized
    before the sum — p = c/t is an exact-integer division both engines
    compute identically, log2 can differ in the last ulp cross-engine,
    and 15-dp per-term quantization makes any accumulated drift orders
    below the 6-dp output rounding while keeping the sum combine-order
    free (the decayed_event_score lesson applied to a transcendental)."""
    from arrowhouse_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("c") / F.col("t")
    term = (-p * F.log2(p)).cast("decimal(38,15)")
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.max("t").cast("long").alias("n_tokens"),
            F.max("n_distinct").cast("long").alias("n_distinct"),
            F.round(F.sum(term), 6).cast("double").alias("entropy_bits"),
            F.round(
                F.max("n_distinct").cast("double") / F.max("t"), 6
            ).alias("type_token_ratio"),
        )
    )


@register(
    "vocab_oov_rate",
    """
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS tf FROM tok GROUP BY 1
        ORDER BY tf DESC, token ASC LIMIT 500
      )
    )
    SELECT tok.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
           round(CAST(count(*) FILTER (WHERE v.token IS NULL) AS DOUBLE)
                 / count(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab v ON v.token = tok.token
    GROUP BY 1
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer out-of-vocabulary rate per source — the coverage readout
    a vocab build (vocab_encode / bpe_train) is judged by: with the
    top-500 corpus vocabulary (count desc, token asc — a total order, so
    the K-boundary tie is engine-deterministic), what fraction of each
    source's token OCCURRENCES falls outside it? High per-source OOV
    flags a source the tokenizer underserves (the mixing-weight feedback
    signal). Plan: one token count + global top-K (TakeOrdered), the
    K-row vocab broadcast to a LEFT join over the token stream, one
    keyed rollup — integers and one exact ratio; no float surface beyond
    the final division."""
    from arrowhouse_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(500)
        .select("token")
        .withColumn("__v", F.lit(1))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("__v").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("__v").isNull(), 1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


@register(
    "ngram_jaccard_prefix_dups",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS gs
      FROM toks
    ), sh AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, unnest(gs) AS shingle FROM grams
      ) WHERE strlen(shingle) <= 31 AND strlen(shingle) = length(shingle)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_common
      FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_common / (sa.set_size + sb.set_size - n_common), 6) >= 0.2
    """,
)
def ngram_jaccard_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram Jaccard via the PREFIX-FILTER strategy entry point
    (operators/dedup.py:ngram_jaccard_prefix_pairs, PPJoin family): each
    doc's candidate join uses only its n − ⌈t·n⌉ + 1 globally-rarest
    shingles + the length filter, with an exact verify — the third
    candidate-generation strategy next to the dense matmul and the full
    inverted join. On THIS fixture's degenerate tiny-vocabulary shape
    the operator's measured-shape dispatch hands the relation to the
    dense matmul (no rarity order prunes a corpus where every shingle is
    hot — the pure prefix path measured 62s vs ~1s here), so the gate
    pins the dispatcher + the shared output contract; the pure prefix
    machinery is pinned row-identical on sparse corpora in
    tests/test_pipeline_ops.py (force_prefix=True) and measured in the
    scale battery. The oracle is deliberately the PLAIN exact Jaccard
    SQL (identical to ngram_jaccard_dups'): every strategy is pure
    pruning, so hash-equality against the unpruned computation IS the
    completeness proof."""
    from arrowhouse_spark.operators.dedup import ngram_jaccard_prefix_pairs

    return ngram_jaccard_prefix_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_n=2,
        threshold=0.2,
        shingles=_doc_shingles_guarded(spark, sf_dir, 2),
    )


@register(
    "pipeline_sft_prep",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t != '') AS w
      FROM documents
    ),
    conv AS (
      SELECT doc_id, source,
             coalesce(array_to_string(list_slice(w, 1, 10), ' '), '') AS prompt,
             coalesce(array_to_string(list_slice(w, 11, len(w)), ' '), '')
               || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
               AS resp
      FROM d
    ),
    eval_set AS (SELECT DISTINCT prompt FROM conv WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM conv WHERE doc_id % 97 <> 0),
    -- stage 1: PII scrub (same RE2-safe email regex as the Spark side)
    scrub AS (
      SELECT doc_id, source, prompt,
             regexp_replace(resp,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS resp_clean,
             len(regexp_extract_all(resp,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email
      FROM train
    ),
    -- stage 2: exact dedup on the prompt (keep min doc_id)
    keeper AS (SELECT prompt, min(doc_id) AS doc_id FROM scrub GROUP BY 1),
    dedup AS (
      SELECT s.* FROM scrub s JOIN keeper k
        ON k.prompt = s.prompt AND k.doc_id = s.doc_id
    ),
    -- stage 3: eval-leakage filter (prompt-level anti join)
    leakfree AS (
      SELECT * FROM dedup WHERE prompt NOT IN (SELECT prompt FROM eval_set)
    ),
    -- stage 4: deterministic per-source cap (md5 race, id tiebreak)
    capped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source
          ORDER BY md5('sft' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM leakfree
      ) WHERE rn <= 15
    )
    -- stage 5: dataset-card stats
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_convs,
           CAST(sum(len(list_filter(string_split(resp_clean, ' '),
                                    t -> t != ''))) AS BIGINT) AS n_resp_words,
           CAST(sum(n_email) AS BIGINT) AS n_pii_redacted,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM capped GROUP BY 1
    """,
)
def pipeline_sft_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed SFT/chat data-prep pipeline — the instruction-tuning
    counterpart of pipeline_pretrain_full, five stages in ONE declarative
    plan: (1) transcript construction (first 10 words = user prompt, rest
    = assistant response, with a DETERMINISTIC doc-keyed email injected
    so the scrub stage provably transforms the data); (2) PII scrub
    (operators/text.py:pii_scrub, single RE2-safe email pattern shared
    verbatim with the oracle); (3) exact prompt dedup keeping the
    minimum doc id (at 100 TB the group key would be the prompt's
    64-bit fingerprint — the string form here keeps the oracle
    replayable, same semantics); (4) cross-split leakage filter — drop
    training conversations whose prompt appears in the doc_id%97 eval
    split (the split_leakage_check shape applied as a filter); (5) the
    deterministic md5-race per-source cap (operators/sampling.py:
    cap_per_key, ≤15/source) and the dataset-card rollup. Shuffles:
    prompt-keyed dedup agg + join, broadcast anti join (eval prompts),
    source-partitioned cap window, final keyed rollup — no global
    windows, no driver state; every stage's relation stays keyed."""
    from arrowhouse_spark.operators.sampling import cap_per_key
    from arrowhouse_spark.operators.text import pii_scrub

    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    docs = _t(spark, sf_dir, "documents")
    w = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    conv = docs.select(
        "doc_id",
        "source",
        F.array_join(F.slice(w, 1, 10), " ").alias("prompt"),
        F.concat(
            F.array_join(F.slice(w, 11, 1_000_000), " "),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ).alias("resp"),
    )
    eval_prompts = (
        conv.filter(F.col("doc_id") % 97 == 0).select("prompt").distinct()
    )
    train = conv.filter(F.col("doc_id") % 97 != 0)
    scrubbed = pii_scrub(
        train, text_col="resp", id_col="doc_id",
        patterns={"email": email}, out="resp_clean",
    ).select("doc_id", "resp_clean", "n_email")
    s = train.join(scrubbed, "doc_id").select(
        "doc_id", "source", "prompt", "resp_clean", "n_email"
    )
    keeper = s.groupBy("prompt").agg(F.min("doc_id").alias("doc_id"))
    dedup = s.join(keeper, ["prompt", "doc_id"])
    leakfree = dedup.join(F.broadcast(eval_prompts), "prompt", "left_anti")
    capped = cap_per_key(
        leakfree, key_col="source", id_col="doc_id", max_rows=15, salt="sft"
    )
    n_words = F.size(
        F.filter(F.split(F.col("resp_clean"), " "), lambda t: t != "")
    )
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum(n_words).cast("long").alias("n_resp_words"),
        F.sum("n_email").cast("long").alias("n_pii_redacted"),
        F.min("doc_id").alias("min_doc"),
    )


@register(
    "events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(max(d.med), 6) AS median_value,
           round(max(m.mad), 6) AS mad,
           CAST(count(*) FILTER (
             WHERE abs(d.value - d.med) > 3.5 * 1.4826 * m.mad
           ) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY 1
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    heavy-tail-safe complement of events_zscore_outliers (one extreme
    value inflates a stddev and hides its peers; the median/MAD pair is
    breakdown-point-0.5). Per type: median, MAD, and the count beyond
    3.5 modified z (the 1.4826 factor scales MAD to σ under normality —
    Iglewicz-Hoaglin). Plan: TWO keyed exact percentiles (Spark's
    percentile = sort-based interpolation, deterministic — no
    order-sensitive sums anywhere) each a keyed aggregate whose state is
    the key's value list, + broadcast joins of the 5-row stats relations
    back, + one keyed rollup. At 100 TB swap percentile for
    approx_percentile (t-digest) — same shape, documented accuracy knob,
    the quality_quantile_filter precedent."""
    ev = _events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    out = dev.join(
        F.broadcast(mad.withColumnRenamed("event_type", "__et")),
        F.col("__et") == F.col("event_type"),
    )
    is_out = F.abs(F.col("value") - F.col("med")) > (
        F.lit(3.5 * 1.4826) * F.col("mad")
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("med"), 6).alias("median_value"),
        F.round(F.max("mad"), 6).alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
    )


@register(
    "abc_classification_parts",
    """
    WITH rev AS (
      SELECT l_partkey AS part,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS r
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(r) AS t FROM rev),
    ranked AS (
      SELECT part, r,
             sum(r) OVER (
               ORDER BY r DESC, part
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS before_me
      FROM rev
    ),
    classed AS (
      SELECT part, r,
             CASE
               WHEN coalesce(before_me, 0) * 5 < t * 4 THEN 'A'
               WHEN coalesce(before_me, 0) * 20 < t * 19 THEN 'B'
               ELSE 'C' END AS cls
      FROM ranked, tot
    )
    SELECT cls,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(r) AS DOUBLE) AS revenue,
           round(CAST(sum(r) AS DOUBLE) / CAST(max(t) AS DOUBLE), 6)
             AS share
    FROM classed, tot GROUP BY 1
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto-share) inventory classification — parts binned A/B/C
    by whether the revenue accumulated BEFORE them (descending revenue
    order) is under 80% / 95% of the total. The hard part at scale is
    the GLOBAL cumulative sum, which naively is one unpartitioned
    window; here it runs as a distributed prefix sum, the same
    grid-partitioning scheme as the skyline operator: (1) exact decimal
    revenue per part, (2) a 32-bucket revenue grid from a 1-row bounds
    broadcast, (3) per-BUCKET running sums (windows partitioned by
    bucket), (4) cross-bucket offsets from the B-row bucket-total
    relation (broadcast theta join). Class thresholds compare exact
    decimals cross-multiplied by integers (before*5 < total*4) — no
    doubles anywhere until the output share. The oracle uses the plain
    global-window cumsum; hash equality proves the distributed prefix
    sum is exact. Higher buckets hold STRICTLY larger revenues, so
    bucket order agrees with the (rev desc, part) total order except
    WITHIN a bucket — which the per-bucket window owns; equal revenues
    in different buckets cannot happen (equal values share a bucket)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        # 4-dp quantization: a 2-dp price x (1 - 2-dp discount) product IS
        # an exact 4-dp value, so the double sits ~1 ulp from the grid
        # point and every engine casts it identically; at 2 dp the same
        # products land EXACTLY on x.xx5 midpoints where engine rounding
        # directions diverge (measured: per-class sums off by ~1 unit)
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("r")
    )
    tot = rev.agg(F.sum("r").alias("t"))
    bounds = rev.agg(F.min("r").alias("mn"), F.max("r").alias("mx"))
    nb = 32
    b = rev.crossJoin(F.broadcast(bounds)).withColumn(
        "__bucket",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.floor(
                    (F.col("r") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(nb)
                ),
                F.lit(nb - 1),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(F.col("r").desc(), F.col("part"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("__before_local", F.sum("r").over(w))
    summary = b.groupBy("__bucket").agg(F.sum("r").alias("__bsum"))
    higher = (
        summary.alias("s")
        .join(
            F.broadcast(summary.alias("h")),
            F.col("h.__bucket") > F.col("s.__bucket"),
            "left",
        )
        .groupBy(F.col("s.__bucket").alias("__bucket"))
        .agg(F.sum(F.col("h.__bsum")).alias("__offset"))
    )
    z = F.lit(0).cast("decimal(18,4)")
    classed = (
        local.join(F.broadcast(higher), "__bucket", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__before",
            F.coalesce(F.col("__offset"), z)
            + F.coalesce(F.col("__before_local"), z),
        )
        .withColumn(
            "cls",
            F.when(F.col("__before") * 5 < F.col("t") * 4, F.lit("A"))
            .when(F.col("__before") * 20 < F.col("t") * 19, F.lit("B"))
            .otherwise(F.lit("C")),
        )
    )
    return classed.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("r").cast("double").alias("revenue"),
        F.round(
            F.sum("r").cast("double") / F.max("t").cast("double"), 6
        ).alias("share"),
    )


@register(
    "basket_pair_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n_baskets AS (SELECT count(DISTINCT o) AS nb FROM items),
    supp AS (SELECT p, count(*) AS np FROM items GROUP BY 1),
    pairs AS (
      SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_together
      FROM items a JOIN items b ON b.o = a.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT pr.part_a, pr.part_b,
           CAST(pr.n_together AS BIGINT) AS n_together,
           round(CAST(pr.n_together AS DOUBLE) / sa.np, 6) AS confidence,
           round(CAST(pr.n_together AS DOUBLE) * nb.nb
                 / (sa.np * sb.np), 6) AS lift
    FROM pairs pr
    JOIN supp sa ON sa.p = pr.part_a
    JOIN supp sb ON sb.p = pr.part_b
    CROSS JOIN n_baskets nb
    """,
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (Agrawal association rules — the
    frequent-itemset family, previously absent): for every part pair
    co-occurring in >= 3 orders, its support, confidence
    P(b|a) and lift P(ab)/(P(a)P(b)). All statistics are ratios of
    EXACT integer counts (one double division + round 6 each — no
    order-sensitive sums anywhere). Plan: distinct (order, item) →
    pair generation via the order-keyed self-join (Σ basket² with
    baskets <= ~13 items here — the join is keyed by order, never
    all-pairs), keyed pair counts with the HAVING pushed into the
    aggregate, broadcast support joins, 1-row basket total. At 100 TB
    the same plan holds because basket width, not corpus size, bounds
    the pair fan-out."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    nb = items.agg(F.countDistinct("o").alias("nb"))
    supp = items.groupBy("p").agg(F.count(F.lit(1)).alias("np"))
    a = items.select(F.col("o"), F.col("p").alias("part_a"))
    b = items.select(F.col("o"), F.col("p").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .filter(F.col("n_together") >= 3)
    )
    sa = supp.select(F.col("p").alias("part_a"), F.col("np").alias("na"))
    sb = supp.select(F.col("p").alias("part_b"), F.col("np").alias("nb2"))
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            F.col("n_together").cast("long").alias("n_together"),
            F.round(
                F.col("n_together").cast("double") / F.col("na"), 6
            ).alias("confidence"),
            F.round(
                F.col("n_together").cast("double")
                * F.col("nb")
                / (F.col("na") * F.col("nb2")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "cms_join_size_estimate",
    """
    WITH hash_rows(r, a, b) AS (
      VALUES (0, 999983, 7920), (1, 999979, 15839),
             (2, 999961, 23758), (3, 999959, 31677)
    ),
    sk_e AS (
      SELECT h.r,
             ((h.a * (e.user_id % 1000000007) + h.b) % 1000000007) % 512
               AS bucket,
             count(*) AS cnt
      FROM events e CROSS JOIN hash_rows h GROUP BY 1, 2
    ),
    sk_o AS (
      SELECT h.r,
             ((h.a * (o.o_custkey % 1000000007) + h.b) % 1000000007) % 512
               AS bucket,
             count(*) AS cnt
      FROM orders o CROSS JOIN hash_rows h GROUP BY 1, 2
    ),
    ip AS (
      SELECT a.r, sum(a.cnt * b.cnt) AS p
      FROM sk_e a JOIN sk_o b ON b.r = a.r AND b.bucket = a.bucket
      GROUP BY 1
    ),
    est AS (SELECT CAST(min(p) AS BIGINT) AS est FROM ip),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_size
      FROM events e JOIN orders o ON o.o_custkey = e.user_id
    )
    SELECT est.est, exact.exact_size,
           round(CAST(est.est AS DOUBLE) / exact.exact_size, 6) AS over_ratio
    FROM est, exact
    """,
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation from two CM sketches
    (operators/aggstate.py:cms_inner_product — Cormode/Muthukrishnan's
    inner-product estimate): the events⋈orders-on-customer join is
    sized as min over hash rows of the counter-product sum, WITHOUT
    touching either table — the planner primitive that decides
    broadcast vs shuffle from two already-stored daily sketches; the
    estimate never underestimates (output pins est, the true size, and
    the over-ratio). Pure integer arithmetic end-to-end, replayed
    bit-for-bit by the oracle (which also computes the exact join — the
    audit this QUERY exists to show). Plan: two keyed sketch builds
    (map-side partials) + a depth×width equi-join + 1-row aggregates;
    the exact side is the real join, present only for the audit."""
    from arrowhouse_spark.operators.aggstate import (
        cms_inner_product,
        cms_state,
    )

    ev = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    sk_e = cms_state(ev, [], "user_id")
    sk_o = cms_state(o, [], "o_custkey")
    est = cms_inner_product(sk_e, sk_o)
    exact = (
        ev.join(o, ev.user_id == o.o_custkey)
        .agg(F.count(F.lit(1)).cast("long").alias("exact_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est",
        "exact_size",
        F.round(
            F.col("est").cast("double") / F.col("exact_size"), 6
        ).alias("over_ratio"),
    )


@register(
    "gdpr_purge_audit",
    """
    WITH tomb AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    o AS (
      SELECT count(*) AS total,
             count(*) FILTER (WHERE t.c_custkey IS NOT NULL) AS purged
      FROM orders LEFT JOIN tomb t ON t.c_custkey = o_custkey
    ),
    l AS (
      SELECT count(*) AS total,
             count(*) FILTER (WHERE t.c_custkey IS NOT NULL) AS purged
      FROM lineitem li
      JOIN orders ord ON ord.o_orderkey = li.l_orderkey
      LEFT JOIN tomb t ON t.c_custkey = ord.o_custkey
    ),
    e AS (
      SELECT count(*) AS total,
             count(*) FILTER (WHERE t.c_custkey IS NOT NULL) AS purged
      FROM events ev LEFT JOIN tomb t ON t.c_custkey = ev.user_id
    ),
    c AS (
      SELECT count(*) AS total,
             count(*) FILTER (WHERE t.c_custkey IS NOT NULL) AS purged
      FROM customer cu LEFT JOIN tomb t ON t.c_custkey = cu.c_custkey
    )
    SELECT * FROM (
      SELECT 'customer' AS tbl, CAST(total AS BIGINT) AS n_rows,
             CAST(purged AS BIGINT) AS n_purged,
             CAST(total - purged AS BIGINT) AS n_kept FROM c
      UNION ALL SELECT 'orders', CAST(total AS BIGINT),
             CAST(purged AS BIGINT), CAST(total - purged AS BIGINT) FROM o
      UNION ALL SELECT 'lineitem', CAST(total AS BIGINT),
             CAST(purged AS BIGINT), CAST(total - purged AS BIGINT) FROM l
      UNION ALL SELECT 'events', CAST(total AS BIGINT),
             CAST(purged AS BIGINT), CAST(total - purged AS BIGINT) FROM e
    )
    """,
)
def gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge audit — the governance operation a
    100 TB lakehouse runs before the actual delete: a TOMBSTONE key set
    (every 97th customer here) is propagated through the foreign-key
    graph (customer → orders → lineitem via orderkey; events via
    user id) and each table reports would-purge vs survivor counts.
    The purge itself is the same plan with the left join flipped to
    LEFT ANTI and a rewrite sink; auditing FIRST is the operational
    discipline (a bad tombstone list destroys data irreversibly).
    Plan: the tombstone relation BROADCASTS to every fact scan
    (map-side membership, no fact shuffle); lineitem needs one keyed
    join through orders to reach the customer key — the one genuine
    shuffle, keyed by orderkey; per-table rollups are 1-row
    aggregates unioned map-side. At dim-scale tombstone lists the
    broadcast swaps for a bloom_state pre-filter + shuffle join
    (operators/aggstate.py) — semantics unchanged."""
    c = _t(spark, sf_dir, "customer")
    tomb = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")

    def audit(df, key, name):
        j = df.join(
            F.broadcast(tomb.withColumnRenamed("c_custkey", "__t")),
            F.col(key) == F.col("__t"),
            "left",
        )
        return j.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("__t").isNotNull().cast("int"))
            .cast("long")
            .alias("n_purged"),
            (
                F.count(F.lit(1))
                - F.sum(F.col("__t").isNotNull().cast("int"))
            )
            .cast("long")
            .alias("n_kept"),
        )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").join(
        o.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col("o_custkey").alias("__ck"),
        ),
        "l_orderkey",
    )
    ev = _t(spark, sf_dir, "events")
    return (
        audit(c, "c_custkey", "customer")
        .unionAll(audit(o, "o_custkey", "orders"))
        .unionAll(audit(li, "__ck", "lineitem"))
        .unionAll(audit(ev, "user_id", "events"))
    )


