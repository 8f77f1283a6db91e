"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arrowhouse_spark.compile import apply_program
from arrowhouse_spark.operators.merge import merge_sorted, replace_merge_agg
from arrowhouse_spark.operators.sort import SortKey, top_k
from arrowhouse_spark.program import (
    AggOp,
    AggregateAssign,
    Assign,
    GroupBy,
    Op,
    Program,
    ProgramStep,
    const,
)

from arrowhouse_spark.suite import (
    _events,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# 1. Flagship: TPC-H Q1 pricing summary, expressed as an SSA Program
#    (scan → assign → filter → group-by → project; SURVEY.md §7 Phase 1)
# ---------------------------------------------------------------------------

Q1_PROGRAM = Program(
    steps=(
        ProgramStep(
            assignes=(
                const("one", 1.0),
                const("qty_cap", 47.0),
                Assign("disc_factor", Op.SUBTRACT, ("one", "l_discount")),
                Assign("disc_price_raw", Op.MULTIPLY, ("l_extendedprice", "disc_factor")),
                Assign("tax_factor_base", Op.ADD, ("one", "l_tax")),
                Assign("charge_raw", Op.MULTIPLY, ("disc_price_raw", "tax_factor_base")),
                Assign("in_scope", Op.LESS_EQUAL, ("l_quantity", "qty_cap")),
            ),
            filters=("in_scope",),
            group_by=GroupBy(
                keys=("l_returnflag", "l_linestatus"),
                aggregates=(
                    AggregateAssign("sum_qty", AggOp.SUM, "l_quantity"),
                    AggregateAssign("sum_base_price", AggOp.SUM, "l_extendedprice"),
                    AggregateAssign("sum_disc_price", AggOp.SUM, "disc_price_raw"),
                    AggregateAssign("sum_charge", AggOp.SUM, "charge_raw"),
                    AggregateAssign("avg_qty", AggOp.AVG, "l_quantity"),
                    AggregateAssign("avg_price", AggOp.AVG, "l_extendedprice"),
                    AggregateAssign("avg_disc", AggOp.AVG, "l_discount"),
                    AggregateAssign("count_order", AggOp.COUNT),
                ),
            ),
        ),
    )
)


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                          AS sum_qty,
           round(sum(l_extendedprice), 2)                     AS sum_base_price,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                          AS avg_qty,
           round(avg(l_extendedprice), 4)                     AS avg_price,
           round(avg(l_discount), 4)                          AS avg_disc,
           count(*)                                           AS count_order
    FROM lineitem WHERE l_quantity <= 47.0
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_program(_t(spark, sf_dir, "lineitem"), Q1_PROGRAM)
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        F.round("sum_charge", 2).alias("sum_charge"),
        F.round("avg_qty", 4).alias("avg_qty"),
        F.round("avg_price", 4).alias("avg_price"),
        F.round("avg_disc", 4).alias("avg_disc"),
        "count_order",
    )


# ---------------------------------------------------------------------------
# 2. SSA scalar surface (assign/filter/project, casts, arithmetic, strings)
# ---------------------------------------------------------------------------


@register(
    "ssa_scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS disc_price,
           CAST(l_quantity AS INTEGER)          AS qty_int
    FROM lineitem
    WHERE l_discount > 0.05 AND l_quantity < 25.0
    """,
)
def ssa_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    prog = Program(
        steps=(
            ProgramStep(
                assignes=(
                    const("one", 1.0),
                    const("disc_min", 0.05),
                    const("qty_max", 25.0),
                    Assign("disc_factor", Op.SUBTRACT, ("one", "l_discount")),
                    # raw double, NOT rounded: the product is the same IEEE-754
                    # op in both engines (bit-identical); rounding is what
                    # diverges at .xx5 boundaries
                    Assign("disc_price", Op.MULTIPLY, ("l_extendedprice", "disc_factor")),
                    Assign("qty_int", Op.CAST_INT32, ("l_quantity",)),
                    Assign("f1", Op.GREATER, ("l_discount", "disc_min")),
                    Assign("f2", Op.LESS, ("l_quantity", "qty_max")),
                ),
                filters=("f1", "f2"),
                projection=("l_orderkey", "l_linenumber", "disc_price", "qty_int"),
            ),
        )
    )
    return apply_program(_t(spark, sf_dir, "lineitem"), prog)


@register(
    "ssa_string_predicates",
    """
    SELECT p_partkey,
           starts_with(p_name, 'a')             AS sw_a,
           p_name LIKE '%er%'                   AS has_er,
           contains(p_name, 'st')               AS has_st,
           p_name LIKE '%o'                     AS ends_o,
           CAST(strlen(p_name) AS INTEGER)      AS name_len
    FROM part
    """,
)
def ssa_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    prog = Program(
        steps=(
            ProgramStep(
                assignes=(
                    Assign("sw_a", Op.STARTS_WITH, ("p_name",), options={"pattern": "a"}),
                    Assign("has_er", Op.MATCH_LIKE, ("p_name",), options={"pattern": "%er%"}),
                    Assign("has_st", Op.MATCH_SUBSTRING, ("p_name",), options={"pattern": "st"}),
                    Assign("ends_o", Op.ENDS_WITH, ("p_name",), options={"pattern": "o"}),
                    Assign("name_len", Op.BINARY_LENGTH, ("p_name",)),
                ),
                projection=("p_partkey", "sw_a", "has_er", "has_st", "ends_o", "name_len"),
            ),
        )
    )
    return apply_program(_t(spark, sf_dir, "part"), prog)


@register(
    "ssa_casts_arith",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT)                           AS qty_i64,
           abs(l_discount - l_tax)                              AS adiff,
           -l_linenumber                                        AS neg_ln,
           CAST(floor(l_extendedprice) AS BIGINT)               AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT)                AS price_ceil,
           round(l_extendedprice, 1)                            AS price_round,
           CAST(trunc(l_extendedprice) AS BIGINT)               AS price_trunc,
           l_linenumber % 3                                     AS ln_mod
    FROM lineitem WHERE l_orderkey % 10 = 0
    """,
)
def ssa_casts_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    prog = Program(
        steps=(
            ProgramStep(
                assignes=(
                    const("ten", 10),
                    const("zero", 0),
                    const("three", 3),
                    Assign("okmod", Op.MODULO, ("l_orderkey", "ten")),
                    Assign("keep", Op.EQUAL, ("okmod", "zero")),
                    Assign("qty_i64", Op.CAST_INT64, ("l_quantity",)),
                    Assign("diff", Op.SUBTRACT, ("l_discount", "l_tax")),
                    Assign("adiff", Op.ABS, ("diff",)),
                    Assign("neg_ln", Op.NEGATE, ("l_linenumber",)),
                    Assign("price_floor", Op.FLOOR, ("l_extendedprice",)),
                    Assign("price_ceil", Op.CEIL, ("l_extendedprice",)),
                    Assign("price_round", Op.ROUND, ("l_extendedprice",), options={"ndigits": 1}),
                    Assign("price_trunc", Op.TRUNC, ("l_extendedprice",)),
                    Assign("ln_mod", Op.MODULO, ("l_linenumber", "three")),
                ),
                filters=("keep",),
                projection=(
                    "l_orderkey",
                    "l_linenumber",
                    "qty_i64",
                    "adiff",
                    "neg_ln",
                    "price_floor",
                    "price_ceil",
                    "price_round",
                    "price_trunc",
                    "ln_mod",
                ),
            ),
        )
    )
    return apply_program(_t(spark, sf_dir, "lineitem"), prog)


# ---------------------------------------------------------------------------
# 3. Aggregation parity (global / empty / distinct / nullable keys / multikey)
# ---------------------------------------------------------------------------


@register(
    "agg_global",
    """
    SELECT CAST(count(*) AS BIGINT)        AS n_rows,
           CAST(count(l_quantity) AS BIGINT) AS n_qty,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(avg(l_extendedprice), 4)  AS avg_price,
           min(l_returnflag)               AS min_flag,
           max(l_returnflag)               AS max_flag,
           round(min(l_extendedprice), 2)  AS min_price,
           round(max(l_extendedprice), 2)  AS max_price
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    prog = Program(
        steps=(
            ProgramStep(
                group_by=GroupBy(
                    aggregates=(
                        AggregateAssign("n_rows", AggOp.COUNT),
                        AggregateAssign("n_qty", AggOp.COUNT, "l_quantity"),
                        AggregateAssign("sum_qty", AggOp.SUM, "l_quantity"),
                        AggregateAssign("avg_price", AggOp.AVG, "l_extendedprice"),
                        AggregateAssign("min_flag", AggOp.MIN, "l_returnflag"),
                        AggregateAssign("max_flag", AggOp.MAX, "l_returnflag"),
                        AggregateAssign("min_price", AggOp.MIN, "l_extendedprice"),
                        AggregateAssign("max_price", AggOp.MAX, "l_extendedprice"),
                    )
                )
            ),
        )
    )
    out = apply_program(_t(spark, sf_dir, "lineitem"), prog)
    return out.select(
        "n_rows",
        "n_qty",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("avg_price", 4).alias("avg_price"),
        "min_flag",
        "max_flag",
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "agg_empty_relation",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           min(l_returnflag)         AS min_flag
    FROM lineitem WHERE l_quantity < 0
    """,
)
def agg_empty_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # global agg over empty input ⇒ exactly one row (Aggregator.cpp:571-577)
    prog = Program(
        steps=(
            ProgramStep(
                assignes=(
                    const("zero", 0.0),
                    Assign("neg", Op.LESS, ("l_quantity", "zero")),
                ),
                filters=("neg",),
                group_by=GroupBy(
                    aggregates=(
                        AggregateAssign("n_rows", AggOp.COUNT),
                        AggregateAssign("sum_qty", AggOp.SUM, "l_quantity"),
                        AggregateAssign("min_flag", AggOp.MIN, "l_returnflag"),
                    )
                ),
            ),
        )
    )
    out = apply_program(_t(spark, sf_dir, "lineitem"), prog)
    return out.select("n_rows", F.round("sum_qty", 2).alias("sum_qty"), "min_flag")


@register(
    "distinct_keys",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    prog = Program(
        steps=(ProgramStep(group_by=GroupBy(keys=("l_returnflag", "l_linestatus"))),)
    )
    return apply_program(_t(spark, sf_dir, "lineitem"), prog)


@register(
    "groupby_nullable_key",
    """
    SELECT nullif(o_orderpriority, '1-URGENT') AS prio,
           CAST(count(*) AS BIGINT)            AS n,
           round(sum(o_totalprice), 2)         AS sum_price
    FROM orders GROUP BY 1
    """,
)
def groupby_nullable_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "orders").withColumn(
        "prio", F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    )
    prog = Program(
        steps=(
            ProgramStep(
                group_by=GroupBy(
                    keys=("prio",),
                    aggregates=(
                        AggregateAssign("n", AggOp.COUNT),
                        AggregateAssign("sum_price", AggOp.SUM, "o_totalprice"),
                    ),
                )
            ),
        )
    )
    out = apply_program(df, prog)
    return out.select("prio", "n", F.round("sum_price", 2).alias("sum_price"))


@register(
    "groupby_multikey",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(count(*) AS BIGINT)          AS n,
           round(sum(l_quantity), 2)         AS sum_qty,
           round(min(l_extendedprice), 2)    AS min_price,
           round(max(l_extendedprice), 2)    AS max_price
    FROM lineitem GROUP BY 1, 2, 3
    """,
)
def groupby_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    prog = Program(
        steps=(
            ProgramStep(
                group_by=GroupBy(
                    keys=("l_returnflag", "l_linestatus", "ship_year"),
                    aggregates=(
                        AggregateAssign("n", AggOp.COUNT),
                        AggregateAssign("sum_qty", AggOp.SUM, "l_quantity"),
                        AggregateAssign("min_price", AggOp.MIN, "l_extendedprice"),
                        AggregateAssign("max_price", AggOp.MAX, "l_extendedprice"),
                    ),
                )
            ),
        )
    )
    out = apply_program(df, prog)
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "ship_year",
        "n",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "count_distinct",
    """
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)       AS n_custs,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios
    FROM orders
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").agg(
        F.count_distinct("o_custkey").alias("n_custs"),
        F.count_distinct("o_orderpriority").alias("n_prios"),
    )


@register(
    "approx_count_distinct",
    """
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs_exact,
           true AS within_5pct
    FROM orders
    """,
)
def approx_count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx-distinct under an error-bound CONTRACT oracle: the query
    emits the exact count (oracle-verifiable) plus a boolean asserting the
    HLL estimate landed within 5% of it. rsd=0.01 so the 5% bound is ~5σ
    (measured: 0.5% error at sf0.01, 0.7% at sf0.1; the default rsd=0.05
    sketch actually missed 5% — 1400 vs 1500 — which is why the sketch is
    sized explicitly). The driver hash-checks the contract deterministically
    even though the estimate itself is approximate; a drifted sketch flips
    within_5pct and fails the gate."""
    agg = _t(spark, sf_dir, "orders").agg(
        F.count_distinct("o_custkey").alias("n_custs_exact"),
        F.approx_count_distinct("o_custkey", 0.01).alias("__approx"),
    )
    return agg.select(
        "n_custs_exact",
        (
            F.abs(F.col("__approx") - F.col("n_custs_exact"))
            / F.col("n_custs_exact")
            <= 0.05
        ).alias("within_5pct"),
    )


# ---------------------------------------------------------------------------
# 4. Sort / merge / replace family
# ---------------------------------------------------------------------------


@register(
    "sort_topk",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 15
    """,
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem")
    out = top_k(
        df,
        [
            SortKey("l_extendedprice", ascending=False),
            SortKey("l_orderkey"),
            SortKey("l_linenumber"),
        ],
        15,
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price")
    )


@register(
    "merge_sorted_runs",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders WHERE o_orderkey % 3 = 1
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders WHERE o_orderkey % 3 = 2
    """,
)
def merge_sorted_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )
    runs = [df.filter(F.col("o_orderkey") % 3 == i).orderBy("o_orderkey") for i in range(3)]
    return merge_sorted(runs, [SortKey("o_orderkey")])


@register(
    "replace_merge_latest",
    """
    SELECT user_id, event_id, event_type, round(value, 4) AS value
    FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def replace_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # versioned upsert: latest (max event_id) row per user — the reference's
    # replace-merge with sort key {user_id ASC, event_id DESC}, replace key user_id
    from arrowhouse_spark.operators.merge import replace_merge

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "value")
    out = replace_merge(
        [ev],
        replace_key=("user_id",),
        sort_keys=[SortKey("user_id"), SortKey("event_id", ascending=False)],
    )
    return out.select(
        "user_id", "event_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "replace_merge_agg_latest",
    """
    SELECT user_id,
           arg_max(event_type, event_id) AS event_type,
           round(arg_max(value, event_id), 4) AS value,
           CAST(max(event_id) AS BIGINT) AS event_id
    FROM events GROUP BY user_id
    """,
)
def replace_merge_agg_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "value")
    out = replace_merge_agg(
        [ev], replace_key=("user_id",), version_col="event_id", value_cols=["event_type", "value"]
    )
    return out.select(
        "user_id", "event_type", F.round("value", 4).alias("value"), "event_id"
    )


# ---------------------------------------------------------------------------
# 5. Joins (capability superset — absent in the reference, SURVEY.md §2.4)
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_revenue",
    """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_broadcast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # dims are small → broadcast both; the fact table never shuffles for the join
    out = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    return out


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# 6. Window / rollup (capability superset, SURVEY.md §2.3 end)
# ---------------------------------------------------------------------------


@register(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per customer: one shuffle keyed by the group,
    rank inside each partition (deterministic tie-break on the key). Hot
    groups split via AQE; for extreme skew pre-filter with an approximate
    per-group threshold before the window."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderstatus,
           CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
           CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT)   AS high,
           CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS urgent_value
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = groupBy + conditional aggregates, all map-side partial +
    one shuffle on the group key (explicit pivot values keep the output
    schema static — required for a deterministic plan at scale)."""
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(urgent, 1)).alias("urgent"),
        F.count(F.when(F.col("o_orderpriority") == "2-HIGH", 1)).alias("high"),
        F.count(F.when(F.col("o_orderpriority") == "3-MEDIUM", 1)).alias("medium"),
        F.round(F.sum(F.when(urgent, F.col("o_totalprice"))), 2).alias(
            "urgent_value"
        ),
    )


@register(
    "window_lag_lead_ntile",
    """
    SELECT o_custkey, o_orderkey,
           round(lag(o_totalprice)  OVER w, 2) AS prev_price,
           round(lead(o_totalprice) OVER w, 2) AS next_price,
           CAST(ntile(4) OVER w AS INTEGER)    AS quartile,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(last_value(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ), 2) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/distribution window functions (lag, lead, ntile,
    first/last_value) over one shuffle-by-customer window spec — all five
    share the same sort, so Spark plans a single Window node."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w_full), 2).alias("last_price"),
    )


@register(
    "window_running_sum",
    """
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running"),
    )


@register(
    "rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT)   AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@register(
    "events_hourly",
    """
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2)     AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


