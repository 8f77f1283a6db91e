"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrowhouse_spark.compile import apply_program
from arrowhouse_spark.operators.dedup import dedup_exact
from arrowhouse_spark.operators.asof import asof_join
from arrowhouse_spark.operators.sessions import session_stats
from arrowhouse_spark.operators.setops import except_all, intersect
from arrowhouse_spark.operators.similarity import (
    ann_cosine_ivf_kmeans,
    ann_cosine_lsh_multi,
    cosine_topk_query,
    embedding_neardup_pairs,
)
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
# 9. Training-data pipeline: similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 20
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk_query(emb, qvec, k=20)


@register(
    "embedding_neardup",
    """
    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           round(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])))), 6) AS cos_sim
    FROM embeddings l JOIN embeddings r
      ON l.label = r.label AND l.vec_id < r.vec_id
    WHERE round(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])))), 6) >= 0.3
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), group_col="label", threshold=0.3
    )


_ANN_CONTRACT_ORACLE = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS cos_sim,
           true AS recall_ok
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 10
    """


def _ann_recall_contract(
    emb: DataFrame, ann: DataFrame, qvec, min_hits: int
) -> DataFrame:
    """Recall-contract result shape: the EXACT brute-force top-10 rows
    (vec_id, cos_sim — oracle-verifiable bit-for-bit) plus a recall_ok
    column asserting the ANN result found ≥ ``min_hits`` of them. The
    driver's hash check thus verifies the ground truth AND enforces a
    deterministic recall bound on the approximate path; an ANN regression
    flips recall_ok on every row and fails the gate. Fully lazy: the hit
    count rides a broadcast 1-row crossJoin, no driver collect."""
    bf = cosine_topk_query(emb, qvec, k=10)
    hits = bf.join(ann.select("vec_id"), "vec_id", "semi").agg(
        F.count(F.lit(1)).alias("__nh")
    )
    return bf.crossJoin(hits).select(
        "vec_id", "cos_sim", (F.col("__nh") >= min_hits).alias("recall_ok")
    )


@register("ann_cosine_lsh_topk", _ANN_CONTRACT_ORACLE)
def ann_cosine_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN under a recall-contract oracle: 8 tables × 8
    planes, probe radius 2 — measured recall@10 = 1.0 at sf0.01 / 0.9 at
    sf0.1 (similarity.ann_cosine_lsh_multi docstring); contract bound ≥ 0.9
    (9 of the true top-10)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ann = ann_cosine_lsh_multi(
        emb, qvec, k=10, n_planes=8, n_tables=8, probe_hamming=2
    )
    return _ann_recall_contract(emb, ann, qvec, min_hits=9)


# ---------------------------------------------------------------------------
# 10. Approximate GROUP BY (max_rows_to_group_by / OverflowMode::ANY) and the
#     `any` aggregate — custom parity operators (SURVEY.md §4 item 1)
# ---------------------------------------------------------------------------


@register(
    "groupby_limited_top",
    """
    WITH g AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS s
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY n DESC, o_custkey ASC) AS rk FROM g
    )
    SELECT o_custkey, n, s, false AS is_overflow FROM ranked WHERE rk <= 10
    UNION ALL
    SELECT NULL AS o_custkey, CAST(sum(n) AS BIGINT) AS n, round(sum(s), 2) AS s,
           true AS is_overflow
    FROM ranked WHERE rk > 10
    """,
)
def groupby_limited_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrowhouse_spark.operators.groupby_limit import group_by_limited

    out = group_by_limited(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        {"n": F.count(F.lit(1)), "s": F.round(F.sum("o_totalprice"), 2)},
        max_rows=10,
        overflow_row=True,
    )
    return out.select(
        "o_custkey",
        "n",
        F.round("s", 2).alias("s"),
        F.col("__overflow").alias("is_overflow"),
    )


@register(
    "groupby_limited_break",
    """
    WITH d AS (
      SELECT event_id, user_id % 50 AS k, value FROM events
    ), fp AS (
      SELECT k, min(event_id) AS fp FROM d GROUP BY k
    ), cut AS (
      SELECT CASE WHEN count(*) = 21 THEN max(fp) END AS cut
      FROM (SELECT fp FROM fp ORDER BY fp LIMIT 21)
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS sv,
           CAST(min(event_id) AS BIGINT) AS first_id
    FROM d, cut WHERE cut.cut IS NULL OR d.event_id < cut.cut
    GROUP BY k
    """,
)
def groupby_limited_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OverflowMode::BREAK (arrow_clickhouse_types.h:24-34), deterministic
    analogue: consuming events in event_id order, stop the moment the 21st
    distinct key (user_id % 50) would enter the hash table; aggregate only
    rows strictly before that point — partial aggregates, "return what
    is". The oracle replays the same stop rule in SQL; first-seen keys and
    their PARTIAL sums/counts pin the semantics apart from ANY (which
    would keep the heaviest keys, fully aggregated)."""
    from arrowhouse_spark.operators.groupby_limit import (
        OverflowMode,
        group_by_limited,
    )

    d = _events(spark, sf_dir).select(
        "event_id", (F.col("user_id") % 50).alias("k"), "value"
    )
    return group_by_limited(
        d,
        ["k"],
        {
            "n": F.count(F.lit(1)),
            "sv": F.round(F.sum("value"), 3),
            "first_id": F.min("event_id"),
        },
        max_rows=20,
        mode=OverflowMode.BREAK,
        order_col="event_id",
    )


@register(
    "groupby_limited_any_arrival",
    """
    WITH d AS (
      SELECT event_id, user_id % 50 AS k, value FROM events
    ), fp AS (
      SELECT k, min(event_id) AS fp FROM d GROUP BY k
    ), ranked AS (
      SELECT k, row_number() OVER (ORDER BY fp ASC, k ASC) AS rk FROM fp
    ), kept AS (
      SELECT k FROM ranked WHERE rk <= 20
    )
    SELECT d.k, CAST(count(*) AS BIGINT) AS n, round(sum(d.value), 3) AS sv,
           false AS is_overflow
    FROM d JOIN kept ON d.k = kept.k GROUP BY d.k
    UNION ALL
    SELECT NULL AS k, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 3) AS sv, true AS is_overflow
    FROM d WHERE k NOT IN (SELECT k FROM kept)
    """,
)
def groupby_limited_any_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OverflowMode::ANY with ARRIVAL-ORDER semantics (Aggregator.cpp:
    361-369 find-only path; arrow_clickhouse_types.h:24-34), replayed
    against the explicit event_id order: the first 20 distinct keys
    (user_id % 50) to appear claim the hash-table slots, ALL their rows
    aggregate (including rows arriving after the table fills — the
    find-only path accepts present keys forever), and every row of a
    later key folds into the overflow row. Distinguishes all three
    deterministic limit modes in the registry: heaviest-keys ANY
    (groupby_limited_top), stop-consuming BREAK (groupby_limited_break),
    and first-seen-keys-win ANY (this query — kept keys match BREAK's
    first-seen set but carry FULL aggregates, not partial ones)."""
    from arrowhouse_spark.operators.groupby_limit import (
        OverflowMode,
        group_by_limited,
    )

    d = _events(spark, sf_dir).select(
        "event_id", (F.col("user_id") % 50).alias("k"), "value"
    )
    out = group_by_limited(
        d,
        ["k"],
        {"n": F.count(F.lit(1)), "sv": F.round(F.sum("value"), 3)},
        max_rows=20,
        mode=OverflowMode.ANY,
        order_col="event_id",
        overflow_row=True,
    )
    return out.select(
        "k", "n", "sv", F.col("__overflow").alias("is_overflow")
    )


@register(
    "agg_any_single_member",
    # `any` is nondeterministic in general (MinMaxAny.h:527-535); over
    # single-member groups it equals min — giving it an exact oracle
    "SELECT c_custkey, min(c_name) AS any_name FROM customer GROUP BY c_custkey",
)
def agg_any_single_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    prog = Program(
        steps=(
            ProgramStep(
                group_by=GroupBy(
                    keys=("c_custkey",),
                    aggregates=(AggregateAssign("any_name", AggOp.ANY, "c_name"),),
                )
            ),
        )
    )
    return apply_program(_t(spark, sf_dir, "customer"), prog)


# ---------------------------------------------------------------------------
# 11. Join/window/setops superset: as-of join, sessionization, IVF ANN,
#     intersect/except, cube, exact percentiles
# ---------------------------------------------------------------------------


@register(
    "asof_join_clicks_views",
    """
    SELECT l.event_id, l.user_id, round(r.value, 2) AS asof_view_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click, the value of the latest at-or-before view per user —
    ClickHouse-style ASOF JOIN via the one-shuffle union+window plan
    (operators/asof.py); DuckDB's native ASOF JOIN is the oracle."""
    # µs granularity on both sides: a click and view inside the same µs must
    # tie in both engines
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    out = asof_join(
        clicks.select("event_id", "user_id", "ts"),
        views.select("user_id", "ts", "value"),
        on="ts",
        by=["user_id"],
        value_cols=["value"],
    )
    return out.select(
        "event_id", "user_id", F.round("asof_value", 2).alias("asof_view_value")
    )


@register(
    "sessionize_events",
    """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 21600
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), t AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
      FROM s
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(epoch(max(ts)) - epoch(min(ts)), 3) AS duration_s
    FROM t GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (6h gap) + per-session stats."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    st = session_stats(ev, "ts", ["user_id"], gap_seconds=21600)
    return st.select(
        "user_id",
        "session_id",
        "n_events",
        F.round("duration_s", 3).alias("duration_s"),
    )


@register("ann_cosine_ivf_topk", _ANN_CONTRACT_ORACLE)
def ann_cosine_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-refined IVF ANN under a recall-contract oracle: 16 centroids
    (3 Lloyd iterations), nprobe=8 — measured recall@10 = 1.0 at sf0.01 /
    0.8 at sf0.1; contract bound ≥ 0.8 (8 of the true top-10; the synthetic
    embeddings are weakly clustered — 10th-neighbor cos ≈ 0.3 — so IVF cells
    separate less cleanly than on real clustered corpora)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ann = ann_cosine_ivf_kmeans(
        emb, qvec, k=10, n_centroids=16, nprobe=8, iters=3
    )
    return _ann_recall_contract(emb, ann, qvec, min_hits=8)


@register(
    "setops_intersect_except",
    """
    SELECT o_custkey, 'both' AS src FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    UNION ALL
    SELECT o_custkey, 'only_open' AS src FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def setops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT (absent in the reference, SURVEY.md §2.6 — superset):
    customers with both open and finished orders vs open-only."""
    o = _t(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = intersect(open_keys, fin_keys).withColumn("src", F.lit("both"))
    only_open = except_all(open_keys.distinct(), fin_keys, distinct=False).withColumn(
        "src", F.lit("only_open")
    )
    return both.unionByName(only_open)


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS s
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims (reference has no grouping sets, SURVEY.md §2.3 —
    Spark-native superset alongside the existing rollup query)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("s"),
        )
    )


@register(
    "percentile_retailprice",
    """
    SELECT p_brand,
           round(quantile_cont(p_retailprice, 0.5), 4) AS p50,
           round(quantile_cont(p_retailprice, 0.9), 4) AS p90
    FROM part GROUP BY p_brand
    """,
)
def percentile_retailprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (reference has no
    quantiles — IDs commented out, IAggregateFunction.h:463-472; Spark
    provides both exact percentile and approx_percentile)."""
    return (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.round(F.percentile("p_retailprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("p_retailprice", F.lit(0.9)), 4).alias("p90"),
        )
    )


@register(
    "ssa_multistep_program",
    """
    WITH s1 AS (
      SELECT l_suppkey, l_extendedprice * (1.0 - l_discount) AS net
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ), s2 AS (
      SELECT l_suppkey, round(sum(net), 2) AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM s1 GROUP BY l_suppkey
    )
    SELECT l_suppkey, revenue, n_items,
           round(revenue / n_items, 4) AS avg_item_revenue
    FROM s2 WHERE n_items > 2
    """,
)
def ssa_multistep_program(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three chained ProgramSteps ≡ the reference's multi-step SSA design
    (SsaProgram.h:225-240: non-decreasing column set per step, projection
    last; step split lets the program author order filters by selectivity —
    here Catalyst fuses all three steps into ONE plan, so the split costs
    nothing at execution)."""
    prog = Program(
        steps=(
            # step 1: scalar prep + selective filter
            ProgramStep(
                assignes=(
                    const("one", 1.0),
                    const("m_a", "A"),
                    const("m_r", "R"),
                    Assign("disc_f", Op.SUBTRACT, ("one", "l_discount")),
                    Assign("net", Op.MULTIPLY, ("l_extendedprice", "disc_f")),
                    Assign("is_a", Op.EQUAL, ("l_returnflag", "m_a")),
                    Assign("is_r", Op.EQUAL, ("l_returnflag", "m_r")),
                    Assign("in_mode", Op.OR, ("is_a", "is_r")),
                ),
                filters=("in_mode",),
                projection=("l_suppkey", "net"),
            ),
            # step 2: keyed aggregation
            ProgramStep(
                group_by=GroupBy(
                    keys=("l_suppkey",),
                    aggregates=(
                        AggregateAssign("revenue_raw", AggOp.SUM, "net"),
                        AggregateAssign("n_items", AggOp.COUNT),
                    ),
                ),
            ),
            # step 3: post-aggregation scalars + filter on the aggregate
            ProgramStep(
                assignes=(
                    const("min_items", 2),
                    Assign("big", Op.GREATER, ("n_items", "min_items")),
                ),
                filters=("big",),
                projection=("l_suppkey", "revenue_raw", "n_items"),
            ),
        )
    )
    out = apply_program(_t(spark, sf_dir, "lineitem"), prog)
    return out.select(
        "l_suppkey",
        F.round("revenue_raw", 2).alias("revenue"),
        "n_items",
        F.round(F.round("revenue_raw", 2) / F.col("n_items"), 4).alias(
            "avg_item_revenue"
        ),
    )


@register(
    "grouping_sets_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS s
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond cube/rollup): per-status, per-priority,
    and grand-total rows in one pass (Spark plans a single Expand+aggregate)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS s
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "stats_moments",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4)                AS sd_qty,
           round(var_samp(l_extendedprice), 2)              AS var_price,
           round(corr(l_quantity, l_extendedprice), 6)      AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation) — absent from the
    reference's aggregate set (IAggregateFunction.h:454-473 enables only
    count/sum/avg/min/max/any); Spark-native superset."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
        )
    )


@register(
    "count_distinct_salted",
    """
    SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders GROUP BY o_orderstatus
    """,
)
def count_distinct_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct via value-hash salting (operators/skew.py):
    per-reducer state is bounded by distinct/salt even when one key holds
    almost all values — the skew case plain COUNT(DISTINCT) can't shard."""
    from arrowhouse_spark.operators.skew import salted_count_distinct

    return salted_count_distinct(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_custkey", salt=16
    )


@register(
    "heavy_hitters_status",
    """
    SELECT o_orderstatus AS value, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1
    HAVING count(*) * 10 > (SELECT count(*) FROM orders)
    """,
)
def heavy_hitters_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent items (count > N/10) via the two-pass distributed
    Misra-Gries scheme (operators/skew.py:heavy_hitters) — bounded memory
    per partition, exact deterministic output; the oracle is the plain
    HAVING-threshold aggregation the operator must reproduce."""
    from arrowhouse_spark.operators.skew import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "orders"), "o_orderstatus", k=10)


@register(
    "pipeline_clean_corpus",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             length(text) AS n_chars,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
      FROM documents
      WHERE length(text) >= 100
    ), keep AS (
      SELECT d.doc_id, d.lang, d.n_chars, d.n_tokens
      FROM scored d
      JOIN (
        SELECT min(doc_id) AS keep_id
        FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ) k ON d.doc_id = k.keep_id
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_chars), 2) AS avg_chars
    FROM keep GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline as ONE declarative plan:
    length filter → exact dedup (keep min doc_id per content fingerprint) →
    per-language corpus stats. Composes dedup_exact + token_count; Catalyst
    fuses the stages so the text column is read once and never shuffles
    (only fingerprints and counts move)."""
    docs = _t(spark, sf_dir, "documents")
    keep_ids = dedup_exact(docs).select(F.col("keep_id").alias("doc_id"))
    scored = (
        docs.filter(F.length("text") >= 100)
        .join(keep_ids, "doc_id")
        .select(
            "lang",
            F.length("text").alias("n_chars"),
            (
                F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
            ).alias("n_tokens"),
        )
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@register(
    "multimodal_decode_stats",
    """
    SELECT CAST(8 + doc_id % 5 AS INTEGER) AS width,
           CAST(8 + doc_id % 7 AS INTEGER) AS height,
           CAST(count(*) AS BIGINT) AS n
    FROM documents WHERE doc_id < 200
    GROUP BY 1, 2
    """,
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline through the driver gate: build
    deterministic fake payloads (operators/multimodal.py header format) with
    width/height derived from doc_id, run the distributed Arrow-batched
    decode, aggregate by decoded dimensions. The oracle recomputes the
    dimension rule in SQL — so the payload encode → mapInPandas decode →
    groupBy round trip is value-checked end-to-end. Fully distributed: the
    fixture payloads are built by an Arrow-batched mapInPandas over the
    documents scan (no driver-side collect)."""
    from arrowhouse_spark.operators.multimodal import decode_images, make_fake_payloads

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = make_fake_payloads(docs, id_col="doc_id").repartition(8)
    decoded = decode_images(media)
    return decoded.groupBy("width", "height").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ivf_store_topk_exact",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 20
    """,
)
def ivf_store_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF index, driver-proven end to end (operators/
    similarity.py:ivf_store_*): init the at-rest cell-partitioned index
    on vec_id%3=0, APPEND the rest against the frozen centroids (the
    daily-ingest maintenance path), then probe with nprobe=n_centroids —
    exact brute force over the store, so the oracle is the plain top-20
    over ALL embeddings: the hash certifies that init+append lost,
    duplicated, and misrouted nothing. The pruned-probe behavior
    (PartitionFilters on the cell column) is gated in
    tests/test_clustering.py; the exact form is what SQL can oracle."""
    import shutil
    import tempfile

    from arrowhouse_spark.operators.similarity import (
        ivf_store_append,
        ivf_store_init,
        ivf_store_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    d = tempfile.mkdtemp(prefix="arrowhouse_ivf_")
    store = d + "/ivf"
    try:
        ivf_store_init(emb.filter(F.col("vec_id") % 3 == 0), store, n_centroids=8)
        ivf_store_append(emb.filter(F.col("vec_id") % 3 != 0), store)
        return ivf_store_topk(
            spark, store, qvec, k=20, nprobe=8
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "ivf_store_upsert_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
    u AS (
      SELECT vec_id,
             CASE WHEN vec_id % 17 = 3
                  THEN list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
                  ELSE CAST(embedding AS DOUBLE[]) END AS emb
      FROM embeddings
      WHERE NOT (vec_id % 29 = 5 AND vec_id % 17 <> 3)
    )
    SELECT u.vec_id,
           round(list_dot_product(u.emb, q.qv)
                 / (sqrt(list_dot_product(u.emb, u.emb))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
    FROM u, q
    ORDER BY cos_sim DESC, u.vec_id ASC
    LIMIT 20
    """,
)
def ivf_store_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store LIFECYCLE driver-proven end to end (round-10 verdict #1):
    init + append build the persistent index, then ivf_store_upsert
    MOVES a slice of vectors (vec_id%17==3 negated — a changed embedding
    reassigns to the opposite cell) and ivf_store_delete retracts
    another slice (vec_id%29==5, GDPR-style tombstones). The probe runs
    at nprobe=n_centroids (exact over the store), so the oracle is plain
    brute-force top-20 over the UPDATED relation: a dangling old-cell
    posting for an upserted id, a surviving deleted id, or a lost
    unrelated posting would each flip the hash. Pruned-probe plan gating
    lives in tests/test_clustering.py."""
    import shutil
    import tempfile

    from arrowhouse_spark.operators.similarity import (
        ivf_store_append,
        ivf_store_delete,
        ivf_store_init,
        ivf_store_topk,
        ivf_store_upsert,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    moved = emb.filter(F.col("vec_id") % 17 == 3).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    gone = emb.filter(
        (F.col("vec_id") % 29 == 5) & (F.col("vec_id") % 17 != 3)
    ).select("vec_id")
    d = tempfile.mkdtemp(prefix="arrowhouse_ivf_up_")
    store = d + "/ivf"
    try:
        ivf_store_init(emb.filter(F.col("vec_id") % 3 == 0), store, n_centroids=8)
        ivf_store_append(emb.filter(F.col("vec_id") % 3 != 0), store)
        ivf_store_upsert(moved, store)
        ivf_store_delete(spark, store, gone)
        return ivf_store_topk(
            spark, store, qvec, k=20, nprobe=8
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)
