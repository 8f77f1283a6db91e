"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arrowhouse_spark.operators.asof import asof_join
from arrowhouse_spark.operators.similarity import cosine_topk_query

from arrowhouse_spark.suite import (
    _events,
    _parquet_num_rows,
    _t,
    register,
)
from arrowhouse_spark.suite.events_graph import (
    _ppr_oracle,
)

@register("personalized_pagerank_topk", _ppr_oracle(5, 0.85))
def personalized_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py:personalized_pagerank):
    relevance relative to seed users {0..4} — teleport and dangling mass
    return to the seed distribution, so unreachable vertices converge to
    0 and the top-20 ranks the seeds' neighborhood. Same unrolled-CTE
    oracle mechanics as pagerank_topk with p0 replacing the uniform."""
    from arrowhouse_spark.operators.graph import personalized_pagerank

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.get_json_object("props", "$.k").cast("long").alias("dst"),
    )
    seeds = ev.filter(F.col("user_id") < 5).select(
        F.col("user_id").cast("long").alias("src")
    )
    ranks = personalized_pagerank(edges, seeds, iterations=5, damping=0.85)
    return (
        ranks.select("id", F.round("r", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "id")
        .limit(20)
    )


@register(
    "point_in_time_enrich",
    """
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id,
             lag(event_type) OVER w AS prev,
             (row_number() OVER w) = 1 AS first
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP),
                   event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_type, event_id FROM marked
      WHERE first OR prev IS DISTINCT FROM event_type
    ),
    p AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           (SELECT r.event_type FROM runs r
             WHERE r.user_id = p.user_id AND r.ts <= p.ts
             ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS state,
           strftime((SELECT r.ts FROM runs r
             WHERE r.user_id = p.user_id AND r.ts <= p.ts
             ORDER BY r.ts DESC, r.event_id DESC LIMIT 1),
             '%Y-%m-%d %H:%M:%S') AS state_since
    FROM p
    """,
)
def point_in_time_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the feature-store correctness primitive: each
    purchase event enriched with the dimension state VALID AT ITS
    TIMESTAMP (never a later one — no feature leakage). Pure composition:
    scd2_from_log builds the per-user state intervals, asof_join attaches
    the latest run at-or-before each fact row. The oracle resolves the
    same lookup with correlated latest-row subqueries."""
    from arrowhouse_spark.operators.asof import asof_join
    from arrowhouse_spark.operators.merge import scd2_from_log

    ev = _events(spark, sf_dir)
    runs = scd2_from_log(
        ev, key_cols=["user_id"], ts_col="ts", attr_col="event_type",
        tie_col="event_id",
    ).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.col("event_type").alias("state"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "state_since"
        ),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases,
        runs,
        on="ts",
        by=["user_id"],
        value_cols=["state", "state_since"],
        direction="backward",
        prefix="",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "state",
        "state_since",
    )


@register(
    "events_rolling_mean",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
      FROM events
    ),
    obs AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             (max({'ts': ts, 'tie': event_id, 'v': value})).v AS v_obs
      FROM e GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM obs GROUP BY 1),
    spine AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    filled AS (
      SELECT s.user_id, s.h,
             round(last_value(o.v_obs IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS v_filled
      FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.h = s.h
    )
    SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket_h, v_filled,
           round(sum(v_filled) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_sum
    FROM filled
    """,
)
def events_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-bucket moving average (operators/timeseries.py:
    rolling_mean, stat="sum") over the gap-filled hourly series — the
    composition a monitoring pipeline actually charts: gapfill_locf
    regularizes, then ONE bounded-frame per-key window smooths (state =
    7 values per row, series-length-free). The SUM form keeps results on
    the 2-decimal grid (a rolling MEAN lands on .xx5 tie boundaries
    where engine rounding rules differ — measured: 1 row in 105k).
    Oracle replays spine, fill, and the bounded frame."""
    from arrowhouse_spark.operators.timeseries import gapfill_locf, rolling_mean

    filled = gapfill_locf(
        _events(spark, sf_dir),
        key_col="user_id", ts_col="ts", value_col="value",
        tie_col="event_id",
    )
    out = rolling_mean(
        filled, key_cols=["user_id"], order_col="bucket_ts",
        value_col="v_filled", window_rows=7, stat="sum",
        out_col="rolling_sum",
    )
    return out.select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_h"),
        "v_filled",
        "rolling_sum",
    )


@register(
    "events_winsorized_stats",
    """
    WITH q AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS lo,
             round(quantile_cont(value, 0.95), 6) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(least(greatest(e.value, q.lo), q.hi)), 2)
             AS sum_winsorized,
           round(avg(least(greatest(e.value, q.lo), q.hi)), 6)
             AS avg_winsorized,
           CAST(sum(CASE WHEN e.value < q.lo OR e.value > q.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM events e JOIN q USING (event_type)
    GROUP BY 1
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key winsorization (operators/timeseries.py:winsorize, [5%,95%]):
    clip to the key's interpolated quantiles — one keyed quantile
    aggregate broadcast back, map-side clip; thresholds 6-dp rounded so
    both engines clip identical boundary rows. The destructive complement
    of events_zscore_outliers (flags); rolled up per type with the
    clipped-row count."""
    from arrowhouse_spark.operators.timeseries import winsorize

    ev = _events(spark, sf_dir)
    w = winsorize(
        ev, key_cols=["event_type"], value_col="value",
        lower=0.05, upper=0.95,
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("winsorized"), 2).alias("sum_winsorized"),
        F.round(F.avg("winsorized"), 6).alias("avg_winsorized"),
        F.sum(
            F.when(F.col("value") != F.col("winsorized"), 1).otherwise(0)
        ).cast("long").alias("n_clipped"),
    )


@register(
    "ohlc_incremental_merge",
    """
    WITH t AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value, event_id
      FROM events
    )
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_h,
           round((min({'ts': ts, 'tie': event_id, 'v': value})).v, 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round((max({'ts': ts, 'tie': event_id, 'v': value})).v, 2) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM t GROUP BY 1, 2
    """,
)
def ohlc_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OHLC under late data, via mergeable state
    (operators/aggstate.py): the month's events split into an on-time
    batch (first 25 days) and a late batch; each produces per-(type,
    hour) state rows INDEPENDENTLY — min/max over the (ts, tie, value)
    struct are mergeable states exactly like sum/count — and agg_merge
    folds the two state sets. The oracle is the DIRECT single-shot OHLC
    over everything: merge-after-late-arrival must equal recompute, the
    backfill-correctness contract every incremental rollup pipeline
    needs. Same two-phase ≡ one-shot discipline as agg_state_merge_daily
    (ut_aggregator.cpp:133-149), composed to a real rollup shape."""
    from arrowhouse_spark.operators.aggstate import agg_merge, agg_state

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        "value",
        F.struct(
            F.col("ts"), F.col("event_id").alias("tie"), F.col("value").alias("v")
        ).alias("ots"),
        F.col("ts"),
    )
    cut = F.lit("2024-01-26 00:00:00").cast("timestamp")
    ops = [("ots", "min"), ("ots", "max"), ("value", "min"),
           ("value", "max"), ("value", "count")]
    on_time = agg_state(
        ev.filter(F.col("ts") < cut).drop("ts"),
        keys=["event_type", "bucket_ts"], ops=ops,
    )
    late = agg_state(
        ev.filter(F.col("ts") >= cut).drop("ts"),
        keys=["event_type", "bucket_ts"], ops=ops,
    )
    merged = agg_merge(
        on_time.unionByName(late),
        keys=["event_type", "bucket_ts"], ops=ops,
    )
    return merged.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_h"),
        F.round(F.col("min_ots").getField("v"), 2).alias("open"),
        F.round("max_value", 2).alias("high"),
        F.round("min_value", 2).alias("low"),
        F.round(F.col("max_ots").getField("v"), 2).alias("close"),
        F.col("count_value").alias("n"),
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the six-table join —
    lineitem x orders x customer x supplier x nation x region with the
    local-supplier equality s_nationkey = c_nationkey — the multi-join
    planning benchmark the two-table queries (q3, join_broadcast) don't
    exercise. Declarative joins end to end: the date filter pushes into
    the orders scan, nation/region compile to broadcast hashes, and
    AQE/Catalyst pick the lineitem x orders x customer strategies from
    runtime sizes (at 100 TB all three scale with SF, so hard-coding a
    broadcast would be wrong — the planner must choose). Engine parity:
    the reference executes joins one pair at a time in caller order
    (YdbModes join streams); here join ORDER itself is the optimizer's."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (supp.s_suppkey == li.l_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), nation.n_nationkey == supp.s_nationkey)
        .join(F.broadcast(region), region.r_regionkey == nation.n_regionkey)
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "hierarchy_rollup_recursive",
    """
    WITH RECURSIVE chain(node, cur, depth, val) AS (
      SELECT c_custkey, c_custkey, 0, c_acctbal FROM customer
      UNION ALL
      SELECT node, cur // 10, depth + 1, val
      FROM chain WHERE NOT (cur = 0) AND depth < 64
    )
    SELECT cur AS ancestor,
           CAST(count(*) AS BIGINT) AS n_subtree,
           round(sum(val), 2) AS sum_acctbal,
           CAST(max(depth) AS INTEGER) AS max_depth_below
    FROM chain GROUP BY 1
    """,
)
def hierarchy_rollup_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy subtree rollup through Spark's NATIVE recursive CTE
    (operators/graph.py:ancestor_rollup, WITH RECURSIVE — Spark 4.x):
    every customer rolls up its ancestor chain in the 10-ary key forest
    (parent = custkey DIV 10), aggregating subtree size, balance, and
    depth per ancestor — the org-chart/BOM classic, recursion executed by
    the ENGINE rather than a driver loop (the iterative complement is
    bfs_reach_levels, whose frontier dedup recursive UNION ALL cannot
    express). The functional parent keeps growth linear (rows x depth,
    depth = log10(keyspace)); each recursive step is a map-side
    projection, the only shuffle is the final rollup. The oracle is the
    IDENTICAL recursive SQL in DuckDB — both engines walk the same
    SQL:1999 construct."""
    from arrowhouse_spark.operators.graph import ancestor_rollup

    cust = _t(spark, sf_dir, "customer")
    # recursion output is n x depth rows; Spark guards with a 1M-row default
    # (spark.sql.cteRecursionRowLimit) that a bigger fixture would trip —
    # size the limit from the parquet footer count (depth <= 8 for the
    # 10-ary forest over any realistic custkey domain)
    n_cust = _parquet_num_rows(sf_dir, "customer") or 1_000_000
    out = ancestor_rollup(
        cust,
        id_col="c_custkey",
        parent_expr="cur DIV 10",
        value_col="c_acctbal",
        root_pred="cur = 0",
        max_depth=64,
        row_limit=max(1_000_000, n_cust * 10),
    )
    return out.select(
        "ancestor",
        F.col("n_subtree").cast("long").alias("n_subtree"),
        F.round("sum_c_acctbal", 2).alias("sum_acctbal"),
        F.col("max_depth_below").cast("int").alias("max_depth_below"),
    )


@register(
    "cms_state_merge_daily",
    """
    WITH rws(r, a, b) AS (
      VALUES (0, 999983, 7920), (1, 999979, 15839),
             (2, 999961, 23758), (3, 999959, 31677)
    ),
    h AS (
      SELECT rws.r AS row,
             ((rws.a * (user_id % 1000000007) + rws.b) % 1000000007) % 512
               AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events, rws GROUP BY 1, 2
    ),
    probes(u) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
    ph AS (
      SELECT probes.u, rws.r AS row,
             ((rws.a * (probes.u % 1000000007) + rws.b) % 1000000007) % 512
               AS bucket
      FROM probes, rws
    ),
    est AS (
      SELECT ph.u, min(coalesce(h.cnt, 0)) AS est
      FROM ph LEFT JOIN h USING (row, bucket) GROUP BY 1
    ),
    exact AS (
      SELECT user_id AS u, CAST(count(*) AS BIGINT) AS exact_n
      FROM events WHERE user_id < 8 GROUP BY 1
    )
    SELECT CAST(est.u AS BIGINT) AS user_id,
           CAST(est.est AS BIGINT) AS est_n,
           coalesce(exact.exact_n, 0) AS exact_n,
           est.est >= coalesce(exact.exact_n, 0) AS never_under
    FROM est LEFT JOIN exact USING (u)
    """,
)
def cms_state_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable count-min-sketch frequency state (operators/aggstate.py:
    cms_state/cms_merge/cms_point_estimate): per-day 4 x 512 sketches of
    the user_id stream folded to one global sketch, then point-frequency
    estimates for users 0-7 against their exact counts. The frequency
    member of the mergeable-state family (exact states = agg_state, HLL
    distinct = hll_state): counters are PLAIN (row, bucket, cnt) rows, so
    the merge is a built-in codegen SUM and the stored sketch stays
    queryable at rest; state is keys x 4 x 512 regardless of volume. The
    bucket hash is exact-BIGINT affine arithmetic with fixed public
    constants, so the oracle REPLAYS the sketch bit-for-bit (sum
    associativity makes day-split-then-merge ≡ direct by construction)
    and pins the CM overestimate guarantee per probe."""
    from arrowhouse_spark.operators.aggstate import (
        cms_merge,
        cms_point_estimate,
        cms_state,
    )

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    states = cms_state(ev, keys=["day"], value_col="user_id")
    merged = cms_merge(states, keys=[])
    probes = spark.range(8).select(F.col("id").alias("user_id"))
    est = cms_point_estimate(merged, probes, "user_id", out="est_n")
    exact = (
        ev.filter(F.col("user_id") < 8)
        .groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return (
        est.select(F.col("user_id").cast("long").alias("user_id"), "est_n")
        .join(F.broadcast(exact), "user_id", "left")
        .select(
            "user_id",
            "est_n",
            F.coalesce("exact_n", F.lit(0)).alias("exact_n"),
            (F.col("est_n") >= F.coalesce("exact_n", F.lit(0))).alias(
                "never_under"
            ),
        )
    )


@register(
    "hybrid_rrf_topk",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('scan', 'merge', 'window') GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), contrib AS (
      SELECT tf.doc_id,
             ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS c
      FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
    ), bscored AS (
      SELECT doc_id, round(sum(c), 6) AS score FROM contrib GROUP BY doc_id
    ), b AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS rank
      FROM bscored ORDER BY score DESC, doc_id LIMIT 50
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cscored AS (
      SELECT e.vec_id AS doc_id,
             round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6)
               AS cos_sim
      FROM embeddings e, q
    ), c AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INTEGER)
               AS rank
      FROM cscored ORDER BY cos_sim DESC, doc_id LIMIT 50
    ), fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             round(coalesce(1.0 / (60.0 + b.rank), 0)
                   + coalesce(1.0 / (60.0 + c.rank), 0), 9) AS rrf_score,
             b.rank AS bm25_rank, c.rank AS cos_rank
      FROM b FULL OUTER JOIN c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, rrf_score, bm25_rank, cos_rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 15
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (operators/text.py:
    rrf_fuse) of the lexical BM25 top-50 and the dense cosine top-50 for
    the same information need — the standard two-tower retrieval combiner
    (RRF is score-free, so BM25's log-scale and cosine's [-1,1] need no
    calibration). Both inputs are already-proven suite components
    (bm25_topk, ann_cosine_topk's brute force); the fusion itself is
    constant-sized (two 50-row lists, full-outer join, fixed-order
    contribution sum so the double is engine-deterministic). The dense
    list's rank comes from the same broadcast theta-join pattern as
    bm25's — no window anywhere."""
    from arrowhouse_spark.operators.text import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["scan", "merge", "window"], k=50)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    dense = cosine_topk_query(emb, qvec, k=50).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    other = F.broadcast(
        dense.select(
            F.col("cos_sim").alias("__s2"), F.col("doc_id").alias("__i2")
        )
    )
    better = (F.col("__s2") > F.col("cos_sim")) | (
        (F.col("__s2") == F.col("cos_sim")) & (F.col("__i2") < F.col("doc_id"))
    )
    dense_ranked = (
        dense.join(other, better, "left")
        .groupBy("doc_id", "cos_sim")
        .agg((F.count("__i2") + 1).cast("int").alias("rank"))
        .select("doc_id", "rank")
    )
    return rrf_fuse(
        [("bm25", lex.select("doc_id", "rank")), ("cos", dense_ranked)],
        id_col="doc_id",
        c=60,
        k=15,
    )


@register(
    "variant_props_stats",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS max_k,
           'OBJECT<k: BIGINT>' AS vschema
    FROM events GROUP BY 1
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less semi-structured ingestion through Spark's VARIANT type
    (Spark 4.x parse_json / variant_get — the engine's binary
    semi-structured encoding, shredded at the scan like ClickHouse's JSON
    object columns): typed path extraction WITHOUT a declared schema,
    where json_props_stats' from_json needs one up front — the two
    queries are the static- vs dynamic-schema pair over the same payload.
    schema_of_variant_agg pins the inferred payload shape as data
    (OBJECT<k: BIGINT>), which the oracle asserts as a literal — a
    payload drift (new key, type change) fails the gate. All map-side
    codegen into one keyed aggregate."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.variant_get(v, "$.k", "bigint")).alias("sum_k"),
        F.min(F.variant_get(v, "$.k", "bigint")).alias("min_k"),
        F.max(F.variant_get(v, "$.k", "bigint")).alias("max_k"),
        F.schema_of_variant_agg(v).alias("vschema"),
    )


@register(
    "pipe_syntax_rollup",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.x `|>` operators, the GoogleSQL pipe-flow
    form): the same scan -> filter -> keyed aggregate as a classic
    GROUP BY, written as a top-down pipeline — engine surface for the
    query-authoring style ClickHouse users reach for with chained
    subqueries. Compiles to the IDENTICAL plan as the classic form
    (filter pushed to scan, partial->final aggregate), which is the
    point: syntax, not semantics. Oracle is the classic-form SQL."""
    view = f"__pipe_orders_{abs(hash(sf_dir)) % 10**8}"
    _t(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        FROM {view}
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
           GROUP BY o_orderpriority
        """
    ).select("o_orderpriority", "n", "total")


@register(
    "lateral_topk_per_nation",
    """
    SELECT n.n_name AS nation, t.c_custkey,
           round(t.c_acctbal, 2) AS acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 3
    ) t
    """,
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999 lateral derived table,
    Spark 3.2+/4.x): top-3 customers by balance PER NATION, expressed as
    a per-row correlated subquery with ORDER BY ... LIMIT — the
    join-shaped dual of topk_per_group's window form. Catalyst decorrelates
    it into a join + per-key limit, so the declarative form stays
    distributed (no per-nation driver loop); the oracle is the IDENTICAL
    LATERAL SQL in DuckDB — both engines decorrelate the same construct."""
    view = f"__lat_{abs(hash(sf_dir)) % 10**8}"
    _t(spark, sf_dir, "nation").createOrReplaceTempView(f"{view}_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView(f"{view}_customer")
    return spark.sql(
        f"""
        SELECT n.n_name AS nation, t.c_custkey,
               ROUND(t.c_acctbal, 2) AS acctbal
        FROM {view}_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM {view}_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3
        ) t
        """
    )


@register(
    "join_null_safe",
    """
    WITH a AS (
      SELECT CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END AS k,
             o_totalprice AS tp
      FROM orders WHERE o_orderkey % 2 = 0
    ), b AS (
      SELECT CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END AS k,
             o_totalprice AS tp
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT a.k AS k, CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(a.tp + b.tp), 2) AS sum_pair_price
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of vanishing — the join flavor deduplication and
    CDC reconciliation need when the business key is nullable (a plain
    equi-join silently drops every NULL row; an explicit coalesce
    sentinel risks colliding with real keys). EqualNullSafe stays a HASH
    join key in Spark (null hashes like any value), so the plan is the
    ordinary shuffled hash/SMJ — no null-handling cliff. Keys are
    deterministically NULLed (custkey % 97) on disjoint order halves;
    the aggregate pins both the NULL-group cross pairs and every
    non-null group."""
    orders = _t(spark, sf_dir, "orders")
    k = F.when(F.col("o_custkey") % 97 == 0, F.lit(None).cast("long")).otherwise(
        F.col("o_custkey")
    )
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        k.alias("k"), F.col("o_totalprice").alias("tp_a")
    )
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        k.alias("k2"), F.col("o_totalprice").alias("tp_b")
    )
    joined = a.join(b, a.k.eqNullSafe(b.k2))
    return joined.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum(F.col("tp_a") + F.col("tp_b")), 2).alias(
            "sum_pair_price"
        ),
    )


@register(
    "hist_quantile_state_merge",
    """
    WITH st AS (
      SELECT CAST(least(greatest(floor(((value - 0.0) * 250.0) / 1000.0),
                                 0), 249) AS INTEGER) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), cum AS (
      SELECT s.bin, s.cnt, CAST(coalesce(sum(t.cnt), 0) AS BIGINT)
               AS cum_before
      FROM st s LEFT JOIN st t ON t.bin < s.bin GROUP BY s.bin, s.cnt
    ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM st),
    qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                     (CAST(0.99 AS DOUBLE))),
    hit AS (
      SELECT qs.q, c.bin, c.cnt, c.cum_before, tot.total
      FROM qs, tot, cum c
      WHERE c.cum_before < qs.q * tot.total
        AND c.cum_before + c.cnt >= qs.q * tot.total
    ), ex AS (
      SELECT CAST(0.5 AS DOUBLE) AS q, quantile_cont(value, 0.5) AS exact_v
      FROM events
      UNION ALL SELECT CAST(0.9 AS DOUBLE), quantile_cont(value, 0.9)
      FROM events
      UNION ALL SELECT CAST(0.99 AS DOUBLE), quantile_cont(value, 0.99)
      FROM events
    )
    SELECT hit.q,
           round(0.0 + (hit.bin + (hit.q * hit.total - hit.cum_before)
                        / hit.cnt) * 4.0, 6) AS est_q,
           round(ex.exact_v, 6) AS exact_q,
           abs((0.0 + (hit.bin + (hit.q * hit.total - hit.cum_before)
                       / hit.cnt) * 4.0) - ex.exact_v) <= 4.0 AS within_bin
    FROM hit JOIN ex USING (q)
    """,
)
def hist_quantile_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE state (operators/aggstate.py:hist_state/
    hist_merge/hist_quantile) — completing the mergeable family (exact /
    HLL distinct / CMS frequency / histogram quantile): per-day
    fixed-grid histograms of event value (250 bins over [0,1000)) folded
    to one state, then p50/p90/p99 by in-bin linear interpolation. The
    grid is FIXED up front so increments stay merge-compatible (the same
    reason t-digest carries its compression parameter); estimate error
    <= one bin width (4.0) by construction, pinned against the exact
    percentile per quantile. The oracle REPLAYS the whole path — bin
    map, theta-join cumulative, interpolation — as fixed-order double
    arithmetic, so est values hash-match bit-for-bit."""
    from arrowhouse_spark.operators.aggstate import (
        hist_merge,
        hist_quantile,
        hist_state,
    )

    qs = [0.5, 0.9, 0.99]
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    states = hist_state(
        ev, keys=["day"], value_col="value", bins=250, lo=0.0, hi=1000.0
    )
    merged = hist_merge(states, keys=[])
    est = hist_quantile(merged, qs, bins=250, lo=0.0, hi=1000.0)
    exact = (
        ev.agg(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"),
                        F.percentile("value", F.lit(float(q))).alias(
                            "exact_v"
                        ),
                    )
                    for q in qs
                ]
            ).alias("a")
        )
        .select(F.explode("a").alias("s"))
        .select("s.q", "s.exact_v")
    )
    return est.join(F.broadcast(exact), "q").select(
        "q",
        F.round("est", 6).alias("est_q"),
        F.round("exact_v", 6).alias("exact_q"),
        (F.abs(F.col("est") - F.col("exact_v")) <= 4.0).alias("within_bin"),
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): the 4-table join + top-20
    customers by lost revenue — the classic "big agg then small top-k"
    shape. Both return-flag and date filters push to their scans; the
    top-k is a TakeOrdered over the aggregated (per-customer) relation,
    never a global sort; ties break on (rounded revenue, custkey) so both
    engines cut the same 20."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    agg = (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), nation.n_nationkey == cust.c_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


@register(
    "session_window_native",
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
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM s
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(epoch(max(ts)) - epoch(min(ts)), 3) AS duration_s
    FROM t GROUP BY user_id, sid
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Spark's NATIVE session_window aggregate
    (merging session windows in the aggregation operator itself — the
    same machinery Structured Streaming uses for streaming sessions) —
    the engine-native dual of sessionize_events' composed window-function
    form, proven equivalent against the identical gap-logic oracle: same
    6h gap, same sessions, same per-session stats. One keyed aggregate,
    no per-user window chain at all."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    return (
        ev.groupBy(
            F.session_window("ts", "6 hours").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            # double-cast epochs keep sub-second precision (unix_timestamp
            # truncates to whole seconds and drifts from DuckDB's epoch())
            F.round(
                F.col("last_ts").cast("double")
                - F.col("first_ts").cast("double"),
                3,
            ).alias("duration_s"),
        )
    )


@register(
    "bitmap_distinct_state_merge",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def bitmap_distinct_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable EXACT-distinct state via Spark's bitmap aggregates
    (bitmap_construct_agg / bitmap_or_agg / bitmap_count — Roaring-style
    bucketed bitmaps): per (event_type, day, bucket) bitmap states,
    OR-folded across days, summed across buckets — the exact companion to
    hll_state_merge_daily (approx) in the mergeable-state family. OR is
    idempotent AND associative, so re-delivered increments can never
    double-count — the property that makes bitmap states the exact-distinct
    form production rollups can retry safely. The oracle is simply
    count(DISTINCT): the bitmap path must reproduce it exactly. State per
    key-bucket is a fixed 4KB page of the id domain; the day->merged fold
    shuffles only state rows."""
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    states = ev.groupBy(
        "event_type",
        "day",
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    merged = states.groupBy("event_type", "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the pure scan-filter-aggregate —
    every predicate (date range, discount band, quantity) must reach the
    parquet scan as a pushed filter and the plan collapses to scan →
    partial agg → 1-row final. The query the reference's SSA
    filter-then-aggregate path runs natively; here it doubles as the
    pushdown litmus (PLANS.md row shows all three filters pushed)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q18_large_volume_customer",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): the aggregate-subquery semi-join
    shape — orders whose lineitems sum past a quantity threshold, then
    the customer/order detail for exactly those. The IN-subquery compiles
    to a LEFT SEMI join against the keyed HAVING aggregate (no
    materialized temp table, no distinct explosion); the outer 3-table
    join then re-aggregates per order. Quantity threshold 150 fits the
    synthetic fixture's order sizes (TPC-H's 300 assumes 7-line orders)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(big, F.col("big_orderkey") == orders.o_orderkey, "left_semi")
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register(
    "listagg_status_rollup",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
)
def listagg_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation via Spark 4's LISTAGG
    (SQL:2016 `WITHIN GROUP (ORDER BY ...)`): the standards-form dual of
    array_agg_sorted's sort_array(collect_list) — ordering enforced by
    the aggregate itself, DISTINCT collapses duplicates before the
    ordered concat, so the output string is engine-deterministic by
    construction (a bare collect/string_agg would be partition-order
    nondeterministic and could never hash-match)."""
    view = f"__listagg_{abs(hash(sf_dir)) % 10**8}"
    _t(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               COUNT(*) AS n
        FROM {view} GROUP BY o_orderpriority
        """
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY 1
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to this fixture's
    columns: orders in a quarter having AT LEAST ONE lineitem shipped
    after the order date (the fixture has no commit/receipt dates — the
    late-lineitem EXISTS is the same correlated-exists shape). The EXISTS
    compiles to a LEFT SEMI join with the non-equi lateness predicate
    carried as the join condition — no aggregate-then-join, no distinct
    explosion."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q12_priority_shipping",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / priority), adapted: lineitems shipped in
    a year, split per linestatus into high- vs low-priority order counts —
    the join + two-branch conditional aggregate shape (the reference's
    conditional-sum kernels; map-side CASE into one keyed agg)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    """
    SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS promo_revenue_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): one month of lineitems joined to part,
    promo revenue as a share of total — the conditional-ratio global
    aggregate. The month filter pushes to the lineitem scan; part joins
    broadcast at test scale (a keyed join at 100 TB — the planner's
    call); both CASE branches fold into ONE aggregate pass."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, part.p_partkey == li.l_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    ) GROUP BY 1
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order distribution): LEFT OUTER join with an
    extra join-side predicate (the reference query's NOT LIKE comment
    filter, stood in by a priority exclusion — it must stay in the JOIN
    condition, not a WHERE, or zero-order customers vanish), then the
    two-level aggregate: orders per customer, customers per order-count.
    count(o_orderkey) counts non-NULL only, so unmatched customers land
    in the c_count=0 bucket — the outer-join-correctness classic."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = cust.join(
        orders,
        (orders.o_custkey == cust.c_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    max — the scalar-subquery-against-own-aggregate shape (the reference
    query's view + MAX). The revenue relation builds ONCE and feeds both
    the 1-row max (broadcast) and the equality filter; comparing on the
    2-dp ROUNDED revenue keeps the max-equality engine-deterministic
    (raw double sums differ in the last ulp between engines)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(rev, rev.supplier_no == supp.s_suppkey)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < (
        SELECT round(0.2 * avg(l2.l_quantity), 6)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the CORRELATED SCALAR
    AGGREGATE subquery — each lineitem compared against 20% of its own
    part's average quantity. Expressed as the correlated SQL itself (like
    the LATERAL query, the point is the engine's decorrelation: Catalyst
    rewrites it into a per-part aggregate + join, never a per-row loop).
    The threshold is ROUNDED to 6 dp in both engines so a last-ulp
    difference in the avg can't flip a boundary row."""
    view = f"__q17_{abs(hash(sf_dir)) % 10**8}"
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(f"{view}_l")
    _t(spark, sf_dir, "part").createOrReplaceTempView(f"{view}_p")
    return spark.sql(
        f"""
        SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
               COUNT(*) AS n_lines
        FROM {view}_l l JOIN {view}_p p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#13'
          AND l.l_quantity < (
            SELECT ROUND(0.2 * AVG(l2.l_quantity), 6)
            FROM {view}_l l2 WHERE l2.l_partkey = l.l_partkey
          )
        """
    )


@register(
    "q19_discounted_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the OR-of-ANDs (DNF) predicate
    spanning BOTH join sides — the planner must split it into the
    single-side conjuncts it can push to each scan (brand/size to part,
    quantity bounds to lineitem) while keeping the cross-side DNF as the
    post-join filter. One global aggregate; the pushed-filter column in
    PLANS.md shows the per-scan residuals."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    arm = lambda b, smax, qlo, qhi: (  # noqa: E731 — three parallel arms
        (F.col("p_brand") == b)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(part, part.p_partkey == li.l_partkey)
        .filter(
            arm("Brand#1", 15, 1, 11)
            | arm("Brand#2", 25, 10, 20)
            | arm("Brand#3", 35, 20, 30)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q22_sales_opportunity",
    """
    WITH avg_bal AS (
      SELECT round(avg(c_acctbal), 6) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): above-average-balance
    customers with no RECENT order (the fixture's order log covers every
    customer, so "never ordered" would prove an empty set; lapsed-since-
    2000 keeps the anti-join selective) — the scalar-aggregate broadcast
    + ANTI JOIN shape (NOT EXISTS compiles to LEFT ANTI, never a NOT IN
    null trap). Nation key stands in for the reference query's phone
    country code (no phone column in this fixture); the average is
    6-dp-rounded on both sides so the > threshold is engine-
    deterministic."""
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("a")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders, orders.o_custkey == cust.c_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "pyds_source_stats",
    """
    WITH ids AS (SELECT unnest(range(2000)) AS i),
    s0 AS (
      SELECT i, (CAST(i AS HUGEINT) + 11400714819323198485)
                % 18446744073709551616 AS x FROM ids
    ), s1 AS (SELECT i, xor(x, x >> 30) AS x FROM s0),
    s2 AS (
      SELECT i, ((x * 484763065) % 18446744073709551616
                 + ((x * 3210233709) % 4294967296) * 4294967296)
                % 18446744073709551616 AS x
      FROM s1
    ), s3 AS (SELECT i, xor(x, x >> 27) AS x FROM s2),
    s4 AS (
      SELECT i, ((x * 321982955) % 18446744073709551616
                 + ((x * 2496678331) % 4294967296) * 4294967296)
                % 18446744073709551616 AS x
      FROM s3
    ), h AS (SELECT i, xor(x, x >> 31) AS x FROM s4),
    rows_ AS (
      SELECT i AS event_id, CAST(x % 100 AS BIGINT) AS user_id,
             ['view','click','purchase','signup','error']
               [CAST((x >> 17) % 5 AS INTEGER) + 1] AS event_type,
             CAST((x >> 23) % 100000 AS DOUBLE) / 100.0 AS value
      FROM h WHERE i >= 500
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value,
           CAST(sum(event_id) AS BIGINT) AS sum_ids
    FROM rows_ GROUP BY 1
    """,
)
def pyds_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource under the ORACLE gate
    (sources/pyds.py — Spark 4.x DataSource V2 Python API, the
    engine-native analog of the reference's custom block input streams):
    read the registered `synth_events` format with an event_id range
    predicate that `pushFilters` consumes at the SOURCE (the planned
    shard set shrinks — the applyFilters late-materialization contract,
    SsaProgram.cpp:615-678), then aggregate. The oracle REPLAYS the
    source's splitmix64 generator bit-for-bit in DuckDB HUGEINT
    arithmetic (64x64-bit modular multiply via 32-bit constant splits) —
    a PRNG-parity proof in the cityhash/xxhash tradition, pinning that
    the source generates exactly what it promises on every engine."""
    from arrowhouse_spark.sources.pyds import register_synth_events

    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # noqa: BLE001 — pinned conf; reads still work
        pass
    register_synth_events(spark)
    df = (
        spark.read.format("synth_events")
        .option("n_rows", "2000")
        .load()
        .filter(F.col("event_id") >= 500)
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.sum("event_id").alias("sum_ids"),
    )


@register(
    "unpivot_lineitem_measures",
    """
    WITH m AS (
      SELECT l_linestatus, 'quantity' AS measure, l_quantity AS v
      FROM lineitem
      UNION ALL
      SELECT l_linestatus, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_linestatus, 'discount', l_discount FROM lineitem
    )
    SELECT l_linestatus, measure,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(v), 2) AS total,
           round(avg(v), 6) AS mean
    FROM m GROUP BY 1, 2
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping via the native UNPIVOT/melt operator
    (Dataset.unpivot, Spark 3.4+/4.x — the inverse of pivot_status_by_
    priority's pivot): three measure columns melt to (measure, value)
    rows, then one keyed aggregate per (status, measure). Catalyst
    expands the melt to an in-memory Expand node — one scan, no
    self-union of three scans (the oracle's UNION ALL form reads the
    table three times; the operator's Expand reads once — same result,
    the engine-side win)."""
    li = _t(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=["l_linestatus"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="v",
    ).withColumn(
        "measure",
        F.regexp_replace("measure", "^l_", ""),
    )
    return melted.groupBy("l_linestatus", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 2).alias("total"),
        F.round(F.avg("v"), 6).alias("mean"),
    )


@register(
    "window_rank_family",
    """
    SELECT o_orderkey,
           round(percent_rank() OVER w, 9) AS pr,
           round(cume_dist() OVER w, 9) AS cd,
           CAST(dense_rank() OVER w AS BIGINT) AS dr
    FROM orders
    WHERE o_custkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY round(o_totalprice, 2), o_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-rank window family (percent_rank / cume_dist /
    dense_rank) over per-status partitions — completing the window
    coverage next to lag/lead/ntile and running sums. The window orders
    on the 2-dp ROUNDED price plus the key, so tie GROUPS (which these
    three functions are all sensitive to) are identical across engines;
    partitioned windows only — the plan-audit invariant holds."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.round("o_totalprice", 2), "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.dense_rank().over(w).cast("long").alias("dr"),
    )


@register(
    "mode_deterministic",
    """
    WITH counts AS (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), best AS (
      SELECT event_type, k, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, k) AS rn
      FROM counts
    )
    SELECT event_type, k AS modal_k, CAST(cnt AS BIGINT) AS n_occurrences
    FROM best WHERE rn = 1
    """,
)
def mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC mode: the most frequent props.k per event type with a
    pinned min-value tie-break — Spark's built-in `mode()` leaves ties
    arbitrary (like the reference's arrival-order `any`, the same
    documented exclusion), so the suite form elects via ONE keyed count
    plus a `min_by` over the (-count, value) struct: two keyed aggregates
    with map-side partials, no window, reproducible on any engine."""
    ev = _t(spark, sf_dir, "events")
    counts = (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = counts.groupBy("event_type").agg(
        F.min(F.struct(-F.col("cnt"), F.col("k"))).alias("b")
    )
    return best.select(
        "event_type",
        F.col("b").getField("k").alias("modal_k"),
        (-F.col("b").getField("col1")).cast("long").alias("n_occurrences"),
    )


@register(
    "date_rollup_quarters",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           strftime(min(o_orderdate), '%Y-%m-%d') AS first_order
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY 1, 2
    """,
)
def date_rollup_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function rollup (year/quarter extraction, the fiscal
    reporting shape): two years of orders bucketed to (year, quarter)
    with order count, revenue, distinct customers, and the first order
    date per bucket — the date-kernel parity surface (both engines must
    agree on year/quarter boundaries and date formatting, the same
    cross-engine contract the hash queries pin for integers). Date range
    pushes to the scan; one keyed aggregate."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    return orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
            "first_order"
        ),
    )


