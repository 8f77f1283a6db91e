"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arrowhouse_spark.session import shuffle_parts
from arrowhouse_spark.sources.memory import one_block

from arrowhouse_spark.suite import (
    _events,
    _t,
    register,
)

@register(
    "events_ohlc",
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
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM t GROUP BY 1, 2
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsample (operators/timeseries.py:ohlc_downsample): per
    (event_type, hour) open/high/low/close of ``value``, open/close
    selected by the total order (ts, event_id) carried inside a struct
    min/max — ONE Tungsten aggregate, deterministic under equal
    timestamps, no window or self-join. The oracle replays the struct
    ordering with DuckDB struct min/max. The canonical metrics/market
    resample the reference's sorted-stream operators exist to serve."""
    from arrowhouse_spark.operators.timeseries import ohlc_downsample

    out = ohlc_downsample(
        _events(spark, sf_dir),
        key_col="event_type",
        ts_col="ts",
        value_col="value",
        tie_col="event_id",
        bucket="hour",
    )
    return out.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_h"),
        "open",
        "high",
        "low",
        "close",
        "n",
        "sum_value",
    )


@register(
    "events_gapfill_locf",
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
    j AS (
      SELECT s.user_id, s.h, o.v_obs
      FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.h = s.h
    )
    SELECT user_id,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket_h,
           round(last_value(v_obs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_filled,
           (v_obs IS NULL) AS filled
    FROM j
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + last-observation-carried-forward
    (operators/timeseries.py:gapfill_locf): each user's value series
    regularized onto an hourly spine from first to last observed hour,
    empty hours filled with the most recent earlier value. Spine is a
    map-side sequence+explode after a keyed bounds aggregate (its size
    is users x hours — event-volume-free); the carry-forward is ONE
    per-key ordered window, never global. Oracle replays spine
    (generate_series) and fill (last_value IGNORE NULLS)."""
    from arrowhouse_spark.operators.timeseries import gapfill_locf

    out = gapfill_locf(
        _events(spark, sf_dir),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        tie_col="event_id",
        step="1 hour",
        bucket="hour",
    )
    return out.select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_h"),
        "v_filled",
        "filled",
    )


@register(
    "scd2_user_state",
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
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM starts WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build (operators/merge.py:scd2_from_log) — the
    dual of the reference's Replace mode (MergingSortedInputStream.cpp:
    104-307 keeps only the latest version; SCD2 keeps every run as a
    validity interval). Tracks each user's event_type runs ordered by
    (ts, event_id): consecutive equal values collapse, valid_to = next
    run's start, open runs flagged current. Two per-key windows (lag on
    the log, lead on the run-start relation), one shuffle by key."""
    from arrowhouse_spark.operators.merge import scd2_from_log

    out = scd2_from_log(
        _events(spark, sf_dir),
        key_cols=["user_id"],
        ts_col="ts",
        attr_col="event_type",
        tie_col="event_id",
    )
    return out.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


def _pagerank_oracle(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-iteration oracle (same mechanics as the BPE
    unrolled-round oracle): one CTE triple (contributions, dangling mass,
    next ranks) per iteration, exactly the recurrence in
    operators/graph.py:pagerank."""
    d = repr(damping)
    parts = [
        """e AS (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS src,
             CAST(json_extract(props, '$.k') AS BIGINT) AS dst
      FROM events
    ),
    nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT id, 1.0 / n AS r FROM nodes, nn)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""c{i} AS (
      SELECT e.dst AS id, sum(r.r / d.c) AS cr
      FROM e JOIN r{i - 1} r ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY 1
    ),
    dm{i} AS (
      SELECT coalesce(sum(r.r), 0) AS dm
      FROM r{i - 1} r LEFT JOIN deg ON deg.src = r.id
      WHERE deg.src IS NULL
    ),
    r{i} AS (
      SELECT n.id, (1 - {d}) / nn.n + {d} * (coalesce(c.cr, 0) + dmt.dm / nn.n) AS r
      FROM nodes n LEFT JOIN c{i} c ON c.id = n.id, dm{i} dmt, nn
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT id, round(r, 9) AS rank FROM r{iterations}
    ORDER BY rank DESC, id LIMIT 20"""
    )


@register("pagerank_topk", _pagerank_oracle(5, 0.85))
def pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (operators/graph.py:pagerank) over the
    user->prop-k interaction graph derived from events: 5 damped power
    iterations with uniform dangling redistribution, top-20 vertices.
    Each iteration is two keyed shuffles (edges⋈ranks on src, per-dst
    contribution aggregate); N and the dangling mass stay 1-row broadcast
    relations, never driver scalars. The oracle unrolls all five
    iterations as CTE triples; the 9-dp-rounded rank is both the output
    and the sort key so selection is pinned cross-engine."""
    from arrowhouse_spark.operators.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.get_json_object("props", "$.k").cast("long").alias("dst"),
    )
    ranks = pagerank(edges, iterations=5, damping=0.85)
    return (
        ranks.select("id", F.round("r", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "id")
        .limit(20)
    )


_HTML_PRE = (
    '<html><head><title>d</title><style type="text/css">p {color: red}'
    '</style><script>var x = "1 < 2";</script></head><body>'
    "<!-- boilerplate –– comment --><h1>"
)
_HTML_MID = "</h1><p>"
_HTML_POST = " &amp; &lt;tag&gt; &quot;q&quot; &#39;a&#39;&nbsp;.</p></body></html>"


@register(
    "html_text_extract",
    f"""
    WITH h AS (
      SELECT doc_id,
             '{_HTML_PRE.replace("'", "''")}' || lang || '{_HTML_MID}' ||
             replace(text, ' ', '</p>' || chr(10) || '<p>') ||
             '{_HTML_POST}' AS html
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '<[^>]+>', ' ', 'g') AS t
      FROM h
    ),
    s2 AS (
      SELECT doc_id,
             replace(replace(replace(replace(replace(replace(t,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t
      FROM s1
    )
    SELECT doc_id,
           trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text,
           CAST(length(trim(regexp_replace(t, '\\s+', ' ', 'g'))) AS INTEGER)
             AS n_chars
    FROM s2
    """,
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip (operators/text.py:html_extract) — the
    web-crawl stage before every quality filter: drop script/style/comment
    blocks, strip tags as word boundaries, unescape the six dominant
    entities (&amp; last), collapse whitespace. Each document is wrapped
    in a deterministic page template (title/style/script/comment, one <p>
    per word, a trailing entity gauntlet) IDENTICALLY on both sides, so
    the oracle pins the full extraction chain, not just happy-path text.
    Pure map-side codegen — zero shuffles, fuses into the scan."""
    from arrowhouse_spark.operators.text import html_extract

    docs = _t(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_PRE),
            F.col("lang"),
            F.lit(_HTML_MID),
            F.replace(F.col("text"), F.lit(" "), F.lit("</p>\n<p>")),
            F.lit(_HTML_POST),
        ).alias("html"),
    )
    out = html_extract(wrapped, text_col="html", out_col="clean_text")
    return out.select(
        "doc_id",
        "clean_text",
        F.length("clean_text").cast("int").alias("n_chars"),
    )


@register(
    "zipf_slope_stats",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
    classes AS (SELECT f, count(*) AS n FROM freq GROUP BY 1),
    pts AS (
      SELECT c.f, c.n,
             coalesce((SELECT sum(o.n) FROM classes o WHERE o.f > c.f), 0)
               AS cum_before
      FROM classes c
    ),
    xyw AS (
      SELECT ln(CAST(f AS DOUBLE)) AS y,
             ln(CAST(cum_before AS DOUBLE) + (CAST(n AS DOUBLE) + 1.0) / 2.0)
               AS x,
             CAST(n AS DOUBLE) AS w, n, f
      FROM pts
    ),
    s AS (
      SELECT sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
             sum(w * x * y) AS swxy, sum(w * x * x) AS swx2,
             CAST(sum(n) AS BIGINT) AS n_vocab,
             CAST(sum(n * f) AS BIGINT) AS n_occurrences
      FROM xyw
    )
    SELECT round((sw * swxy - swx * swy) / (sw * swx2 - swx * swx), 6)
             AS zipf_slope,
           round((swy - (sw * swxy - swx * swy) / (sw * swx2 - swx * swx)
             * swx) / sw, 6) AS zipf_intercept,
           n_vocab, n_occurrences
    FROM s
    """,
)
def zipf_slope_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law corpus fit (operators/text.py:zipf_fit): weighted LS of
    ln(freq) on ln(class midrank) — the dataset-card statistic for corpus
    naturalness (template corpora flatten the slope). Rank ranges come
    from a broadcast theta-join over the tiny frequency-class relation
    (no unpartitioned window); the only corpus-sized work is the token
    and frequency keyed aggregates."""
    from arrowhouse_spark.operators.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


@register(
    "agg_state_merge_daily",
    """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS count_value,
           round(sum(value), 2) AS sum_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1
    """,
)
def agg_state_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-visible two-phase aggregation (operators/aggstate.py): per
    (event_type, day) mergeable state rows — count/sum/min/max plus avg's
    (sum,count) pair — folded by agg_merge to per-type finals. The oracle
    is the SINGLE-SHOT aggregate, so the check pins merge ≡ direct —
    exactly the reference's two-phase E2E contract
    (tests/ut_aggregator.cpp:133-149; state column
    Columns/ColumnAggregateFunction.h:16-107). The incremental-rollup
    form: day states append without rescanning history; the merge reads
    (keys x days) state rows only."""
    from arrowhouse_spark.operators.aggstate import agg_merge, agg_state

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    ops = [
        ("value", "count"),
        ("value", "sum"),
        ("value", "min"),
        ("value", "max"),
        ("value", "avg"),
    ]
    states = agg_state(ev, keys=["event_type", "day"], ops=ops)
    final = agg_merge(states, keys=["event_type"], ops=ops)
    return final.select(
        "event_type",
        "count_value",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round("avg_value", 6).alias("avg_value"),
    )


@register(
    "join_salted_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def join_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (operators/skew.py:salted_join):
    lineitem x orders sharded 16 ways — the fact row's salt is a
    deterministic full-row hash, the dim side replicates to all salts,
    so each fact row meets its order exactly once and the oracle is the
    PLAIN join: salting must change the partitioning, never the result.
    The manual complement to AQE's skew split for plans AQE can't touch;
    dim replication cost is dim x salt, the hot key's reducer shrinks by
    1/salt."""
    from arrowhouse_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on=["o_orderkey"],
        salt=16,
        force_shuffle=True,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def _zorder_oracle() -> str:
    """Bit-interleave replay: 32 shift/mask/or terms generated to match
    operators/layout.py:zorder_value exactly (16 bits x 2 cols,
    column-major positions b*2+i); quantization is the same exact
    BIGINT multiply-then-floor-divide, so no float boundary can differ."""
    terms = " | ".join(
        f"(((q{c} >> {b}) & 1) << {b * 2 + i})"
        for b in range(16)
        for i, c in enumerate(("c", "o"))
    )
    return f"""
    WITH b AS (
      SELECT CAST(min(o_custkey) AS BIGINT) AS mnc,
             CAST(max(o_custkey) AS BIGINT) AS mxc,
             CAST(min(o_orderkey) AS BIGINT) AS mno,
             CAST(max(o_orderkey) AS BIGINT) AS mxo
      FROM orders
    ),
    q AS (
      SELECT ((CAST(o_custkey AS BIGINT) - mnc) * 65535) // (mxc - mnc)
               AS qc,
             ((CAST(o_orderkey AS BIGINT) - mno) * 65535) // (mxo - mno)
               AS qo
      FROM orders, b
    ),
    z AS (SELECT ({terms}) AS zvalue FROM q)
    SELECT zvalue >> 24 AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           min(zvalue) AS min_z, max(zvalue) AS max_z
    FROM z GROUP BY 1
    """


@register("zorder_key_layout", _zorder_oracle())
def zorder_key_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key (operators/layout.py:zorder_value) over
    orders (o_custkey x o_orderkey): exact-integer 16-bit quantization
    from a 1-row broadcast bounds aggregate, 32-term codegen bit
    interleave, rolled up to the 256 top-8-bit buckets a
    repartitionByRange layout rewrite would range-split on. The oracle
    regenerates the identical interleave expression — every boundary is
    integer-exact, so the hash pins the full code, not a float
    approximation of it."""
    from arrowhouse_spark.operators.layout import zorder_value

    z = zorder_value(
        _t(spark, sf_dir, "orders"), ["o_custkey", "o_orderkey"], bits=16
    )
    return (
        z.select(F.shiftright("zvalue", 24).alias("zbucket"), "zvalue")
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zvalue").alias("min_z"),
            F.max("zvalue").alias("max_z"),
        )
    )


@register(
    "decayed_event_score",
    """
    WITH a AS (SELECT max(CAST(ts AS TIMESTAMP)) AS tmax FROM events),
    w AS (
      SELECT event_type, value,
             pow(2.0, -(CAST(epoch(tmax) - epoch(CAST(ts AS TIMESTAMP))
               AS DOUBLE) / 604800.0)) AS wt
      FROM events, a
    )
    SELECT event_type,
           CAST(round(sum(CAST(value * wt AS DECIMAL(38,9))), 6) AS DOUBLE) AS decayed_sum,
           CAST(round(sum(CAST(wt AS DECIMAL(38,9))), 6) AS DOUBLE) AS decayed_count,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY 1
    """,
)
def decayed_event_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-type engagement score
    (operators/timeseries.py:decayed_agg, half-life 7 days): recency
    weight 2^(-Δt/hl) anchored at the global max timestamp, which stays a
    1-row broadcast relation. ONE keyed aggregate with map-side partials;
    weights are map-side codegen (epoch diff + pow). Terms are quantized
    to DECIMAL(38,9) before the sum so the aggregate is order-free
    (exact decimal addition) — the round-7 driver window caught the
    double-sum form 4e-8 from a 6-dp boundary. Oracle replays the
    anchor, the weight, the quantization, and the 6-dp rounding."""
    from arrowhouse_spark.operators.timeseries import decayed_agg

    return decayed_agg(
        _events(spark, sf_dir),
        key_cols=["event_type"],
        ts_col="ts",
        value_col="value",
        half_life_hours=24.0 * 7,
    )


@register(
    "hll_state_merge_daily",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           true AS within_5pct,
           true AS merge_eq_direct
    FROM events GROUP BY 1
    """,
)
def hll_state_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-user state (operators/aggstate.py:
    hll_state/hll_merge): per (event_type, day) sketches folded to
    per-type estimates — approx_count_distinct's incremental-rollup form,
    under the same error-bound contract oracle (estimate within 5% of
    exact at lgK=14) PLUS the merge contract: fold-then-estimate must
    equal the single-shot sketch estimate exactly (register-wise max is
    partition-order-free). A drifted sketch or a non-associative merge
    flips a boolean and fails the gate."""
    from arrowhouse_spark.operators.aggstate import hll_merge, hll_state

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    states = hll_state(ev, keys=["event_type", "day"], value_col="user_id")
    merged = hll_merge(states, keys=["event_type"])
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(14))
        ).alias("direct_est"),
        F.count_distinct("user_id").alias("n_users_exact"),
    )
    return merged.join(direct, "event_type").select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("approx_distinct") - F.col("n_users_exact"))
            / F.col("n_users_exact")
            <= 0.05
        ).alias("within_5pct"),
        (F.col("approx_distinct") == F.col("direct_est")).alias(
            "merge_eq_direct"
        ),
    )


@register(
    "dq_check_orders",
    """
    WITH s AS (
      SELECT
        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v0,
        count(o_orderkey) - count(DISTINCT o_orderkey) AS v1,
        sum(CASE WHEN o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('F', 'O') THEN 1 ELSE 0 END)
          AS v2,
        sum(CASE WHEN o_totalprice IS NOT NULL
                  AND (o_totalprice < 0 OR o_totalprice > 10000000)
                 THEN 1 ELSE 0 END) AS v3,
        sum(CASE WHEN o_orderpriority IS NOT NULL
                  AND NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+')
                 THEN 1 ELSE 0 END) AS v4
      FROM orders
    )
    SELECT u.rule_idx, u.rule, u.col,
           CAST(u.violations AS BIGINT) AS violations,
           u.violations = 0 AS passed
    FROM s, LATERAL (VALUES
      (0, 'not_null', 'o_custkey', v0),
      (1, 'unique', 'o_orderkey', v1),
      (2, 'in_set', 'o_orderstatus', v2),
      (3, 'range', 'o_totalprice', v3),
      (4, 'regex', 'o_orderpriority', v4)
    ) AS u(rule_idx, rule, col, violations)
    """,
)
def dq_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract (operators/quality.py:dq_check —
    Deequ-lite): five rules over orders verified in ONE aggregation pass
    (conditional counts + a count/count-distinct pair for uniqueness; no
    per-rule scans). The in_set rule deliberately omits status 'P', so
    the report carries a real non-zero violation count — the oracle pins
    exact violation arithmetic, not just all-green booleans."""
    from arrowhouse_spark.operators.quality import dq_check

    return dq_check(
        _t(spark, sf_dir, "orders"),
        [
            ("not_null", "o_custkey"),
            ("unique", "o_orderkey"),
            ("in_set", "o_orderstatus", ("F", "O")),
            ("range", "o_totalprice", 0, 10_000_000),
            ("regex", "o_orderpriority", "[1-5]-[A-Z ]+"),
        ],
    )


@register(
    "vocab_growth_batches",
    """
    WITH d AS (
      SELECT doc_id % 10 AS batch,
             list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT batch,
             unnest(list_transform(range(len(toks) - 1),
                                   i -> toks[i + 1] || ' ' || toks[i + 2]))
               AS g
      FROM d
    ),
    first_seen AS (SELECT g, min(batch) AS fb FROM grams GROUP BY 1),
    new_per AS (SELECT fb, count(*) AS n_new FROM first_seen GROUP BY 1)
    SELECT a.fb AS batch,
           CAST(a.n_new AS BIGINT) AS n_new,
           CAST((SELECT sum(b.n_new) FROM new_per b WHERE b.fb <= a.fb)
             AS BIGINT) AS n_cum
    FROM new_per a
    """,
)
def vocab_growth_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve over BIGRAMS: documents arrive
    in 10 ingest batches (doc_id mod 10); per batch, the count of
    never-seen-before bigrams and the cumulative vocabulary size
    (unigrams saturate in batch 0 on this corpus — the bigram space is
    where the curve lives, measured 862/39/5/... at sf0.01). first-seen
    is ONE keyed min aggregate over (gram, batch); the cumulative sum
    runs on the tiny per-batch relation via the broadcast theta-join
    (the zipf_fit / bm25 rank pattern — no unpartitioned window). The
    dataset-card companion to zipf_slope_stats: a flattening curve means
    the crawl stopped finding new language."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    grams_arr = F.when(
        F.size(toks) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        )
    )
    # pre-explode repartition (the decontaminate/shingle_relation pattern):
    # the documents scan is as wide as its file splits — a single small
    # file means ONE task would run the bigram explode + the partial min
    # aggregate serially; an id-keyed repartition sized by shuffle_parts
    # spreads that CPU across the session's width at any scale
    from arrowhouse_spark.session import shuffle_parts

    grams = docs.repartition(shuffle_parts(spark), "doc_id").select(
        F.pmod(F.col("doc_id"), F.lit(10)).alias("batch"),
        F.explode(grams_arr).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("batch").alias("fb"))
    # ≤10 rows but a corpus-sized subtree (bigram explode + two keyed
    # aggregates); referenced twice by the cumulative theta-join — cut
    # so it executes once
    new_per = (
        first.groupBy("fb")
        .agg(F.count(F.lit(1)).alias("n_new"))
        .localCheckpoint(eager=False)
    )
    other = F.broadcast(
        new_per.select(F.col("fb").alias("f2"), F.col("n_new").alias("n2"))
    )
    return (
        new_per.join(other, F.col("f2") <= F.col("fb"))
        .groupBy(F.col("fb").alias("batch"), "n_new")
        .agg(F.sum("n2").alias("n_cum"))
        .select("batch", "n_new", "n_cum")
    )


@register(
    "cap_per_source_docs",
    """
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM r WHERE rn <= 30 GROUP BY 1
    """,
)
def cap_per_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/sampling.py:cap_per_key — the
    C4/RefinedWeb ≤N-pages-per-domain rule): keep 30 docs per source,
    selected by the deterministic md5 hash race (layout-independent,
    reproducible; never rand() or input order). ONE per-key window. The
    oracle replays the race and pins the EXACT kept set via the per-source
    id checksum."""
    from arrowhouse_spark.operators.sampling import cap_per_key

    kept = cap_per_key(
        _t(spark, sf_dir, "documents"),
        key_col="source",
        id_col="doc_id",
        max_rows=30,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    )


@register(
    "chat_turns_split",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t != '') AS w
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             'system: be concise' || chr(10) ||
             'user: ' ||
             coalesce(array_to_string(list_slice(w, 1, 10), ' '), '') ||
             chr(10) ||
             'assistant: ' ||
             coalesce(array_to_string(list_slice(w, 11, len(w)), ' '), '')
               AS tr
      FROM d
    ),
    m AS (
      SELECT doc_id,
             regexp_replace(tr, '(^|\\n)(system|user|assistant): ',
                            chr(1) || '\\2' || chr(2), 'g') AS mk
      FROM t
    ),
    p AS (
      SELECT doc_id,
             list_filter(string_split(mk, chr(1)), x -> x != '') AS ps
      FROM m
    ),
    x AS (SELECT doc_id, unnest(range(len(ps))) AS i, ps FROM p)
    SELECT doc_id,
           CAST(i AS INTEGER) AS turn_idx,
           split_part(ps[i + 1], chr(2), 1) AS role,
           split_part(ps[i + 1], chr(2), 2) AS content,
           CAST(len(list_filter(regexp_split_to_array(
             split_part(ps[i + 1], chr(2), 2), '\\s+'), t -> t != ''))
             AS INTEGER) AS n_words
    FROM x
    """,
)
def chat_turns_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-transcript turn parsing (operators/text.py:chat_turns — the
    SFT-data normalization stage): each document is wrapped into a
    deterministic system/user/assistant transcript IDENTICALLY on both
    sides (first 10 words = the user turn), then parsed back by the
    lookahead-free marker chain (RE2-portable by construction — the
    oracle runs the very same rewrite). Hash pins every role, every
    content split, every word count. Zero shuffles."""
    from arrowhouse_spark.operators.text import chat_turns

    docs = _t(spark, sf_dir, "documents")
    w = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    tr = F.concat(
        F.lit("system: be concise\nuser: "),
        F.array_join(F.slice(w, 1, 10), " "),
        F.lit("\nassistant: "),
        F.array_join(
            F.slice(w, 11, F.greatest(F.size(w) - 10, F.lit(1))), " "
        ),
    )
    wrapped = docs.select("doc_id", tr.alias("text"))
    return chat_turns(wrapped, text_col="text", id_col="doc_id")


def _zorder_pruning_oracle() -> str:
    terms = " | ".join(
        f"(((q{c} >> {b}) & 1) << {b * 2 + i})"
        for b in range(16)
        for i, c in enumerate(("c", "o"))
    )
    return f"""
    WITH b AS (
      SELECT CAST(min(o_custkey) AS BIGINT) AS mnc,
             CAST(max(o_custkey) AS BIGINT) AS mxc,
             CAST(min(o_orderkey) AS BIGINT) AS mno,
             CAST(max(o_orderkey) AS BIGINT) AS mxo
      FROM orders
    ),
    pred AS (
      SELECT mnc + ((mxc - mnc) * 2) // 5 AS c_lo,
             mnc + ((mxc - mnc) * 9) // 20 AS c_hi,
             mno + ((mxo - mno) * 2) // 5 AS o_lo,
             mno + ((mxo - mno) * 9) // 20 AS o_hi
      FROM b
    ),
    q AS (
      SELECT o_custkey AS ck, o_orderkey AS ok,
             ((CAST(o_custkey AS BIGINT) - mnc) * 65535) // (mxc - mnc)
               AS qc,
             ((CAST(o_orderkey AS BIGINT) - mno) * 65535) // (mxo - mno)
               AS qo
      FROM orders, b
    ),
    zman AS (
      SELECT ({terms}) >> 24 AS bucket,
             min(ck) AS min_c, max(ck) AS max_c,
             min(ok) AS min_o, max(ok) AS max_o
      FROM q GROUP BY 1
    ),
    sman AS (
      SELECT qc >> 8 AS bucket,
             min(ck) AS min_c, max(ck) AS max_c,
             min(ok) AS min_o, max(ok) AS max_o
      FROM q GROUP BY 1
    ),
    zc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(CASE WHEN min_c <= c_hi AND max_c >= c_lo
                            AND min_o <= o_hi AND max_o >= o_lo
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates
      FROM zman, pred
    ),
    sc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(CASE WHEN min_c <= c_hi AND max_c >= c_lo
                            AND min_o <= o_hi AND max_o >= o_lo
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates
      FROM sman, pred
    )
    SELECT 'zorder' AS layout, n_buckets, n_candidates,
           round(CAST(n_candidates AS DOUBLE) / n_buckets, 4) AS frac_scanned
    FROM zc
    UNION ALL
    SELECT 'custkey_sort' AS layout, n_buckets, n_candidates,
           round(CAST(n_candidates AS DOUBLE) / n_buckets, 4) AS frac_scanned
    FROM sc
    """


@register("zorder_pruning_stats", _zorder_pruning_oracle())
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping A/B (operators/layout.py:layout_manifest): the same
    2-D predicate (a ~5% window on BOTH o_custkey and o_orderkey) pruned
    against per-bucket min/max manifests of two layouts — 256 Z-order
    buckets vs 256 custkey-sort buckets. Z-order manifests bound BOTH
    dimensions, so the candidate fraction collapses; the 1-D sort bounds
    only custkey and must scan every bucket the custkey window touches
    regardless of orderkey. The oracle replays quantization, interleave,
    manifests, and the intersect test — the claimed pruning win is
    hash-pinned, not asserted."""
    from arrowhouse_spark.operators.layout import layout_manifest, zorder_value

    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey").cast("long").alias("mnc"),
        F.max("o_custkey").cast("long").alias("mxc"),
        F.min("o_orderkey").cast("long").alias("mno"),
        F.max("o_orderkey").cast("long").alias("mxo"),
    )
    z = zorder_value(o, ["o_custkey", "o_orderkey"], bits=16)
    zman = layout_manifest(
        z, F.shiftright("zvalue", 24), ["o_custkey", "o_orderkey"]
    )
    qc = F.expr(
        "((CAST(o_custkey AS BIGINT) - mnc) * 65535) DIV (mxc - mnc)"
    )
    sman = layout_manifest(
        o.crossJoin(F.broadcast(b)).withColumn("__qc", qc),
        F.shiftright("__qc", 8),
        ["o_custkey", "o_orderkey"],
    )
    pred = b.select(
        (F.col("mnc") + F.expr("((mxc - mnc) * 2) DIV 5")).alias("c_lo"),
        (F.col("mnc") + F.expr("((mxc - mnc) * 9) DIV 20")).alias("c_hi"),
        (F.col("mno") + F.expr("((mxo - mno) * 2) DIV 5")).alias("o_lo"),
        (F.col("mno") + F.expr("((mxo - mno) * 9) DIV 20")).alias("o_hi"),
    )

    def _count(man: DataFrame, label: str) -> DataFrame:
        hit = (
            (F.col("min_o_custkey") <= F.col("c_hi"))
            & (F.col("max_o_custkey") >= F.col("c_lo"))
            & (F.col("min_o_orderkey") <= F.col("o_hi"))
            & (F.col("max_o_orderkey") >= F.col("o_lo"))
        )
        return (
            man.crossJoin(F.broadcast(pred))
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum(F.when(hit, 1).otherwise(0))
                .cast("long")
                .alias("n_candidates"),
            )
            .select(
                F.lit(label).alias("layout"),
                "n_buckets",
                "n_candidates",
                F.round(
                    F.col("n_candidates").cast("double")
                    / F.col("n_buckets"),
                    4,
                ).alias("frac_scanned"),
            )
        )

    return _count(zman, "zorder").unionAll(_count(sman, "custkey_sort"))


@register(
    "events_zscore_outliers",
    """
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN s.sigma > 0
                          AND abs((e.value - s.mu) / s.sigma) > 2.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(sum(CASE WHEN s.sigma > 0
                          AND abs((e.value - s.mu) / s.sigma) > 2.5
                         THEN e.event_id ELSE 0 END) AS BIGINT) AS outlier_id_sum,
           round(any_value(s.mu), 6) AS mu,
           round(any_value(s.sigma), 6) AS sigma
    FROM events e JOIN s USING (event_type)
    GROUP BY 1
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key z-score anomaly flags (operators/timeseries.py:
    zscore_outliers, threshold 2.5σ population): ONE keyed stats
    aggregate broadcast back — never a window. The report pins the exact
    flagged set per type via the outlier event-id checksum (flag flips
    need |z| to cross the threshold, which float associativity cannot
    move); the per-key mean/stddev are 6-dp rounded single values."""
    from arrowhouse_spark.operators.timeseries import zscore_outliers

    flagged = zscore_outliers(
        _events(spark, sf_dir),
        key_cols=["event_type"],
        value_col="value",
        threshold=2.5,
    )
    stats = _events(spark, sf_dir).groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    rollup = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.sum(F.when(F.col("is_outlier"), F.col("event_id")).otherwise(0))
        .cast("long")
        .alias("outlier_id_sum"),
    )
    return rollup.join(F.broadcast(stats), "event_type").select(
        "event_type", "n", "n_outliers", "outlier_id_sum", "mu", "sigma"
    )


@register(
    "correlation_matrix_lineitem",
    """
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           round(corr(l_quantity, l_discount), 6) AS qty_disc,
           round(corr(l_quantity, l_tax), 6) AS qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS price_disc,
           round(corr(l_extendedprice, l_tax), 6) AS price_tax,
           round(corr(l_discount, l_tax), 6) AS disc_tax,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    """,
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's four measures in
    ONE aggregation pass (six corr aggregates share the scan and the
    partial-aggregate shuffle — the one-pass-many-signals profile
    doctrine). Complements stats_moments; feeds feature-selection /
    multicollinearity checks."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice", "qty_price"),
        ("l_quantity", "l_discount", "qty_disc"),
        ("l_quantity", "l_tax", "qty_tax"),
        ("l_extendedprice", "l_discount", "price_disc"),
        ("l_extendedprice", "l_tax", "price_tax"),
        ("l_discount", "l_tax", "disc_tax"),
    ]
    return li.agg(
        *[F.round(F.corr(a, b), 6).alias(n) for a, b, n in pairs],
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "ab_test_welch",
    """
    WITH g AS (
      SELECT user_id % 2 AS grp, value FROM events
    ),
    s AS (
      SELECT grp, count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM g GROUP BY 1
    ),
    w AS (
      SELECT a.n AS n_a, b.n AS n_b, a.m AS m_a, b.m AS m_b,
             (a.m - b.m) / sqrt(a.v / a.n + b.v / b.n) AS t
      FROM s a, s b WHERE a.grp = 0 AND b.grp = 1
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
           round(t, 4) AS t_stat,
           abs(t) > 1.96 AS significant_95
    FROM w
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test report (A/B experiment readout): users hash
    into two arms (user_id mod 2), per-arm n/mean/sample-variance from
    ONE keyed aggregate, then the t statistic from the closed Welch
    formula on the 2-row relation. The experimentation primitive every
    analytics engine ships; oracle replays the arithmetic exactly."""
    ev = _events(spark, sf_dir).withColumn(
        "grp", F.pmod(F.col("user_id"), F.lit(2))
    )
    s = ev.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = s.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("v").alias("v_a")
    )
    b = s.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("v").alias("v_b")
    )
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .select(
            "n_a",
            "n_b",
            F.round("m_a", 6).alias("mean_a"),
            F.round("m_b", 6).alias("mean_b"),
            F.round(t, 4).alias("t_stat"),
            (F.abs(t) > 1.96).alias("significant_95"),
        )
    )


@register(
    "psi_drift_event_types",
    """
    WITH r AS (
      SELECT event_type AS cat, count(*) AS n_ref FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY 1
    ),
    c AS (
      SELECT event_type AS cat, count(*) AS n_cur FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY 1
    ),
    j AS (
      SELECT coalesce(r.cat, c.cat) AS cat,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM r FULL OUTER JOIN c ON r.cat = c.cat
    ),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
    SELECT cat, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           round(((n_cur + 1e-6) / (tc + 1e-6) - (n_ref + 1e-6) / (tr + 1e-6))
                 * ln(((n_cur + 1e-6) / (tc + 1e-6))
                      / ((n_ref + 1e-6) / (tr + 1e-6))), 6) AS psi_term
    FROM j, t
    """,
)
def psi_drift_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift report (operators/profile.py:
    psi_drift): event-type distribution of the first half of the month
    (reference) vs the second (current), smoothed per-category PSI
    contributions — the production ML-ops drift monitor. Keyed counts +
    full-outer on the tiny category relation + 1-row broadcast totals."""
    from arrowhouse_spark.operators.profile import psi_drift

    ev = _events(spark, sf_dir)
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return psi_drift(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        cat_col="event_type",
    )


@register(
    "merge_into_upsert",
    """
    WITH src AS (
      SELECT o_orderkey AS k, o_totalprice + 1000 AS new_price,
             (o_orderkey % 13 = 0) AS is_del
      FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS k, 42.0 AS new_price, false AS is_del
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    merged AS (
      SELECT coalesce(s.k, t.o_orderkey) AS k,
             CASE WHEN s.k IS NOT NULL THEN s.new_price
                  ELSE t.o_totalprice END AS price,
             t.o_orderstatus AS st
      FROM orders t FULL OUTER JOIN src s ON s.k = t.o_orderkey
      WHERE NOT coalesce(s.k IS NOT NULL AND s.is_del, false)
    )
    SELECT st AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(price), 2) AS sum_price
    FROM merged GROUP BY 1
    """,
)
def merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO upsert (operators/merge.py:merge_into — the lakehouse
    write-side primitive; replace_merge is the read-side resolution of
    the same operation): a deterministic change-set (price updates for
    keys %7, deletes for keys %13, inserts at key+10M for keys %11)
    applied to orders in ONE full-outer keyed join, with the source
    key-uniqueness precondition enforced unprunably inside the plan.
    Rolled up by status (inserted rows carry NULL status); the oracle
    replays the merge relationally."""
    from arrowhouse_spark.operators.merge import merge_into

    o = _t(spark, sf_dir, "orders")
    changes = (
        o.filter((F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 13 == 0))
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            (F.col("o_orderkey") % 13 == 0).alias("is_del"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit(42.0).alias("o_totalprice"),
                F.lit(False).alias("is_del"),
            )
        )
    )
    merged = merge_into(
        o, changes, key_cols=["o_orderkey"], delete_col="is_del"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _bfs_oracle(max_hops: int = 4) -> str:
    parts = [
        """e AS (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS src,
             CAST(json_extract(props, '$.k') AS BIGINT) AS dst
      FROM events
    ),
    v0 AS (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS id, 0 AS dist
      FROM events WHERE user_id < 5
    )"""
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"""f{h} AS (
      SELECT DISTINCT e.dst AS id
      FROM e JOIN v{h - 1} v ON v.id = e.src
      WHERE e.dst NOT IN (SELECT id FROM v{h - 1})
    ),
    v{h} AS (
      SELECT id, dist FROM v{h - 1}
      UNION ALL SELECT id, {h} AS dist FROM f{h}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT id, CAST(dist AS INTEGER) AS dist FROM v{max_hops}"""
    )


@register("bfs_reach_levels", _bfs_oracle(4))
def bfs_reach_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop levels (operators/graph.py:bfs_levels): the
    minimum hop distance from seed users {0..4} over the user->prop-k
    interaction graph, 4 hops — seed-set expansion, the reachability
    companion to pagerank_topk on the same edges. Each hop is a keyed
    frontier join + anti-join against visited (work bounded by the
    reached ball, not hops x edges). The oracle unrolls all four
    frontier/visited rounds."""
    from arrowhouse_spark.operators.graph import bfs_levels

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.get_json_object("props", "$.k").cast("long").alias("dst"),
    ).distinct()
    seeds = ev.filter(F.col("user_id") < 5).select(
        F.col("user_id").cast("long").alias("src")
    )
    return bfs_levels(edges, seeds, max_hops=4).select(
        "id", F.col("dist").cast("int").alias("dist")
    )


@register(
    "embedding_covariance_8d",
    """
    WITH idx AS (SELECT unnest(range(8)) AS i),
    v AS (
      SELECT vec_id, i, embedding[i + 1] AS xi
      FROM embeddings, idx
    ),
    c AS (
      SELECT a.i AS i, b.i AS j, avg(a.xi * b.xi) AS exy
      FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    m AS (SELECT i, avg(xi) AS ex FROM v GROUP BY 1)
    SELECT CAST(c.i AS INTEGER) AS i, CAST(c.j AS INTEGER) AS j,
           round(c.exy - mi.ex * mj.ex, 9) AS cov
    FROM c JOIN m mi ON mi.i = c.i JOIN m mj ON mj.i = c.j
    """,
)
def embedding_covariance_8d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass distributed covariance (operators/pca.py:
    embedding_covariance) over the first 8 embedding dims: the pair
    explode collapses to d(d+1)/2=36 groups per partition before any
    shuffle (map-side partials), means join back as an 8-row broadcast.
    The data-sized half of distributed PCA; the oracle computes the same
    moments through a relational pair join."""
    from arrowhouse_spark.operators.pca import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, dims=8).select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.round("cov", 9).alias("cov"),
    )


@register(
    "embedding_pca_contract",
    """
    WITH idx AS (SELECT unnest(range(64)) AS i),
    v AS (SELECT i, embedding[i + 1] AS xi FROM embeddings, idx),
    pv AS (SELECT i, var_pop(xi) AS vp FROM v GROUP BY 1),
    tv AS (SELECT round(sum(vp), 6) AS total_variance FROM pv)
    SELECT CAST(c AS INTEGER) AS comp_idx, tv.total_variance,
           true AS orthonormal, true AS variance_decreasing,
           true AS ratio_in_unit
    FROM tv, (SELECT unnest(range(4)) AS c) t
    """,
)
def embedding_pca_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA under a contract oracle (operators/pca.py:pca_fit):
    the top-4 eigenpairs of the 64-dim covariance. The SQL-checkable fact
    is the total variance (trace ≡ Σ per-dim var_pop — the distributed
    covariance pass must reproduce it to 6 dp); the eigen side ships as
    contract booleans the oracle pins true: components orthonormal
    (max |CCᵀ−I| < 1e-6), explained variances non-increasing, every
    ratio in (0,1]. Eigh runs on the driver over the model-sized d x d
    matrix — the documented bounded collect, same as k-means init."""
    import numpy as np

    from arrowhouse_spark.operators.pca import pca_fit

    emb = _t(spark, sf_dir, "embeddings")
    fit = pca_fit(emb, k=4)
    comps, ev = fit["components"], fit["explained_variance"]
    gram = comps @ comps.T
    orthonormal = bool(
        np.max(np.abs(gram - np.eye(comps.shape[0]))) < 1e-6
    )
    decreasing = bool(np.all(np.diff(ev) <= 1e-12))
    ratios = ev / fit["total_variance"]
    in_unit = bool(np.all((ratios > 0) & (ratios <= 1.0)))
    rows = [
        (
            int(m),
            round(float(fit["total_variance"]), 6),
            orthonormal,
            decreasing,
            in_unit,
        )
        for m in range(comps.shape[0])
    ]
    return one_block(
        spark,
        rows,
        "comp_idx int, total_variance double, orthonormal boolean, "
        "variance_decreasing boolean, ratio_in_unit boolean",
    )


@register(
    "event_transition_matrix",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type, next_type,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE) / sum(count(*))
             OVER (PARTITION BY event_type), 6) AS p
    FROM o WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (the product-analytics "what happens next" readout): lead() per user
    ordered by (ts, event_id), counts per (from, to) pair, row-normalized
    to probabilities. One per-key window + one keyed count; the
    normalizing window runs on the TINY (from,to) matrix relation
    partitioned by from-type — nothing global, nothing corpus-sized
    after the count."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    o = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    counts = o.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wt), 6
        ).alias("p"),
    )


@register(
    "graph_triangle_count",
    """
    WITH e AS (
      SELECT DISTINCT least(s, d) AS lo, greatest(s, d) AS hi
      FROM (
        SELECT CAST(user_id AS BIGINT) AS s,
               CAST(json_extract(props, '$.k') AS BIGINT) AS d
        FROM events
      ) WHERE s != d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e w1
    JOIN e w2 ON w2.lo = w1.hi
    WHERE EXISTS (
      SELECT 1 FROM e c WHERE c.lo = w1.lo AND c.hi = w2.hi
    )
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count (operators/graph.py:triangle_count) over the
    undirected user->prop-k interaction graph — the ordered-wedge plan
    (orient low->high, join wedges on the middle vertex, close with a
    semi-join) counts each triangle exactly once in two keyed shuffles.
    Completes the graph family: components (connectivity), pagerank
    (centrality), bfs (reachability), triangles (clustering). The oracle
    replays the same relational wedge closure."""
    from arrowhouse_spark.operators.graph import triangle_count

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.get_json_object("props", "$.k").cast("long").alias("dst"),
    )
    return triangle_count(edges)


def _ppr_oracle(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled personalized-PageRank oracle: pagerank's CTE mechanics
    with the uniform vector replaced by the seed distribution p0 (seeds =
    users {0..4}), dangling mass re-teleporting by p0."""
    d = repr(damping)
    parts = [
        """e AS (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS src,
             CAST(json_extract(props, '$.k') AS BIGINT) AS dst
      FROM events
    ),
    nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    seeds AS (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS id FROM events
      WHERE user_id < 5
    ),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
    p0 AS (
      SELECT n.id,
             CASE WHEN s.id IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS p
      FROM nodes n LEFT JOIN seeds s ON s.id = n.id, ns
    ),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY 1),
    r0 AS (SELECT id, p AS r FROM p0)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""c{i} AS (
      SELECT e.dst AS id, sum(r.r / d.c) AS cr
      FROM e JOIN r{i - 1} r ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY 1
    ),
    dm{i} AS (
      SELECT coalesce(sum(r.r), 0) AS dm
      FROM r{i - 1} r LEFT JOIN deg ON deg.src = r.id
      WHERE deg.src IS NULL
    ),
    r{i} AS (
      SELECT p.id,
             (1 - {d}) * p.p + {d} * (coalesce(c.cr, 0) + dmt.dm * p.p) AS r
      FROM p0 p LEFT JOIN c{i} c ON c.id = p.id, dm{i} dmt
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT id, round(r, 9) AS rank FROM r{iterations}
    ORDER BY rank DESC, id LIMIT 20"""
    )


