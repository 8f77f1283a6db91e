"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arrowhouse_spark.sources.memory import one_block

from arrowhouse_spark.suite import (
    _events,
    _t,
    register,
)

@register(
    "attribution_first_touch",
    """
    WITH tagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
             CASE WHEN event_type = 'click' THEN
               {'ch': ['email', 'search', 'social', 'direct']
                      [CAST(json_extract(props, '$.k') AS BIGINT) % 4 + 1]}
             END AS c
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    flow AS (
      SELECT user_id, ts, event_id, value, side,
             first_value(c IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS attr
      FROM tagged
    )
    SELECT coalesce(attr.ch, 'unattributed') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM flow WHERE side = 1
    GROUP BY 1
    """,
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution — the dual of attribution_last_touch:
    every purchase credits the user's EARLIEST preceding click (brand
    discovery vs closing touch; ad platforms report both). Same
    union-and-carry plan under the same (ts, side, id) total order,
    with first_value(IGNORE NULLS) over the growing frame instead of
    last_value — still an incremental frame (the gapfill_lerp lesson:
    shrinking frames re-evaluate per row; neither attribution direction
    needs one). One user-partitioned window + one keyed rollup; exact
    DECIMAL revenue."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    channels = F.array(
        F.lit("email"), F.lit("search"), F.lit("social"), F.lit("direct")
    )
    ch = F.element_at(
        channels,
        (F.get_json_object("props", "$.k").cast("long") % 4 + 1).cast("int"),
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("side"),
        F.when(
            F.col("event_type") == "click", F.struct(ch.alias("ch"))
        ).alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flow = tagged.withColumn("attr", F.first("c", ignorenulls=True).over(w))
    return (
        flow.filter(F.col("side") == 1)
        .groupBy(
            F.coalesce(F.col("attr")["ch"], F.lit("unattributed")).alias(
                "channel"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "attribution_last_touch",
    """
    WITH tagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
             CASE WHEN event_type = 'click' THEN
               {'ch': ['email', 'search', 'social', 'direct']
                      [CAST(json_extract(props, '$.k') AS BIGINT) % 4 + 1]}
             END AS c
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    flow AS (
      SELECT user_id, ts, event_id, value, side,
             last_value(c IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS attr
      FROM tagged
    )
    SELECT coalesce(attr.ch, 'unattributed') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM flow WHERE side = 1
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution — every purchase's revenue is
    credited to the user's most recent PRECEDING click's channel (the
    canonical attribution model; first-touch is the same plan with the
    carry direction flipped). Channel is derived deterministically from
    the click's props key. Instead of a purchase←click as-of join, the
    union-and-carry form runs ONE per-user window: clicks sort before
    purchases at equal timestamps under the (ts, side, event_id) total
    order — the ≤ as-of semantics with an explicit tie-break both
    engines replay — and last_value(IGNORE NULLS) carries the click
    context onto each purchase. Revenue sums as exact DECIMAL(18,2).
    Plan: map-side tag/filter + one user-partitioned window + one keyed
    rollup — the asof.py shuffle shape without the join; purchases with
    no prior click report as 'unattributed' (silently dropping them
    overstates every channel)."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    channels = F.array(
        F.lit("email"), F.lit("search"), F.lit("social"), F.lit("direct")
    )
    ch = F.element_at(
        channels,
        (F.get_json_object("props", "$.k").cast("long") % 4 + 1).cast("int"),
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("side"),
        F.when(
            F.col("event_type") == "click", F.struct(ch.alias("ch"))
        ).alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flow = tagged.withColumn("attr", F.last("c", ignorenulls=True).over(w))
    return (
        flow.filter(F.col("side") == 1)
        .groupBy(
            F.coalesce(F.col("attr")["ch"], F.lit("unattributed")).alias(
                "channel"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


_BENFORD_P = (
    "(1, 0.3010299956639812), (2, 0.17609125905568124), "
    "(3, 0.12493873660829993), (4, 0.09691001300805642), "
    "(5, 0.07918124604762482), (6, 0.06694678963061322), "
    "(7, 0.05799194697768673), (8, 0.05115252244738129), "
    "(9, 0.04575749056067514)"
)


@register(
    "benford_digit_audit",
    f"""
    WITH expected(d, p) AS (VALUES {_BENFORD_P}),
    ints AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS i
      FROM events WHERE value > 0
    ),
    digits AS (
      SELECT event_type,
             CAST(substring(CAST(i AS VARCHAR), 1, 1) AS INTEGER) AS d
      FROM ints WHERE i > 0
    ),
    counts AS (
      SELECT event_type, d, count(*) AS c FROM digits GROUP BY 1, 2
    ),
    totals AS (SELECT event_type, count(*) AS n FROM digits GROUP BY 1),
    grid AS (
      SELECT t.event_type, t.n, e.d, e.p, coalesce(c.c, 0) AS obs
      FROM totals t CROSS JOIN expected e
      LEFT JOIN counts c ON c.event_type = t.event_type AND c.d = e.d
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           round(CAST(sum(CAST(
             (obs - n * p) * (obs - n * p) / (n * p) AS DECIMAL(38,12)
           )) AS DOUBLE), 4) AS chi2,
           CAST(min(CASE WHEN obs = mx THEN d END) AS INTEGER) AS top_digit
    FROM (SELECT *, max(obs) OVER (PARTITION BY event_type) AS mx FROM grid)
    GROUP BY 1
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (Newcomb/Benford; the standard
    fabricated-numbers screen in fraud and data-quality work): per event
    type, the chi-square statistic of the observed first-significant-
    digit distribution against log10(1+1/d), plus the modal digit. The
    digit is extracted via INTEGER-STRING arithmetic (value scaled to
    cents, first character of the integer's decimal form) — zero float
    formatting or log10 anywhere, so extraction is engine-exact; chi2
    terms are DECIMAL(38,12)-quantized before the sum
    (combine-order-free), expected probabilities are shared literal
    constants. Digits a type never produced still contribute their
    n·p_d term through the type×digit grid (a missing-row bug here
    understates the statistic). Plan: map-side digit extraction + one
    keyed count + a 9-row broadcast grid + one keyed rollup (the modal
    digit via a type-partitioned max window) — no global state."""
    ev = _events(spark, sf_dir)
    i = F.round(F.col("value") * 100).cast("long")
    digits = (
        ev.filter(F.col("value") > 0)
        .select("event_type", i.alias("i"))
        .filter(F.col("i") > 0)
        .select(
            "event_type",
            F.substring(F.col("i").cast("string"), 1, 1)
            .cast("int")
            .alias("d"),
        )
    )
    counts = digits.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = digits.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    pairs = [tuple(map(float, x.strip("() ").split(", "))) for x in _BENFORD_P.split("), (")]
    expected = one_block(
        spark, [(int(d), p) for d, p in pairs], "d int, p double"
    )
    grid = (
        totals.crossJoin(F.broadcast(expected))
        .join(counts, ["event_type", "d"], "left")
        .withColumn("obs", F.coalesce(F.col("c"), F.lit(0)))
    )
    mx = F.max("obs").over(Window.partitionBy("event_type"))
    g = grid.withColumn("mx", mx)
    dev = F.col("obs") - F.col("n") * F.col("p")
    term = dev * dev / (F.col("n") * F.col("p"))
    return g.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.round(
            F.sum(term.cast("decimal(38,12)")).cast("double"), 4
        ).alias("chi2"),
        F.min(F.when(F.col("obs") == F.col("mx"), F.col("d")))
        .cast("int")
        .alias("top_digit"),
    )


@register(
    "source_minhash_jaccard",
    """
    WITH rows_r AS (SELECT unnest(range(32)) AS r),
    toks AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), t -> t != ''))
               AS tok
      FROM documents
    ),
    x AS (
      SELECT source, tok,
             CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT) AS xi
      FROM toks
    ),
    sig AS (
      SELECT source, rr.r,
             min(((999983 - 1000 * rr.r) * (xi % 1000000007)
                  + (123 + 7919 * rr.r)) % 1000000007) AS minv
      FROM x CROSS JOIN rows_r rr GROUP BY 1, 2
    ),
    est AS (
      SELECT a.source AS source_a, b.source AS source_b,
             round(sum(CASE WHEN a.minv = b.minv THEN 1 ELSE 0 END) / 32.0, 6)
               AS est_jaccard
      FROM sig a JOIN sig b ON b.r = a.r AND a.source < b.source
      GROUP BY 1, 2
    ),
    sets AS (SELECT DISTINCT source, tok FROM toks),
    sizes AS (SELECT source, count(*) AS n FROM sets GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS ni
      FROM sets a JOIN sets b ON b.tok = a.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT e.source_a, e.source_b, e.est_jaccard,
           round(coalesce(i.ni, 0)
                 / (sa.n + sb.n - coalesce(i.ni, 0)), 6) AS exact_jaccard
    FROM est e
    LEFT JOIN inter i
      ON i.source_a = e.source_a AND i.source_b = e.source_b
    JOIN sizes sa ON sa.source = e.source_a
    JOIN sizes sb ON sb.source = e.source_b
    """,
)
def source_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE vocabulary overlap via mergeable MinHash signatures
    (operators/aggstate.py:minhash_sig_state/merge/jaccard — Broder
    1997), reported next to the exact token-set Jaccard so the sketch's
    error is visible in the output. Distinct from the per-document
    near-dup minhash (dedup.py): this sketches KEY GROUPS — "how much
    does source A's vocabulary overlap source B's" from depth=32 rows
    per source, mergeable by row-wise MIN across any
    partitioning/increment (the -State/-Merge set-similarity member).
    The affine hash ladder over md5-prefix token integers is a linear
    formula of the row index, so the oracle replays every signature
    cell. Plan: one explode + keyed MIN (map-side partials; state =
    sources x 32 rows forever) + a broadcast-sized pairwise join; the
    exact side is a distinct + keyed self-join — corpus-sized, present
    only because this QUERY audits the estimate."""
    from arrowhouse_spark.operators.aggstate import (
        minhash_sig_jaccard,
        minhash_sig_state,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tok"),
    )
    sig = minhash_sig_state(toks, ["source"], "tok", depth=32)
    est = minhash_sig_jaccard(sig, "source").select(
        F.col("key_a").alias("source_a"),
        F.col("key_b").alias("source_b"),
        F.round("est", 6).alias("est_jaccard"),
    )
    sets = toks.distinct()
    sizes = sets.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sets.alias("a")
        .join(
            sets.alias("b"),
            (F.col("b.tok") == F.col("a.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        est.join(inter, ["source_a", "source_b"], "left")
        .join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "est_jaccard",
            F.round(
                F.coalesce(F.col("ni"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0))),
                6,
            ).alias("exact_jaccard"),
        )
    )


@register(
    "events_gapfill_lerp",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
      FROM events
    ),
    obs AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
             round((max({'ts': ts, 'tie': event_id, 'v': value})).v, 2)
               AS v_obs
      FROM e GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
      FROM obs GROUP BY 1
    ),
    spine AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
      FROM bounds
    ),
    j AS (
      SELECT s.user_id, s.bucket_ts, o.v_obs,
             last_value(
               CASE WHEN o.v_obs IS NOT NULL THEN
                 {'ots': date_part('epoch', s.bucket_ts), 'ov': o.v_obs}
               END IGNORE NULLS
             ) OVER (
               PARTITION BY s.user_id ORDER BY s.bucket_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS prev,
             first_value(
               CASE WHEN o.v_obs IS NOT NULL THEN
                 {'ots': date_part('epoch', s.bucket_ts), 'ov': o.v_obs}
               END IGNORE NULLS
             ) OVER (
               PARTITION BY s.user_id ORDER BY s.bucket_ts
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS nxt
      FROM spine s LEFT JOIN obs o
        ON o.user_id = s.user_id AND o.bucket_ts = s.bucket_ts
    )
    SELECT user_id,
           strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket_h,
           CAST(CAST((CASE WHEN nxt IS NOT NULL AND nxt.ots != prev.ots THEN
                   prev.ov + (nxt.ov - prev.ov)
                   * (CAST(date_part('epoch', bucket_ts) - prev.ots AS DOUBLE)
                      / CAST(nxt.ots - prev.ots AS DOUBLE))
                 ELSE prev.ov END) + 1e-9 AS DECIMAL(18,6)) AS DOUBLE)
             AS v_lerp,
           v_obs IS NULL AS filled
    FROM j
    """,
)
def events_gapfill_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (operators/timeseries.py:
    gapfill_lerp) — the smooth sibling of events_gapfill_locf: each
    user's hourly spine filled with the LINE between the surrounding
    observations instead of a staircase (trailing buckets carry the
    last value forward). The lerp ratio is built from exact integer
    epoch seconds and the endpoint values are 2-dp-rounded first, so
    the double expression p + (n-p)*ratio is engine-identical; round 6
    closes it out. Plan: keyed observed aggregate + map-side spine
    explode + keyed left join + TWO per-user ordered windows (backward
    last / forward first, both partitioned) — spine size is users x
    buckets, event-volume-free."""
    from arrowhouse_spark.operators.timeseries import gapfill_lerp

    out = gapfill_lerp(
        _events(spark, sf_dir),
        key_col="user_id", ts_col="ts", value_col="value",
        tie_col="event_id",
    )
    return out.select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_h"),
        "v_lerp",
        "filled",
    )


@register(
    "pq_adc_topk_embeddings",
    """
    WITH pts AS (
      SELECT vec_id AS id,
             (generate_subscripts(embedding, 1) - 1) // 16 AS sub,
             (generate_subscripts(embedding, 1) - 1) % 16 AS k,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cid,
             (generate_subscripts(embedding, 1) - 1) // 16 AS sub,
             (generate_subscripts(embedding, 1) - 1) % 16 AS k,
             CAST(unnest(embedding) AS DOUBLE) AS c
      FROM embeddings
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)
    ),
    d1 AS (
      SELECT p.sub, p.id, c.cid,
             sum(CAST((p.v - c.c) * (p.v - c.c) AS DECIMAL(38,12))) AS dist
      FROM pts p JOIN c0 c ON c.sub = p.sub AND c.k = p.k
      GROUP BY 1, 2, 3
    ),
    m1 AS (SELECT sub, id, min(dist) AS dist FROM d1 GROUP BY 1, 2),
    a1 AS (
      SELECT d.sub, d.id, min(d.cid) AS cid
      FROM d1 d JOIN m1 m ON m.sub = d.sub AND m.id = d.id AND m.dist = d.dist
      GROUP BY 1, 2
    ),
    c1 AS (
      SELECT a.sub, a.cid, p.k,
             round(CAST(sum(CAST(p.v AS DECIMAL(38,10))) AS DOUBLE)
                   / count(*), 9) AS c
      FROM pts p JOIN a1 a ON a.sub = p.sub AND a.id = p.id
      GROUP BY 1, 2, 3
    ),
    d2 AS (
      SELECT p.sub, p.id, c.cid,
             sum(CAST((p.v - c.c) * (p.v - c.c) AS DECIMAL(38,12))) AS dist
      FROM pts p JOIN c1 c ON c.sub = p.sub AND c.k = p.k
      GROUP BY 1, 2, 3
    ),
    m2 AS (SELECT sub, id, min(dist) AS dist FROM d2 GROUP BY 1, 2),
    codes AS (
      SELECT d.sub, d.id, min(d.cid) AS cid
      FROM d2 d JOIN m2 m ON m.sub = d.sub AND m.id = d.id AND m.dist = d.dist
      GROUP BY 1, 2
    ),
    q AS (
      SELECT sub, k, v AS qv FROM pts
      WHERE id = (SELECT min(vec_id) FROM embeddings)
    ),
    dt AS (
      SELECT c.sub, c.cid,
             sum(CAST((q.qv - c.c) * (q.qv - c.c) AS DECIMAL(38,12))) AS td
      FROM c1 c JOIN q ON q.sub = c.sub AND q.k = c.k
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT cd.id, sum(dt.td) AS adc
      FROM codes cd JOIN dt ON dt.sub = cd.sub AND dt.cid = cd.cid
      GROUP BY 1
    )
    SELECT id AS vec_id, round(CAST(adc AS DOUBLE), 6) AS adc_dist
    FROM adc ORDER BY adc, id LIMIT 10
    """,
)
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance
    (operators/clustering.py:pq_adc_topk; Jégou et al. 2011): 64-dim
    embeddings → four 16-dim subspaces → per-subspace 4-centroid
    codebooks (one exact Lloyd iteration, min-id seeds) → every vector
    stored as 4 small codes → query answered by summing a precomputed
    (subspace, centroid) distance-table row per code — the
    memory-compressed fourth ANN strategy next to brute / LSH / IVF-flat
    (at 100 TB: codes are ~64× narrower than the float vectors, and
    query cost is table lookups, not float dot products). The subspace
    axis is a KEY COLUMN, so fit+encode+search is ONE declarative plan;
    every distance is an exact DECIMAL(38,12) sum and codebook means are
    exact-decimal-rounded (kmeans_lloyd doctrine) — codes, tables, and
    the (adc, id) top-k ordering replay engine-identically in the
    oracle's unrolled CTEs."""
    from arrowhouse_spark.operators.clustering import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, "vec_id", "embedding", subdim=16, k_cb=4, k=10)


@register(
    "events_trailing_range_window",
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events
    ),
    t AS (
      SELECT user_id, event_id,
             CAST(count(*) OVER w AS BIGINT) AS n_trailing_10m,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
               AS sum_trailing_10m
      FROM e
      WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
      )
    )
    SELECT user_id,
           CAST(max(n_trailing_10m) AS BIGINT) AS peak_burst,
           round(max(sum_trailing_10m), 2) AS peak_burst_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM t GROUP BY 1
    """,
)
def events_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame — the frame type every other window
    query here leaves unexercised (ROWS frames count rows;
    RANGE INTERVAL frames select by the ORDER key's VALUE, so ties and
    gaps behave differently): per user, the trailing-10-minute event
    count and value sum at every event — the burst detector — rolled up
    to the per-user peak. The sum is DECIMAL-quantized (frame contents
    are engine-identical sets, but a double sum's fold order inside the
    frame is not pinned cross-engine); the count is exact by
    construction. Plan: ONE user-partitioned range-frame window (state =
    the 10-minute tail, bounded by burst width not series length) + one
    keyed rollup — no global window. Both engines frame over the exact
    MICROSECOND epoch (the fixture's timestamps are sub-second — a
    seconds-truncated order key would shift frame boundaries between
    engines): rangeBetween(-600e6, 0) over unix_micros here,
    epoch_us(ts) RANGE 600000000 PRECEDING in the oracle."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    t = ev.select(
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_trailing_10m"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"),
            2,
        ).alias("sum_trailing_10m"),
    )
    return t.groupBy("user_id").agg(
        F.max("n_trailing_10m").cast("long").alias("peak_burst"),
        F.round(F.max("sum_trailing_10m"), 2).alias("peak_burst_value"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


@register(
    "max_concurrency_by_type",
    """
    WITH sess AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP) + INTERVAL 300 SECOND AS e, event_id
      FROM events
    ),
    sweep AS (
      SELECT event_type, s AS t, 1 AS d, event_id FROM sess
      UNION ALL
      SELECT event_type, e AS t, -1 AS d, event_id FROM sess
    ),
    run AS (
      SELECT event_type,
             sum(d) OVER (
               PARTITION BY event_type ORDER BY t, d, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cur
      FROM sweep
    )
    SELECT r.event_type,
           CAST((SELECT count(*) FROM sess s2
                 WHERE s2.event_type = r.event_type) AS BIGINT) AS n_sessions,
           CAST(max(cur) AS BIGINT) AS max_concurrent
    FROM run r GROUP BY 1
    """,
)
def max_concurrency_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep-line (+1/-1 running sum) — the
    classic interval-overlap maximum (max simultaneous sessions /
    connections / GPU jobs), here over 5-minute half-open activity
    windows per event type. Half-open [s, e) semantics come free from
    the (t, delta ASC) sweep order: at a shared instant the -1 folds
    before the +1, so back-to-back sessions never double-count; the
    (t, d, event_id) total order plus INTEGER running sums make the
    result exact on any engine — no float anywhere. Plan: map-side
    double-projection union + ONE per-TYPE partitioned window (running
    integer, constant state) + keyed max — no global window; at 100 TB
    the partition key is the tenant/shard the concurrency question is
    actually asked of."""
    ev = _events(spark, sf_dir)
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("d"), "event_id"
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("t"),
        F.lit(-1).alias("d"),
        "event_id",
    )
    sweep = starts.unionAll(ends)
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = sweep.withColumn("cur", F.sum("d").over(w))
    n_sess = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    peak = run.groupBy("event_type").agg(
        F.max("cur").cast("long").alias("max_concurrent")
    )
    return n_sess.join(peak, "event_type").select(
        "event_type", "n_sessions", "max_concurrent"
    )


@register(
    "feature_hashing_vectors",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != ''))
        AS tok
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id,
             (('0x' || substr(md5('fh' || tok), 1, 8))::UBIGINT
              % 1024)::BIGINT AS bucket
      FROM toks
    ),
    vec AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM bucketed GROUP BY 1, 2
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS doc_freq,
           CAST(sum(cnt) AS BIGINT) AS total_count,
           CAST(max(cnt) AS BIGINT) AS max_in_doc
    FROM vec WHERE bucket < 64 GROUP BY 1
    """,
)
def feature_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing-trick vectorizer, Weinberger et al.
    2009): tokens map to a FIXED 1024-bucket space via the module's
    md5-prefix bucket (operators/sampling.py:hash_bucket — engine-
    replayable, collision-accepting by design), giving every document a
    bounded sparse count vector with NO vocabulary table, no OOV, and
    no fit step — the vectorizer that survives streaming corpora where
    vocab_encode's rank table would churn. Plan: map-side
    explode+bucket, ONE (doc, bucket) keyed count (map-side partials),
    bounded rollup of the first 64 buckets as the proof surface. The
    oracle re-derives every bucket from the same md5 arithmetic."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tok"),
    )
    vec = (
        toks.select(
            "doc_id", hash_bucket(F.col("tok"), 1024, salt="fh").alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        vec.filter(F.col("bucket") < 64)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.sum("cnt").cast("long").alias("total_count"),
            F.max("cnt").cast("long").alias("max_in_doc"),
        )
    )


@register(
    "entity_resolution_pipeline",
    """
    WITH RECURSIVE recs AS (
      SELECT c_custkey AS rec_id,
             substring(md5('ent' || CAST(c_custkey % 300 AS VARCHAR)), 1, 8)
               AS tok,
             (c_custkey // 300) % 4 AS var
      FROM customer
    ),
    raw AS (
      SELECT rec_id,
             CASE var
               WHEN 0 THEN tok || ' inc'
               WHEN 1 THEN upper(tok) || ' inc'
               WHEN 2 THEN substring(tok, 1, 7) || 'x inc'
               ELSE tok || ' inc.' END AS raw_name
      FROM recs
    ),
    norm AS (
      SELECT rec_id, regexp_replace(lower(raw_name), '\\.$', '') AS nm
      FROM raw
    ),
    blk AS (SELECT rec_id, nm, substring(nm, 1, 4) AS b FROM norm),
    pairs AS (
      SELECT l.rec_id AS src, r.rec_id AS dst
      FROM blk l JOIN blk r ON l.b = r.b AND l.rec_id < r.rec_id
      WHERE levenshtein(l.nm, r.nm) <= 1
    ),
    sym AS (
      SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ),
    walk AS (
      SELECT src AS id, src AS comp FROM sym
      UNION
      SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id
    ),
    comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY 1),
    ent AS (
      SELECT n.rec_id, coalesce(c.comp, n.rec_id) AS entity
      FROM norm n LEFT JOIN comp c ON c.id = n.rec_id
    ),
    sizes AS (
      SELECT entity, CAST(count(*) AS BIGINT) AS cluster_size
      FROM ent GROUP BY 1
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_entities,
           CAST(min(entity) AS BIGINT) AS min_entity
    FROM sizes GROUP BY 1
    """,
)
def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed entity resolution — the Fellegi-Sunter blocking+verify
    record-linkage pipeline as ONE plan: (1) records with
    deterministically SYNTHESIZED name variants (the PII-injection
    discipline: per base entity, four spellings — cased, one-char typo,
    punctuated suffix); (2) normalization (lower + trailing-period
    strip, map-side); (3) blocking on the 4-char name prefix — pair
    generation is Σ block², never all-pairs; (4) exact verify via
    operators/dedup.py:edit_distance_pairs (threshold-banded
    levenshtein ≤ 1); (5) match graph → min-label connected components
    (operators/components.py — the dedup_components machinery reused
    for identity instead of near-dup text); (6) singleton-preserving
    entity assignment + cluster-size census. The oracle replays every
    stage, components via the recursive-CTE walk. Shuffles: blocking
    self-join keyed by block, two (id,text) verify joins, the
    components rounds (two keyed shuffles each, lineage-cut), one
    rollup — no global windows, no cartesian; at 100 TB the blocker
    swaps for minhash banding with identical downstream stages."""
    from arrowhouse_spark.operators.components import connected_components
    from arrowhouse_spark.operators.dedup import edit_distance_pairs

    c = _t(spark, sf_dir, "customer")
    ent = F.col("c_custkey") % 300
    var = F.expr("(c_custkey div 300) % 4")
    tok = F.substring(
        F.md5(F.concat(F.lit("ent"), ent.cast("string"))), 1, 8
    )
    raw = (
        F.when(var == 0, F.concat(tok, F.lit(" inc")))
        .when(var == 1, F.concat(F.upper(tok), F.lit(" inc")))
        .when(var == 2, F.concat(F.substring(tok, 1, 7), F.lit("x inc")))
        .otherwise(F.concat(tok, F.lit(" inc.")))
    )
    norm = c.select(
        F.col("c_custkey").alias("rec_id"),
        F.regexp_replace(F.lower(raw), r"\.$", "").alias("nm"),
    )
    blk = norm.withColumn("b", F.substring("nm", 1, 4))
    cands = (
        blk.select(F.col("rec_id").alias("id_a"), "b")
        .join(blk.select(F.col("rec_id").alias("id_b"), "b"), "b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    matched = edit_distance_pairs(
        norm, cands, max_dist=1, text_col="nm", id_col="rec_id"
    )
    comp = connected_components(matched, src="id_a", dst="id_b")
    assigned = norm.join(
        comp, norm.rec_id == comp.id, "left"
    ).select(
        "rec_id",
        F.coalesce(F.col("component"), F.col("rec_id")).alias("entity"),
    )
    sizes = assigned.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.min("entity").cast("long").alias("min_entity"),
    )


@register(
    "contrastive_negatives_sample",
    """
    WITH a AS (
      SELECT vec_id AS anchor_id, label AS alab
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    cand AS (
      SELECT a.anchor_id, p.vec_id AS neg_id, p.label AS neg_label,
             md5('neg' || CAST(a.anchor_id AS VARCHAR) || ':'
                 || CAST(p.vec_id AS VARCHAR)) AS h
      FROM a JOIN embeddings p
        ON p.label != a.alab AND p.vec_id != a.anchor_id
    ),
    r AS (
      SELECT anchor_id, neg_id, neg_label,
             CAST(row_number() OVER (
               PARTITION BY anchor_id ORDER BY h, neg_id
             ) AS INTEGER) AS neg_rank
      FROM cand
    )
    SELECT anchor_id, neg_id, neg_label, neg_rank
    FROM r WHERE neg_rank <= 5
    """,
)
def contrastive_negatives_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training
    (operators/sampling.py:contrastive_negatives): for each anchor
    (every 50th embedding), the 5 different-LABEL pool vectors winning
    the md5(salt‖anchor‖cand) race — uniform-ish, partitioning-proof,
    and engine-replayable (the module's md5-race discipline; same-label
    candidates are excluded as InfoNCE false negatives). Plan: bounded
    anchor relation BROADCAST against the pool with the label-inequality
    predicate, one per-ANCHOR partitioned window for the top-k race —
    no global window; at corpus-scale anchor counts the documented swap
    is a hash_bucket equi-join race."""
    from arrowhouse_spark.operators.sampling import contrastive_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    out = contrastive_negatives(anchors, emb, "vec_id", "label", k=5)
    return out.select(
        F.col("anchor_id").cast("long").alias("anchor_id"),
        F.col("neg_id").cast("long").alias("neg_id"),
        F.col("neg_label").cast("int").alias("neg_label"),
        F.col("neg_rank").cast("int").alias("neg_rank"),
    )


def _hits_oracle(iterations: int = 2) -> str:
    """Unrolled HITS half-step oracle (the _pagerank_oracle mechanics):
    per iteration one (raw-authority, total, authority, raw-hub, total,
    hub) CTE block — exactly operators/graph.py:hits' recurrence,
    DECIMAL(38,12) exact sums + round-12 renormalization."""
    parts = [
        """e AS (
      SELECT DISTINCT CAST(user_id AS BIGINT) AS src,
             CAST(json_extract(props, '$.k') AS BIGINT) AS dst
      FROM events
    ),
    h0 AS (SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS h FROM e)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""ra{i} AS (
      SELECT e.dst AS id, sum(CAST(h.h AS DECIMAL(38,12))) AS raw
      FROM e JOIN h{i - 1} h ON h.id = e.src GROUP BY 1
    ),
    ta{i} AS (SELECT sum(raw) AS tot FROM ra{i}),
    a{i} AS (
      SELECT id, round(CAST(raw AS DOUBLE) / CAST(tot AS DOUBLE), 12) AS a
      FROM ra{i}, ta{i}
    ),
    rh{i} AS (
      SELECT e.src AS id, sum(CAST(a.a AS DECIMAL(38,12))) AS raw
      FROM e JOIN a{i} a ON a.id = e.dst GROUP BY 1
    ),
    th{i} AS (SELECT sum(raw) AS tot FROM rh{i}),
    h{i} AS (
      SELECT id, round(CAST(raw AS DOUBLE) / CAST(tot AS DOUBLE), 12) AS h
      FROM rh{i}, th{i}
    )"""
        )
    n = iterations
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT * FROM (
      SELECT 'authority' AS role, id, round(a, 9) AS score
      FROM a{n} ORDER BY score DESC, id LIMIT 10
    )
    UNION ALL
    SELECT * FROM (
      SELECT 'hub' AS role, id, round(h, 9) AS score
      FROM h{n} ORDER BY score DESC, id LIMIT 10
    )"""
    )


@register("hits_hubs_authorities", _hits_oracle(2))
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS link analysis (operators/graph.py:hits) over the same
    user->prop-k interaction graph pagerank_topk ranks: 2 iterations of
    hub/authority mutual reinforcement with L1 renormalization, top-10
    of each side. One determinism notch stricter than pagerank: scores
    are re-rounded to 12 dp each half-step and summed as exact
    DECIMAL(38,12), making the keyed sums AND the global normalization
    total combine-order-free (a global double sum would wobble in the
    last ulps under re-partitioning). The oracle unrolls every
    half-step; the 9-dp score is both output and sort key. Per
    half-step: one edges⋈scores keyed join + keyed sum + 1-row broadcast
    total — the pagerank shuffle shape, lineage-cut per half-step."""
    from arrowhouse_spark.operators.graph import hits

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.get_json_object("props", "$.k").cast("long").alias("dst"),
    )
    out = hits(edges, iterations=2)
    top_a = (
        out.select(
            F.lit("authority").alias("role"),
            "id",
            F.round("authority", 9).alias("score"),
        )
        .orderBy(F.col("score").desc(), "id")
        .limit(10)
    )
    top_h = (
        out.select(
            F.lit("hub").alias("role"), "id", F.round("hub", 9).alias("score")
        )
        .orderBy(F.col("score").desc(), "id")
        .limit(10)
    )
    return top_a.unionAll(top_h)


@register(
    "kmeans_lloyd_clusters",
    """
    WITH pts AS (
      SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cid, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS c
      FROM embeddings
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)
    ),
    d1 AS (
      SELECT p.id, c.cid,
             sum(CAST((p.v - c.c) * (p.v - c.c) AS DECIMAL(38,12))) AS dist
      FROM pts p JOIN c0 c ON c.dim = p.dim GROUP BY 1, 2
    ),
    m1 AS (SELECT id, min(dist) AS dist FROM d1 GROUP BY 1),
    a1 AS (
      SELECT d.id, min(d.cid) AS cid
      FROM d1 d JOIN m1 m ON m.id = d.id AND m.dist = d.dist GROUP BY 1
    ),
    c1 AS (
      SELECT a.cid, p.dim,
             round(CAST(sum(CAST(p.v AS DECIMAL(38,10))) AS DOUBLE)
                   / count(*), 9) AS c
      FROM pts p JOIN a1 a ON a.id = p.id GROUP BY 1, 2
    ),
    d2 AS (
      SELECT p.id, c.cid,
             sum(CAST((p.v - c.c) * (p.v - c.c) AS DECIMAL(38,12))) AS dist
      FROM pts p JOIN c1 c ON c.dim = p.dim GROUP BY 1, 2
    ),
    m2 AS (SELECT id, min(dist) AS dist FROM d2 GROUP BY 1),
    a2 AS (
      SELECT d.id, min(d.cid) AS cid
      FROM d2 d JOIN m2 m ON m.id = d.id AND m.dist = d.dist GROUP BY 1
    ),
    c2 AS (
      SELECT a.cid, p.dim,
             round(CAST(sum(CAST(p.v AS DECIMAL(38,10))) AS DOUBLE)
                   / count(*), 9) AS c
      FROM pts p JOIN a2 a ON a.id = p.id GROUP BY 1, 2
    ),
    df AS (
      SELECT p.id, c.cid,
             sum(CAST((p.v - c.c) * (p.v - c.c) AS DECIMAL(38,12))) AS dist
      FROM pts p JOIN c2 c ON c.dim = p.dim GROUP BY 1, 2
    ),
    mf AS (SELECT id, min(dist) AS dist FROM df GROUP BY 1),
    af AS (
      SELECT d.id, min(d.cid) AS cid
      FROM df d JOIN mf m ON m.id = d.id AND m.dist = d.dist GROUP BY 1
    ),
    sq AS (
      SELECT a.id, a.cid, d.dist
      FROM af a JOIN df d ON d.id = a.id AND d.cid = a.cid
    )
    SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS avg_sqdist
    FROM sq GROUP BY 1
    """,
)
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (operators/clustering.py:
    kmeans_lloyd; k=4, 2 exact iterations, min-id seeding) over the
    embeddings corpus — the fully-declarative companion to
    ivf_centroids_kmeans's bounded-collect numpy fit, and the
    cluster-balanced curation primitive (cluster-then-sample mixing;
    SemDeDup's clustering stage as a PLAN instead of a driver loop).
    Every iteration is replayed unrolled by the oracle: squared-distance
    terms DECIMAL(38,12)-quantized and summed exactly so the argmin key
    is engine-identical, argmin = min-dist + min-cid-at-min-dist (no
    struct comparators), centroid means from exact DECIMAL(38,10)
    coordinate sums rounded to 9 dp before feeding the next round.
    Plan per iteration: map-side explode + BROADCAST k*dim centroid
    join + keyed exact sums — shuffles keyed by point id / (cid, dim);
    lineage cut per iteration (lazy localCheckpoint, the staged-seam
    discipline). Output: per-cluster size + mean squared distance."""
    from arrowhouse_spark.operators.clustering import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    out = kmeans_lloyd(emb, "vec_id", "embedding", k=4, iters=2)
    return out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum("sqdist").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_sqdist"),
    )


@register(
    "bloom_state_merge_monthly",
    """
    WITH hash_rows(a, b) AS (
      VALUES (999983, 7920), (999979, 15839), (999961, 23758), (999959, 31677)
    ),
    inc_bits AS (
      SELECT DISTINCT
        CAST(((h.a * (o.o_custkey % 1000000007) + h.b) % 1000000007) % 15872
             AS BIGINT) AS p
      FROM orders o CROSS JOIN hash_rows h
    ),
    words AS (
      SELECT p // 62 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 62 AS INTEGER)) AS wbits
      FROM inc_bits GROUP BY 1
    ),
    probes AS (
      SELECT c_custkey,
             c_custkey + CASE WHEN c_custkey % 3 = 0 THEN 1000000 ELSE 0 END
               AS q
      FROM customer
    ),
    probe_bits AS (
      SELECT pr.q,
             CAST(((h.a * (pr.q % 1000000007) + h.b) % 1000000007) % 15872
                  AS BIGINT) AS p
      FROM probes pr CROSS JOIN hash_rows h
    ),
    hits AS (
      SELECT pb.q,
             min(coalesce((w.wbits >> CAST(pb.p % 62 AS INTEGER))
                          & CAST(1 AS BIGINT), 0)) AS hit
      FROM probe_bits pb LEFT JOIN words w ON w.word = pb.p // 62
      GROUP BY 1
    ),
    truth AS (SELECT DISTINCT o_custkey FROM orders),
    verdicts AS (
      SELECT h.q, h.hit = 1 AS member, t.o_custkey IS NOT NULL AS is_true
      FROM hits h LEFT JOIN truth t ON t.o_custkey = h.q
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(count(*) FILTER (WHERE member) AS BIGINT) AS n_bloom_pos,
           CAST(count(*) FILTER (WHERE is_true) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (WHERE member AND NOT is_true) AS BIGINT)
             AS n_false_pos,
           CAST(count(*) FILTER (WHERE is_true AND NOT member) AS BIGINT)
             AS n_false_neg,
           (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_words_occupied,
           (SELECT CAST(sum(bit_count(wbits)) AS BIGINT) FROM words)
             AS n_bits_set
    FROM verdicts
    """,
)
def bloom_state_merge_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom-filter membership state (operators/aggstate.py:
    bloom_state/bloom_merge/bloom_probe) — the membership member of the
    -State/-Merge family (exact / HLL-distinct / CMS-frequency /
    histogram-quantile / bitmap-exact-distinct): per-MONTH filters built
    over orders' customer keys, folded to one filter by word-wise BIT_OR
    (idempotent + associative ⇒ retries and any partitioning fold
    identically), probed by a customer list with a third of the probes
    perturbed out of the key domain. Bit positions come from the CM
    sketch's exact-BIGINT affine rows over 256x62 bits, so the oracle
    REPLAYS the filter bit-for-bit (words, popcount, every verdict) —
    and because the oracle builds DIRECT while the query builds
    monthly-then-merge, hash equality doubles as the merge≡direct proof.
    n_false_neg is structurally 0 (the no-false-negative contract, also
    pytest-pinned). Plan: one keyed word agg + B-row broadcast probe
    join + one rollup; state is occupancy-bounded rows, queryable at
    rest — at 100 TB this is the pre-join pruning filter a day's batch
    ships instead of the full historical key set."""
    from arrowhouse_spark.operators.aggstate import (
        bloom_merge,
        bloom_probe,
        bloom_state,
    )

    o = _t(spark, sf_dir, "orders").withColumn(
        "m", F.date_format("o_orderdate", "yyyy-MM")
    )
    monthly = bloom_state(o, ["m"], "o_custkey")
    merged = bloom_merge(monthly, [])
    c = _t(spark, sf_dir, "customer")
    probes = c.select(
        (
            F.col("c_custkey")
            + F.when(F.col("c_custkey") % 3 == 0, F.lit(1_000_000)).otherwise(
                F.lit(0)
            )
        ).alias("q")
    )
    probed = bloom_probe(merged, probes, "q")
    truth = o.select(F.col("o_custkey").alias("q")).distinct().withColumn(
        "__t", F.lit(1)
    )
    v = probed.join(truth, "q", "left").select(
        "member", F.col("__t").isNotNull().alias("is_true")
    )
    stats = merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_words_occupied"),
        F.sum(F.bit_count("bits")).cast("long").alias("n_bits_set"),
    )
    agg = v.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.col("member").cast("int")).cast("long").alias("n_bloom_pos"),
        F.sum(F.col("is_true").cast("int")).cast("long").alias("n_true"),
        F.sum((F.col("member") & ~F.col("is_true")).cast("int"))
        .cast("long")
        .alias("n_false_pos"),
        F.sum((F.col("is_true") & ~F.col("member")).cast("int"))
        .cast("long")
        .alias("n_false_neg"),
    )
    return agg.crossJoin(F.broadcast(stats))


@register(
    "pareto_frontier_parts",
    """
    WITH pts AS (
      SELECT p_retailprice AS price, CAST(p_size AS BIGINT) AS size,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(min(p_partkey) AS BIGINT) AS min_partkey
      FROM part GROUP BY 1, 2
    )
    SELECT round(price, 2) AS price, size, n_parts, min_partkey
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE (b.price < a.price AND b.size >= a.size)
         OR (b.price <= a.price AND b.size > a.size)
    )
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier / skyline (operators/skyline.py:
    pareto_frontier) over parts: minimize retail price, maximize size —
    the cheapest-per-capability shortlist (Börzsönyi et al., ICDE 2001).
    The distributed form is grid-partitioned: distinct-point reduction →
    fixed price-grid bucketing from a 1-row broadcast bounds aggregate →
    per-BUCKET window (running max of size over strictly-preceding
    points in (price asc, size desc) order decides local dominance) →
    B-row broadcast theta self-join for cross-bucket dominance. Exact:
    same-bucket dominators hit the running max, lower-bucket ones the
    bucket cummax, higher buckets cannot dominate (strictly larger
    price). The oracle is the textbook unpruned NOT EXISTS — hash
    equality proves the pruning loses nothing. No global window, no
    cartesian; all dominance state is one running max per reducer."""
    from arrowhouse_spark.operators.skyline import pareto_frontier

    p = _t(spark, sf_dir, "part").withColumn(
        "p_size_l", F.col("p_size").cast("long")
    )
    out = pareto_frontier(
        p, min_col="p_retailprice", max_col="p_size_l", id_col="p_partkey"
    )
    return out.select(
        F.round(F.col("p_retailprice"), 2).alias("price"),
        F.col("p_size_l").alias("size"),
        F.col("n_rows").alias("n_parts"),
        F.col("min_id").alias("min_partkey"),
    )


@register(
    "url_canonical_dedup",
    """
    WITH u AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END)
             || (CASE WHEN doc_id % 2 = 0 THEN 'News.Example.COM'
                      ELSE 'blog.example.org' END)
             || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
             || (CASE WHEN doc_id % 11 = 0 THEN '/p//' ELSE '/p/' END)
             || CAST(doc_id % 100 AS VARCHAR)
             || (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_campaign=x'
                      WHEN doc_id % 5 = 1 THEN '?id=7&utm_medium=email'
                      WHEN doc_id % 5 = 2 THEN '?utm_content=a&id=7&page=2'
                      ELSE '' END)
             || (CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents
    ),
    c AS (
      SELECT doc_id,
        regexp_replace(
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1)),
          ':(443|80)$', '')
        ||
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*(.*)', 1),
            '#.*$', '', 'g'),
          '[?&](utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
          '^([^?&]*)&', '\\1?', 'g'),
          '//+', '/', 'g'),
          '/\\?', '?', 'g'),
          '/+$', '', 'g'),
          '\\?$', '', 'g') AS canonical_url
      FROM u
    )
    SELECT regexp_extract(canonical_url, '^[a-z]+://([^/:?#]+)', 1) AS domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
           CAST(count(*) - count(DISTINCT canonical_url) AS BIGINT)
             AS n_removed,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM c GROUP BY 1
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup via canonicalization (operators/text.py:
    url_canonicalize) — the normalization web-corpus pipelines run
    before URL dedup across dumps (the same page arrives as
    'HTTPS://Host.COM:443/p//7/?id=7&utm_medium=email#frag' and
    'https://host.com/p/7?utm_content=a&id=7'). The fixture has no URL
    column, so one is SYNTHESIZED deterministically from doc_id on both
    sides (the doc_url_filter discipline), with every noise axis the
    canonicalizer handles: scheme/host case, default port, duplicate
    path slash, trailing slash, tracking params (leading AND trailing,
    exercising the orphan-'&' repair), and fragments. 100 canonical
    classes under 500 docs ⇒ a real dedup ratio, pinned per domain.
    Plan: map-side regexp chain fused into the scan + ONE keyed agg
    (count distinct by domain) — at 100 TB the dedup itself is the
    exact-dedup fingerprint groupBy on canonical_url; this query reports
    the rollup."""
    from arrowhouse_spark.operators.text import url_canonicalize

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id",
        F.concat(
            F.when(d % 3 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
            F.when(d % 2 == 0, F.lit("News.Example.COM")).otherwise(
                F.lit("blog.example.org")
            ),
            F.when(d % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.lit("/p//")).otherwise(F.lit("/p/")),
            (d % 100).cast("string"),
            F.when(d % 13 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
            .when(d % 5 == 1, F.lit("?id=7&utm_medium=email"))
            .when(d % 5 == 2, F.lit("?utm_content=a&id=7&page=2"))
            .otherwise(F.lit("")),
            F.when(d % 9 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    c = url_canonicalize(with_url)
    dom = F.regexp_extract(F.col("canonical_url"), r"^[a-z]+://([^/:?#]+)", 1)
    return c.groupBy(dom.alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("canonical_url").cast("long").alias("n_canonical"),
        (F.count(F.lit(1)) - F.countDistinct("canonical_url"))
        .cast("long")
        .alias("n_removed"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


@register(
    "events_ewma_last",
    """
    WITH RECURSIVE wts(j, wt) AS (
      SELECT 0, CAST(1.0 AS DOUBLE)
      UNION ALL SELECT j + 1, wt * 0.75 FROM wts WHERE j < 31
    ),
    seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    lastn AS (
      SELECT user_id, max(rn) AS n, CAST(count(*) AS BIGINT) AS n_events
      FROM seq GROUP BY 1
    )
    SELECT s.user_id,
           max(l.n_events) AS n_events,
           round(CAST(sum(CAST(w.wt * s.value AS DECIMAL(38,15))) AS DOUBLE)
                 / CAST(sum(CAST(w.wt AS DECIMAL(38,15))) AS DOUBLE),
                 6) AS ewma_last
    FROM seq s
    JOIN lastn l ON l.user_id = s.user_id
    JOIN wts w ON w.j = l.n - s.rn
    WHERE l.n - s.rn < 32
    GROUP BY 1
    """,
)
def events_ewma_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA-smoothed latest activity level
    (operators/timeseries.py:ewma — normalized exponential weights,
    exact 32-term support, alpha=0.25). The sequential recurrence
    ``y_n = a x_n + (1-a) y_{n-1}`` no engine folds associatively;
    truncating at L=32 (tail weight <= 0.75^32 ~ 1e-4) turns it into a
    bounded per-key window both engines compute identically: weight
    ladder by repeated exact double multiplication (0.75^j exactly
    representable through j=31), each term DECIMAL(38,15)-quantized and
    summed exactly (source_entropy_report doctrine ⇒ combine-order-free),
    one double division, round 6. The oracle builds the identical ladder
    with a recursive CTE and joins it on lag. Plan: one user-keyed
    row_number window + one keyed rollup folding the last-32 tail ONCE
    per user (operators/timeseries.py:ewma_last — the per-row form ran
    the 32-term decimal fold for every event only to keep one row per
    user) — no global window, no Python."""
    from arrowhouse_spark.operators.timeseries import ewma_last

    ev = _events(spark, sf_dir)
    return ewma_last(
        ev, ["user_id"], ["ts", "event_id"], "value",
        alpha=0.25, lookback=32,
        out_col="ewma_last", count_col="n_events",
    )


@register(
    "regression_by_segment",
    """
    SELECT c_mktsegment,
           CAST(regr_count(o_totalprice, c_acctbal) AS BIGINT) AS n,
           round(regr_slope(o_totalprice, c_acctbal), 6) AS slope,
           round(regr_intercept(o_totalprice, c_acctbal), 4) AS intercept,
           round(regr_r2(o_totalprice, c_acctbal), 6) AS r2,
           round(regr_avgx(o_totalprice, c_acctbal), 4) AS avg_x,
           round(regr_avgy(o_totalprice, c_acctbal), 4) AS avg_y
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def regression_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares regression aggregates — the SQL:2003
    ``REGR_*`` family (slope/intercept/R²/means of order totalprice on
    customer account balance, per market segment). Absent from the
    reference's aggregate factory (`/root/reference/AggregateFunctions/
    IAggregateFunction.h:454-473` enables only count/sum/avg/min/max/any);
    engine-native superset here — Spark's `regr_*` run as Tungsten
    central-moment aggregates with partial→final combine, so the whole
    query is one broadcast join + one keyed agg, zero Python. Rounding to
    4-6 dp follows the stats_moments doctrine: the merge formula's double
    arithmetic is partition-order-sensitive in the last ulps, and the
    round collapses that (bit-exactness re-proved per round by the
    determinism audit). Plan at 100 TB: customer broadcasts (or shuffles
    at dim scale — semantics unchanged), orders streams map-side into the
    5-key partial agg; no window, no collect."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    y, x = F.col("o_totalprice"), F.col("c_acctbal")
    return j.groupBy("c_mktsegment").agg(
        F.regr_count(y, x).cast("long").alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 4).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 4).alias("avg_y"),
    )


@register(
    "retention_cohorts_weekly",
    """
    WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
    c AS (SELECT user_id, date_trunc('week', first_ts) AS cw FROM f),
    a AS (
      SELECT e.user_id, date_trunc('week', e.ts) AS w, c.cw
      FROM events e JOIN c USING (user_id)
    )
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', CAST(cw AS DATE), CAST(w AS DATE)) / 7
                AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM a GROUP BY 1, 2
    """,
)
def retention_cohorts_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — THE product-analytics rollup (users
    cohorted by first-activity week, counted in every later week they
    return). Week buckets are Monday-floored on both engines
    (date_trunc('week')), so the offset is an exact multiple of 7 days
    and integer-exact cross-engine. Plan: one keyed min (first touch),
    one broadcast join of the 1-row-per-user cohort relation back onto
    events, one distinct-count rollup — at 100 TB the cohort relation is
    user-dimension-sized (broadcast or shuffle join both fine), and no
    window appears anywhere."""
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = first.select(
        "user_id", F.date_trunc("week", "first_ts").alias("cw")
    )
    a = ev.join(F.broadcast(cohort), "user_id").select(
        "user_id", "cw", F.date_trunc("week", "ts").alias("w")
    )
    return a.groupBy(
        F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
        (F.datediff(F.to_date("w"), F.to_date("cw")) / 7)
        .cast("long")
        .alias("week_offset"),
    ).agg(F.countDistinct("user_id").cast("long").alias("n_users"))


@register(
    "activity_streaks_islands",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS seq
      FROM events
    ),
    r AS (
      SELECT user_id, seq,
             seq - row_number() OVER (PARTITION BY user_id ORDER BY seq)
               AS g
      FROM d
    ),
    i AS (SELECT user_id, g, count(*) AS len FROM r GROUP BY 1, 2)
    SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
    FROM i GROUP BY 1
    """,
)
def activity_streaks_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators/intervals.py:gaps_islands): per user,
    maximal streaks of CONSECUTIVE active days — the daily-streak /
    uptime-run pattern the session family (time-gap based) cannot
    express, because the grouping key is a VALUE run, not a time gap.
    The rn-difference trick keeps it one partitioned window + keyed aggs;
    day numbers are integer-exact on both engines. Plan: distinct
    (user, day) first — the window's input is bounded by users x days,
    not event volume — then O(1)-state window, two keyed rollups, all on
    the same user partitioning."""
    from arrowhouse_spark.operators.intervals import gaps_islands

    ev = _events(spark, sf_dir)
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "seq"
        ),
    ).distinct()
    isl = gaps_islands(days, ["user_id"], "seq", out_prefix="st")
    return isl.groupBy("user_id").agg(
        F.sum("st_len").cast("long").alias("active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("st_len").cast("long").alias("longest_streak"),
    )


@register(
    "activity_coverage_union",
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events
    ),
    f AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS nw
      FROM iv
    ),
    g AS (
      SELECT user_id, s, e,
             sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS grp
      FROM f
    ),
    m AS (
      SELECT user_id, grp, min(s) AS ms, max(e) AS me FROM g GROUP BY 1, 2
    )
    SELECT user_id, CAST(sum(me - ms) AS BIGINT) AS covered_us,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM m GROUP BY 1
    """,
)
def activity_coverage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage (operators/intervals.py:
    interval_union_length): total time covered by the UNION of each
    user's overlapping 5-minute activity windows — total-active-time /
    on-air-time, the question naive sum-of-durations OVERCOUNTS whenever
    windows overlap. The linear sweep (running max-end flags merged-run
    starts) replaces the naive range self-join; all arithmetic is exact
    microsecond integers. Plan: one shuffle on user, two O(1)-state
    windows over the same partitioning, two keyed rollups — no
    self-join, no global window, volume-linear."""
    from arrowhouse_spark.operators.intervals import interval_union_length

    ev = _events(spark, sf_dir)
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(300_000_000)).alias("e"),
    )
    return interval_union_length(
        iv, ["user_id"], "s", "e", out="covered_us"
    ).select(
        "user_id",
        F.col("covered_us").cast("long").alias("covered_us"),
        F.col("n_intervals").cast("long").alias("n_intervals"),
    )


@register(
    "kanon_release_daily",
    """
    WITH d AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, user_id, value
      FROM events
    ),
    g AS (
      SELECT event_type, day, count(DISTINCT user_id) AS nu
      FROM d GROUP BY 1, 2
    ),
    small AS (SELECT event_type, day FROM g WHERE nu < 50)
    SELECT d.event_type, d.day,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_individuals,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(d.value), 2) AS sum_value,
           false AS suppressed
    FROM d LEFT JOIN small s
      ON d.event_type = s.event_type AND d.day = s.day
    WHERE s.event_type IS NULL
    GROUP BY 1, 2
    UNION ALL
    SELECT '__suppressed__' AS event_type, '__suppressed__' AS day,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_individuals,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(d.value), 2) AS sum_value,
           true AS suppressed
    FROM d JOIN small s
      ON d.event_type = s.event_type AND d.day = s.day
    HAVING count(*) > 0
    """,
)
def kanon_release_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (operators/privacy.py:kanon_release):
    the (event_type, day) rollup may only leave the platform where >= 50
    distinct users back the cell; all smaller cells fold into ONE
    reconciling '__suppressed__' remainder row (so released totals still
    sum to the unsuppressed totals — the privacy companion to
    gdpr_purge_audit). k=50 splits the sf0.01 fixture (42..67 users per
    cell) so BOTH branches are exercised at the oracle gate; at sf0.001
    everything suppresses and at sf0.1 nothing does — both degenerate
    cases remain correct. Plan: one keyed distinct-count to find small
    cells, broadcast semi/anti split (small-cell relation is
    group-count-bounded), two aggregates — the dominant cost stays the
    one groupBy the plain rollup pays."""
    from arrowhouse_spark.operators.privacy import kanon_release

    ev = _events(spark, sf_dir)
    d = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
        "value",
    )
    return kanon_release(
        d,
        ["event_type", "day"],
        "user_id",
        {
            "n_rows": F.count(F.lit(1)).cast("long"),
            "sum_value": F.round(F.sum("value"), 2),
        },
        k=50,
    )


@register(
    "trailing_refetch_dedup",
    """
    WITH d AS (
      SELECT event_type, user_id, epoch_us(ts) AS tu, event_id FROM events
    ),
    l AS (
      SELECT event_type,
             tu - lag(tu) OVER (PARTITION BY user_id, event_type
                                ORDER BY tu, event_id) AS gap
      FROM d
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           CAST(count(*) - sum(CASE WHEN gap IS NOT NULL
                                    AND gap <= 600000000
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM l GROUP BY 1
    """,
)
def trailing_refetch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed dedup — a row is a duplicate iff the SAME
    fingerprint (user, event_type) re-occurred within the previous 10
    minutes; later re-occurrences count as fresh (the web-corpus
    re-crawl rule: a page fetched again months later is a new snapshot,
    the same page fetched twice in one crawl burst is a dup). Exact
    dedup (dedup_exact) has no time axis; this is its windowed sibling,
    one lag over the fingerprint partitioning in exact microsecond
    integers. Plan: one shuffle on the fingerprint, O(1) window state,
    one keyed rollup."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = ev.select(
        "event_type",
        (gap.isNotNull() & (gap <= F.lit(600_000_000)))
        .cast("int")
        .alias("is_dup"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        (F.count(F.lit(1)) - F.sum("is_dup")).cast("long").alias("n_kept"),
    )


@register(
    "cube_type_dow_totals",
    """
    WITH d AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow, value
      FROM events
    )
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(dow, -1) AS dow,
           CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM d GROUP BY CUBE (event_type, dow)
    """,
)
def cube_type_dow_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE / GROUPING SETS with grouping_id — the multi-dimensional
    rollup surface next to the plain ROLLUP query
    (rollup_status_priority): all four aggregation levels of
    (event_type, ISO day-of-week) in one pass, each row tagged with the
    engine's grouping bitmask (first CUBE column = most significant bit
    on BOTH engines — pinned by the oracle). ISO weekday (Mon=1..Sun=7)
    is the cross-engine-stable day key (Spark weekday()+1 == DuckDB
    isodow). Plan: Spark expands the cube map-side and aggregates all
    grouping sets in ONE partial→final pass — no N-pass union of
    separate rollups."""
    ev = _events(spark, sf_dir)
    d = ev.select(
        "event_type",
        (F.weekday("ts") + F.lit(1)).cast("long").alias("dow"),
        "value",
    )
    return (
        d.cube("event_type", "dow")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "gid",
            "n",
            "sum_value",
        )
    )


@register(
    "waterfill_source_budget",
    """
    WITH a AS (
      SELECT source,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS DOUBLE) AS av
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT 0.5 * sum(av) AS b FROM a),
    cand AS (
      SELECT t.av AS theta, sum(least(o.av, t.av)) AS al
      FROM a t, a o GROUP BY 1
    ),
    lo AS (
      SELECT coalesce(max(theta), 0) AS theta_lo
      FROM cand, tot WHERE al <= b
    ),
    lo2 AS (
      SELECT theta_lo,
             (SELECT sum(least(av, theta_lo)) FROM a) AS alloc_lo,
             (SELECT count(*) FROM a WHERE av > theta_lo) AS nu
      FROM lo
    ),
    star AS (
      SELECT CASE WHEN nu = 0 THEN theta_lo
                  ELSE theta_lo + (b - alloc_lo) / nu END AS theta
      FROM lo2, tot
    )
    SELECT source, CAST(av AS BIGINT) AS avail,
           round(least(av, theta), 4) AS alloc,
           round(least(av, theta) / av, 6) AS rate,
           av <= theta AS capped
    FROM a, star
    """,
)
def waterfill_source_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture design by waterfilling (operators/sampling.py:
    waterfill_allocation): spread a 50%-of-corpus token budget equally
    across the 20 sources, capped by each source's actual token
    availability — small sources contribute everything they have and
    their shortfall redistributes among the rest (the step that turns a
    target mixture into executable per-source sampling rates before
    source_mixed_sample draws the rows). Closed-form waterline via a
    sources² candidate join — NO iteration, NO window; availabilities
    are integer-exact so the anchor election is deterministic and the
    one double division has identical operands on both engines. Plan:
    one keyed agg over the doc scan, then dimension-sized joins only."""
    from arrowhouse_spark.operators.sampling import waterfill_allocation

    docs = _t(spark, sf_dir, "documents")
    av = docs.select(
        "source",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n"),
    ).groupBy("source").agg(F.sum("n").alias("av"))
    return waterfill_allocation(av, "source", "av", budget_frac=0.5)


@register(
    "mmr_diversified_topk",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    qv AS (SELECT q AS qq FROM v WHERE vec_id = 0),
    pool AS (
      SELECT vec_id, CAST(list_dot_product(v.q, qv.qq) AS BIGINT) AS s, v.q
      FROM v, qv WHERE vec_id <> 0
      ORDER BY s DESC, vec_id ASC LIMIT 50
    ),
    r1 AS (SELECT vec_id, s, q, CAST(0 AS BIGINT) AS pen FROM pool
           ORDER BY s DESC, vec_id ASC LIMIT 1),
    c2 AS (
      SELECT p.vec_id, p.s, p.q,
             CAST(list_dot_product(p.q, r1.q) AS BIGINT) AS pen
      FROM pool p, r1 WHERE p.vec_id <> r1.vec_id
    ),
    r2 AS (SELECT vec_id, s, q, pen FROM c2
           ORDER BY s - pen DESC, vec_id ASC LIMIT 1),
    s2 AS (SELECT vec_id, q FROM r1 UNION ALL SELECT vec_id, q FROM r2),
    c3 AS (
      SELECT p.vec_id, p.s, p.q,
             max(CAST(list_dot_product(p.q, s2.q) AS BIGINT)) AS pen
      FROM pool p, s2
      WHERE p.vec_id NOT IN (SELECT vec_id FROM s2)
      GROUP BY 1, 2, 3
    ),
    r3 AS (SELECT vec_id, s, q, pen FROM c3
           ORDER BY s - pen DESC, vec_id ASC LIMIT 1),
    s3 AS (SELECT vec_id, q FROM s2 UNION ALL SELECT vec_id, q FROM r3),
    c4 AS (
      SELECT p.vec_id, p.s, p.q,
             max(CAST(list_dot_product(p.q, s3.q) AS BIGINT)) AS pen
      FROM pool p, s3
      WHERE p.vec_id NOT IN (SELECT vec_id FROM s3)
      GROUP BY 1, 2, 3
    ),
    r4 AS (SELECT vec_id, s, q, pen FROM c4
           ORDER BY s - pen DESC, vec_id ASC LIMIT 1),
    s4 AS (SELECT vec_id, q FROM s3 UNION ALL SELECT vec_id, q FROM r4),
    c5 AS (
      SELECT p.vec_id, p.s, p.q,
             max(CAST(list_dot_product(p.q, s4.q) AS BIGINT)) AS pen
      FROM pool p, s4
      WHERE p.vec_id NOT IN (SELECT vec_id FROM s4)
      GROUP BY 1, 2, 3
    ),
    r5 AS (SELECT vec_id, s, q, pen FROM c5
           ORDER BY s - pen DESC, vec_id ASC LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS rank, vec_id, s, pen AS penalty,
           s - pen AS score FROM r1
    UNION ALL SELECT 2, vec_id, s, pen, s - pen FROM r2
    UNION ALL SELECT 3, vec_id, s, pen, s - pen FROM r3
    UNION ALL SELECT 4, vec_id, s, pen, s - pen FROM r4
    UNION ALL SELECT 5, vec_id, s, pen, s - pen FROM r5
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/similarity.py:mmr_topk) — the
    post-ANN stage that keeps the final k results from being five copies
    of the same cluster: greedy argmax of relevance minus max-similarity-
    to-already-picked over a top-50 candidate pool for query vector 0.
    Integer-exact by fixed-point quantization (floor(x*1000+0.5) — floor
    of identical doubles is bit-identical cross-engine, round() is not),
    so the greedy trace is deterministic and the oracle replays all five
    rounds hand-unrolled (the pq_adc_topk unrolled-oracle precedent).
    Plan: ANN bounds the pool FIRST (MMR is quadratic in its input, so
    it must only see a bounded relation); the ≤50-row pool is collected
    once and the k greedy rounds run driver-side in exact int64 numpy —
    driver state is pool_n rows, the kmeans-centroid precedent."""
    from arrowhouse_spark.operators.similarity import mmr_topk

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_topk(
        emb.filter(F.col("vec_id") != 0),
        emb.filter(F.col("vec_id") == 0),
        k=5,
        pool_n=50,
    )


def _hilbert_oracle_sql(bits: int = 8) -> str:
    """Unrolled xy2d replay for the hilbert_layout_manifest oracle: two
    CTEs per curve step (rx/ry election, then the simultaneous (x,y,d)
    update — SQL has no multiple-assignment, so each step is its own
    relation). All integer shift/mask/CASE arithmetic, bit-exact vs
    operators/layout.py:hilbert_value."""
    n1 = (1 << bits) - 1
    parts = [f"""
    WITH b AS (
      SELECT min(user_id) AS mnx, max(user_id) AS mxx,
             min(epoch_us(ts)) AS mny, max(epoch_us(ts)) AS mxy
      FROM events
    ),
    q AS (
      SELECT user_id AS raw_x, epoch_us(ts) AS raw_y,
        CASE WHEN mxx = mnx THEN 0
             ELSE CAST(((CAST(user_id AS HUGEINT) - mnx) * {n1})
                       // (CAST(mxx AS HUGEINT) - mnx) AS BIGINT) END AS x,
        CASE WHEN mxy = mny THEN 0
             ELSE CAST(((CAST(epoch_us(ts) AS HUGEINT) - mny) * {n1})
                       // (CAST(mxy AS HUGEINT) - mny) AS BIGINT) END AS y,
        CAST(0 AS BIGINT) AS d
      FROM events, b
    )"""]
    prev = "q"
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        parts.append(f""",
    r{i} AS (
      SELECT raw_x, raw_y, x, y, d,
             (x >> {i}) & 1 AS rx, (y >> {i}) & 1 AS ry
      FROM {prev}
    ),
    s{i} AS (
      SELECT raw_x, raw_y,
        CASE WHEN ry = 0
             THEN CASE WHEN rx = 1 THEN {n1} - y ELSE y END
             ELSE x END AS x,
        CASE WHEN ry = 0
             THEN CASE WHEN rx = 1 THEN {n1} - x ELSE x END
             ELSE y END AS y,
        d + {s * s} * xor(3 * rx, ry) AS d
      FROM r{i}
    )""")
        prev = f"s{i}"
    parts.append(f"""
    SELECT d >> 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(raw_x) AS BIGINT) AS min_x,
           CAST(max(raw_x) AS BIGINT) AS max_x,
           CAST(min(raw_y) AS BIGINT) AS min_y,
           CAST(max(raw_y) AS BIGINT) AS max_y
    FROM {prev} GROUP BY 1""")
    return "".join(parts)


@register("hilbert_layout_manifest", _hilbert_oracle_sql(8))
def hilbert_layout_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout manifest (operators/layout.py:hilbert_value)
    — the space-filling-curve sibling of zorder_key_layout with strictly
    better locality (no Morton diagonal jumps), over (user_id, event
    time) quantized to an 8-bit grid. The per-bucket min/max manifest is
    exactly what a lakehouse writes per data file after an OPTIMIZE
    rewrite: both dimensions' spans tighten simultaneously, which is the
    measurable point of the curve. Exact integer quantization (BIGINT
    DIV) + an unrolled integer xy2d — bit-exact on any engine, oracle
    replays the full unroll. Plan: 1-row bounds aggregate broadcast into
    a pure-codegen map-side expression chain (no UDF, no HOF), one keyed
    rollup; the layout rewrite itself is repartitionByRange(hvalue)."""
    from arrowhouse_spark.operators.layout import hilbert_value

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("x"), F.unix_micros("ts").alias("y")
    )
    hv = hilbert_value(ev, "x", "y", bits=8)
    return hv.groupBy(F.shiftright("hvalue", 10).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("min_x"),
        F.max("x").cast("long").alias("max_x"),
        F.min("y").cast("long").alias("min_y"),
        F.max("y").cast("long").alias("max_y"),
    )


def _kmv_hashed_cte() -> str:
    """Hashed (event_type, user) relation for the KMV oracles: Spark's JVM
    xxhash64 (seed 42) replayed over the user_id string via the proven
    arithmetic model (dedup_core._dd_spark_xxh64_str_stages)."""
    from arrowhouse_spark.suite.dedup_core import _dd_spark_xxh64_str_stages
    from arrowhouse_spark.suite.text_hash import _dd_chain

    inner = _dd_chain(
        "SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS t "
        "FROM events",
        _dd_spark_xxh64_str_stages("t", "H"),
        "event_type, H",
        base_cols=["event_type", "t"],
    )
    return f"hashed AS (SELECT event_type, H AS u FROM ({inner}))"


_KMV_EST = (
    "CASE WHEN {n} < 64 THEN CAST({n} AS DOUBLE) "
    "ELSE {big} / CAST({umax} AS DOUBLE) END"
).format


def _kmv_by_type_oracle() -> str:
    big = repr(63.0 * 18446744073709551616.0)
    return f"""
    WITH {_kmv_hashed_cte()},
    ranked AS (
      SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS r
      FROM (SELECT DISTINCT event_type, u FROM hashed)
    ),
    state AS (SELECT event_type, u FROM ranked WHERE r <= 64),
    perk AS (
      SELECT event_type, count(*) AS ns, max(u) AS umax
      FROM state GROUP BY 1
    ),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS exd
      FROM events GROUP BY 1
    )
    SELECT p.event_type AS event_type, CAST(ns AS BIGINT) AS n_state,
           round({_KMV_EST(n='ns', umax='umax', big=big)}, 2) AS est,
           CAST(exd AS BIGINT) AS exact_distinct
    FROM perk p JOIN ex USING (event_type)
    """


@register("kmv_distinct_users_by_type", _kmv_by_type_oracle())
def kmv_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct sketch (operators/aggstate.py:kmv_state) —
    the theta-family member of the mergeable-state set: unlike the HLL
    blob it is a PLAIN relation of the k smallest hash values, so it is
    partitionable at rest, byte-replayable by any engine with the same
    hash (the suite's bit-exact xxhash64 model), and — the reason to add
    it next to HLL — supports SET ALGEBRA (see
    kmv_union_intersect_types). Per event type: state occupancy, the
    (k-1)*2^64/u_k order-statistic estimate, and the exact distinct for
    context. Plan: distinct shuffle carries 8-byte hashes, one keyed
    window bounded to k rows per key, keyed rollups."""
    from arrowhouse_spark.operators.aggstate import kmv_estimate, kmv_state

    ev = _events(spark, sf_dir)
    st = kmv_state(ev, ["event_type"], "user_id", k=64)
    est = kmv_estimate(st, ["event_type"], k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_state", "est", "exact_distinct"
    )


def _kmv_union_oracle() -> str:
    big = repr(63.0 * 18446744073709551616.0)
    return f"""
    WITH {_kmv_hashed_cte()},
    ranked AS (
      SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS r
      FROM (SELECT DISTINCT event_type, u FROM hashed)
    ),
    sa AS (SELECT u FROM ranked WHERE event_type = 'click' AND r <= 64),
    sb AS (SELECT u FROM ranked WHERE event_type = 'view' AND r <= 64),
    uni AS (
      SELECT u FROM (SELECT u FROM sa UNION SELECT u FROM sb)
      ORDER BY u LIMIT 64
    ),
    marked AS (
      SELECT uni.u,
             CASE WHEN sa.u IS NOT NULL AND sb.u IS NOT NULL THEN 1
                  ELSE 0 END AS in_both
      FROM uni LEFT JOIN sa ON uni.u = sa.u LEFT JOIN sb ON uni.u = sb.u
    ),
    agg AS (
      SELECT count(*) AS nu, max(u) AS umax, sum(in_both) AS nb FROM marked
    ),
    ex AS (
      SELECT count(DISTINCT user_id) FILTER (
               WHERE event_type IN ('click', 'view')) AS ex_union,
             count(DISTINCT CASE WHEN c > 0 AND v > 0
                                 THEN user_id END) AS ex_inter
      FROM (
        SELECT user_id, event_type,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id) AS c,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id) AS v
        FROM events WHERE event_type IN ('click', 'view')
      )
    )
    SELECT CAST(nu AS BIGINT) AS n_union_state,
           round({_KMV_EST(n='nu', umax='umax', big=big)}, 2) AS union_est,
           round(CAST(nb AS DOUBLE) / nu, 6) AS jaccard,
           round((CAST(nb AS DOUBLE) / nu)
                 * ({_KMV_EST(n='nu', umax='umax', big=big)}), 2)
             AS intersect_est,
           CAST(ex_union AS BIGINT) AS exact_union,
           CAST(ex_inter AS BIGINT) AS exact_intersect
    FROM agg, ex
    """


@register("kmv_union_intersect_types", _kmv_union_oracle())
def kmv_union_intersect_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra (operators/aggstate.py:kmv_union_intersect) — the
    estimates HLL cannot give: union cardinality from the merged sketch,
    Jaccard resemblance as the fraction of the union sketch's k minima
    present in BOTH inputs (Beyer et al.'s KMV estimator), and the
    intersection as jaccard x union. Inputs are the stored per-type
    sketches of kmv_distinct_users_by_type — set algebra over states at
    rest, never over the raw corpus. Exact union/intersection included
    for context. Plan: every relation after the state build is <= k rows
    — TakeOrdered + broadcast-trivial joins."""
    from arrowhouse_spark.operators.aggstate import (
        kmv_state,
        kmv_union_intersect,
    )

    ev = _events(spark, sf_dir)
    st = kmv_state(ev, ["event_type"], "user_id", k=64)
    sa = st.filter(F.col("event_type") == "click").select("r", "u")
    sb = st.filter(F.col("event_type") == "view").select("r", "u")
    est = kmv_union_intersect(sa, sb, k=64)
    both = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("c"),
            F.max((F.col("event_type") == "view").cast("int")).alias("v"),
        )
    )
    exact = both.agg(
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(((F.col("c") == 1) & (F.col("v") == 1)).cast("long"))
        .cast("long")
        .alias("exact_intersect"),
    )
    return est.crossJoin(F.broadcast(exact))


@register(
    "grid_radius_pairs_events",
    """
    WITH p AS (
      SELECT event_id AS id,
             (event_id * 2654435761) % 1000 AS x,
             (event_id * 40503) % 1000 AS y
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS BIGINT)
             AS min_d2,
           CAST(max((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS BIGINT)
             AS max_d2,
           CAST(min(a.id) AS BIGINT) AS min_id_a,
           CAST(sum(a.id + b.id) AS BIGINT) AS id_checksum
    FROM p a, p b
    WHERE a.id < b.id
      AND b.x BETWEEN a.x - 8 AND a.x + 8
      AND b.y BETWEEN a.y - 8 AND a.y + 8
      AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 64
    """,
)
def grid_radius_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join (operators/spatial.py:grid_radius_pairs)
    — all point pairs within Euclidean distance 8 on a synthesized
    1000x1000 integer grid (deterministic Knuth-multiplier scatter of
    event_id, identical on both engines). The Spark plan is the
    NEIGHBOR-CELL form — explode to 3x3 r-sized cells + one hash
    equi-join, the only shape that survives at scale — while the ORACLE
    is the O(n²) brute-force with the raw distance predicate: the
    comparison certifies candidate-generation COMPLETENESS (every true
    pair found), not just precision, which same-algorithm replay could
    never prove. Rolled up to a count/extremes/checksum row so the
    surface is volume-independent."""
    from arrowhouse_spark.operators.spatial import grid_radius_pairs

    ev = _events(spark, sf_dir)
    p = ev.select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * F.lit(2654435761)) % 1000).alias("x"),
        ((F.col("event_id") * F.lit(40503)) % 1000).alias("y"),
    )
    pairs = grid_radius_pairs(p, "id", "x", "y", radius=8)
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("dist2").cast("long").alias("min_d2"),
        F.max("dist2").cast("long").alias("max_d2"),
        F.min("id_a").cast("long").alias("min_id_a"),
        F.sum(F.col("id_a") + F.col("id_b")).cast("long").alias("id_checksum"),
    )


@register(
    "attribution_position_based",
    """
    WITH tagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
             CASE WHEN event_type = 'click' THEN
               ['email', 'search', 'social', 'direct']
                 [CAST(json_extract(props, '$.k') AS BIGINT) % 4 + 1]
             END AS ch
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    j AS (
      SELECT *, coalesce(sum(side) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jny
      FROM tagged
    ),
    clicks AS (
      SELECT user_id, jny, ch,
             row_number() OVER (PARTITION BY user_id, jny ORDER BY ts,
                                event_id) AS p,
             count(*) OVER (PARTITION BY user_id, jny) AS n
      FROM j WHERE side = 0
    ),
    purchases AS (
      SELECT user_id, jny,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM j WHERE side = 1
    ),
    credited AS (
      SELECT c.ch, p.cents,
             CASE WHEN c.n = 1 THEN 1000000
                  WHEN c.n = 2 THEN 500000
                  WHEN c.p = 1 OR c.p = c.n THEN 400000
                  WHEN c.p = 2 THEN 200000 // (c.n - 2)
                                   + 200000 % (c.n - 2)
                  ELSE 200000 // (c.n - 2) END AS credit
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id AND c.jny = p.jny
    ),
    unattr AS (
      SELECT 'unattributed' AS ch, p.cents, 1000000 AS credit
      FROM purchases p LEFT JOIN (
        SELECT DISTINCT user_id, jny FROM clicks
      ) c ON p.user_id = c.user_id AND p.jny = c.jny
      WHERE c.user_id IS NULL
    ),
    allc AS (SELECT * FROM credited UNION ALL SELECT * FROM unattr)
    SELECT ch AS channel, CAST(count(*) AS BIGINT) AS n_credits,
           CAST(sum(credit) AS BIGINT) AS credit_millionths,
           CAST(sum(cents * credit) AS BIGINT) AS revenue_micro
    FROM allc GROUP BY 1
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) MULTI-touch attribution — completes the
    attribution family next to first/last touch: each purchase's credit
    splits over its journey's clicks (journey = clicks since the user's
    previous purchase, so every click belongs to exactly ONE journey and
    the plan stays linear — never the all-preceding-clicks quadratic
    form): 40% first, 40% last, 20% shared by the middles. Credits are
    INTEGER MILLIONTHS with the divisor remainder assigned to the
    earliest middle touch, and revenue is cents x credit — the whole
    query is exact integer arithmetic, no float ever (total credit
    reconciles to 1e6 x purchases by construction). Plan: one exclusive-
    frame running sum assigns journeys, two more windows on the SAME
    (user, journey) partitioning rank the clicks, one keyed join
    attaches purchase value, one rollup."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    channels = F.array(
        F.lit("email"), F.lit("search"), F.lit("social"), F.lit("direct")
    )
    ch = F.element_at(
        channels,
        (F.get_json_object("props", "$.k").cast("long") % 4 + 1).cast("int"),
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("side"),
        F.when(F.col("event_type") == "click", ch).alias("ch"),
    )
    w_excl = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = tagged.withColumn(
        "jny", F.coalesce(F.sum("side").over(w_excl), F.lit(0))
    )
    wj = Window.partitionBy("user_id", "jny")
    clicks = (
        j.filter(F.col("side") == 0)
        .withColumn("p", F.row_number().over(wj.orderBy("ts", "event_id")))
        .withColumn("n", F.count(F.lit(1)).over(wj))
        .select("user_id", "jny", "ch", "p", "n")
    )
    purchases = j.filter(F.col("side") == 1).select(
        "user_id",
        "jny",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    n, p = F.col("n"), F.col("p")
    mid = F.expr("200000 DIV (n - 2)")
    credit = (
        F.when(n == 1, F.lit(1_000_000))
        .when(n == 2, F.lit(500_000))
        .when((p == 1) | (p == n), F.lit(400_000))
        .when(p == 2, mid + F.expr("200000 % (n - 2)"))
        .otherwise(mid)
    )
    credited = clicks.join(purchases, ["user_id", "jny"]).select(
        "ch", "cents", credit.cast("long").alias("credit")
    )
    unattr = (
        purchases.join(
            clicks.select("user_id", "jny").distinct(),
            ["user_id", "jny"],
            "left_anti",
        )
        .select(
            F.lit("unattributed").alias("ch"),
            "cents",
            F.lit(1_000_000).cast("long").alias("credit"),
        )
    )
    allc = credited.unionByName(unattr)
    return allc.groupBy(F.col("ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        F.sum("credit").cast("long").alias("credit_millionths"),
        F.sum(F.col("cents") * F.col("credit"))
        .cast("long")
        .alias("revenue_micro"),
    )


@register(
    "seasonal_profile_hourly",
    """
    WITH b AS (
      SELECT event_type, CAST(hour(ts) AS INTEGER) AS bucket,
             count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS s
      FROM events GROUP BY 1, 2
    ),
    lvl AS (
      SELECT event_type,
             CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS lvl
      FROM b GROUP BY 1
    )
    SELECT b.event_type, b.bucket, CAST(b.n AS BIGINT) AS n,
           round(CAST(s AS DOUBLE) / CAST(b.n AS DOUBLE) + 1e-9, 6)
             AS seasonal_mean,
           round(lvl + 1e-9, 6) AS level,
           round(CAST(s AS DOUBLE) / CAST(b.n AS DOUBLE) - lvl + 1e-9, 6)
             AS seasonal_dev
    FROM b JOIN lvl USING (event_type)
    """,
)
def seasonal_profile_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (operators/timeseries.py:
    seasonal_profile): per event type, the hour-of-day profile — bucket
    mean, overall level, and the seasonal deviation anomaly detectors
    subtract before thresholding (zscore/MAD outliers upstream of this
    operator fire on "every evening is busy"; after it they fire on
    actually-unusual evenings). Exact DECIMAL(38,2) sums, one double
    division per ratio with engine-identical operands, +1e-9 nudge at
    the 6-dp rounding (cents/n hits an exact midpoint whenever
    v2(n)=5). Plan: ONE scan — two keyed aggregates (the level
    re-aggregates the bucket sums) + a broadcast of the type-sized level
    relation; no window."""
    from arrowhouse_spark.operators.timeseries import seasonal_profile

    ev = _events(spark, sf_dir)
    return seasonal_profile(
        ev,
        ["event_type"],
        "ts",
        "value",
        period_expr=F.hour("ts").cast("int"),
    )


@register(
    "classifier_quality_filter",
    """
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, source,
             (('0x' || substr(md5('clf' || tok), 1, 8))::UBIGINT
              % 1024)::BIGINT AS bucket
      FROM toks
    ),
    w AS (
      SELECT range AS bucket,
             (range * 2654435761) % 2001 - 1000 AS w
      FROM range(1024)
    ),
    tok_scored AS (
      SELECT b.doc_id, b.source,
             CAST(sum(coalesce(w.w, 0)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM bucketed b LEFT JOIN w ON b.bucket = w.bucket
      GROUP BY 1, 2
    ),
    scored AS (
      -- left join back onto documents: an all-whitespace/empty doc has no
      -- token rows but still gets a bias-only logit (engine-side
      -- explode_outer semantics)
      SELECT d.doc_id, d.source,
             CAST(coalesce(t.s, 0) - 1000 AS BIGINT) AS logit,
             CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens
      FROM documents d
      LEFT JOIN tok_scored t ON d.doc_id = t.doc_id AND d.source = t.source
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(logit) AS BIGINT) AS sum_logit,
           CAST(max(logit) AS BIGINT) AS max_logit,
           CAST(min(logit) AS BIGINT) AS min_logit
    FROM scored GROUP BY 1
    """,
)
def classifier_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretrained linear quality-classifier inference (operators/
    quality.py:linear_classifier_score) — the CCNet/fastText pattern:
    score every document with an offline-trained bag-of-words model and
    keep logit > 0. The weight table here is a DETERMINISTIC SYNTHETIC
    stand-in (Knuth-multiplier integers in [-1000,1000] per bucket — the
    weights a real training run would store; the Spark-side plumbing —
    hashing-trick features, broadcast model join, thresholding — is the
    real product surface, per the stub doctrine for unavailable
    artifacts). Integer weights make every logit and keep/drop decision
    exact on any engine (sigmoid is monotone — thresholding never needs
    the exp). Plan: explode+bucket map-side, ONE broadcast join against
    the 1024-row model, one keyed sum per doc, one rollup per source."""
    from arrowhouse_spark.operators.quality import linear_classifier_score

    docs = _t(spark, sf_dir, "documents")
    spark_w = (
        docs.sparkSession.range(1024)
        .select(
            F.col("id").cast("long").alias("bucket"),
            ((F.col("id") * F.lit(2654435761)) % 2001 - 1000).alias("w"),
        )
    )
    scored = linear_classifier_score(
        docs, "text", spark_w, ["doc_id", "source"], n_buckets=1024,
        bias=-1000,
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("logit") > 0).cast("long")).cast("long").alias("n_kept"),
        F.sum("logit").cast("long").alias("sum_logit"),
        F.max("logit").cast("long").alias("max_logit"),
        F.min("logit").cast("long").alias("min_logit"),
    )


@register(
    "seasonal_anomaly_counts",
    """
    WITH d AS (
      SELECT event_type, CAST(hour(ts) AS INTEGER) AS bucket, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    stats AS (
      SELECT event_type, bucket, count(*) AS n, sum(cents) AS s,
             sum(cents * cents) AS ssq
      FROM d GROUP BY 1, 2
    ),
    flagged AS (
      SELECT d.event_type, d.event_id,
             CASE WHEN stats.n >= 2
                   AND (d.cents * stats.n - stats.s)
                     * (d.cents * stats.n - stats.s)
                     > 9 * (stats.n * stats.ssq - stats.s * stats.s)
                  THEN 1 ELSE 0 END AS anom
      FROM d JOIN stats USING (event_type, bucket)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(anom) AS BIGINT) AS n_anomalies,
           CAST(min(CASE WHEN anom = 1 THEN event_id END) AS BIGINT)
             AS first_anom_id
    FROM flagged GROUP BY 1
    """,
)
def seasonal_anomaly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection — the composition
    seasonal_profile exists FOR: an event is anomalous iff it sits more
    than 3 sigma from its OWN (type, hour-of-day) bucket's mean, so
    "every evening is busy" never trips (the plain zscore_outliers
    upstream fires on daily rhythm; this fires on unusual-for-the-hour).
    Entirely INTEGER arithmetic: with cents c, bucket count n, sum s and
    sum-of-squares ssq, the 3-sigma test (c − s/n)² > 9·var rearranges to
    (c·n − s)² > 9·(n·ssq − s²) — no division, no sqrt, no float — so
    every flag decision is bit-identical on any engine (the
    boundary-free form of the zscore doctrine). Plan: one keyed
    stats aggregate joined back map-side (the stats relation is
    type×24 rows, broadcast), one rollup; two scans of the same
    pushdown-pruned columns."""
    ev = _events(spark, sf_dir)
    d = ev.select(
        "event_type",
        F.hour("ts").cast("int").alias("bucket"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    stats = d.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ssq"),
    )
    j = d.join(F.broadcast(stats), ["event_type", "bucket"])
    dev = F.col("cents") * F.col("n") - F.col("s")
    var9 = F.lit(9) * (F.col("n") * F.col("ssq") - F.col("s") * F.col("s"))
    anom = ((F.col("n") >= 2) & (dev * dev > var9)).cast("int")
    return (
        j.withColumn("anom", anom)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("anom").cast("long").alias("n_anomalies"),
            F.min(F.when(F.col("anom") == 1, F.col("event_id")))
            .cast("long")
            .alias("first_anom_id"),
        )
    )


@register(
    "ingest_gap_audit",
    """
    WITH received AS (
      SELECT doc_id, doc_id // 100 AS shard FROM documents
      WHERE doc_id % 97 <> 0
    ),
    r AS (
      SELECT shard, doc_id,
             doc_id - row_number() OVER (PARTITION BY shard
                                         ORDER BY doc_id) AS g
      FROM received
    ),
    isl AS (
      SELECT shard, g, min(doc_id) AS st, max(doc_id) AS en,
             count(*) AS len
      FROM r GROUP BY 1, 2
    )
    SELECT shard, CAST(sum(len) AS BIGINT) AS n_received,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(count(*) - 1 AS BIGINT) AS n_gaps,
           CAST(min(st) AS BIGINT) AS first_id,
           CAST(max(en) AS BIGINT) AS last_id,
           CAST(max(en) - min(st) + 1 - sum(len) AS BIGINT) AS n_missing
    FROM isl GROUP BY 1
    """,
)
def ingest_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-completeness audit (operators/intervals.py:gaps_islands in
    its second role): given the ids actually RECEIVED per shard, the
    islands' complement IS the missing-id report — every batch-ingest
    pipeline runs exactly this to find dropped files/ranges before
    training on a hole-y corpus. The fixture simulates loss by dropping
    doc_id % 97 == 0 (the gdpr_purge_audit tombstone convention), shards
    by id-range; output per shard: received count, contiguous islands,
    gap count, and missing-id count inside the observed span — all
    integer-exact. Plan: one shard-partitioned window + two keyed
    rollups on the same key; at 100 TB the shard is the natural file
    boundary the audit is asked about."""
    from arrowhouse_spark.operators.intervals import gaps_islands

    docs = _t(spark, sf_dir, "documents")
    received = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.expr("doc_id DIV 100").alias("shard")
    )
    isl = gaps_islands(received, ["shard"], "doc_id", out_prefix="run")
    return isl.groupBy("shard").agg(
        F.sum("run_len").cast("long").alias("n_received"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_gaps"),
        F.min("run_start").cast("long").alias("first_id"),
        F.max("run_end").cast("long").alias("last_id"),
        (
            F.max("run_end") - F.min("run_start") + 1 - F.sum("run_len")
        )
        .cast("long")
        .alias("n_missing"),
    )


def _curve_locality_oracle_sql(bits: int = 8) -> str:
    """Oracle for hilbert_vs_zorder_locality: quantize once, compute BOTH
    curve keys (the Hilbert unroll reuses the xy2d step chain; Morton is
    a plain bit interleave), bucket each by its top bits, and report the
    per-bucket coordinate-span totals per curve — all integer."""
    n1 = (1 << bits) - 1
    parts = [f"""
    WITH b AS (
      SELECT min(user_id) AS mnx, max(user_id) AS mxx,
             min(epoch_us(ts)) AS mny, max(epoch_us(ts)) AS mxy
      FROM events
    ),
    q AS (
      SELECT
        CASE WHEN mxx = mnx THEN 0
             ELSE CAST(((CAST(user_id AS HUGEINT) - mnx) * {n1})
                       // (CAST(mxx AS HUGEINT) - mnx) AS BIGINT) END AS qx,
        CASE WHEN mxy = mny THEN 0
             ELSE CAST(((CAST(epoch_us(ts) AS HUGEINT) - mny) * {n1})
                       // (CAST(mxy AS HUGEINT) - mny) AS BIGINT) END AS qy
      FROM events, b
    ),
    h0 AS (SELECT qx, qy, qx AS x, qy AS y, CAST(0 AS BIGINT) AS d FROM q)"""]
    prev = "h0"
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        parts.append(f""",
    hr{i} AS (
      SELECT qx, qy, x, y, d, (x >> {i}) & 1 AS rx, (y >> {i}) & 1 AS ry
      FROM {prev}
    ),
    hs{i} AS (
      SELECT qx, qy,
        CASE WHEN ry = 0
             THEN CASE WHEN rx = 1 THEN {n1} - y ELSE y END ELSE x END AS x,
        CASE WHEN ry = 0
             THEN CASE WHEN rx = 1 THEN {n1} - x ELSE x END ELSE y END AS y,
        d + {s * s} * xor(3 * rx, ry) AS d
      FROM hr{i}
    )""")
        prev = f"hs{i}"
    z_terms = " + ".join(
        f"(((qx >> {b}) & 1) << {2 * b}) + (((qy >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    parts.append(f""",
    keyed AS (
      SELECT 'hilbert' AS curve, (d * 48) // 65536 AS bucket, qx, qy FROM {prev}
      UNION ALL
      SELECT 'zorder' AS curve, (({z_terms}) * 48) // 65536 AS bucket, qx, qy FROM q
    ),
    spans AS (
      SELECT curve, bucket,
             max(qx) - min(qx) AS sx, max(qy) - min(qy) AS sy
      FROM keyed GROUP BY 1, 2
    )
    SELECT curve, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sx) AS BIGINT) AS sum_span_x,
           CAST(sum(sy) AS BIGINT) AS sum_span_y,
           CAST(max(sx) AS BIGINT) AS max_span_x,
           CAST(max(sy) AS BIGINT) AS max_span_y
    FROM spans GROUP BY 1""")
    return "".join(parts)


@register("hilbert_vs_zorder_locality", _curve_locality_oracle_sql(8))
def hilbert_vs_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured A/B of the two space-filling-curve layouts over the SAME
    8-bit quantized (user_id, event-time) coordinates: split each curve's
    key range into 48 MISALIGNED buckets (key*48 DIV 2^16 — what
    repartitionByRange produces with arbitrary boundaries) and total the
    per-bucket coordinate SPANS, the quantity min/max file statistics
    prune on. The bucketing is deliberately NOT a power-of-two shift:
    top-bit buckets of BOTH curves are the same aligned quadrant tiles
    (both are hierarchical quadrant decompositions — measured identical
    spans at >>10), so the curves only differ on ranges that cross tile
    boundaries, exactly the ranges a range-partitioner cuts. Measured at
    sf0.01: Hilbert sums (2114, 2180) vs Morton's (2899, 1933) — ~11%
    less total span and balanced across dimensions, the unit-step
    property as data rather than a docstring claim. All integer
    arithmetic (shared DIV quantization, xy2d unroll, bit interleave) —
    the oracle replays both curves exactly. Plan: one bounds broadcast,
    map-side key computation for both curves over one scan subtree,
    two keyed rollups."""
    from arrowhouse_spark.operators.layout import hilbert_value

    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.min("user_id").alias("mnx"), F.max("user_id").alias("mxx"),
        F.min(F.unix_micros("ts")).alias("mny"),
        F.max(F.unix_micros("ts")).alias("mxy"),
    )
    n1 = 255
    q = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("mxx") == F.col("mnx"), F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                f"((CAST(user_id AS DECIMAL(38,0)) - mnx) * {n1}) "
                f"DIV (CAST(mxx AS DECIMAL(38,0)) - mnx)"
            )
        )
        .alias("qx"),
        F.when(F.col("mxy") == F.col("mny"), F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                f"((CAST(unix_micros(ts) AS DECIMAL(38,0)) - mny) * {n1}) "
                f"DIV (CAST(mxy AS DECIMAL(38,0)) - mny)"
            )
        )
        .alias("qy"),
    )
    hv = hilbert_value(q, "qx", "qy", bits=8).select(
        F.lit("hilbert").alias("curve"),
        F.expr("(hvalue * 48) DIV 65536").alias("bucket"),
        "qx",
        "qy",
    )
    z = None
    for b in range(8):
        t = F.shiftleft(
            F.shiftright(F.col("qx"), b).bitwiseAND(F.lit(1)), 2 * b
        ) + F.shiftleft(
            F.shiftright(F.col("qy"), b).bitwiseAND(F.lit(1)), 2 * b + 1
        )
        z = t if z is None else z + t
    zv = q.select(
        F.lit("zorder").alias("curve"),
        (z * 48).alias("__zs"),
        "qx",
        "qy",
    ).select(
        "curve",
        F.expr("__zs DIV 65536").alias("bucket"),
        "qx",
        "qy",
    )
    spans = (
        hv.unionByName(zv)
        .groupBy("curve", "bucket")
        .agg(
            (F.max("qx") - F.min("qx")).alias("sx"),
            (F.max("qy") - F.min("qy")).alias("sy"),
        )
    )
    return spans.groupBy("curve").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("sx").cast("long").alias("sum_span_x"),
        F.sum("sy").cast("long").alias("sum_span_y"),
        F.max("sx").cast("long").alias("max_span_x"),
        F.max("sy").cast("long").alias("max_span_y"),
    )


def _kmv_weekly_oracle() -> str:
    """Oracle for kmv_state_merge_weekly: hash the distinct users once
    (the proven xxhash64 replay), attach each user's hash to every day it
    appeared, build per-day bottom-64 states, merge to weeks, estimate."""
    from arrowhouse_spark.suite.dedup_core import _dd_spark_xxh64_str_stages
    from arrowhouse_spark.suite.text_hash import _dd_chain

    inner = _dd_chain(
        "SELECT DISTINCT CAST(user_id AS VARCHAR) AS t FROM events",
        _dd_spark_xxh64_str_stages("t", "H"),
        "t, H",
        base_cols=["t"],
    )
    big = repr(63.0 * 18446744073709551616.0)
    return f"""
    WITH hashed AS (
      SELECT DISTINCT
             CAST(epoch_us(CAST(e.ts AS TIMESTAMP)) // 86400000000
                  AS BIGINT) AS day,
             h.u
      FROM events e JOIN (SELECT t, H AS u FROM ({inner})) h
        ON CAST(e.user_id AS VARCHAR) = h.t
    ),
    daily AS (
      SELECT day, u, row_number() OVER (PARTITION BY day ORDER BY u) AS r
      FROM hashed
    ),
    stored AS (SELECT day, u FROM daily WHERE r <= 64),
    weekly AS (
      SELECT wk, u, row_number() OVER (PARTITION BY wk ORDER BY u) AS r
      FROM (SELECT DISTINCT day // 7 AS wk, u FROM stored)
    ),
    wstate AS (SELECT wk, u FROM weekly WHERE r <= 64),
    perwk AS (
      SELECT wk, count(*) AS ns, max(u) AS umax FROM wstate GROUP BY 1
    ),
    ex AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
               // 7 AS wk,
             count(DISTINCT user_id) AS exd
      FROM events GROUP BY 1
    )
    SELECT p.wk AS week, CAST(ns AS BIGINT) AS n_state,
           round(CASE WHEN ns < 64 THEN CAST(ns AS DOUBLE)
                 ELSE {big} / CAST(umax AS DOUBLE) END, 2) AS est,
           CAST(exd AS BIGINT) AS exact_distinct
    FROM perwk p JOIN ex USING (wk)
    """


@register("kmv_state_merge_weekly", _kmv_weekly_oracle())
def kmv_state_merge_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KMV rollup — the -State/-Merge workflow for the new
    sketch, mirroring hll_state_merge_daily: per-DAY KMV states are what
    a pipeline stores (k rows per day, computed from that day's scan
    only); the weekly distinct-count needs only kmv_merge over the
    stored states + kmv_estimate — history-scan-free, idempotent under
    replayed days. Exact distinct included for context. Plan: the daily
    state build is the only volume-touching pass; the merge runs on
    k x days rows."""
    from arrowhouse_spark.operators.aggstate import (
        kmv_estimate,
        kmv_merge,
        kmv_state,
    )

    ev = _events(spark, sf_dir)
    d = ev.select(
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"), "user_id"
    )
    daily = kmv_state(d, ["day"], "user_id", k=64)
    weekly = kmv_merge(
        daily.withColumn("wk", F.expr("day DIV 7")).drop("day"), ["wk"], k=64
    )
    est = kmv_estimate(weekly, ["wk"], k=64)
    exact = d.groupBy(F.expr("day DIV 7").alias("wk")).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "wk").select(
        F.col("wk").alias("week"), "n_state", "est", "exact_distinct"
    )
