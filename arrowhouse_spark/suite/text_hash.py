"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrowhouse_spark.compile import apply_program
from arrowhouse_spark.functions import hashing
from arrowhouse_spark.operators.dedup import ngram_jaccard_pairs
from arrowhouse_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from arrowhouse_spark.program import Assign, Op, Program, ProgramStep, const

from arrowhouse_spark.suite import (
    _events,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# 7. Training-data pipeline: text analysis
# ---------------------------------------------------------------------------


@register(
    "doc_token_count",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INTEGER) AS n_tokens
    FROM documents
    """,
)
def doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(_t(spark, sf_dir, "documents")).select("doc_id", "n_tokens")


@register(
    "doc_quality",
    """
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars_q,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
             len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS n_uniq
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           round(n_uniq / greatest(n_tokens, 1), 6) AS uniq_ratio,
           round(least(n_tokens / 100.0, 1.0) * round(n_uniq / greatest(n_tokens, 1), 6), 6) AS quality
    FROM t
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "uniq_ratio", "quality"
    )


@register(
    "doc_lang_id",
    # scores = |distinct tokens ∩ markers|; argmax, lexicographic tie-break
    """
    WITH t AS (
      SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(list_intersect(toks, ['der','die','und','das','ist'])) AS score_de,
             len(list_intersect(toks, ['the','and','of','to','a']))     AS score_en,
             len(list_intersect(toks, ['el','la','de','que','y']))      AS score_es,
             len(list_intersect(toks, ['le','la','et','les','des']))    AS score_fr
      FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'unknown'
                WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred")


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fp")


@register(
    "percentile_by_group",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (continuous interpolation ≡ DuckDB
    quantile_cont). One shuffle by group; at scale swap F.percentile for
    percentile_approx — same plan, sketch-sized state."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("l_extendedprice", F.lit(p)), 4).alias(name)
            for p, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
        ]
    )


@register(
    "array_agg_sorted",
    """
    SELECT o_custkey,
           CAST(len(list(o_orderkey)) AS BIGINT) AS n_orders,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS orderkeys
    FROM orders
    WHERE o_custkey % 101 = 0
    GROUP BY o_custkey
    """,
)
def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with deterministic order: collect_list is
    order-nondeterministic under parallel merge, so sort_array fixes the
    result. Emitted as a canonical comma-joined string because the driver's
    hash-compare layer (pandas) cannot sort/hash list-typed cells."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 101 == 0)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias("orderkeys"),
        )
    )


@register(
    "regexp_extract_docs",
    """
    SELECT doc_id,
           regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_numbers
    FROM documents WHERE doc_id % 53 = 0
    """,
)
def regexp_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp extraction stays JVM-side (codegen'd java.util.regex) — the
    pattern class shared with DuckDB's RE2 here is restricted to constructs
    both engines treat identically."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 53 == 0)
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([A-Za-z]+)", 1).alias("first_word"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"))).alias("n_numbers"),
    )


@register(
    "cohort_retention",
    """
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, c.cohort_week,
             CAST((epoch(date_trunc('week', e.ts)) - epoch(c.cohort_week))
                  / 604800 AS BIGINT) AS week_offset
      FROM events e JOIN cohort c USING (user_id)
      WHERE e.ts >= c.cohort_week
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by signup week, counted
    once per (cohort, week-offset) they were active in. Two aggregations
    keyed by user then (cohort, offset) — the distinct collapses map-side
    before the count shuffle."""
    ev = _events(spark, sf_dir).withColumn("t", F.col("ts"))
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("t")).alias("cohort_week"))
    )
    activity = (
        ev.join(cohort, "user_id")
        .filter(F.col("t") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("t")))
                    - F.unix_timestamp(F.col("cohort_week"))
                )
                / 604800
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_users",
    )


@register(
    "json_props_stats",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the JSON ``props`` payload with
    a typed schema (from_json stays in codegen; schema explicit ≡ the
    reference's fixed-header contract) and aggregate the extracted field."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "ssa_checked_arith",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN floor(l_quantity) - 24 = 0 THEN NULL
                ELSE l_extendedprice / (floor(l_quantity) - 24)
           END AS safe_ratio,
           CASE WHEN floor(l_quantity) - 24 = 0 THEN 1 ELSE 0 END AS div_zero
    FROM lineitem WHERE l_orderkey % 31 = 0
    """,
)
def ssa_checked_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checked arithmetic ≡ the reference's *NotNull ops (add_checked family,
    SsaProgram.cpp:122-129). Arrow's checked kernels RAISE on div-by-zero;
    Spark ANSI mode is that flavor, and ``try_divide`` is the declarative
    NULL flavor the engine exposes (Op.DIVIDE_NOT_NULL) — exercised here on
    a denominator that hits zero for qty=24 rows."""
    prog = Program(
        steps=(
            ProgramStep(
                assignes=(
                    const("c31", 31),
                    const("zero", 0),
                    const("c24", 24.0),
                    Assign("okmod", Op.MODULO, ("l_orderkey", "c31")),
                    Assign("keep", Op.EQUAL, ("okmod", "zero")),
                    Assign("qf", Op.FLOOR, ("l_quantity",)),
                    Assign("den", Op.SUBTRACT, ("qf", "c24")),
                    # raw IEEE quotient, NOT rounded: both engines perform the
                    # identical double division; rounding is what diverges at
                    # half-digit representation boundaries (suite convention).
                    Assign("safe_ratio", Op.DIVIDE_NOT_NULL, ("l_extendedprice", "den")),
                    Assign("is_dz", Op.IS_NULL, ("safe_ratio",)),
                ),
                filters=("keep",),
                projection=(
                    "l_orderkey",
                    "l_linenumber",
                    "safe_ratio",
                    "is_dz",
                ),
            ),
        )
    )
    out = apply_program(_t(spark, sf_dir, "lineitem"), prog)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "safe_ratio",
        F.col("is_dz").cast("int").alias("div_zero"),
    )


@register(
    "profile_orders",
    """
    WITH base AS (SELECT count(*) AS n_rows FROM orders)
    SELECT * FROM (
      SELECT 'o_orderkey' AS "column", n_rows,
             (SELECT CAST(count(*) - count(o_orderkey) AS BIGINT) FROM orders) AS n_null,
             (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS n_distinct,
             (SELECT round(min(o_orderkey)::DOUBLE, 4) FROM orders) AS min_num,
             (SELECT round(max(o_orderkey)::DOUBLE, 4) FROM orders) AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM base
      UNION ALL
      SELECT 'o_totalprice', n_rows,
             (SELECT CAST(count(*) - count(o_totalprice) AS BIGINT) FROM orders),
             (SELECT CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders),
             (SELECT round(min(o_totalprice), 4) FROM orders),
             (SELECT round(max(o_totalprice), 4) FROM orders),
             NULL, NULL
      FROM base
      UNION ALL
      SELECT 'o_orderstatus', n_rows,
             (SELECT CAST(count(*) - count(o_orderstatus) AS BIGINT) FROM orders),
             (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders),
             NULL, NULL,
             (SELECT min(o_orderstatus) FROM orders),
             (SELECT max(o_orderstatus) FROM orders)
      FROM base
    )
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (operators/profile.py) over three orders
    columns — one scan, one wide aggregate, unpivoted to long format."""
    from arrowhouse_spark.operators.profile import profile

    return profile(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_totalprice", "o_orderstatus"],
    )


@register(
    "inverted_index_stats",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents
    ), tf AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    )
    SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM tf GROUP BY term
    """,
)
def inverted_index_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list statistics of an inverted index over the corpus
    (operators/text.py:inverted_index_stats)."""
    from arrowhouse_spark.operators.text import inverted_index_stats

    return inverted_index_stats(_t(spark, sf_dir, "documents"))


@register(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs / df.df), 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term
      ) AS rank
      FROM scored
    ) WHERE rank <= 3 AND doc_id % 59 = 0
    """,
)
def tfidf_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf·idf terms per doc on a deterministic doc sample
    (operators/text.py:tfidf_top_terms)."""
    from arrowhouse_spark.operators.text import tfidf_top_terms

    return (
        tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)
        .filter(F.col("doc_id") % 59 == 0)
        .select("doc_id", "term", "score", F.col("rank").cast("int").alias("rank"))
    )


@register(
    "funnel_signup_click_purchase",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id
    )
    SELECT s1.user_id,
           CASE WHEN s3.t3 IS NOT NULL THEN 3
                WHEN s2.t2 IS NOT NULL THEN 2
                ELSE 1 END AS max_step
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → click → purchase funnel progress per user
    (operators/funnel.py): cascaded conditional aggregation, shuffles one
    row per user per step — never sorts or buffers raw events per user."""
    from arrowhouse_spark.operators.funnel import funnel_steps

    ev = _events(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros("ts")
    )  # µs long ≡ DuckDB TIMESTAMP precision
    out = funnel_steps(
        ev, ["signup", "click", "purchase"], ts_col="ts_us"
    )
    return out.select("user_id", F.col("max_step").cast("int").alias("max_step"))


@register(
    "histogram_totalprice",
    """
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a plain hash aggregate — map-side partials
    mean the shuffle carries one row per bucket per task."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("bucket", F.floor(F.col("o_totalprice") / 25000))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# Recursive-CTE connected-components oracle over exact 2-shingle Jaccard
# pairs (>= 0.2) — shared by the batch CC query AND the incremental fold
# (replay-equivalence: folding daily pair batches through the label store
# must land on the SAME labeling as one batch CC over the union).
_CC_JACCARD_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS gs
      FROM toks
    ), sh AS (
      SELECT doc_id, unnest(gs) AS shingle FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_common
      FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(n_common / (sa.set_size + sb.set_size - n_common), 6) >= 0.2
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk AS (
      SELECT src AS id, src AS comp FROM sym
      UNION
      SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id
    )
    SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id
"""


@register("dedup_components", _CC_JACCARD_ORACLE)
def dedup_components_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: exact Jaccard pairs (≥0.2) as edges,
    min-label-propagation connected components (operators/components.py);
    the oracle recomputes components with a DuckDB recursive CTE."""
    from arrowhouse_spark.operators.components import connected_components

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=2, threshold=0.2
    )
    return connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )


@register("components_incremental_daily", _CC_JACCARD_ORACLE)
def components_incremental_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components (operators/components.py:
    components_incremental) — the daily-ingest closing step the dedup
    stack was missing: minhash/jaccard folds produce cross-batch dup
    PAIRS; this folds them into persistent CLUSTER ids without re-running
    CC over the full historical edge set. The same exact-Jaccard pairs as
    dedup_components are split into two deterministic "days" by
    (id_a + id_b) % 2 and folded through an on-disk label store
    (id-bucketed, dynamic-partition-overwrite of touched buckets only);
    day-2 edges MERGE day-1 clusters, and the final store must equal one
    batch CC over the union — exactly what the shared recursive-CTE
    oracle recomputes. Plan per fold: two broadcast semi-joins against
    the store (map-side), star-contraction over the affected sub-graph
    only, bucket-pruned rewrite."""
    import shutil
    import tempfile

    from arrowhouse_spark.operators.components import components_incremental

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=2, threshold=0.2
    ).localCheckpoint()
    d = tempfile.mkdtemp(prefix="arrowhouse_cc_store_")
    store = d + "/labels"
    try:
        for day in (0, 1):
            components_incremental(
                pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == day),
                store,
                src="id_a",
                dst="id_b",
            )
        return (
            spark.read.parquet(store)
            .select(F.col("id").alias("doc_id"), "component")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "dedup_keep_best",
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS gs
      FROM toks
    ), sh AS (
      SELECT doc_id, unnest(gs) AS shingle FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_common
      FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(n_common / (sa.set_size + sb.set_size - n_common), 6) >= 0.2
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk AS (
      SELECT src AS id, src AS comp FROM sym
      UNION
      SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id
    ), comps AS (
      SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id
    ), alldocs AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
      FROM documents d LEFT JOIN comps c USING (doc_id)
    ), ranked AS (
      SELECT doc_id, component,
             row_number() OVER (
               PARTITION BY component ORDER BY n_chars DESC, doc_id ASC
             ) AS rn
      FROM alldocs
    )
    SELECT doc_id, component, CAST(rn = 1 AS BIGINT) AS kept FROM ranked
    """,
)
def dedup_keep_best_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization — the "keep best representative" step after
    fuzzy matching (operators/components.py:dedup_keep_best): per connected
    component of exact-Jaccard pairs (≥0.2, 2-shingles) keep the LONGEST doc
    (min doc_id tiebreak), singletons always kept; one row per input doc
    with its component label and 0/1 verdict. The oracle recomputes
    components with the recursive CTE, then elects winners by
    row_number() over (component, n_chars DESC, doc_id)."""
    from arrowhouse_spark.operators.components import dedup_keep_best

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=2, threshold=0.2
    )
    return dedup_keep_best(
        _t(spark, sf_dir, "documents"), pairs, id_col="doc_id", score_col="n_chars"
    )


@register(
    "hash_split_stats",
    """
    SELECT (('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
            % 10)::BIGINT AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1
    """,
)
def hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash bucketing (operators/sampling.py): per-bucket doc
    counts prove the md5-prefix assignment is engine-independent — the
    basis of stable train/test splits at 100 TB (map-side, no shuffle)."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    return (
        _t(spark, sf_dir, "documents")
        .select(hash_bucket("doc_id", 10, salt="split").alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "stratified_sample_docs",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('strata' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ) WHERE rn <= ceil(0.2 * n)
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ceil(0.2·n) docs per language, hash-deterministic
    (operators/sampling.py:stratified_sample_exact)."""
    from arrowhouse_spark.operators.sampling import stratified_sample_exact

    return stratified_sample_exact(
        _t(spark, sf_dir, "documents"), ["lang"], 0.2, "doc_id"
    ).select("doc_id", "lang")


@register(
    "range_join_purchase_windows",
    """
    SELECT s.event_id AS signup_id,
           CAST(count(p.event_id) AS BIGINT) AS n_purchases,
           round(coalesce(sum(p.value), 0.0), 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 6 HOUR
    GROUP BY s.event_id
    """,
)
def range_join_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases inside each signup's 6-hour window, via the bucketed range
    join (operators/rangejoin.py) — equi-join on (user, time-bucket) then
    exact containment, never a cartesian/nested-loop plan."""
    from arrowhouse_spark.operators.rangejoin import range_join

    six_h_us = 6 * 3600 * 1_000_000
    ev = _events(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros("ts")
    )  # µs long ≡ DuckDB TIMESTAMP precision
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts_us").alias("lo"),
            (F.col("ts_us") + six_h_us).alias("hi"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_us").alias("p_ts"), "value"
    )
    joined = range_join(
        purchases,
        signups,
        point_col="p_ts",
        lo_col="lo",
        hi_col="hi",
        by=["user_id"],
        bucket_width=six_h_us,
    )
    return joined.groupBy("signup_id").agg(
        F.count("event_id").alias("n_purchases"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("purchase_value"),
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey, o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1997-06-30'
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-table join with a selective dimension filter.
    customer (filtered, small) broadcasts; orders⋈lineitem shuffles on the
    order key; top-10 runs as TakeOrderedAndProject — the 100 TB plan."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def _dd_mul64(x: str, c: int) -> str:
    """DuckDB SQL for (x * c) mod 2^64 on UBIGINT x: 32-bit split keeps every
    HUGEINT intermediate below 2^97 (INT128 would overflow at full 64×64)."""
    return (
        f"((({x} & 4294967295)::HUGEINT * {c} + "
        f"((({x} >> 32)::HUGEINT * {c}) % 4294967296) * 4294967296) "
        f"% 18446744073709551616)::UBIGINT"
    )


def _dd_shl64(x: str, n: int) -> str:
    return _dd_mul64(x, 1 << n)


_INT_HASH_ORACLE = f"""
    WITH src AS (
      SELECT o_orderkey, o_orderkey::UBIGINT AS v FROM orders
      WHERE o_orderkey % 97 = 0
    ),
    s0 AS (SELECT o_orderkey, xor(v, {0x4CF2D2BAAE6DA887}::UBIGINT) AS x0,
                  xor(v, {0x75D9543DE018BF45}::UBIGINT) AS k0 FROM src),
    s1 AS (SELECT *, xor(x0, x0 >> 33) AS x1,
                  ((xor(k0, 18446744073709551615::UBIGINT))::HUGEINT
                   + {_dd_shl64("k0", 18)}::HUGEINT)
                  % 18446744073709551616 AS k1h FROM s0),
    s1b AS (SELECT *, k1h::UBIGINT AS k1 FROM s1),
    s2 AS (SELECT *, {_dd_mul64("x1", 0xFF51AFD7ED558CCD)} AS x2,
                  xor(k1, (k1 >> 31) | {_dd_shl64("k1", 33)}) AS k2 FROM s1b),
    s3 AS (SELECT *, xor(x2, x2 >> 33) AS x3,
                  {_dd_mul64("k2", 21)} AS k3 FROM s2),
    s4 AS (SELECT *, {_dd_mul64("x3", 0xC4CEB9FE1A85EC53)} AS x4,
                  xor(k3, (k3 >> 11) | {_dd_shl64("k3", 53)}) AS k4 FROM s3),
    s5 AS (SELECT *, xor(x4, x4 >> 33) AS h64,
                  (k4::HUGEINT + {_dd_shl64("k4", 6)}::HUGEINT)
                  % 18446744073709551616 AS k5h FROM s4),
    s5b AS (SELECT *, k5h::UBIGINT AS k5 FROM s5),
    s6 AS (SELECT *, xor(k5, (k5 >> 22) | {_dd_shl64("k5", 42)}) AS k6 FROM s5b)
    SELECT o_orderkey,
           (h64 >> 32)::BIGINT         AS h64_hi,
           (h64 & 4294967295)::BIGINT  AS h64_lo,
           (k6 & 4294967295)::BIGINT   AS h32
    FROM s6
"""


@register("int_hash_parity", _INT_HASH_ORACLE)
def int_hash_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact IntHash32/IntHash64 parity (FunctionsHashing.h:15-30) on a
    deterministic orderkey sample, cross-checked against a DuckDB HUGEINT
    re-implementation. The 64-bit hash is emitted as two 32-bit halves so the
    compare never rides on uint64→float precision."""
    base = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    df = hashing.with_int_hash64(base, "__h64", "o_orderkey")
    df = hashing.with_int_hash32(df, "__h32", "o_orderkey")
    h64 = F.col("__h64")
    return df.select(
        "o_orderkey",
        F.shiftrightunsigned(h64, 32).alias("h64_hi"),
        h64.bitwiseAND(F.lit((1 << 32) - 1)).alias("h64_lo"),
        F.col("__h32").alias("h32"),
    )


def _dd_add64(a: str, b: str) -> str:
    """DuckDB SQL: (a + b) mod 2^64 via HUGEINT."""
    return (
        f"((({a})::HUGEINT + ({b})::HUGEINT) % 18446744073709551616)::UBIGINT"
    )


def _dd_sub64(a: str, b: str) -> str:
    """DuckDB SQL: (a - b) mod 2^64 via HUGEINT (kept non-negative)."""
    return (
        f"(((({a})::HUGEINT - ({b})::HUGEINT) % 18446744073709551616 "
        f"+ 18446744073709551616) % 18446744073709551616)::UBIGINT"
    )


def _dd_rot64(x: str, r: int) -> str:
    """DuckDB SQL: 64-bit right-rotate by constant r (1..63)."""
    return f"((({x}) >> {r}) | {_dd_shl64(x, 64 - r)})"


def _dd_fetch(s: str, i: int, nbytes: int) -> str:
    """DuckDB SQL: little-endian unsigned load of ``nbytes`` from 1-based
    position ``i`` of ASCII string expr ``s`` (ord == byte for ASCII)."""
    terms = " + ".join(
        f"ord(substr({s}, {i + k}, 1))::UBIGINT * {1 << (8 * k)}"
        for k in range(nbytes)
    )
    return "(" + terms + ")"


_CH_K0 = 0xC3A5C85C97CB3127
_CH_K1 = 0xB492B66FBE98F273
_CH_K2 = 0x9AE16A3B2F90404F
_CH_K3 = 0xC949D7C7509E6557
_CH_KMUL = 0x9DDFEA08EB382D69


def _dd_int_hash64_stages(v: str, out: str) -> list[tuple[str, str]]:
    """CTE stages modeling intHash64 (salt-xor + 64-bit murmur finalizer)."""
    p = f"__{out}"
    return [
        (f"{p}0", f"xor({v}, {0x4CF2D2BAAE6DA887}::UBIGINT)"),
        (f"{p}1", f"xor({p}0, {p}0 >> 33)"),
        (f"{p}2", _dd_mul64(f"{p}1", 0xFF51AFD7ED558CCD)),
        (f"{p}3", f"xor({p}2, {p}2 >> 33)"),
        (f"{p}4", _dd_mul64(f"{p}3", 0xC4CEB9FE1A85EC53)),
        (out, f"xor({p}4, {p}4 >> 33)"),
    ]


def _dd_h128_stages(lo: str, hi: str, out: str) -> list[tuple[str, str]]:
    """CTE stages modeling Hash128to64 (cityhash102 city.h:104-113)."""
    p = f"__{out}"
    return [
        (f"{p}t", f"xor({lo}, {hi})"),
        (f"{p}a1", _dd_mul64(f"{p}t", _CH_KMUL)),
        (f"{p}a2", f"xor({p}a1, {p}a1 >> 47)"),
        (f"{p}b0", f"xor({hi}, {p}a2)"),
        (f"{p}b1", _dd_mul64(f"{p}b0", _CH_KMUL)),
        (f"{p}b2", f"xor({p}b1, {p}b1 >> 47)"),
        (out, _dd_mul64(f"{p}b2", _CH_KMUL)),
    ]


def _dd_chain(
    base_sql: str,
    stages: list[tuple[str, str]],
    final_select: str,
    base_cols: list[str] | None = None,
) -> str:
    """Assemble a DuckDB query: base CTE + one CTE per (col, expr) stage.

    When ``base_cols`` is given, each stage projects ONLY the columns still
    live (needed by a later stage or the final select) instead of `SELECT *`.
    This matters for the big generated oracles: carrying every intermediate
    through a 450-stage chain makes the projection pipeline O(depth × width)
    and exhausts DuckDB's memory (observed OOM on the minhash pair model);
    liveness-pruned, each stage carries ~10 columns. (Batching stages into
    fewer SELECTs via lateral aliases is NOT an alternative: DuckDB binds
    those by macro-inlining, which re-evaluates every referenced alias —
    measured ~13× slower — and trips its 128-deep binder recursion.)"""
    import re

    parts = [f"src AS ({base_sql})"]
    prev = "src"
    if base_cols is None:
        for i, (col, expr) in enumerate(stages):
            name = f"c{i}"
            parts.append(f"{name} AS (SELECT *, {expr} AS {col} FROM {prev})")
            prev = name
        return "WITH " + ",\n".join(parts) + f"\nSELECT {final_select} FROM {prev}"

    known = set(base_cols) | {col for col, _ in stages}
    idents = lambda s: set(re.findall(r"[A-Za-z_][A-Za-z_0-9]*", s)) & known  # noqa: E731
    # live_after[i]: columns a stage later than i (or the final select) reads
    live = idents(final_select)
    live_after: list[set] = [set()] * len(stages)
    for i in range(len(stages) - 1, -1, -1):
        live_after[i] = set(live)
        col, expr = stages[i]
        live = (live - {col}) | idents(expr)
    avail = set(base_cols)
    for i, (col, expr) in enumerate(stages):
        name = f"c{i}"
        carry = sorted((live_after[i] - {col}) & avail)
        cols = ", ".join([*carry, f"{expr} AS {col}"])
        parts.append(f"{name} AS (SELECT {cols} FROM {prev})")
        prev = name
        avail = set(carry) | {col}
    return "WITH " + ",\n".join(parts) + f"\nSELECT {final_select} FROM {prev}"


def _city_int_oracle() -> str:
    stages = (
        _dd_int_hash64_stages("v1", "h1")
        + _dd_int_hash64_stages("v2", "h2")
        + _dd_h128_stages("h1", "h2", "city2")
    )
    return _dd_chain(
        "SELECT o_orderkey, o_orderkey::UBIGINT AS v1, o_custkey::UBIGINT AS v2 "
        "FROM orders WHERE o_orderkey % 97 = 0",
        stages,
        "o_orderkey, (city2 >> 32)::BIGINT AS city_hi, "
        "(city2 & 4294967295)::BIGINT AS city_lo",
        base_cols=["o_orderkey", "v1", "v2"],
    )


def _city_str_oracle() -> str:
    """DuckDB arithmetic model of CityHash64 for the four fixed-length
    (non-loop) classes, each on a deterministic prefix of repeat(p_name, 6):
    len 3 (1-3 byte path), 6 (4-8), 11 (9-16), 20 (17-32), 40 (33-64)."""
    st: list[tuple[str, str]] = [("s", "repeat(p_name, 6)")]

    # --- len 3: y = b0 + b1<<8; z = 3 + b2<<2; ShiftMix(y*k2 ^ z*k3) * k2
    st += [
        ("y3", f"({_dd_fetch('s', 1, 1)} + {_dd_fetch('s', 2, 1)} * 256)"),
        ("z3", f"(3 + {_dd_fetch('s', 3, 1)} * 4)"),
        ("t3", f"xor({_dd_mul64('y3', _CH_K2)}, {_dd_mul64('z3', _CH_K3)})"),
        ("u3", "xor(t3, t3 >> 47)"),
        ("h3", _dd_mul64("u3", _CH_K2)),
    ]
    # --- len 6 (4-8): HashLen16(6 + (Fetch32(s)<<3), Fetch32(s+2))
    st += [
        ("a6", f"{_dd_fetch('s', 1, 4)}"),
        ("b6", f"{_dd_fetch('s', 3, 4)}"),
        ("u6", "(6 + a6 * 8)::UBIGINT"),
    ]
    st += _dd_h128_stages("u6", "b6", "h6")
    # --- len 11 (9-16): HashLen16(a, RotateByAtLeast1(b+11, 11)) ^ b
    st += [
        ("a11", f"{_dd_fetch('s', 1, 8)}"),
        ("b11", f"{_dd_fetch('s', 4, 8)}"),
        ("r11", _dd_rot64(_dd_add64("b11", "11"), 11)),
    ]
    st += _dd_h128_stages("a11", "r11", "h11x")
    st += [("h11", "xor(h11x, b11)")]
    # --- len 20 (17-32): HashLen16(Rot43(a-b) + Rot30(c) + d,
    #                                a + Rot20(b^k3) - c + len)
    st += [
        ("ma", _dd_mul64(_dd_fetch("s", 1, 8), _CH_K1)),
        ("mb", f"{_dd_fetch('s', 9, 8)}"),
        ("mc", _dd_mul64(_dd_fetch("s", 13, 8), _CH_K2)),
        ("md", _dd_mul64(_dd_fetch("s", 5, 8), _CH_K0)),
        (
            "u20",
            _dd_add64(
                _dd_add64(_dd_rot64(_dd_sub64("ma", "mb"), 43), _dd_rot64("mc", 30)),
                "md",
            ),
        ),
        (
            "v20",
            _dd_add64(
                _dd_sub64(
                    _dd_add64("ma", _dd_rot64(f"xor(mb, {_CH_K3}::UBIGINT)", 20)),
                    "mc",
                ),
                "20",
            ),
        ),
    ]
    st += _dd_h128_stages("u20", "v20", "h20")
    # --- len 40 (33-64): HashLen33to64
    f1, f9, f17, f25, f33 = (
        _dd_fetch("s", 1, 8),
        _dd_fetch("s", 9, 8),
        _dd_fetch("s", 17, 8),
        _dd_fetch("s", 25, 8),
        _dd_fetch("s", 33, 8),
    )
    st += [
        ("z40", f"{f25}"),
        ("a40", _dd_add64(f1, _dd_mul64(_dd_add64("40", f25), _CH_K0))),
        ("b40", _dd_rot64(_dd_add64("a40", "z40"), 52)),
        ("c40", _dd_rot64("a40", 37)),
        ("a41", _dd_add64("a40", f9)),
        ("c41", _dd_add64("c40", _dd_rot64("a41", 7))),
        ("a42", _dd_add64("a41", f17)),
        ("vf", _dd_add64("a42", "z40")),
        ("vs", _dd_add64(_dd_add64("b40", _dd_rot64("a42", 31)), "c41")),
        ("a43", _dd_add64(f17, f9)),
        ("z41", f"{f33}"),
        ("b41", _dd_rot64(_dd_add64("a43", "z41"), 52)),
        ("c42", _dd_rot64("a43", 37)),
        ("a44", _dd_add64("a43", f17)),
        ("c43", _dd_add64("c42", _dd_rot64("a44", 7))),
        ("a45", _dd_add64("a44", f25)),
        ("wf", _dd_add64("a45", "z41")),
        ("ws", _dd_add64(_dd_add64("b41", _dd_rot64("a45", 31)), "c43")),
        (
            "r40",
            _dd_add64(
                _dd_mul64(_dd_add64("vf", "ws"), _CH_K2),
                _dd_mul64(_dd_add64("wf", "vs"), _CH_K0),
            ),
        ),
        ("r41", "xor(r40, r40 >> 47)"),
        ("r42", _dd_add64(_dd_mul64("r41", _CH_K0), "vs")),
        ("r43", "xor(r42, r42 >> 47)"),
        ("h40", _dd_mul64("r43", _CH_K2)),
    ]
    halves = ", ".join(
        f"(h{n} >> 32)::BIGINT AS h{n}_hi, (h{n} & 4294967295)::BIGINT AS h{n}_lo"
        for n in (3, 6, 11, 20, 40)
    )
    return _dd_chain(
        "SELECT p_partkey, p_name FROM part "
        "WHERE p_partkey % 13 = 0 AND strlen(repeat(p_name, 6)) >= 40",
        st,
        f"p_partkey, {halves}",
        base_cols=["p_partkey", "p_name"],
    )


def _dd_weak32_stages(
    fw: str, fx: str, fy: str, fz: str, a: str, b: str, pfx: str
) -> list[tuple[str, str]]:
    """CTE stages modeling WeakHashLen32WithSeeds (city.cc:160-180):
    outputs {pfx}f / {pfx}s (the pair)."""
    return [
        (f"{pfx}a1", _dd_add64(a, fw)),
        (f"{pfx}b1", _dd_rot64(_dd_add64(_dd_add64(b, f"{pfx}a1"), fz), 21)),
        (f"{pfx}a2", _dd_add64(_dd_add64(f"{pfx}a1", fx), fy)),
        (f"{pfx}b2", _dd_add64(f"{pfx}b1", _dd_rot64(f"{pfx}a2", 44))),
        (f"{pfx}f", _dd_add64(f"{pfx}a2", fz)),
        (f"{pfx}s", _dd_add64(f"{pfx}b2", f"{pfx}a1")),  # c == a1
    ]


def _dd_city_long_stages(s: str, n: int, out: str) -> list[tuple[str, str]]:
    """CTE stages modeling the >64-byte CityHash64 path (city.cc:206-243) for
    a FIXED length n — fixed length ⇒ fixed block count ⇒ straight-line SQL."""
    p = f"__{out}"

    def f(i: int) -> str:  # Fetch64 at 0-based offset i
        return _dd_fetch(s, i + 1, 8)

    st: list[tuple[str, str]] = [
        (f"{p}x", f(0)),
        (f"{p}y", f"xor({f(n - 16)}, {_CH_K1}::UBIGINT)"),
        (f"{p}z", f"xor({f(n - 56)}, {_CH_K0}::UBIGINT)"),
    ]
    st += _dd_weak32_stages(
        f(n - 64), f(n - 56), f(n - 48), f(n - 40), str(n), f"{p}y", f"{p}v"
    )
    st += _dd_weak32_stages(
        f(n - 32),
        f(n - 24),
        f(n - 16),
        f(n - 8),
        str((n * _CH_K1) & ((1 << 64) - 1)),
        f"{_CH_K0}::UBIGINT",
        f"{p}w",
    )
    st += [
        (f"{p}z1", _dd_add64(f"{p}z", _dd_mul64(f"xor({p}vs, {p}vs >> 47)", _CH_K1))),
        (f"{p}x1", _dd_mul64(_dd_rot64(_dd_add64(f"{p}z1", f"{p}x"), 39), _CH_K1)),
        (f"{p}y1", _dd_mul64(_dd_rot64(f"{p}y", 33), _CH_K1)),
    ]
    x, y, z = f"{p}x1", f"{p}y1", f"{p}z1"
    vf, vs, wf, ws = f"{p}vf", f"{p}vs", f"{p}wf", f"{p}ws"
    n_blocks = ((n - 1) & ~63) // 64
    for it in range(n_blocks):
        q = f"{p}i{it}"
        pos = it * 64
        st += [
            (
                f"{q}xa",
                _dd_mul64(
                    _dd_rot64(
                        _dd_add64(_dd_add64(_dd_add64(x, y), vf), f(pos + 16)), 37
                    ),
                    _CH_K1,
                ),
            ),
            (
                f"{q}ya",
                _dd_mul64(
                    _dd_rot64(_dd_add64(_dd_add64(y, vs), f(pos + 48)), 42), _CH_K1
                ),
            ),
            (f"{q}xb", f"xor({q}xa, {ws})"),
            (f"{q}yb", f"xor({q}ya, {vf})"),
            (f"{q}zb", _dd_rot64(f"xor({z}, {wf})", 33)),
        ]
        st += _dd_weak32_stages(
            f(pos),
            f(pos + 8),
            f(pos + 16),
            f(pos + 24),
            _dd_mul64(vs, _CH_K1),
            _dd_add64(f"{q}xb", wf),
            f"{q}v",
        )
        st += _dd_weak32_stages(
            f(pos + 32),
            f(pos + 40),
            f(pos + 48),
            f(pos + 56),
            _dd_add64(f"{q}zb", ws),
            f"{q}yb",
            f"{q}w",
        )
        # std::swap(z, x)
        x, z = f"{q}zb", f"{q}xb"
        y = f"{q}yb"
        vf, vs, wf, ws = f"{q}vf", f"{q}vs", f"{q}wf", f"{q}ws"
    st += _dd_h128_stages(vf, wf, f"{p}hv")
    st += _dd_h128_stages(vs, ws, f"{p}hw")
    st += [
        (
            f"{p}fu",
            _dd_add64(
                _dd_add64(f"{p}hv", _dd_mul64(f"xor({y}, {y} >> 47)", _CH_K1)), z
            ),
        ),
        (f"{p}fv", _dd_add64(f"{p}hw", x)),
    ]
    st += _dd_h128_stages(f"{p}fu", f"{p}fv", out)
    return st


def _city_long_oracle() -> str:
    st: list[tuple[str, str]] = [("sl", "repeat(p_name, 24)")]
    st += _dd_city_long_stages("substr(sl, 1, 100)", 100, "h100")
    st += _dd_city_long_stages("substr(sl, 1, 160)", 160, "h160")
    halves = ", ".join(
        f"(h{n} >> 32)::BIGINT AS h{n}_hi, (h{n} & 4294967295)::BIGINT AS h{n}_lo"
        for n in (100, 160)
    )
    return _dd_chain(
        "SELECT p_partkey, p_name FROM part "
        "WHERE p_partkey % 29 = 0 AND strlen(repeat(p_name, 24)) >= 160",
        st,
        f"p_partkey, {halves}",
        base_cols=["p_partkey", "p_name"],
    )


@register("city_hash_long_parity", _city_long_oracle())
def city_hash_long_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact CityHash64 >64-byte block-loop path (city.cc:206-243) at
    fixed lengths 100 (one 64-byte iteration) and 160 (two — proves loop
    continuation), against the straight-line DuckDB model."""
    from arrowhouse_spark.functions.cityhash import city_hash64_str

    base = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 29 == 0)
        .select("p_partkey", F.repeat("p_name", 24).alias("sl"))
        .filter(F.length("sl") >= 160)
    )
    cols = [F.col("p_partkey")]
    for n in (100, 160):
        h = city_hash64_str(F.substring("sl", 1, n))
        cols.append(F.shiftrightunsigned(h, 32).alias(f"h{n}_hi"))
        cols.append(h.bitwiseAND(F.lit((1 << 32) - 1)).alias(f"h{n}_lo"))
    return base.select(*cols)


def _dd_rotl64(x: str, r: int) -> str:
    return f"({_dd_shl64(x, r)} | (({x}) >> {64 - r}))"


def _dd_mul32(x: str, c: int) -> str:
    """(x * c) mod 2^32 for x < 2^32: the UBIGINT product fits 64 bits."""
    return f"((({x}) * {c}::UBIGINT) & 4294967295)"


def _dd_rotl32(x: str, r: int) -> str:
    return f"((((({x}) << {r}) | (({x}) >> {32 - r})) & 4294967295))"


def _dd_add32(*xs: str) -> str:
    return "((" + " + ".join(f"({x})" for x in xs) + ") & 4294967295)"


_XP32 = (2654435761, 2246822519, 3266489917, 668265263, 374761393)
_XP64 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _dd_xxh32_stages(s: str, n: int, out: str) -> list[tuple[str, str]]:
    """Straight-line xxHash32(seed=0) for fixed length n (public xxHash spec:
    16-byte stripes → rotl13*P1 lanes → merge, then 4-byte and 1-byte tails,
    then the avalanche)."""
    p1, p2, p3, p4, p5 = _XP32
    p = f"__{out}"
    st: list[tuple[str, str]] = []
    i = 0
    if n >= 16:
        v = [(p1 + p2) & _M32X, p2 & _M32X, 0, (-p1) & _M32X]
        names = []
        stripe = 0
        while i <= n - 16:
            for j in range(4):
                lane = _dd_fetch(s, i + 4 * j + 1, 4)
                cur = v[j] if stripe == 0 else names[(stripe - 1) * 4 + j]
                base = (
                    _dd_add32(str(cur), _dd_mul32(lane, p2))
                    if stripe == 0
                    else _dd_add32(cur, _dd_mul32(lane, p2))
                )
                nm = f"{p}v{stripe}_{j}"
                st.append((nm, _dd_mul32(_dd_rotl32(base, 13), p1)))
                names.append(nm)
            i += 16
            stripe += 1
        last = names[-4:]
        st.append(
            (
                f"{p}h0",
                _dd_add32(
                    _dd_rotl32(last[0], 1),
                    _dd_rotl32(last[1], 7),
                    _dd_rotl32(last[2], 12),
                    _dd_rotl32(last[3], 18),
                    str(n),
                ),
            )
        )
    else:
        st.append((f"{p}h0", f"{(p5 + n) & _M32X}::UBIGINT"))
    h = f"{p}h0"
    k = 0
    while i <= n - 4:
        nm = f"{p}t{k}"
        st.append(
            (
                nm,
                _dd_mul32(
                    _dd_rotl32(_dd_add32(h, _dd_mul32(_dd_fetch(s, i + 1, 4), p3)), 17),
                    p4,
                ),
            )
        )
        h, i, k = nm, i + 4, k + 1
    while i < n:
        nm = f"{p}t{k}"
        st.append(
            (
                nm,
                _dd_mul32(
                    _dd_rotl32(_dd_add32(h, _dd_mul32(_dd_fetch(s, i + 1, 1), p5)), 11),
                    p1,
                ),
            )
        )
        h, i, k = nm, i + 1, k + 1
    st += [
        (f"{p}a0", _dd_mul32(f"xor({h}, {h} >> 15)", p2)),
        (f"{p}a1", _dd_mul32(f"xor({p}a0, {p}a0 >> 13)", p3)),
        (out, f"xor({p}a1, {p}a1 >> 16)"),
    ]
    return st


def _dd_xxh64_stages(s: str, n: int, out: str) -> list[tuple[str, str]]:
    """Straight-line xxHash64(seed=0) for fixed length n (public xxHash spec:
    32-byte stripes → rotl31*P1 lanes → merge rounds, then 8/4/1-byte tails,
    then the avalanche)."""
    p1, p2, p3, p4, p5 = _XP64
    p = f"__{out}"
    st: list[tuple[str, str]] = []
    M = (1 << 64) - 1

    def rnd(acc: str, lane: str) -> str:
        return _dd_mul64(_dd_rotl64(_dd_add64(acc, _dd_mul64(lane, p2)), 31), p1)

    i = 0
    if n >= 32:
        v = [(p1 + p2) & M, p2, 0, (-p1) & M]
        names = [str(x) + "::UBIGINT" for x in v]
        stripe = 0
        while i <= n - 32:
            nxt = []
            for j in range(4):
                nm = f"{p}v{stripe}_{j}"
                st.append((nm, rnd(names[j], _dd_fetch(s, i + 8 * j + 1, 8))))
                nxt.append(nm)
            names = nxt
            i += 32
            stripe += 1
        st.append(
            (
                f"{p}m0",
                _dd_add64(
                    _dd_add64(
                        _dd_add64(_dd_rotl64(names[0], 1), _dd_rotl64(names[1], 7)),
                        _dd_rotl64(names[2], 12),
                    ),
                    _dd_rotl64(names[3], 18),
                ),
            )
        )
        h = f"{p}m0"
        for j in range(4):
            nm = f"{p}m{j + 1}"
            st.append(
                (
                    nm,
                    _dd_add64(
                        _dd_mul64(
                            f"xor({h}, {_dd_mul64(_dd_rotl64(_dd_mul64(names[j], p2), 31), p1)})",
                            p1,
                        ),
                        str(p4),
                    ),
                )
            )
            h = nm
        st.append((f"{p}h0", _dd_add64(h, str(n))))
    else:
        st.append((f"{p}h0", f"{(p5 + n) & M}::UBIGINT"))
    h = f"{p}h0"
    k = 0
    while i <= n - 8:
        nm = f"{p}t{k}"
        k1 = _dd_mul64(_dd_rotl64(_dd_mul64(_dd_fetch(s, i + 1, 8), p2), 31), p1)
        st.append(
            (nm, _dd_add64(_dd_mul64(_dd_rotl64(f"xor({h}, {k1})", 27), p1), str(p4)))
        )
        h, i, k = nm, i + 8, k + 1
    if i <= n - 4:
        nm = f"{p}t{k}"
        st.append(
            (
                nm,
                _dd_add64(
                    _dd_mul64(
                        _dd_rotl64(
                            f"xor({h}, {_dd_mul64(_dd_fetch(s, i + 1, 4), p1)})", 23
                        ),
                        p2,
                    ),
                    str(p3),
                ),
            )
        )
        h, i, k = nm, i + 4, k + 1
    while i < n:
        nm = f"{p}t{k}"
        st.append(
            (
                nm,
                _dd_mul64(
                    _dd_rotl64(f"xor({h}, {_dd_mul64(_dd_fetch(s, i + 1, 1), p5)})", 11),
                    p1,
                ),
            )
        )
        h, i, k = nm, i + 1, k + 1
    st += [
        (f"{p}a0", _dd_mul64(f"xor({h}, {h} >> 33)", p2)),
        (f"{p}a1", _dd_mul64(f"xor({p}a0, {p}a0 >> 29)", p3)),
        (out, f"xor({p}a1, {p}a1 >> 32)"),
    ]
    return st


_M32X = (1 << 32) - 1


def _xx_hash_oracle() -> str:
    st: list[tuple[str, str]] = [("sx", "repeat(p_name, 7)")]
    st += _dd_xxh32_stages("substr(sx, 1, 7)", 7, "x32a")
    st += _dd_xxh32_stages("substr(sx, 1, 23)", 23, "x32b")
    st += _dd_xxh32_stages("substr(sx, 1, 40)", 40, "x32c")
    st += _dd_xxh64_stages("substr(sx, 1, 13)", 13, "x64a")
    st += _dd_xxh64_stages("substr(sx, 1, 45)", 45, "x64b")
    sel = (
        "p_partkey, x32a::BIGINT AS h32_tail, x32b::BIGINT AS h32_stripe, "
        "x32c::BIGINT AS h32_two_stripes, "
        "(x64a >> 32)::BIGINT AS h64_tail_hi, (x64a & 4294967295)::BIGINT AS h64_tail_lo, "
        "(x64b >> 32)::BIGINT AS h64_stripe_hi, (x64b & 4294967295)::BIGINT AS h64_stripe_lo"
    )
    return _dd_chain(
        "SELECT p_partkey, p_name FROM part "
        "WHERE p_partkey % 31 = 0 AND strlen(repeat(p_name, 7)) >= 45",
        st,
        sel,
        base_cols=["p_partkey", "p_name"],
    )


@register("xx_hash_parity", _xx_hash_oracle())
def xx_hash_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact ClickHouse-compatible xxHash32/xxHash64 (seed 0,
    FunctionsHashing.h:53-90) on tail-only, single-stripe, and multi-stripe
    fixed lengths, against a DuckDB byte-level model. The seed-42 flavor of
    the same port is independently pinned to Spark's JVM xxhash64 in
    tests/test_hashing.py."""
    from arrowhouse_spark.functions.xxhash import xx_hash32_str, xx_hash64_str

    base = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 31 == 0)
        .select("p_partkey", F.repeat("p_name", 7).alias("sx"))
        .filter(F.length("sx") >= 45)
    )
    h64a = xx_hash64_str(F.substring("sx", 1, 13))
    h64b = xx_hash64_str(F.substring("sx", 1, 45))
    return base.select(
        "p_partkey",
        xx_hash32_str(F.substring("sx", 1, 7)).alias("h32_tail"),
        xx_hash32_str(F.substring("sx", 1, 23)).alias("h32_stripe"),
        xx_hash32_str(F.substring("sx", 1, 40)).alias("h32_two_stripes"),
        F.shiftrightunsigned(h64a, 32).alias("h64_tail_hi"),
        h64a.bitwiseAND(F.lit((1 << 32) - 1)).alias("h64_tail_lo"),
        F.shiftrightunsigned(h64b, 32).alias("h64_stripe_hi"),
        h64b.bitwiseAND(F.lit((1 << 32) - 1)).alias("h64_stripe_lo"),
    )


# XXH3-64 parity: ground truth generated in-container by compiling a C probe
# against the PUBLIC xxhash.h vendored by PyArrow (frozen v0.8 algorithm) —
# an independent implementation, so the oracle can't inherit a port bug.
# Inputs: printable-ASCII strings buf[i] = chr(33 + (i*31+7) % 94) truncated
# at every length-class boundary (empty / 1-3 / 4-8 / 9-16 / 17-128 /
# 129-240 / >240 partial-stripe / exact-block / multi-block).
_XXH3_LENS_HASHES = [
    (0, 3244421341483603138), (1, -6675284198519149788),
    (2, -4331076788977733996), (3, 910531306036622726),
    (4, -1042341649879783243), (5, -2892844194836548648),
    (7, -2487566770609476285), (8, -6274678996878480399),
    (9, -1614594825662547852), (11, 1107197222007354457),
    (15, 3156145023039268677), (16, 8273374296139845141),
    (17, 5974763008073241601), (31, 541540854915422415),
    (32, -1745762514238249709), (63, 1182278171039119826),
    (64, -2169173247733239675), (96, 1088199675861480207),
    (128, 8566348868834300049), (129, 3217914615411268143),
    (130, -3741801803705579728), (160, -3693552605626820903),
    (192, -3078902568973840495), (240, 2488203157881702570),
    (241, -5673122611096779283), (256, -7574017052315448071),
    (384, 8467749565002290807), (512, -6324757194713042026),
    (1023, 3788963614774261590), (1024, 6171675800411824629),
    (1536, -6514365354827123736), (2048, -6890442189235092086),
]


@register(
    "xxh3_parity",
    "SELECT * FROM (VALUES "
    + ", ".join(f"({n}, {h}::BIGINT)" for n, h in _XXH3_LENS_HASHES)
    + ") t(n, h) ORDER BY n",
)
def xxh3_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact XXH3-64 ≡ the reference's xxh3 (FunctionsHashing.h:89-104,
    seed 0, default secret), verified against vectors generated from the
    independent public C implementation (see _XXH3_LENS_HASHES provenance
    comment). The Spark side recomputes each hash with functions/xxh3.py's
    pandas-UDF kernel over the same deterministic strings."""
    from arrowhouse_spark.functions.xxh3 import xxh3_64_str
    from arrowhouse_spark.sources.memory import one_block

    buf = "".join(chr(33 + ((i * 31 + 7) % 94)) for i in range(2048))
    df = one_block(
        spark, [(n, buf[:n]) for n, _ in _XXH3_LENS_HASHES], "n int, s string"
    )
    return df.select("n", xxh3_64_str("s").alias("h")).orderBy("n")


# wyhash_final construction, seed 0, final-v4 default secret — SELF-pinned
# vectors (generated from functions/wyhash.py's scalar kernel, independently
# reproduced by its numpy kernel). NOT an upstream-parity claim: the
# reference's wyhash submodule is empty and wyhash changed incompatibly
# across public versions (see functions/wyhash.py docstring). Lengths cover
# every branch: empty / _wyr3 / 4-16 dual-read / 16-tail loop / 48-byte
# three-lane loop incl. continuation and odd remainders.
_WYHASH_LENS_HASHES = [
    (0, -7844555533835123294), (1, -6330279526711025100), (2, -7793780517266652006),
    (3, 1877329093074822212), (4, 6178500565477687121), (5, -4888225049559429717),
    (8, 4682200116656093916), (9, -2713741882612361117), (12, -5337889489148152634),
    (16, -3134627583186257580), (17, -8345510101816737047), (24, 5597973671878381550),
    (32, -2458542712722278196), (48, 5794261940850599830), (49, -558142106336798433),
    (64, -4219623307964451680), (96, 5660753973301996983), (97, 3902806798129076681),
    (112, -2488072992780781625), (160, 8990615111955923299), (240, -8021757321481017156),
    (241, 1300880103931272933), (512, -1485498805467926374), (1024, -4917248289670885164),
    (2048, 4176047626775457090),
]


@register(
    "wyhash_parity",
    "SELECT * FROM (VALUES "
    + ", ".join(f"({n}, {h}::BIGINT)" for n, h in _WYHASH_LENS_HASHES)
    + ") t(n, h) ORDER BY n",
)
def wyhash_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wyHash64 surface (FunctionsHashing.h:107-116) as a LABELED SUPERSET:
    the public wyhash_final construction at seed 0 with the final-v4 default
    secret, pinned by self-generated vectors (see _WYHASH_LENS_HASHES
    provenance note — the reference's submodule is empty, so no
    implementation can claim bit-parity with it). The Spark side recomputes
    each hash with functions/wyhash.py's length-grouped numpy kernel over
    the same deterministic strings."""
    from arrowhouse_spark.functions.wyhash import wy_hash64_str
    from arrowhouse_spark.sources.memory import one_block

    buf = "".join(chr(33 + ((i * 31 + 7) % 94)) for i in range(2048))
    df = one_block(
        spark, [(n, buf[:n]) for n, _ in _WYHASH_LENS_HASHES], "n int, s string"
    )
    return df.select("n", wy_hash64_str("s").alias("h")).orderBy("n")


@register("city_hash_int_parity", _city_int_oracle())
def city_hash_int_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact cityHash64 over integer columns ≡ the reference
    (FunctionsHashing.h:42-51: PODs hash with intHash64, multi-column
    combines with Hash128to64), cross-checked against a DuckDB HUGEINT
    arithmetic model. Halves emitted so compare never rides uint64→float."""
    base = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    # staged projection form: pure whole-stage codegen (the Column form's
    # transform() let-binding is CodegenFallback — measured ~7× slower here)
    h = F.col("__h")
    return hashing.with_city_hash64(
        base, "__h", "o_orderkey", "o_custkey"
    ).select(
        "o_orderkey",
        F.shiftrightunsigned(h, 32).alias("city_hi"),
        h.bitwiseAND(F.lit((1 << 32) - 1)).alias("city_lo"),
    )


@register("city_hash_str_parity", _city_str_oracle())
def city_hash_str_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact string CityHash64 (cityhash102 city.cc:121-204) for every
    fixed-length class — 1-3, 4-8, 9-16, 17-32, 33-64 bytes — via
    deterministic prefixes of repeat(p_name, 6), against a DuckDB byte-level
    arithmetic model. The >64-byte block-loop path is covered by the
    dual-implementation property tests (tests/test_hashing.py)."""
    from arrowhouse_spark.functions.cityhash import city_hash64_str

    base = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_partkey") % 13 == 0))
        .select("p_partkey", F.repeat("p_name", 6).alias("s"))
        .filter(F.length("s") >= 40)
    )
    cols = [F.col("p_partkey")]
    for n in (3, 6, 11, 20, 40):
        h = city_hash64_str(F.substring("s", 1, n))
        cols.append(F.shiftrightunsigned(h, 32).alias(f"h{n}_hi"))
        cols.append(h.bitwiseAND(F.lit((1 << 32) - 1)).alias(f"h{n}_lo"))
    return base.select(*cols)


