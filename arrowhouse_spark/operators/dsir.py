"""DSIR-style importance weighting for pretraining data selection.

Data Selection via Importance Resampling (Xie et al., 2023, public): score
every document in a raw pool by how target-domain-like its hashed unigram
bag is — log w(doc) = Σ_tokens [ln p_target(bucket) − ln q_raw(bucket)]
with Laplace-smoothed bucket distributions. Docs with log w ≥ 0 look more
like the target domain than like the pool average; the weights feed
importance resampling (or a plain top-fraction cut) to build a
domain-matched training mix.

Feature hashing is the published method's core scaling trick and ours too:
the model is ``n_buckets`` rows REGARDLESS of corpus size, so at 100 TB the
two distribution estimates are one keyed aggregation each onto a
fixed-width key space, the log-ratio table is a guaranteed-small broadcast,
and per-doc scoring is map-side join + ONE keyed sum by doc. Buckets use
the engine-independent md5-prefix hash (operators/sampling.py convention)
so the DuckDB oracle reproduces scores bit-identically up to libm ulp
(absorbed by 3-decimal rounding, the doc_unigram_logprob convention).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arrowhouse_spark.operators.text import tokens
from arrowhouse_spark.session import shared_persist


def _bucket(col: Column, n_buckets: int) -> Column:
    h = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    return h % n_buckets


def dsir_importance(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """(id_col, n_toks, log_importance) per document: the hashed-unigram
    DSIR log importance weight of each doc against the subset where
    ``target`` is true, estimated over the full ``docs`` pool as q.
    ``log_importance`` is rounded to 3 decimals (cross-engine libm /
    summation-order noise floor); docs with no tokens score 0.0."""
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok"),
        # NULL predicate rows (e.g. lang IS NULL under target=lang=='en')
        # must count as non-target, not poison whole buckets: an
        # all-NULL bucket would make c_t NULL -> __lr NULL, and the
        # per-doc F.sum would silently SKIP that bucket's contribution
        F.coalesce(target.cast("long"), F.lit(0)).alias("__is_t"),
    ).withColumn("bucket", _bucket(F.col("tok"), n_buckets))
    # two consumers (bucket counts + per-doc scoring) — persist through the
    # session relation cache so the corpus tokenize/explode/md5 runs once,
    # not twice (same convention as minhash's signature)
    toks = shared_persist(toks, "dsir_toks")

    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum("__is_t").alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_t").alias("n_t")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("c_t") + 1.0) / (F.col("n_t") + float(n_buckets)))
            - F.log((F.col("c_raw") + 1.0) / (F.col("n_raw") + float(n_buckets)))
        ).alias("__lr"),
    )
    scored = (
        toks.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.sum("__lr"), 3).alias("log_importance"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_toks", F.lit(0).cast("long")).alias("n_toks"),
            F.coalesce("log_importance", F.lit(0.0)).alias("log_importance"),
        )
    )
