#!/usr/bin/env python
"""Empirical scale evidence for the dedup/ANN family (round-4 verdict item 2).

Synthesizes a web-corpus-SHAPED dataset at 1x (5k docs / 2k vectors — the
sf0.1 size) and 10x (50k docs / 20k vectors — sf1-equivalent), then times the
four operators whose 100 TB story SCALE.md argues from plan shapes:

  minhash_dedup            — shingle→signature→banded LSH self-join
  ngram_jaccard_pairs      — MUST pick the inverted path at 10x (the vocab
                             pre-flight cap logic; asserted via plan: the
                             dense path contains a python matmul stage, the
                             inverted path is pure JVM join/agg)
  embedding_neardup_pairs  — group_col=None → auto multi-probe LSH blocking
  ann_cosine_lsh_multi     — multi-table LSH probe (filter, not shuffle)

Corpus shape matters: naively replicating the tiny-vocab sf0.1 fixture 10x
would multiply every shingle's document frequency by 10 and quadratically
blow up the co-occurrence join — that measures fixture degeneracy, not
operator scaling. Instead each doc mixes ~30 tokens from a 200-token common
pool (zipf-ish shared vocabulary) with ~20 doc-unique tokens (the long tail
that dominates real web text), 10% exact duplicates and 10% near-duplicates
of in-decade anchors. Everything is hash-derived → deterministic, built
JVM-side (no driver loop), and the SAME generator produces both scales.

Usage: python tools/scale_run.py [--scales 1,10] [--out /tmp/ah_scale]
Prints one JSON line per (scale, operator) and a final summary block to
paste into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

DIM = 64


def gen_documents(spark: SparkSession, n_docs: int) -> DataFrame:
    """doc_id, text: ~30 common-pool tokens + ~20 doc-unique tokens; 10%
    exact dups and 10% near-dups of the decade anchor (doc_id - doc_id%10).
    All content is a pure function of content_id → replicas are bit-exact."""
    d = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    dup_kind = F.pmod(F.xxhash64(F.lit("dup"), "doc_id"), F.lit(10))
    anchor = F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(10))
    content_id = (
        F.when(dup_kind < 2, anchor).otherwise(F.col("doc_id")).alias("content_id")
    )
    d = d.select("doc_id", content_id, dup_kind.alias("dup_kind"))
    common = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("content_id"), i), F.lit(200))
        ),
    )
    unique = F.transform(
        F.sequence(F.lit(0), F.lit(19)),
        lambda i: F.concat(F.lit("u"), F.col("content_id"), F.lit("_"), i),
    )
    extra = F.when(
        F.col("dup_kind") == 1,  # near-dup: anchor content + 3 own tokens
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: F.concat(F.lit("x"), F.col("doc_id"), F.lit("_"), i),
        ),
    ).otherwise(F.array())
    text = F.array_join(F.concat(common, unique, extra), " ")
    return d.select("doc_id", text.alias("text"))


def gen_embeddings(spark: SparkSession, n_vecs: int) -> DataFrame:
    """vec_id, embedding array<float>[DIM]: hash-derived uniform components;
    10% of vectors are exact copies of their decade anchor and 10% are the
    anchor plus a small deterministic perturbation (cosine ≥ ~0.99)."""
    d = spark.range(n_vecs).withColumnRenamed("id", "vec_id")
    dup_kind = F.pmod(F.xxhash64(F.lit("edup"), "vec_id"), F.lit(10))
    anchor = F.col("vec_id") - F.pmod(F.col("vec_id"), F.lit(10))
    content_id = F.when(dup_kind < 2, anchor).otherwise(F.col("vec_id"))
    d = d.select("vec_id", content_id.alias("content_id"), dup_kind.alias("dup_kind"))
    base = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("content_id"), j), F.lit(2001)) - F.lit(1000)
        ).cast("float")
        / F.lit(1000.0),
    )
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: F.when(
            F.col("dup_kind") == 1,
            (F.pmod(F.xxhash64(F.lit("n"), F.col("vec_id"), j), F.lit(21)) - F.lit(10))
            .cast("float")
            / F.lit(500.0),
        ).otherwise(F.lit(0.0).cast("float")),
    )
    emb = F.zip_with(base, noise, lambda a, b: (a + b).cast("float"))
    return d.select("vec_id", emb.alias("embedding"))


def timed(fn):
    t0 = time.time()
    n = fn()
    return round(time.time() - t0, 2), n


# ---------------------------------------------------------------------------
# Battery registry. ONE list drives both --ops validation and the measurement
# loop (round-5 advice: the hand-maintained known_ops set and the if-chain
# below it could drift — an op added to one but not the other either rejects
# a valid --ops name or leaves a dead name selecting nothing).
# Each runner(ctx) returns the record stored under its name; ctx carries
# (spark, docs, emb, scale, n_docs, n_vecs).
# ---------------------------------------------------------------------------
BATTERY: list[tuple[str, "object"]] = []


def op(name: str):
    def deco(fn):
        BATTERY.append((name, fn))
        return fn

    return deco


def gen_events(spark: SparkSession, n_events: int) -> DataFrame:
    """event_id, user_id, ts (30-day span), event_type, value, k — every
    column a pure hash function of event_id, so replicas are bit-exact.
    Users scale with volume (n/100) so per-key series lengths stay
    constant while key count grows — the shape a sharded 100 TB event
    log actually has."""
    e = spark.range(n_events).withColumnRenamed("id", "event_id")
    n_users = max(200, n_events // 100)
    types = F.array(
        *[F.lit(x) for x in ("view", "click", "purchase", "signup", "error")]
    )
    return e.select(
        "event_id",
        F.pmod(F.xxhash64(F.lit("u"), "event_id"), F.lit(n_users)).alias(
            "user_id"
        ),
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.pmod(F.xxhash64(F.lit("t"), "event_id"), F.lit(30 * 24 * 3600))
        ).alias("ts"),
        F.element_at(
            types,
            (F.pmod(F.xxhash64(F.lit("e"), "event_id"), F.lit(5)) + 1).cast(
                "int"
            ),
        ).alias("event_type"),
        (
            F.pmod(F.xxhash64(F.lit("v"), "event_id"), F.lit(100000)) / 100.0
        ).alias("value"),
        F.pmod(F.xxhash64(F.lit("k"), "event_id"), F.lit(100)).alias("k"),
    )


class Ctx:
    def __init__(self, spark, docs, emb, scale, n_docs, n_vecs, events=None):
        self.spark, self.docs, self.emb = spark, docs, emb
        self.scale, self.n_docs, self.n_vecs = scale, n_docs, n_vecs
        self.events = events


@op("minhash_dedup")
def _minhash_dedup(c: Ctx) -> dict:
    from arrowhouse_spark.operators.dedup import minhash_dedup

    t, n = timed(lambda: minhash_dedup(c.docs, threshold=0.8).count())
    return {"sec": t, "pairs": n}


@op("ngram_jaccard_pairs")
def _ngram_jaccard(c: Ctx) -> dict:
    from arrowhouse_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(c.docs, shingle_n=2, threshold=0.5)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    python_stage = any(
        m in plan
        for m in ("ArrowEvalPython", "FlatMapsInPandas", "MapInPandas", "BatchEvalPython")
    )
    strategy = "dense(matmul)" if python_stage else "inverted(shingle-join)"
    t, n = timed(pairs.count)
    return {"sec": t, "pairs": n, "strategy": strategy}


@op("ngram_containment_pairs")
def _ngram_containment(c: Ctx) -> dict:
    from arrowhouse_spark.operators.dedup import ngram_containment_pairs

    t, n = timed(
        lambda: ngram_containment_pairs(c.docs, shingle_n=2, threshold=0.8).count()
    )
    return {"sec": t, "pairs": n}


@op("dedup_keep_best")
def _dedup_keep_best_op(c: Ctx) -> dict:
    # canonicalization on top of the (linear-measured) minhash pair stream:
    # components + ONE keyed election; kept count ≈ n_docs − resolved dups
    from arrowhouse_spark.operators.components import dedup_keep_best
    from arrowhouse_spark.operators.dedup import minhash_dedup

    docs = c.docs.withColumn("n_chars", F.length("text"))
    pairs = minhash_dedup(c.docs, threshold=0.8)
    t, n = timed(
        lambda: dedup_keep_best(docs, pairs, score_col="n_chars")
        .filter(F.col("kept") == 1)
        .count()
    )
    return {"sec": t, "kept": n}


@op("shard_export")
def _shard_export(c: Ctx) -> dict:
    # full write path: 32 md5-bucketed sorted shards to scratch disk, then
    # the manifest aggregation over the re-read files
    import shutil
    import tempfile

    from arrowhouse_spark.sources.shards import (
        shard_manifest,
        write_training_shards,
    )

    d = tempfile.mkdtemp(prefix="ah_scale_shards_")
    try:

        def run():
            write_training_shards(c.docs, d, n_shards=32)
            return shard_manifest(c.spark, d).count()

        t, n = timed(run)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return {"sec": t, "shards": n}


@op("dsir_importance")
def _dsir_importance(c: Ctx) -> dict:
    # hashed-feature model is corpus-size-free; cost = the token explode +
    # two keyed aggs, expected to track the unigram-LM family's slope
    from arrowhouse_spark.operators.dsir import dsir_importance

    target = F.pmod(F.xxhash64(F.lit("dsir_t"), "doc_id"), F.lit(10)) < 3
    # CONSUME the aggregate row — a bare count() (even over this agg)
    # prunes the inner sum, letting Catalyst eliminate the unique-key left
    # join and skip the whole scoring computation (round-7 review: the
    # earlier .agg(...).count() form measured a bare scan)
    t, row = timed(
        lambda: dsir_importance(c.docs, target=target)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("log_importance"), 3).alias("score_sum"),
        )
        .collect()[0]
    )
    return {"sec": t, "docs": c.n_docs, "score_sum": float(row["score_sum"])}


@op("temperature_mix")
def _temperature_mix(c: Ctx) -> dict:
    # exact path: windows are per-source (bounded strata); budget scales
    # with the corpus so selected row count grows linearly
    from arrowhouse_spark.operators.sampling import temperature_mix_sample

    docs = c.docs.withColumn(
        "source",
        F.concat(F.lit("s"), F.pmod(F.xxhash64(F.lit("src"), "doc_id"), F.lit(16))),
    )
    t, n = timed(
        lambda: temperature_mix_sample(
            docs, alpha=0.7, total=c.n_docs // 5, key="doc_id"
        ).count()
    )
    return {"sec": t, "sampled": n}


@op("embedding_neardup_pairs")
def _embedding_neardup(c: Ctx) -> dict:
    from arrowhouse_spark.operators.similarity import embedding_neardup_pairs

    t, n = timed(
        lambda: embedding_neardup_pairs(c.emb, threshold=0.99, dim=DIM).count()
    )
    return {"sec": t, "pairs": n, "blocking": "auto-LSH"}


@op("ann_cosine_lsh_multi")
def _ann_lsh(c: Ctx) -> dict:
    from arrowhouse_spark.operators.similarity import ann_cosine_lsh_multi

    q = c.emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    t, n = timed(
        lambda: ann_cosine_lsh_multi(c.emb, query=list(q), k=10, dim=DIM).count()
    )
    return {"sec": t, "rows": n}


@op("dedup_incremental")
def _dedup_incremental(c: Ctx) -> dict:
    from arrowhouse_spark.operators.dedup import dedup_incremental
    from arrowhouse_spark.operators.text import fingerprint

    seen = fingerprint(c.docs.filter(F.col("doc_id") % 2 == 0)).select("fp")
    t, n = timed(
        lambda: dedup_incremental(c.docs.filter(F.col("doc_id") % 2 != 0), seen).count()
    )
    return {"sec": t, "survivors": n}


@op("line_dedup")
def _line_dedup(c: Ctx) -> dict:
    # token-granularity worst case: every token is a "line"; max_df=20
    # strips the 200-token shared pool (df ≈ n_docs*30/200 ≫ 20) and
    # keeps the doc-unique long tail — the boilerplate-removal shape
    from arrowhouse_spark.operators.dedup import line_dedup

    t, n = timed(lambda: line_dedup(c.docs, sep=" ", max_df=20).count())
    return {"sec": t, "docs": n}


@op("pack_sequences")
def _pack_sequences(c: Ctx) -> dict:
    from arrowhouse_spark.operators.packing import pack_sequences

    t, n = timed(lambda: pack_sequences(c.docs, budget=200).count())
    return {"sec": t, "rows": n}


# text-quality family (round-4 verdict item 8: measured slopes, not plan-shape
# arguments). gopher_quality is map-side except the top-bigram rollup;
# decontaminate streams corpus grams against a broadcast eval set (a
# deterministic 200-doc slice plays the eval benchmark); unigram_logprob is
# the token-keyed scoring join.
@op("gopher_quality")
def _gopher(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import gopher_quality

    t, n = timed(lambda: gopher_quality(c.docs).count())
    return {"sec": t, "docs": n}


@op("decontaminate")
def _decontaminate(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import decontaminate

    eval_df = c.docs.filter(F.col("doc_id") % 500 == 7).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    t, n = timed(
        lambda: decontaminate(c.docs, eval_df, ngram_n=13)
        .filter(F.col("is_contaminated"))
        .count()
    )
    return {"sec": t, "flagged": n}


@op("unigram_logprob")
def _unigram(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import unigram_logprob_score

    t, n = timed(lambda: unigram_logprob_score(c.docs).count())
    return {"sec": t, "docs": n}


# round-5 additions: span-level dedup and semantic dedup.
# dup_spans: windows hash before the shuffle; the corpus count is the only
# global aggregation. semantic_dedup follows the SemDeDup paper recipe
# n_clusters ~ sqrt(n) so per-cluster O(n_c²) stays bounded as the corpus
# grows — the measurement checks that law, not just the wall clock.
@op("dup_spans")
def _dup_spans(c: Ctx) -> dict:
    from arrowhouse_spark.operators.dedup import dup_spans

    t, n = timed(
        lambda: dup_spans(c.docs, window=8).filter(F.col("n_dup_windows") > 0).count()
    )
    return {"sec": t, "docs_flagged": n}


@op("semantic_dedup")
def _semantic_dedup(c: Ctx) -> dict:
    from arrowhouse_spark.operators.similarity import semantic_dedup

    k = max(8, int(c.n_vecs**0.5))
    t, n = timed(
        lambda: semantic_dedup(c.emb, n_clusters=k, iters=1, threshold=0.99, init="hash")
        .filter(~F.col("is_kept"))
        .count()
    )
    return {"sec": t, "dropped": n, "n_clusters": k}


# round-6 additions (round-5 verdict item 5): the join-bearing round-5 text
# newcomers. vocab_encode = token groupBy + top-V broadcast rank join + encode
# join; bigram_logprob = two gram-keyed scoring joins; source_kl = one
# (source,token) count feeding keyed marginals. The map-only pii/encoding ops
# are trivially flat and not measured.
@op("vocab_encode")
def _vocab_encode(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import vocab_encode

    t, n = timed(lambda: vocab_encode(c.docs, vocab_size=500).count())
    return {"sec": t, "docs": n}


@op("bigram_logprob")
def _bigram_logprob(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import bigram_logprob_score

    t, n = timed(lambda: bigram_logprob_score(c.docs).count())
    return {"sec": t, "docs": n}


@op("source_kl")
def _source_kl(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import source_kl_divergence

    # the generator has no source column; derive a deterministic 4-way split
    srcd = c.docs.withColumn(
        "source", F.concat(F.lit("s"), F.pmod(F.xxhash64(F.lit("src"), "doc_id"), F.lit(4)))
    )
    t, n = timed(lambda: source_kl_divergence(srcd).count())
    return {"sec": t, "sources": n}


@op("pipeline_compose")
def _pipeline_compose(c: Ctx) -> dict:
    """The corpus-pipeline composition (gopher -> exact dedup -> dup-span
    filter -> vocab encode -> pack) over the generated corpus — measures
    the COMPOSED slope, not just each stage's (the suite query is
    sf_dir-bound, so the battery rebuilds the same operator chain)."""
    from arrowhouse_spark.operators.dedup import dedup_exact, dup_spans
    from arrowhouse_spark.operators.packing import pack_sequences
    from arrowhouse_spark.operators.text import gopher_quality, tokens, vocab_encode

    def build():
        base = c.docs.repartition(32, "doc_id").select(
            "doc_id", "text", tokens("text").alias("__toks")
        )
        gpass = (
            gopher_quality(base, tokens_col="__toks")
            .filter(F.col("gopher_pass"))
            .select("doc_id")
        )
        surv1 = base.join(gpass, "doc_id")
        keep = dedup_exact(surv1).selectExpr("keep_id as doc_id")
        surv2 = surv1.join(keep, "doc_id")
        spanok = (
            dup_spans(surv2, window=8, tokens_col="__toks")
            .filter(F.col("dup_token_frac") <= 0.2)
            .select("doc_id")
        )
        surv3 = surv2.join(spanok, "doc_id").localCheckpoint(eager=False)
        enc = vocab_encode(
            surv3, vocab_size=500, tokens_col="__toks", with_ids=False
        )
        packed = pack_sequences(surv3, budget=200, tokens_col="__toks").select(
            "doc_id", "bucket", "pack_id", "pack_off"
        )
        return enc.select(
            "doc_id", "n_tokens", "n_unk", "ids_checksum"
        ).join(packed, "doc_id")

    t, n = timed(lambda: build().count())
    return {"sec": t, "survivors": n}


@op("bpe_train_merges")
def _bpe_train(c: Ctx) -> dict:
    """K=3 merge rounds: each is a full-corpus pair count (keyed, key
    count = live pair vocabulary) + a 1-row broadcast apply over the
    lineage-cut working corpus — the slope measures the per-round corpus
    pass, which is the quantity that holds or breaks at 100 TB."""
    from arrowhouse_spark.operators.bpe import bpe_train_merges

    t, n = timed(lambda: bpe_train_merges(c.docs, n_merges=3).count())
    return {"sec": t, "merges": n}


@op("snapshot_diff")
def _snapshot_diff(c: Ctx) -> dict:
    """Day-over-day diff: the 'new' snapshot drops every 17th doc, edits
    every 13th, adds every 19th under a shifted id — one full-outer keyed
    join of (id, md5) pairs."""
    from arrowhouse_spark.operators.snapshot import snapshot_diff

    new_snap = (
        c.docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            c.docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
            )
        )
    )
    t, n = timed(
        lambda: snapshot_diff(c.docs, new_snap)
        .filter(F.col("status") != "unchanged")
        .count()
    )
    return {"sec": t, "changed_rows": n}


@op("quality_quantile")
def _quality_quantile(c: Ctx) -> dict:
    """Exact per-group percentile: per-group state is the full value list,
    so the measurement tracks the documented exact-mode bound (8 groups
    here -> n_docs/8 values per group)."""
    from arrowhouse_spark.operators.text import quality_quantile_filter

    srcd = c.docs.withColumn(
        "source",
        F.concat(F.lit("s"), F.pmod(F.xxhash64(F.lit("qs"), "doc_id"), F.lit(8))),
    )
    t, n = timed(
        lambda: quality_quantile_filter(srcd, frac=0.8)
        .filter(F.col("kept"))
        .count()
    )
    return {"sec": t, "kept": n}



@op("chunk_split")
def _chunk_split(c: Ctx) -> dict:
    """Round-6 newcomer slope (verdict #8): pure map-side sequence/explode/
    slice — expected FLAT per-doc (wall tracks corpus size only through
    the scan)."""
    from arrowhouse_spark.operators.text import chunk_split

    t, n = timed(lambda: chunk_split(c.docs, chunk_size=32, overlap=8).count())
    return {"sec": t, "chunks": n}


@op("remove_dup_spans")
def _remove_dup_spans(c: Ctx) -> dict:
    """Round-6 newcomer slope (verdict #8): should track dup_spans (same
    (hash,id,pos) shuffle + per-doc sorted span arrays) plus the map-side
    token-filter rewrite."""
    from arrowhouse_spark.operators.dedup import remove_dup_spans

    t, n = timed(
        lambda: remove_dup_spans(c.docs, window=8)
        .filter(F.col("n_removed") > 0)
        .count()
    )
    return {"sec": t, "docs_rewritten": n}


@op("label_centroid_cosine")
def _label_centroid(c: Ctx) -> dict:
    """Round-6 newcomer slope (verdict #8): after the keyed (label,dim)
    mean the plan is corpus-size-free (8 labels x 64 dims here), so wall
    should track only the explode/partial-agg scan."""
    from arrowhouse_spark.operators.similarity import label_centroid_cosine

    labeled = c.emb.withColumn(
        "label",
        F.concat(F.lit("l"), F.pmod(F.xxhash64(F.lit("lab"), "vec_id"), F.lit(8))),
    )
    t, n = timed(lambda: label_centroid_cosine(labeled).count())
    return {"sec": t, "label_pairs": n}


@op("contamination_report")
def _contamination_report(c: Ctx) -> dict:
    """Round-6 newcomer slope (verdict #8): eval grams broadcast
    (doc_id%97 sample of the corpus itself, so hits exist), corpus grams
    stream map-side against them; the rollup shuffle is bounded by actual
    overlap."""
    from arrowhouse_spark.operators.text import contamination_report

    ev = c.docs.filter(F.col("doc_id") % 97 == 0)
    t, n = timed(
        lambda: contamination_report(c.docs, ev, ngram_n=13)
        .filter(F.col("is_compromised"))
        .count()
    )
    return {"sec": t, "compromised": n}


@op("bpe_train_batched")
def _bpe_batched(c: Ctx) -> dict:
    """Round-7 capability fix (round-6 verdict #1): 24 merges in 3 passes
    of top-8 non-interfering pairs — compare with the sequential
    bpe_train_merges row (3 merges in 3 passes) to read the merges/pass x
    pass-count scaling: same pass structure, 8x the merges."""
    from arrowhouse_spark.operators.bpe import bpe_train_merges_batched

    t, n = timed(
        lambda: bpe_train_merges_batched(
            c.docs, n_merges=24, batch_size=8
        ).count()
    )
    return {"sec": t, "merges": n, "passes": 3}


@op("bm25_topk")
def _bm25_topk(c: Ctx) -> dict:
    # retrieval lookup: cost = the token explode + per-doc length agg;
    # the query-term tf side shrinks to the isin hit set. Expected to
    # track the inverted-index family (near-linear in token count).
    from arrowhouse_spark.operators.text import bm25_topk

    # common-pool tokens (w0..w199) hit most docs (gen_documents)
    terms = ["w1", "w2", "w3"]
    t, rows = timed(lambda: bm25_topk(c.docs, terms, k=20).collect())
    return {"sec": t, "hits": len(rows)}


@op("bpe_encode_decode")
def _bpe_encode_decode(c: Ctx) -> dict:
    # train once (fixed small merge budget), then time ENCODE+DECODE over
    # the corpus — both map-side folds, expected flat per-token
    from arrowhouse_spark.operators.bpe import (
        bpe_apply_merges,
        bpe_decode,
        bpe_train_merges_batched,
    )

    merges = bpe_train_merges_batched(
        c.docs.limit(2000), n_merges=8, batch_size=4
    )
    t, n = timed(
        lambda: bpe_decode(bpe_apply_merges(c.docs, merges))
        .agg(F.count(F.lit(1)), F.sum(F.length("text")))
        .collect()[0][0]
    )
    return {"sec": t, "docs": n}


@op("dedup_lines_within")
def _dedup_lines_within(c: Ctx) -> dict:
    # within-doc first-occurrence election: one (doc,line)-keyed agg over
    # 10-token chunk lines + doc-keyed reassembly — line_dedup's shape
    from arrowhouse_spark.operators.dedup import dedup_lines_within_doc

    w = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(w) / F.lit(10.0)).cast("int")
    ls = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(w, i * F.lit(10) + 1, 10), " "),
    )
    lines = c.docs.select(
        "doc_id", F.posexplode(F.concat(ls, F.slice(ls, 1, 2))).alias("pos", "line")
    )
    t, n = timed(
        lambda: dedup_lines_within_doc(lines, sep=" ")
        .agg(F.count(F.lit(1)), F.sum("n_kept"))
        .collect()[0][0]
    )
    return {"sec": t, "docs": n}


@op("weighted_sample")
def _weighted_sample(c: Ctx) -> dict:
    # A-ES race: map-side u/ln fused into the scan + one TakeOrdered(k) —
    # expected flat (scan-bound)
    from arrowhouse_spark.operators.sampling import weighted_sample
    from arrowhouse_spark.operators.text import token_count

    docs = token_count(c.docs)
    t, n = timed(
        lambda: len(weighted_sample(docs, "n_tokens", k=100).collect())
    )
    return {"sec": t, "rows": n}


@op("histogram_equidepth")
def _histogram_equidepth(c: Ctx) -> dict:
    # 1-row exact-percentile agg (full-list state; approx_percentile is
    # the unbounded-corpus path) + broadcast + keyed agg
    from arrowhouse_spark.operators.text import token_count

    docs = token_count(c.docs)
    edges = docs.agg(
        F.array(
            *[
                F.round(F.percentile("n_tokens", F.lit(i / 8.0)), 6)
                for i in range(1, 8)
            ]
        ).alias("es")
    )
    t, n = timed(
        lambda: docs.crossJoin(F.broadcast(edges))
        .withColumn(
            "bin",
            F.size(F.filter(F.col("es"), lambda e: F.col("n_tokens") > e)),
        )
        .groupBy("bin")
        .count()
        .count()
    )
    return {"sec": t, "bins": n}


@op("edit_distance_verify")
def _edit_distance_verify(c: Ctx) -> dict:
    # verify cost over the (linear-measured) banding candidate stream;
    # near-dups in the fixture differ by 3 appended ~8-char tokens, so
    # max_dist=40 keeps them while the threshold form short-circuits the
    # rest at O(max_dist * len) per pair
    from arrowhouse_spark.operators.dedup import (
        edit_distance_pairs,
        minhash_lsh_candidates,
        minhash_signature,
    )

    sig = minhash_signature(c.docs)
    cands = minhash_lsh_candidates(sig)
    t, n = timed(
        lambda: edit_distance_pairs(c.docs, cands, max_dist=40).count()
    )
    return {"sec": t, "pairs": n}


@op("minhash_skewed")
def _minhash_skewed(c: Ctx) -> dict:
    """Round-6 verdict #5: the banding join on a boilerplate-heavy corpus.
    5% of docs share ONE text -> identical signatures -> every band holds
    one (n/20)-member hot bucket, so the default all-pairs path pays
    ~(n/20)^2/2 candidates per band while the max_bucket_size anchor
    fallback pays n/20 - 1. Records both, plus whether AQE marked the
    join skewed (at production partition sizes AQE splits the hot
    partition across tasks; at this fixture scale partitions sit far
    below skewedPartitionThresholdInBytes, so the marker documents the
    observed behavior honestly)."""
    from arrowhouse_spark.operators.dedup import minhash_dedup

    boiler = " ".join(f"tpl{j}" for j in range(45))
    skewed = c.docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 20 == 0, F.lit(boiler)).otherwise(
            F.col("text")
        ),
    )
    if c.n_docs > 60_000:
        # the default leg is INTENTIONALLY quadratic in the hot-bucket size
        # ((n/20)^2/2 minhash-array pairs per band x 16 bands); at 30x that
        # is ~450M array-carrying join rows and OOMs the 16-thread local
        # JVM — which is the demonstration itself. Record the skip and
        # measure only the capped path at this scale.
        t_def, n_def, skew_marked = None, None, None
    else:
        pairs_default = minhash_dedup(skewed, threshold=0.8)
        t_def, n_def = timed(pairs_default.count)
        plan = pairs_default._jdf.queryExecution().executedPlan().toString()
        skew_marked = "skew=true" in plan
    from arrowhouse_spark.session import release_caches

    release_caches()  # capped run must not reuse the default's sig
    t_cap, n_cap = timed(
        lambda: minhash_dedup(
            skewed, threshold=0.8, max_bucket_size=64
        ).count()
    )
    release_caches()
    return {
        "sec_default": t_def,
        "pairs_default": n_def,
        "sec_capped": t_cap,
        "pairs_capped": n_cap,
        "aqe_skew_marked": skew_marked,
    }


@op("ohlc_downsample")
def _ohlc(c: Ctx) -> dict:
    from arrowhouse_spark.operators.timeseries import ohlc_downsample

    t, n = timed(
        lambda: ohlc_downsample(
            c.events, key_col="event_type", ts_col="ts", value_col="value",
            tie_col="event_id",
        ).count()
    )
    return {"sec": t, "buckets": n}


@op("gapfill_locf")
def _gapfill(c: Ctx) -> dict:
    from arrowhouse_spark.operators.timeseries import gapfill_locf

    t, n = timed(
        lambda: gapfill_locf(
            c.events, key_col="user_id", ts_col="ts", value_col="value",
            tie_col="event_id",
        ).count()
    )
    return {"sec": t, "spine_rows": n}


@op("scd2_from_log")
def _scd2(c: Ctx) -> dict:
    from arrowhouse_spark.operators.merge import scd2_from_log

    t, n = timed(
        lambda: scd2_from_log(
            c.events, key_cols=["user_id"], ts_col="ts",
            attr_col="event_type", tie_col="event_id",
        ).count()
    )
    return {"sec": t, "intervals": n}


@op("pagerank")
def _pagerank(c: Ctx) -> dict:
    from arrowhouse_spark.operators.graph import pagerank

    edges = c.events.select(
        F.col("user_id").alias("src"), F.col("k").alias("dst")
    )
    t, n = timed(lambda: pagerank(edges, iterations=5).count())
    return {"sec": t, "vertices": n}


@op("agg_state_merge")
def _aggstate(c: Ctx) -> dict:
    from arrowhouse_spark.operators.aggstate import agg_merge, agg_state

    ops_ = [("value", "count"), ("value", "sum"), ("value", "min"),
            ("value", "max"), ("value", "avg")]
    ev = c.events.withColumn("day", F.to_date("ts"))
    t, n = timed(
        lambda: agg_merge(
            agg_state(ev, keys=["event_type", "day"], ops=ops_),
            keys=["event_type"], ops=ops_,
        ).count()
    )
    return {"sec": t, "groups": n}


@op("salted_join")
def _salted_join(c: Ctx) -> dict:
    from arrowhouse_spark.operators.skew import salted_join

    dim = c.events.select("user_id").distinct().withColumn(
        "attr", F.pmod(F.col("user_id"), F.lit(7))
    )
    t, n = timed(
        lambda: salted_join(
            c.events, dim, on=["user_id"], salt=16, force_shuffle=True
        ).count()
    )
    return {"sec": t, "rows": n}


@op("html_extract")
def _html_extract(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import html_extract

    wrapped = c.docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><script>var x = "1 < 2";</script></head>'
                  "<body><p>"),
            F.replace(F.col("text"), F.lit(" "), F.lit("</p><p>")),
            F.lit(" &amp; done</p></body></html>"),
        ).alias("html"),
    )
    t, n = timed(
        lambda: html_extract(wrapped, text_col="html")
        .filter(F.length("clean_text") > 0).count()
    )
    return {"sec": t, "docs": n}


@op("zipf_fit")
def _zipf(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import zipf_fit

    t, rows = timed(lambda: zipf_fit(c.docs).collect())
    return {"sec": t, "slope": rows[0]["zipf_slope"]}


@op("zorder_value")
def _zorder(c: Ctx) -> dict:
    from arrowhouse_spark.operators.layout import zorder_value

    t, n = timed(
        lambda: zorder_value(c.events, ["user_id", "k"], bits=16)
        .select(F.shiftright("zvalue", 24).alias("zb"))
        .groupBy("zb").count().count()
    )
    return {"sec": t, "buckets": n}


@op("decayed_agg")
def _decayed(c: Ctx) -> dict:
    from arrowhouse_spark.operators.timeseries import decayed_agg

    t, n = timed(
        lambda: decayed_agg(
            c.events, key_cols=["event_type"], ts_col="ts", value_col="value"
        ).count()
    )
    return {"sec": t, "groups": n}


@op("hll_state_merge")
def _hll(c: Ctx) -> dict:
    from arrowhouse_spark.operators.aggstate import hll_merge, hll_state

    ev = c.events.withColumn("day", F.to_date("ts"))
    t, n = timed(
        lambda: hll_merge(
            hll_state(ev, keys=["event_type", "day"], value_col="user_id"),
            keys=["event_type"],
        ).count()
    )
    return {"sec": t, "groups": n}


@op("dq_check")
def _dq(c: Ctx) -> dict:
    from arrowhouse_spark.operators.quality import dq_check

    t, n = timed(
        lambda: dq_check(
            c.events,
            [
                ("not_null", "user_id"),
                ("unique", "event_id"),
                ("in_set", "event_type",
                 ("view", "click", "purchase", "signup", "error")),
                ("range", "value", 0, 1000),
            ],
        ).count()
    )
    return {"sec": t, "rules": n}


@op("cap_per_key")
def _cap(c: Ctx) -> dict:
    from arrowhouse_spark.operators.sampling import cap_per_key

    t, n = timed(
        lambda: cap_per_key(
            c.events, key_col="event_type", id_col="event_id", max_rows=500
        ).count()
    )
    return {"sec": t, "kept": n}


@op("chat_turns")
def _chat(c: Ctx) -> dict:
    from arrowhouse_spark.operators.text import chat_turns

    wrapped = c.docs.select(
        "doc_id",
        F.concat(
            F.lit("user: "),
            F.col("text"),
            F.lit("\nassistant: ok"),
        ).alias("text"),
    )
    t, n = timed(lambda: chat_turns(wrapped).count())
    return {"sec": t, "turns": n}


@op("zscore_outliers")
def _zscore(c: Ctx) -> dict:
    from arrowhouse_spark.operators.timeseries import zscore_outliers

    t, n = timed(
        lambda: zscore_outliers(
            c.events, key_cols=["event_type"], value_col="value"
        ).filter("is_outlier").count()
    )
    return {"sec": t, "outliers": n}


@op("psi_drift")
def _psi(c: Ctx) -> dict:
    from arrowhouse_spark.operators.profile import psi_drift

    half = c.events.filter(F.dayofmonth("ts") <= 15)
    rest = c.events.filter(F.dayofmonth("ts") > 15)
    t, n = timed(lambda: psi_drift(half, rest, cat_col="event_type").count())
    return {"sec": t, "cats": n}


@op("merge_into")
def _merge_into(c: Ctx) -> dict:
    from arrowhouse_spark.operators.merge import merge_into

    changes = c.events.filter(F.col("event_id") % 10 == 0).select(
        "event_id",
        (F.col("value") + 1).alias("value"),
        (F.col("event_id") % 50 == 0).alias("is_del"),
    )
    t, n = timed(
        lambda: merge_into(
            c.events, changes, key_cols=["event_id"], delete_col="is_del"
        ).count()
    )
    return {"sec": t, "rows": n}


@op("bfs_levels")
def _bfs(c: Ctx) -> dict:
    from arrowhouse_spark.operators.graph import bfs_levels

    edges = c.events.select(
        F.col("user_id").alias("src"), F.col("k").alias("dst")
    ).distinct()
    seeds = c.events.filter(F.col("user_id") < 5).select(
        F.col("user_id").alias("src")
    )
    t, n = timed(lambda: bfs_levels(edges, seeds, max_hops=4).count())
    return {"sec": t, "reached": n}


@op("pca_fit_project")
def _pca(c: Ctx) -> dict:
    from arrowhouse_spark.operators.pca import pca_fit, pca_project

    fit = pca_fit(c.emb, vec_col="embedding", k=4)
    t, n = timed(
        lambda: pca_project(c.emb, fit["components"]).count()
    )
    return {"sec": t, "rows": n, "tv": round(fit["total_variance"], 4)}


@op("triangle_count")
def _triangles(c: Ctx) -> dict:
    from arrowhouse_spark.operators.graph import triangle_count

    edges = c.events.select(
        F.col("user_id").alias("src"), F.col("k").alias("dst")
    )
    t, rows = timed(lambda: triangle_count(edges).collect())
    return {"sec": t, "triangles": rows[0]["n_triangles"]}


@op("rolling_winsorize")
def _rolling(c: Ctx) -> dict:
    from arrowhouse_spark.operators.timeseries import (
        gapfill_locf,
        rolling_mean,
        winsorize,
    )

    filled = gapfill_locf(
        c.events, key_col="user_id", ts_col="ts", value_col="value",
        tie_col="event_id",
    )
    t, n = timed(
        lambda: winsorize(
            rolling_mean(
                filled, key_cols=["user_id"], order_col="bucket_ts",
                value_col="v_filled", window_rows=7,
            ),
            key_cols=["user_id"], value_col="rolling_mean",
        ).count()
    )
    return {"sec": t, "rows": n}


@op("cms_state_merge")
def _cms_state_merge(c: Ctx) -> dict:
    # day-keyed 4x512 counter states -> keyless fold -> 16 probe estimates;
    # state cardinality is days x 4 x 512 regardless of volume, so expected
    # near-flat (scan + one keyed agg over fixed-size keys)
    from arrowhouse_spark.operators.aggstate import (
        cms_merge,
        cms_point_estimate,
        cms_state,
    )

    ev = c.events.withColumn("day", F.to_date("ts"))
    probes = c.spark.range(16).select(F.col("id").alias("user_id"))

    def run():
        merged = cms_merge(
            cms_state(ev, keys=["day"], value_col="user_id"), keys=[]
        )
        return cms_point_estimate(merged, probes, "user_id").count()

    t, n = timed(run)
    return {"sec": t, "probes": n}


@op("ancestor_rollup")
def _ancestor_rollup(c: Ctx) -> dict:
    # native recursive CTE over the 10-ary event_id forest: rows x depth
    # recursion (depth grows log10 with volume), one final keyed rollup —
    # expected near-linear with a log-depth factor
    from arrowhouse_spark.operators.graph import ancestor_rollup

    nodes = c.events.select(F.col("event_id").alias("id"), F.col("value"))
    t, n = timed(
        lambda: ancestor_rollup(
            nodes,
            id_col="id",
            parent_expr="cur DIV 10",
            value_col="value",
            root_pred="cur = 0",
            row_limit=c.scale * 20000 * 10,  # n x depth headroom
        ).count()
    )
    return {"sec": t, "ancestors": n}


@op("rrf_hybrid")
def _rrf_hybrid(c: Ctx) -> dict:
    # fusion itself is constant-sized (two top-50 lists); the cost is the
    # two retrieval legs (bm25 over disjoint term sets stands in for the
    # dense leg so the battery needs no embedding join key) — expected to
    # track 2x bm25_topk
    from arrowhouse_spark.operators.text import bm25_topk, rrf_fuse

    a = bm25_topk(c.docs, ["w1", "w2", "w3"], k=50)
    b = bm25_topk(c.docs, ["w4", "w5", "w6"], k=50)
    t, n = timed(
        lambda: rrf_fuse(
            [("lex", a.select("doc_id", "rank")),
             ("alt", b.select("doc_id", "rank"))],
            k=20,
        ).count()
    )
    return {"sec": t, "rows": n}


@op("hist_state_merge")
def _hist_state_merge(c: Ctx) -> dict:
    # day-keyed 250-bin histogram states -> keyless fold -> 3 quantiles;
    # same bounded-key-agg shape as cms_state_merge — expected flat
    from arrowhouse_spark.operators.aggstate import (
        hist_merge,
        hist_quantile,
        hist_state,
    )

    ev = c.events.withColumn("day", F.to_date("ts"))

    def run():
        merged = hist_merge(
            hist_state(ev, keys=["day"], value_col="value"), keys=[]
        )
        return hist_quantile(merged, [0.5, 0.9, 0.99]).count()

    t, n = timed(run)
    return {"sec": t, "quantiles": n}


@op("jaccard_prefix")
def _jaccard_prefix(c: Ctx) -> dict:
    # round-8 newcomer: prefix-filtered exact Jaccard — candidate join uses
    # only each doc's rarest shingles; expected to track the inverted path
    # on this corpus (rich long-tail vocab -> prefixes stay rare) with a
    # far smaller candidate relation
    from arrowhouse_spark.operators.dedup import (
        _jaccard_prefix_candidates,
        ngram_jaccard_prefix_pairs,
        shingle_relation,
    )

    sh = shingle_relation(c.docs, shingle_n=2)
    n_cand = _jaccard_prefix_candidates(sh, "doc_id", 0.5).count()
    t, n = timed(
        lambda: ngram_jaccard_prefix_pairs(c.docs, shingle_n=2, threshold=0.5, force_prefix=True).count()
    )
    return {"sec": t, "pairs": n, "candidates": n_cand}


@op("mad_outliers")
def _mad_outliers(c: Ctx) -> dict:
    # round-8 newcomer: two keyed exact percentiles + broadcast stats joins;
    # per-key state is the key's value list, so expected linear in events
    # (key count fixed at 5 types while per-key lists grow with volume —
    # the worst case for the exact path; approx_percentile is the 100 TB swap)
    from arrowhouse_spark.operators import timeseries  # noqa: F401 — parity import
    from pyspark.sql import functions as F

    ev = c.events
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med")))
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    out = dev.join(F.broadcast(mad.withColumnRenamed("event_type", "__et")),
                   F.col("__et") == F.col("event_type"))
    is_out = F.abs(F.col("value") - F.col("med")) > F.lit(3.5 * 1.4826) * F.col("mad")
    t, n = timed(lambda: out.groupBy("event_type").agg(
        F.sum(F.when(is_out, 1).otherwise(0)).alias("n_out")).count())
    return {"sec": t, "groups": n}


@op("token_runs")
def _token_runs(c: Ctx) -> dict:
    # round-8 newcomer: posexplode + two doc-partitioned windows + one keyed
    # island aggregate — expected linear in corpus size (reducer state is one
    # document's tokens; no global window anywhere)
    from arrowhouse_spark.operators.udtf_ops import token_runs_declarative

    t, n = timed(lambda: token_runs_declarative(c.docs).count())
    return {"sec": t, "runs": n}


@op("ewma")
def _ewma(c: Ctx) -> dict:
    # round-8 newcomer: ONE per-key window with frame state <= 32 values —
    # expected linear in events (users scale with volume, per-key series
    # length constant)
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.timeseries import ewma

    sm = ewma(c.events, ["user_id"], ["ts", "event_id"], "value", alpha=0.25)
    t, n = timed(lambda: sm.groupBy("user_id").agg(F.max("ewma")).count())
    return {"sec": t, "users": n}


@op("pareto_frontier")
def _pareto(c: Ctx) -> dict:
    # round-8 newcomer: distinct-point reduce + bucketed windows + B-row
    # broadcast prune — expected scan-dominated linear; frontier size is
    # data-shaped, not volume-shaped
    from arrowhouse_spark.operators.skyline import pareto_frontier

    t, n = timed(
        lambda: pareto_frontier(
            c.events, min_col="value", max_col="user_id", id_col="event_id"
        ).count()
    )
    return {"sec": t, "frontier": n}


@op("bloom_state_merge")
def _bloom(c: Ctx) -> dict:
    # round-8 newcomer: keyed word agg (state occupancy-bounded at
    # n_words rows however large the input) + broadcast probe join —
    # expected linear scan cost, flat state
    from arrowhouse_spark.operators.aggstate import (
        bloom_merge,
        bloom_probe,
        bloom_state,
    )

    st = bloom_merge(bloom_state(c.events, ["event_type"], "user_id"), [])
    probes = c.spark.range(2000).withColumnRenamed("id", "q")
    t, n = timed(lambda: bloom_probe(st, probes, "q").count())
    return {"sec": t, "probes": n}


@op("kmeans_lloyd")
def _kmeans(c: Ctx) -> dict:
    # round-8 newcomer: per iteration explode + broadcast k*dim join +
    # keyed exact sums — expected linear in vectors at fixed k/iters
    from arrowhouse_spark.operators.clustering import kmeans_lloyd

    t, n = timed(
        lambda: kmeans_lloyd(c.emb, "vec_id", "embedding", k=4, iters=2).count()
    )
    return {"sec": t, "assigned": n}


@op("hits")
def _hits(c: Ctx) -> dict:
    # round-8 newcomer: per half-step one edges-scores keyed join + keyed
    # exact-decimal sum + 1-row broadcast total — the pagerank shuffle
    # shape, expected linear in edges
    from arrowhouse_spark.operators.graph import hits

    edges = c.events.select(
        c.events.user_id.alias("src"), c.events.k.alias("dst")
    )
    t, n = timed(lambda: hits(edges, iterations=2).count())
    return {"sec": t, "vertices": n}


@op("url_canonicalize")
def _url_canon(c: Ctx) -> dict:
    # round-8 newcomer: pure map-side regexp chain + one distinct agg —
    # expected linear, scan-dominated
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.text import url_canonicalize

    with_url = c.docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://Example.COM:443/p//"),
            F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"),
            F.lit("/?utm_source=x&id=7#f"),
        ).alias("url"),
    )
    t, n = timed(
        lambda: url_canonicalize(with_url)
        .select("canonical_url")
        .distinct()
        .count()
    )
    return {"sec": t, "canonical": n}


@op("entity_resolution")
def _entity_res(c: Ctx) -> dict:
    # round-8 newcomer: blocking self-join (sigma block^2, block size
    # constant ~5 as bases scale with volume) + threshold levenshtein +
    # min-label components — expected near-linear
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.components import connected_components
    from arrowhouse_spark.operators.dedup import edit_distance_pairs

    ids = c.events.select(F.col("event_id").alias("rec_id"))
    n_base = 200 * c.scale
    base = F.pmod(F.col("rec_id"), F.lit(n_base))
    var = F.pmod(F.expr(f"rec_id div {n_base}"), F.lit(3))
    tok = F.substring(F.md5(F.concat(F.lit("sb"), base.cast("string"))), 1, 8)
    nm = (
        F.when(var == 0, F.concat(tok, F.lit(" inc")))
        .when(var == 1, F.concat(F.substring(tok, 1, 7), F.lit("x inc")))
        .otherwise(F.concat(tok, F.lit(" inc")))
    )
    norm = ids.select("rec_id", F.lower(nm).alias("nm"))
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
    t, n = timed(lambda: comp.select("component").distinct().count())
    return {"sec": t, "entities": n}


@op("contrastive_negatives")
def _contrastive(c: Ctx) -> dict:
    # round-8 newcomer: bounded anchor broadcast x pool + per-anchor
    # window — expected linear in pool at fixed anchor count
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.sampling import contrastive_negatives

    pool = c.emb.select(
        "vec_id", F.pmod(F.col("vec_id"), F.lit(20)).alias("label")
    )
    anchors = pool.filter(F.col("vec_id") % (c.n_vecs // 20) == 0)
    t, n = timed(
        lambda: contrastive_negatives(
            anchors, pool, "vec_id", "label", k=5
        ).count()
    )
    return {"sec": t, "pairs": n}


@op("pq_adc_topk")
def _pq_adc(c: Ctx) -> dict:
    # round-8 newcomer: subspace-keyed codebook fit + encode + ADC scan —
    # expected linear in vectors at fixed (subdim, k_cb); codebooks and
    # distance tables broadcast, codes are the only corpus-sized relation
    from arrowhouse_spark.operators.clustering import pq_adc_topk

    t, n = timed(
        lambda: pq_adc_topk(c.emb, "vec_id", "embedding", subdim=16).count()
    )
    return {"sec": t, "topk": n}


@op("gapfill_lerp")
def _gapfill_lerp(c: Ctx) -> dict:
    # round-8 newcomer: spine size = users x buckets (volume-free), two
    # per-key windows — expected flat (users scale, series length fixed)
    from arrowhouse_spark.operators.timeseries import gapfill_lerp

    t, n = timed(
        lambda: gapfill_lerp(
            c.events, key_col="user_id", ts_col="ts",
            value_col="value", tie_col="event_id",
        ).count()
    )
    return {"sec": t, "spine_rows": n}


@op("minhash_sig")
def _minhash_sig(c: Ctx) -> dict:
    # round-8 newcomer: explode + keyed MIN (state = groups x depth rows
    # forever) + broadcast pairwise join — expected linear scan cost
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.aggstate import (
        minhash_sig_jaccard,
        minhash_sig_state,
    )

    toks = c.docs.select(
        F.pmod(F.col("doc_id"), F.lit(8)).alias("g"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    sig = minhash_sig_state(toks, ["g"], "tok", depth=32)
    t, n = timed(lambda: minhash_sig_jaccard(sig, "g").count())
    return {"sec": t, "pairs": n}


@op("attribution")
def _attribution(c: Ctx) -> dict:
    # round-8 newcomer: one user-partitioned carry-forward window + keyed
    # rollup — expected linear, window state one struct per user
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = c.events.filter(F.col("event_type").isin("click", "purchase"))
    tagged = ev.select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("side"),
        F.when(
            F.col("event_type") == "click",
            F.struct(F.pmod(F.col("k"), F.lit(4)).alias("ch")),
        ).alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flow = tagged.withColumn("attr", F.last("c", ignorenulls=True).over(w))
    t, n = timed(
        lambda: flow.filter(F.col("side") == 1)
        .groupBy(F.col("attr")["ch"])
        .count()
        .count()
    )
    return {"sec": t, "channels": n}


@op("basket_pairs")
def _basket_pairs(c: Ctx) -> dict:
    # round-8 newcomer: order-keyed pair self-join — cost is sigma
    # basket², basket width fixed (5 items) as baskets scale with volume
    from pyspark.sql import functions as F

    items = c.events.select(
        (F.col("event_id") % (c.n_docs)).alias("o"),
        F.col("k").alias("p"),
    ).distinct()
    a = items.select("o", F.col("p").alias("pa"))
    b = items.select("o", F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t, n = timed(pairs.count)
    return {"sec": t, "pairs": n}


@op("abc_prefix_sum")
def _abc_prefix(c: Ctx) -> dict:
    # round-8 newcomer: distributed grid prefix sum — per-bucket windows
    # + B-row broadcast offsets; expected linear in keys
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rev = c.events.groupBy(F.col("user_id").alias("part")).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("r")
    )
    bounds = rev.agg(F.min("r").alias("mn"), F.max("r").alias("mx"))
    nb = 32
    b = rev.crossJoin(F.broadcast(bounds)).withColumn(
        "__bucket",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.floor((F.col("r") - F.col("mn"))
                        / (F.col("mx") - F.col("mn")) * F.lit(nb)),
                F.lit(nb - 1),
            ),
        ).otherwise(F.lit(0)).cast("long"),
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(F.col("r").desc(), F.col("part"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("__bl", F.sum("r").over(w))
    summary = b.groupBy("__bucket").agg(F.sum("r").alias("__bs"))
    higher = (
        summary.alias("s")
        .join(F.broadcast(summary.alias("h")),
              F.col("h.__bucket") > F.col("s.__bucket"), "left")
        .groupBy(F.col("s.__bucket").alias("__bucket"))
        .agg(F.sum(F.col("h.__bs")).alias("__off"))
    )
    out = local.join(F.broadcast(higher), "__bucket", "left")
    t, n = timed(out.count)
    return {"sec": t, "keys": n}


@op("gdpr_audit")
def _gdpr(c: Ctx) -> dict:
    # round-8 newcomer: broadcast tombstone membership over the fact scan
    from pyspark.sql import functions as F

    tomb = (
        c.events.select(F.col("user_id").alias("__t"))
        .distinct()
        .filter(F.col("__t") % 97 == 0)
    )
    j = c.events.join(
        F.broadcast(tomb), c.events.user_id == F.col("__t"), "left"
    )
    t, n = timed(
        lambda: j.agg(
            F.sum(F.col("__t").isNotNull().cast("int"))
        ).count()
    )
    return {"sec": t, "rows": n}


@op("trailing_range_window")
def _trailing_range(c: Ctx) -> dict:
    # round-9 addition (verdict item 7): time-based RANGE frame per user —
    # frame state bounded by burst width (10 min), users scale with volume;
    # expected flat-to-linear scan cost
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    t, n = timed(
        lambda: c.events.select(
            "user_id", F.count(F.lit(1)).over(w).alias("n10")
        )
        .groupBy("user_id")
        .agg(F.max("n10"))
        .count()
    )
    return {"sec": t, "users": n}


@op("max_concurrency")
def _max_concurrency(c: Ctx) -> dict:
    # round-9 addition: sweep-line +1/-1 running sum — per-type partitioned
    # window with O(1) integer state; expected linear in events
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = c.events
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("d"), "event_id"
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("t"),
        F.lit(-1).alias("d"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = starts.unionAll(ends).withColumn("cur", F.sum("d").over(w))
    t, n = timed(
        lambda: run.groupBy("event_type").agg(F.max("cur")).count()
    )
    return {"sec": t, "types": n}


@op("feature_hashing")
def _feature_hashing(c: Ctx) -> dict:
    # round-9 addition: hashing-trick vectorizer — map-side explode+bucket,
    # one (doc,bucket) keyed count; expected linear in tokens
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.sampling import hash_bucket

    toks = c.docs.select(
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
    t, n = timed(vec.count)
    return {"sec": t, "cells": n}


@op("kmv_sketch")
def _kmv(c: Ctx) -> dict:
    # round-9 newcomer: distinct shuffle of 8-byte hashes + keyed window
    # truncated to k rows — expected scan-linear, state k x groups
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.aggstate import kmv_estimate, kmv_state

    ev = c.events.select(F.col("event_type"), F.col("user_id"))
    st = kmv_state(ev, ["event_type"], "user_id", k=64)
    t, n = timed(lambda: kmv_estimate(st, ["event_type"], k=64).count())
    return {"sec": t, "groups": n}


@op("interval_union")
def _interval_union(c: Ctx) -> dict:
    # round-9 newcomer: one user shuffle + two O(1)-state windows —
    # expected flat (users scale with volume)
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.intervals import interval_union_length

    iv = c.events.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(300_000_000)).alias("e"),
    )
    t, n = timed(lambda: interval_union_length(iv, ["user_id"], "s", "e").count())
    return {"sec": t, "users": n}


@op("grid_radius")
def _grid_radius(c: Ctx) -> dict:
    # round-9 newcomer: 3x3 cell explode + cell-keyed hash join — cost is
    # sigma cell_density²; grid fixed so density (and pairs) grow with
    # volume — expected superlinear ON THIS FIXTURE (density-driven), the
    # real deployment scales the grid with the data
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.spatial import grid_radius_pairs

    p = c.events.select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * F.lit(2654435761)) % 100000).alias("x"),
        ((F.col("event_id") * F.lit(40503)) % 100000).alias("y"),
    )
    t, n = timed(lambda: grid_radius_pairs(p, "id", "x", "y", radius=50).count())
    return {"sec": t, "pairs": n}


@op("hilbert_key")
def _hilbert(c: Ctx) -> dict:
    # round-9 newcomer: 1-row bounds broadcast + pure-codegen map chain —
    # expected scan-linear/flat
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.layout import hilbert_value

    ev = c.events.select(
        F.col("user_id").alias("x"), F.unix_micros("ts").alias("y")
    )
    t, n = timed(
        lambda: hilbert_value(ev, "x", "y", bits=8)
        .groupBy(F.shiftright("hvalue", 10))
        .count()
        .count()
    )
    return {"sec": t, "buckets": n}


@op("kanon_release")
def _kanon(c: Ctx) -> dict:
    # round-9 newcomer: one distinct-count agg + broadcast semi/anti split
    # — expected the cost of the plain rollup
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.privacy import kanon_release

    d = c.events.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
        "value",
    )
    t, n = timed(
        lambda: kanon_release(
            d, ["event_type", "day"], "user_id",
            {"n_rows": F.count(F.lit(1))}, k=50,
        ).count()
    )
    return {"sec": t, "released_rows": n}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10")
    ap.add_argument("--out", default="/tmp/ah_scale")
    ap.add_argument(
        "--ops",
        default="",
        help="comma list restricting which operators run (default: all) — "
        "targeted big-scale runs skip the rest of the battery",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    known_ops = {name for name, _ in BATTERY}
    only = {s for s in args.ops.split(",") if s}
    unknown = only - known_ops
    if unknown:
        # fail fast: a typo would otherwise burn a multi-minute data-gen run
        # measuring nothing and exit 0
        ap.error(f"unknown --ops {sorted(unknown)}; known: {sorted(known_ops)}")

    from arrowhouse_spark.session import get_spark

    spark = get_spark(app_name="scale-run")
    results: dict[str, dict] = {}

    for scale in scales:
        n_docs, n_vecs = 5000 * scale, 2000 * scale
        n_events = 20000 * scale
        droot = f"{args.out}/s{scale}"
        shutil.rmtree(droot, ignore_errors=True)
        gen_documents(spark, n_docs).repartition(32).write.parquet(f"{droot}/docs")
        gen_embeddings(spark, n_vecs).repartition(32).write.parquet(f"{droot}/emb")
        gen_events(spark, n_events).repartition(32).write.parquet(
            f"{droot}/events"
        )
        docs = spark.read.parquet(f"{droot}/docs")
        emb = spark.read.parquet(f"{droot}/emb")
        events = spark.read.parquet(f"{droot}/events")
        rec = results[f"{scale}x"] = {"n_docs": n_docs, "n_vecs": n_vecs}
        ctx = Ctx(spark, docs, emb, scale, n_docs, n_vecs, events=events)

        for name, runner in BATTERY:
            if only and name not in only:
                continue
            rec[name] = runner(ctx)

        print(json.dumps({f"scale_{scale}x": rec}), flush=True)

    # the inverted path MUST be chosen at the largest scale (cap logic)
    big = results[f"{max(scales)}x"]
    assert "ngram_jaccard_pairs" not in big or big["ngram_jaccard_pairs"]["strategy"].startswith("inverted"), (
        "vocab pre-flight failed to pick the inverted path at scale: "
        + json.dumps(big)
    )
    print(json.dumps({"summary": results}))


if __name__ == "__main__":
    main()
