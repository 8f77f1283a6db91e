"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-scalable (BASELINE.json north star; not present in
the reference, whose dedup surface is replace-merge §2.5 and DISTINCT §2.3):

  exact          — hash-groupBy on a normalized fingerprint. One shuffle keyed
                   by the fingerprint; at 100 TB the shuffle carries only
                   (fp, doc_id), not the text.
  minhash_lsh    — shingle → 64-hash minhash signature → band buckets →
                   bucket-join for candidates → signature-similarity filter.
                   Candidate generation never compares all pairs: the join is
                   keyed on (band_id, band_hash), so cost ~ sum of bucket² —
                   the standard MinHash/LSH scheme (Broder; Leskovec MMDS ch.3).
  simhash        — 64-bit SimHash (Charikar) per doc via bit-majority over
                   token hashes; near-dups = equal hash (or banded hamming).
  ngram_jaccard  — exact Jaccard over word-n-gram sets via shingle-join
                   (co-occurrence count / union) — the exact counterpart LSH
                   approximates; quadratic only within shared shingles.
  embedding near-dup — cosine > threshold pairs; see operators.similarity.

All hot paths are built-in functions (xxhash64, explode, groupBy) — JVM-side,
no Python UDFs. Intermediates a plan consumes more than once persist through
the session relation cache (session.shared_persist), so repeated calls over
the same input reuse one persisted relation and release_caches() frees it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arrowhouse_spark.session import shared_persist, shuffle_parts

from arrowhouse_spark.operators.text import fingerprint, tokens


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized-content fingerprint: one surviving (minimum)
    id per distinct content + the duplicate count.

    Plan shape: project(fp) → hash-aggregate by fp (partial→final). The only
    shuffle carries (fp, id) pairs — at 100 TB of text this is ~50 bytes/doc.
    """
    return (
        fingerprint(df, text_col, "fp")
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Word n-gram OCCURRENCES (non-distinct) from a token-array column.
    Pure SQL: slice the token array at each start position. Documents with
    fewer than n tokens yield an empty array (the guard matters: Spark's
    ``sequence(0, negative)`` counts DOWN, which would feed slice a
    zero/negative start)."""
    if n == 1:
        return toks
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from a token-array column."""
    return F.array_distinct(ngrams_from_tokens(toks, n))


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-grams of a text column, as an array<string>."""
    return shingles_from_tokens(tokens(text_col), n)


def shingle_relation(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    shingle_filter: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """The shared (id, shingle_hash) relation: tokenize → n-gram shingles →
    explode → 64-bit hash. This is the CPU-heavy common prefix of minhash and
    exact-Jaccard; callers that run both should build it once, ``persist()``
    it, and pass it to each operator (one text scan + one shingling instead
    of one per operator).

    Repartition BEFORE the explode: shingling (sequence/slice/concat_ws per
    token window) is the heavy part and must not run at (few-file) input
    parallelism; keying by doc id also pre-partitions the per-doc
    aggregations downstream (no second shuffle).

    ``shingle_filter`` — optional Column predicate over the shingle STRING,
    applied before hashing (e.g. stop-shingle removal at web scale, or the
    oracle-model domain guard in the parity suite)."""
    n_part = shuffle_parts(df.sparkSession)
    ex = df.repartition(n_part, id_col).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("__s")
    )
    if shingle_filter is not None:
        ex = ex.filter(shingle_filter(F.col("__s")))
    return ex.select(F.col(id_col), F.xxhash64("__s").alias("shingle"))


def token_hash_relation(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_filter: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """(id, token_hash) with one row per token OCCURRENCE (not distinct —
    SimHash votes are occurrence-weighted). Hash materialized once per row so
    downstream bit-vote expressions read the same long. ``token_filter`` as
    in shingle_relation (a predicate over the token string, pre-hash)."""
    n_part = shuffle_parts(df.sparkSession)
    ex = df.repartition(n_part, id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    )
    if token_filter is not None:
        ex = ex.filter(token_filter(F.col("__t")))
    return ex.select(F.col(id_col), F.xxhash64("__t").alias("__h"))


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, minhash[num_hashes]) — signature s.t. P[sig_i(A)=sig_i(B)] ≈
    Jaccard(A,B). Shingles explode once and hash ONCE to a 64-bit
    fingerprint; each hash-family member is then xxhash64(seed=i, fingerprint)
    over the fixed 8 bytes (not the string — 64× less hashing work); 64 mins
    aggregate in ONE pass (single shuffle keyed by id, map-side partial mins
    keep it bounded).

    ``shingles`` — optional precomputed (id, shingle_hash) relation (see
    shingle_relation) so the scan/shingling is shared with other dedup ops."""
    sh = shingles if shingles is not None else shingle_relation(
        df, text_col, id_col, shingle_n
    )
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("minhash")
    )


def minhash_band_index(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, minhash, band, bucket) LSH index rows for a signature relation —
    ``bands`` rows per doc, bucket = multi-arg xxhash64 over the band's
    signature slots (no string concat round-trip). This is also the STORE
    format for incremental near-dup: persist it bucketed by (band, bucket)
    and daily batches join against it without moving history."""
    rows_per_band = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.col("minhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("minhash")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "minhash", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows of
    ``num_hashes/bands``; docs sharing any band bucket become a candidate pair.
    The pair-join is keyed on (band, band_hash) — no all-pairs comparison; AQE
    handles hot buckets via skew-join splitting (task-level re-parallelism of
    oversized shuffle partitions — it balances WORK, but the candidate COUNT
    of a hot bucket is intrinsically n_b², which no re-partitioning shrinks).

    ``max_bucket_size`` is the pathological-bucket fallback for
    boilerplate-heavy corpora (round-6 verdict #5): buckets with more than
    this many members switch to ANCHOR MODE — each member pairs only with
    the bucket's min-id doc instead of all-pairs, so a B-member boilerplate
    family costs B-1 candidates instead of B²/2. Documented approximation:
    two docs of a hot bucket that are near-dups of EACH OTHER but not of
    the anchor are not paired via that bucket — but a true near-dup pair
    collides in ~bands·sim^(rows/band) bands in expectation, so any
    non-degenerate bucket among those still emits the pair, and the
    degenerate buckets this cap targets are precisely same-boilerplate
    families where every member matches the anchor. Default None keeps
    exact Σ-bucket² semantics (and is what every oracle-checked query
    uses)."""
    banded = minhash_band_index(sig, id_col, num_hashes, bands)
    if max_bucket_size is None:
        left = banded.alias("l")
        right = banded.alias("r")
        return (
            left.join(
                right,
                on=[
                    F.col("l.band") == F.col("r.band"),
                    F.col("l.bucket") == F.col("r.bucket"),
                    F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
                ],
            )
            .select(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.minhash").alias("mh_a"),
                F.col("r.minhash").alias("mh_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    sizes = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("__anchor")
    )
    tagged = shared_persist(
        banded.join(sizes, ["band", "bucket"]), "lsh_tagged"
    )
    normal = tagged.filter(F.col("__n") <= max_bucket_size)
    all_pairs = (
        normal.alias("l")
        .join(
            normal.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.minhash").alias("mh_a"),
            F.col("r.minhash").alias("mh_b"),
        )
    )
    hot = tagged.filter(F.col("__n") > max_bucket_size)
    anchors = hot.filter(F.col(id_col) == F.col("__anchor")).select(
        "band",
        "bucket",
        F.col(id_col).alias("id_a"),
        F.col("minhash").alias("mh_a"),
    )
    anchor_pairs = (
        hot.filter(F.col(id_col) != F.col("__anchor"))
        .select("band", "bucket", F.col(id_col).alias("id_b"),
                F.col("minhash").alias("mh_b"))
        .join(anchors, ["band", "bucket"])
        .select("id_a", "id_b", "mh_a", "mh_b")
    )
    return all_pairs.unionByName(anchor_pairs).dropDuplicates(
        ["id_a", "id_b"]
    )


def _est_jaccard(a: Column, b: Column, num_hashes: int) -> Column:
    """Signature-similarity estimate: fraction of equal positions, rounded
    to 6 dp — the ONE definition both the batch pair filter and the
    incremental store/within rules (and their oracles) share."""
    return F.round(
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda x: x))
        / F.lit(num_hashes),
        6,
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end MinHash near-dup pairs: (id_a, id_b, est_jaccard ≥ threshold).
    est_jaccard = fraction of equal signature positions. ``max_bucket_size``
    enables the hot-bucket anchor fallback (see minhash_lsh_candidates)."""
    # cache: the LSH candidate self-join references the signature twice
    # (left/right); without persist the whole shingle+hash pipeline runs twice
    sig = shared_persist(
        minhash_signature(
            df, text_col, id_col, num_hashes, shingle_n, shingles=shingles
        ),
        "minhash_sig",
    )
    pairs = minhash_lsh_candidates(
        sig, id_col, num_hashes, bands, max_bucket_size=max_bucket_size
    )
    return (
        pairs.withColumn(
            "est_jaccard", _est_jaccard(F.col("mh_a"), F.col("mh_b"), num_hashes)
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_incremental(
    new_df: DataFrame,
    store_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup dedup: the daily-ingest companion to
    :func:`dedup_incremental` (which is exact-only). A new doc is dropped
    when its est_jaccard reaches ``threshold`` against (a) any HISTORICAL
    doc sharing an LSH band bucket in ``store_index`` (a
    :func:`minhash_band_index` relation, same hash family/config), or (b)
    any LOWER-ID doc of the same batch sharing a bucket (the greedy
    keep-first rule of :func:`dedup_keep_first`). Returns surviving
    (id, minhash, band, bucket) index rows — exactly what the caller
    appends to the store to advance it.

    Scale: signatures build once (cached — consumed by the within-batch
    self-join AND the store probe); the store join is keyed on
    (band, bucket), so with the store written bucketed by those keys the
    day's batch co-locates against years of history without moving it —
    only matched buckets' (minhash, id) rows are read. Candidate volume is
    Σ per-bucket batch×store products, never batch×store. Within-batch
    candidates are the standard Σ bucket² self-join. Greedy note: a batch
    doc is dropped for matching a lower-id batch doc even if THAT doc was
    itself dropped by the store — matching the oracle and C4-style batch
    pipelines; transitive-canonical resolution is dedup_components'
    job when needed."""
    sig = shared_persist(
        minhash_signature(
            new_df, text_col, id_col, num_hashes, shingle_n, shingles=shingles
        ),
        "minhash_sig",
    )
    idx = minhash_band_index(sig, id_col, num_hashes, bands)
    cross_losers = (
        idx.alias("l")
        .join(
            store_index.select(
                F.col("band").alias("band"),
                F.col("bucket").alias("bucket"),
                F.col("minhash").alias("__mh_s"),
            ),
            ["band", "bucket"],
        )
        .filter(
            _est_jaccard(F.col("minhash"), F.col("__mh_s"), num_hashes) >= threshold
        )
        .select(F.col(id_col))
        .distinct()
    )
    within_losers = (
        minhash_lsh_candidates(sig, id_col, num_hashes, bands)
        .filter(_est_jaccard(F.col("mh_a"), F.col("mh_b"), num_hashes) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        idx.join(cross_losers, id_col, "left_anti")
        .join(within_losers, id_col, "left_anti")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    out: str = "simhash",
    token_hashes: DataFrame | None = None,
) -> DataFrame:
    """Charikar SimHash: per token hash h, each bit j votes +1/-1; the result
    bit j is 1 iff the vote sum > 0. One explode + one groupBy with ``bits``
    conditional-sum aggregates — all codegen'd; the shuffle carries one row
    per (doc, token).

    ``token_hashes`` — optional precomputed (id, __h) relation (see
    token_hash_relation) to share the text scan/tokenization."""
    tok = (
        token_hashes
        if token_hashes is not None
        else token_hash_relation(df, text_col, id_col)
    )
    h = F.col("__h")
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v_{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = bit * F.lit(1 << j).cast("long") if j < 63 else F.shiftleft(bit, 63)
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.alias(out))


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup candidates by SimHash banding (docs sharing any 16-bit band of
    the 64-bit hash), with exact hamming distance on candidates."""
    sh = simhash(df, text_col, id_col)
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.key")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    return pairs.withColumn("hamming", F.bit_count(xor)).select(
        "id_a", "id_b", "hamming"
    )


def dedup_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seen_fp_col: str = "fp",
) -> DataFrame:
    """Cross-batch exact dedup — the daily-ingest shape of ``dedup_exact``:
    survivors of the NEW batch are the first (minimum-id) doc per content
    fingerprint within the batch whose fingerprint is absent from the
    historical store ``seen`` (typically yesterday's accumulated output of
    this same operator). Returns (id_col, fp); union the fp column back into
    the store to advance it.

    Scale: both the within-batch groupBy and the anti-join shuffle carry
    (fp, id) only — never text. The store side is the big relation at
    100 TB; write it bucketed by fp so repeated daily runs shuffle only the
    day's batch, and the anti-join co-locates against the bucketed layout
    without moving history."""
    # NULL-text rows get a NULL fingerprint; a NULL key never matches in the
    # anti-join, so without this filter one NULL-fp "winner" would survive
    # every batch forever and NULL fps would accumulate uselessly in the
    # store. Dropping them also matches SQL NOT-IN semantics (a NULL member
    # is never NOT IN anything).
    fps = fingerprint(new_df, text_col).filter(F.col("fp").isNotNull())
    winners = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
    fresh = winners.join(
        seen.select(F.col(seen_fp_col).alias("fp")), "fp", "left_anti"
    )
    return fresh.select(id_col, "fp")


def fingerprint_store_retract(
    spark: "SparkSession",  # noqa: F821
    store_path: str,
    ids,
    id_col: str = "doc_id",
) -> int:
    """Retract documents from a persistent exact-dedup fingerprint store
    — the forget op the :func:`dedup_incremental` store lacked after the
    round-11 lifecycle sweep (it was the ONE persistent store without
    one; round-11 verdict #3). The store is the accumulated
    (id_col, fp[, batch_id]) relation callers persist between
    dedup_incremental runs; removing a retracted document's row means its
    fingerprint no longer suppresses future ingests — a re-delivery of
    the forgotten content SURVIVES exact dedup (pinned in
    tests/test_pipeline_ops.py), which is the correct GDPR semantics:
    forget the document, don't blacklist its content forever.

    Mechanics delegate to the hash-generic store retraction
    (streaming/replace.py:band_store_retract — deliberately shape-generic
    per its docstring): id-keyed row removal with the count-gated
    broadcast (idgate), batch_id-partition-pruned rewrite when the store
    carries that column, full rewrite for legacy unpartitioned layouts,
    and full-drain directory removal so a forget-everything store reads
    back as first-fold. Unknown ids are a no-op; the op is idempotent
    across retries. Returns the number of store rows removed.
    Single-writer contract: run with no concurrent dedup fold."""
    from arrowhouse_spark.streaming.replace import band_store_retract

    return band_store_retract(spark, store_path, ids, id_col=id_col)


def line_dedup_lines(
    lines: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
    max_df: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document line-level dedup (the C4/CCNet boilerplate-removal
    step): drop every line that occurs in more than ``max_df`` distinct
    documents (navbars, cookie banners, boilerplate), then reassemble each
    document's surviving lines in original order. Documents whose every
    line was boilerplate disappear from the output (matching the batch
    pipeline contract: a later length filter would drop them anyway).

    Input is a lines relation (id, pos, line) — at 100 TB you keep the
    corpus exploded once and feed every line-level op from that single
    relation (same shared-scan discipline as shingle_relation).

    Scale: the document-frequency aggregation and the anti-join are keyed on
    an 8-byte xxhash64 of the line, never the string; reassembly is one
    shuffle by doc id with array_sort on (pos, line) structs — no
    unpartitioned window anywhere."""
    lh = F.xxhash64(F.col(line_col)).alias("__lh")
    hot = (
        lines.select(lh, F.col(id_col))
        .groupBy("__lh")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("__lh")
    )
    kept = lines.withColumn("__lh", F.xxhash64(F.col(line_col))).join(
        hot, "__lh", "left_anti"
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(pos_col), F.col(line_col)))
                    ),
                    lambda s: s[line_col],
                ),
                sep,
            ).alias("text"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_df: int = 1,
) -> DataFrame:
    """Convenience form of :func:`line_dedup_lines` for documents stored as
    one text blob: split on ``sep``, dedup lines across the corpus,
    reassemble. See line_dedup_lines for semantics and the scale story."""
    import re

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("pos", "line"),
    )
    return line_dedup_lines(lines, id_col, "pos", "line", max_df, sep)


def _footer_num_rows(df: DataFrame) -> int | None:
    """Exact row count straight from parquet footer metadata — ZERO Spark
    jobs — when ``df`` is a bare (possibly column-pruned) local parquet scan.

    Safe because Project is row-preserving: the optimized plan must contain
    only Project/Relation nodes (any Filter/Join/Aggregate/Generate/Limit
    changes the count → return None and let the caller pay a real count).
    Non-local or non-parquet sources also return None."""
    import re
    from urllib.parse import urlparse

    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        saw_relation = False
        for line in plan.splitlines():
            body = re.sub(r"^[\s+:\-]*", "", line)
            if not body:
                continue
            if body.startswith("Project"):
                continue
            if body.startswith("Relation"):
                if "parquet" not in body:
                    return None
                saw_relation = True
                continue
            return None
        if not saw_relation:
            return None
        files = df.inputFiles()
        if not files:
            return None
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                return None
            total += pq.ParquetFile(u.path or f).metadata.num_rows
        return total
    except Exception:  # noqa: BLE001 — strictly an optimization
        return None


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.5,
    dense_cells_cap: int = 1 << 27,
    shingles: DataFrame | None = None,
    n_docs: int | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for every pair sharing ≥1 shingle
    (id_a < id_b, jaccard ≥ threshold), strategy chosen by measured shape:

    dense regime (docs × distinct-shingles ≤ ``dense_cells_cap`` matrix cells):
      a tiny vocabulary means almost every doc pair shares shingles, so an
      inverted index can't prune — sum(df²) join rows degenerate toward
      all-pairs (measured at sf0.1: 931 distinct bigrams over 5000 docs →
      36M join rows for 25 surviving pairs). Instead build the binary
      doc×vocab matrix and get ALL pairwise intersection counts from one
      blocked BLAS matmul (|A∩B| = row dot product) — exact, and ~10× faster
      here. Blocks of rows fan out over the cluster; the matrix ships once as
      a broadcast (the cap bounds it ≤ ~0.5 GB).

    sparse regime (everything else — the realistic web-corpus shape):
      shingle-join scheme: |A∩B| from co-occurrence counts keyed on the
      shingle (never all pairs), |A∪B| = |A|+|B|−|A∩B|. Frequent shingles are
      the skew risk — cap them with ``max_shingle_df`` at web scale.

    ``max_shingle_df`` (opt-in) is the documented stop-shingle mitigation:
    shingles occurring in more than that many documents (boilerplate,
    stop-word bigrams) are dropped BEFORE any join, bounding every shingle's
    contribution to the co-occurrence join at max_shingle_df² rows — the
    skew cap that keeps the sparse path linear-per-executor on web corpora.
    Jaccard then measures the FILTERED shingle sets: both |A∩B| and |A∪B|
    are computed post-filter, so results stay internally consistent and
    deterministic, but they are an explicit approximation of the raw-set
    Jaccard (a pair sharing only boilerplate reports no similarity — which
    is the point). Docs whose every shingle was dropped leave the relation.
    """
    # Work on a 64-bit hash of the shingle, not the string: joins/matrices
    # then handle 8-byte keys instead of arbitrary-length text (collision
    # odds over distinct shingles are ~n²/2⁶⁵ — negligible, and a collision
    # only perturbs one candidate's count).
    sh = shingles if shingles is not None else shingle_relation(
        df, text_col, id_col, shingle_n
    )
    if max_shingle_df is not None:
        sh = stop_shingle_filter(sh, max_shingle_df, id_col)
    # Path choice: pass ``n_docs`` from parquet footer metadata when known
    # (zero Spark jobs). The doc-count half of the cap gates cheaply; the
    # vocab half is pre-flighted with approx_count_distinct BEFORE any driver
    # materialization — a small corpus with a rich vocabulary must take the
    # inverted path without ever collecting per-doc shingle lists.
    max_dense_docs = max(1, dense_cells_cap // 512)  # assumes vocab ≥ 512
    if n_docs is None:
        n_docs = _footer_num_rows(df)  # bare parquet scan → footer metadata
    if n_docs is None:
        n_docs = df.count()  # fallback: one column-less scan (footer counts)
    if n_docs <= max_dense_docs:
        # One map-side-partial aggregation over the shingle relation (which
        # the inverted path would scan anyway); 10% headroom covers the HLL
        # sketch error so a borderline-over corpus still lands inverted.
        est_vocab = sh.agg(F.approx_count_distinct("shingle").alias("v")).first()["v"]
        if n_docs * est_vocab * 1.1 <= dense_cells_cap:
            dense = _jaccard_dense(sh, id_col, threshold, dense_cells_cap)
            if dense is not None:
                return dense
    return _jaccard_inverted(sh, id_col, threshold)


def stop_shingle_filter(
    sh: DataFrame, max_shingle_df: int, id_col: str = "doc_id"
) -> DataFrame:
    """Drop shingles whose DOCUMENT frequency exceeds ``max_shingle_df``
    (boilerplate, stop-word n-grams) from a (id, shingle) relation — the
    skew cap that bounds any shingle's contribution to a downstream
    co-occurrence join at max_shingle_df² rows.

    Document frequency is ``count_distinct(id_col)``, so a caller-supplied
    relation with duplicate (id, shingle) rows is counted correctly
    (``shingle_relation`` output is per-doc distinct, where plain count
    would coincide — but the contract shouldn't hinge on that).

    Scale: one keyed aggregation over the shingle relation + a left-anti
    join on the 8-byte shingle key; callers that reuse the filtered relation
    across queries should persist the RESULT (see suite's shared-relation
    cache) so the aggregation is paid once, not per consumer."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > max_shingle_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def _jaccard_dense(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    dense_cells_cap: int,
    metric: str = "jaccard",
) -> DataFrame | None:
    """Dense-regime exact set similarity: broadcast the binary doc×vocab
    matrix, distribute row blocks, one float32 matmul per block (counts ≤
    vocab size are exact in float32). Row-block tiling over a broadcast
    matrix is the same shape as similarity.embedding_neardup_pairs.

    ``metric="jaccard"`` emits (id_a, id_b, jaccard) thresholded on
    jaccard; ``metric="containment"`` emits (id_a, id_b, cont_a_in_b,
    cont_b_in_a, jaccard) thresholded on max(containment) — same matmul,
    different per-pair arithmetic on the identical intersection counts.

    Returns None when the measured docs×vocab exceeds ``dense_cells_cap``
    (vocabulary too rich for a dense matrix) — caller falls back to the
    inverted-index plan."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = sh.sparkSession
    # One flat (id, shingle) Arrow transfer + vectorized np.unique indexing:
    # the former groupBy(collect_list).collect() paid a keyed shuffle, a
    # row-pickled driver transfer and a per-hash Python dict loop on EVERY
    # call — measured as the query's dominant, GC-pressure-sensitive cost
    # (driver-side data work, guide §5). Row/column order of the matrix is
    # an internal layout choice: intersection counts and the emitted
    # (min-id, max-id) pairs are permutation-invariant, so sorted-unique
    # indexing yields identical results.
    pairs = sh.select(id_col, "shingle").toPandas()
    empty_schema = (
        "id_a long, id_b long, jaccard double"
        if metric == "jaccard"
        else "id_a long, id_b long, cont_a_in_b double, cont_b_in_a double, jaccard double"
    )
    if pairs.empty:
        return spark.createDataFrame([], empty_schema)
    ids, doc_inv = np.unique(pairs[id_col].to_numpy(np.int64), return_inverse=True)
    vuniq, v_inv = np.unique(pairs["shingle"].to_numpy(np.int64), return_inverse=True)
    n, v = len(ids), len(vuniq)
    if n * v > dense_cells_cap:
        return None
    # ship the binary matrix as uint8 (4× less broadcast IO than float32;
    # every worker re-fetches the broadcast each run) and convert to float32
    # once per worker at first use
    mat = np.zeros((n, v), dtype=np.uint8)
    mat[doc_inv, v_inv] = 1
    sizes = mat.sum(axis=1, dtype=np.float64)
    bc = spark.sparkContext.broadcast((ids, mat, sizes))

    n_part = shuffle_parts(spark)
    # small blocks even out the triangle, but each block is a Python task —
    # keep ≥128 rows per block so worker startup doesn't dominate small inputs
    n_blocks = max(1, min(4 * n_part, -(-n // 128)))
    block_rows = -(-n // n_blocks)

    out_fields = [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
    if metric == "containment":
        out_fields += [
            T.StructField("cont_a_in_b", T.DoubleType()),
            T.StructField("cont_b_in_a", T.DoubleType()),
        ]
    out_fields.append(T.StructField("jaccard", T.DoubleType()))
    out_schema = T.StructType(out_fields)

    def _blocks(batches):
        ids_, mat_u8, sizes_ = bc.value
        # float32 view cached on the broadcast tuple's worker-local copy:
        # one conversion per worker, not one per block-task
        cache = getattr(bc, "_f32_cache", None)
        if cache is None or cache[0] is not mat_u8:
            cache = (mat_u8, mat_u8.astype(np.float32))
            bc._f32_cache = cache
        mat_ = cache[1]
        n_ = len(ids_)
        for pdf in batches:
            for b in pdf["b"]:
                lo = int(b) * block_rows
                hi = min(lo + block_rows, n_)
                if lo >= n_:
                    continue
                # only columns ≥ lo can form an upper-triangle pair with this
                # block — computing against mat_[lo:] instead of the full
                # matrix halves total FLOPs across blocks
                inter = (mat_[lo:hi] @ mat_[lo:].T).astype(np.float64)  # exact
                union = (
                    sizes_[lo:hi, None] + sizes_[None, lo:]
                ).astype(np.float64) - inter
                union[union == 0] = 1.0
                jac = np.round(inter / union, 6)  # float64 div: matches SQL round
                if metric == "containment":
                    # containment of the ROW doc in the COL doc and vice versa
                    srow = sizes_[lo:hi, None].astype(np.float64)
                    scol = sizes_[None, lo:].astype(np.float64)
                    srow[srow == 0] = 1.0
                    scol = np.where(scol == 0, 1.0, scol)
                    c_row = np.round(inter / srow, 6)
                    c_col = np.round(inter / scol, 6)
                    mask = np.maximum(c_row, c_col) >= threshold
                else:
                    mask = jac >= threshold
                # upper triangle by row index: each unordered pair once
                mask &= np.arange(lo, n_)[None, :] > np.arange(lo, hi)[:, None]
                ii, jj = np.nonzero(mask)
                a, b_ = ids_[ii + lo], ids_[jj + lo]
                swap = a > b_
                out = {
                    "id_a": np.where(swap, b_, a),
                    "id_b": np.where(swap, a, b_),
                }
                if metric == "containment":
                    cr, cc = c_row[ii, jj], c_col[ii, jj]
                    # cont_a_in_b = containment of the SMALLER-id doc in the
                    # larger-id doc — swap alongside the ids
                    out["cont_a_in_b"] = np.where(swap, cc, cr)
                    out["cont_b_in_a"] = np.where(swap, cr, cc)
                out["jaccard"] = jac[ii, jj].astype(np.float64)
                yield pd.DataFrame(out)

    blocks = spark.range(0, n_blocks, 1, n_blocks).toDF("b")
    return blocks.mapInPandas(_blocks, out_schema)


def _jaccard_inverted(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Sparse-regime exact Jaccard via the shingle-keyed self-join."""
    # The input often arrives in a handful of file-partitions; after the
    # explode each carries ~50× more rows, and the pair-join multiplies that
    # again — without a repartition the whole pipeline runs at input
    # parallelism. Spread by shingle so the join probe AND the partial
    # aggregation parallelize (at cluster scale this is the shuffle that makes
    # the operator linear-per-executor).
    #
    # Already-persisted input (a suite relation from the session relation
    # cache) is trusted as-is: persisting a repartition of it again would pin
    # a second copy of the same shingles. Without the local persist the
    # join's own exchange requirement restores parallelism, and Spark's
    # ReuseExchange folds the two identical self-join sides into one.
    lvl = sh.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        n_part = shuffle_parts(sh.sparkSession)
        # persist: consumed three times (sizes + both sides of the
        # self-join); through the session relation cache, so repeated calls
        # don't stack copies
        sh = shared_persist(sh.repartition(n_part, "shingle"), "jaccard_sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(
            r,
            on=[
                F.col("l.shingle") == F.col("r.shingle"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
    max_shingle_df: int | None = None,
    dense_cells_cap: int = 1 << 27,
) -> DataFrame:
    """ASYMMETRIC n-gram containment for every pair sharing ≥1 shingle:
    C(A⊂B) = |A∩B| / |A|. Catches the subset-duplicate shape Jaccard
    misses — a short document wholly quoted inside a long one has
    J = |A|/|B| (small) but containment 1.0; news-wire republication and
    boilerplate-wrapped bodies dedup on exactly this signal.

    Emits (id_a, id_b, cont_a_in_b, cont_b_in_a, jaccard) for id_a < id_b
    where max(cont_a_in_b, cont_b_in_a) ≥ threshold — both directions in
    one row, plus the symmetric Jaccard for calibration.

    Scale: identical strategy choice and shapes as exact Jaccard — the
    dense regime (tiny vocab, sum-df² degenerate) takes the blocked-matmul
    path with containment arithmetic on the same intersection counts; the
    sparse regime is the shingle-keyed co-occurrence join (never all-pairs,
    same ``max_shingle_df`` skew cap, same shared-relation discipline —
    pass the session's persisted ``shingles``). Everything SCALE.md proves
    for the Jaccard paths carries over."""
    sh = shingles if shingles is not None else shingle_relation(
        df, text_col, id_col, shingle_n
    )
    if max_shingle_df is not None:
        sh = stop_shingle_filter(sh, max_shingle_df, id_col)
    # same dense-regime pre-flight as ngram_jaccard_pairs, but doc count is
    # estimated from the shingle relation itself (the caller may pass a
    # composed relation with no single backing scan) — one map-side
    # aggregation, no driver materialization
    est = sh.agg(
        F.approx_count_distinct(id_col).alias("n"),
        F.approx_count_distinct("shingle").alias("v"),
    ).first()
    if est["n"] * est["v"] * 1.1 <= dense_cells_cap:
        dense = _jaccard_dense(
            sh, id_col, threshold, dense_cells_cap, metric="containment"
        )
        if dense is not None:
            return dense
    lvl = sh.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        n_part = shuffle_parts(sh.sparkSession)
        sh = shared_persist(sh.repartition(n_part, "shingle"), "jaccard_sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(
            r,
            on=[
                F.col("l.shingle") == F.col("r.shingle"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    c_ab = F.round(F.col("n_common") / F.col("size_a"), 6)
    c_ba = F.round(F.col("n_common") / F.col("size_b"), 6)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("cont_a_in_b", c_ab)
        .withColumn("cont_b_in_a", c_ba)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold)
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a", "jaccard")
    )


def dedup_keep_first(
    df: DataFrame,
    pair_df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve near-dup pairs into a keep-set: drop every id that appears as
    the larger member of a pair (greedy min-id union-find approximation —
    single connected components pass is overkill for pipeline dedup)."""
    drop = pair_df.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
    windows: DataFrame | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Duplicated-span flagging: ExactSubstr dedup (Lee et al. 2022,
    arXiv:2107.06499 §4.1) approximated at ``window``-token sliding-span
    granularity — the distributed stand-in for their suffix array, which is
    inherently single-machine. A span is duplicated when its exact
    ``window``-token sequence occurs ≥ ``min_count`` times ANYWHERE in the
    corpus (other documents or elsewhere in the same one, matching the
    suffix-array semantics, unlike the per-doc-distinct shingle relation).

    Returns one row per document: (id, n_tokens, n_windows, n_dup_windows,
    dup_token_frac) where dup_token_frac is the fraction of tokens covered
    by the UNION of duplicated spans — overlapping spans merged by an
    interval fold, not double-counted.

    Scale shape: windows hash to 8 bytes (xxhash64) in the same projection
    that slices them, so the occurrence-count groupBy and the count≥2 join
    shuffle (hash, id, pos) only — window text never leaves its scan task.
    The hashed window relation is repartitioned by hash and CACHED: it has
    two consumers (the count build side and the probe side), and without
    the cache each re-runs the fused scan→tokenize→slice→hash generate
    stage — measured at 100x (500k docs, 21.6M windows): 184 s uncached vs
    16 s cached end-to-end, the generate stage being ~10 s of honest work
    that the fused re-execution turns into ~50 s per consumer (same
    giant-fused-stage pathology the staged hash-parity projections fixed).
    ``windows`` — optional precomputed/persisted (id, pos, __h) relation to
    share across calls (the shingle_relation pattern); an already-persisted
    input is trusted as-is, mirroring _jaccard_inverted's cache discipline.
    ``tokens_col`` names an already-tokenized array column on ``df`` (the
    pipeline scan-sharing seam; ignored when ``windows`` is given).
    The per-doc coverage is collect_list of ints bounded by the document's
    own token count (same boundedness as the doc text) folded by a codegen'd
    F.aggregate interval merge — no position explosion (the naive
    distinct-covered-position count would move window× more rows), no
    unpartitioned window function. Reference parity: none — the reference
    stops at whole-value dedup (CH SELECT DISTINCT semantics); this is part
    of the training-data superset."""
    toks = F.col(tokens_col) if tokens_col else tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__w")).select(
        F.col(id_col),
        F.size("__w").alias("__n"),
        F.col("__w"),
    )
    if windows is not None:
        wins = windows
    else:
        wins = base.select(
            F.col(id_col),
            F.posexplode(ngrams_from_tokens(F.col("__w"), window)).alias(
                "pos", "__win"
            ),
        ).select(F.col(id_col), "pos", F.xxhash64("__win").alias("__h"))
        n_part = shuffle_parts(df.sparkSession)
        # persist: consumed twice (count build + probe); see docstring
        # numbers. Through the session relation cache: a bare cache() would
        # pin a fresh copy per call and never release it
        wins = shared_persist(wins.repartition(n_part, "__h"), "dup_spans_wins")
    hot = (
        wins.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__h")
    )
    dup = wins.join(hot, "__h").select(F.col(id_col), "pos")
    w_lit = F.lit(window).cast("long")
    acc0 = F.struct(
        F.lit(-(1 << 40)).cast("long").alias("pe"), F.lit(0).cast("long").alias("tot")
    )
    merged = dup.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.aggregate(
            F.array_sort(F.collect_list(F.col("pos").cast("long"))),
            acc0,
            lambda a, s: F.struct(
                (s + w_lit).alias("pe"),
                (a["tot"] + F.least(w_lit, s + w_lit - a["pe"])).alias("tot"),
            ),
        )["tot"].alias("__covered"),
    )
    stats = base.select(F.col(id_col), F.col("__n"))
    return (
        stats.join(merged, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__n").alias("n_tokens"),
            F.greatest(F.col("__n") - window + 1, F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce(F.col("__covered"), F.lit(0))
                / F.greatest(F.col("__n"), F.lit(1)),
                6,
            ).alias("dup_token_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
    tokens_col: str | None = None,
) -> DataFrame:
    """The REMOVAL form of :func:`dup_spans` — ExactSubstr dedup as Lee et
    al. 2022 (arXiv:2107.06499 §4.1) actually apply it: every duplicated
    ``window``-token span keeps its FIRST corpus occurrence (lexicographic
    (doc_id, pos) owner) and is cut from every other occurrence, then each
    document's surviving tokens are re-joined. Within-document repeats are
    covered by the same rule (the earliest position owns the span).

    Returns (id_col, text_clean, n_tokens, n_removed) — n_removed counts
    the tokens cut (the union of removal spans, overlaps not
    double-counted).

    Scale shape: identical to dup_spans up to the occurrence rollup —
    windows hash to 8 bytes in the slicing projection, so the shuffle
    carries (hash, id, pos); the owner is one min(struct(id,pos)) in the
    same aggregate as the count. The removal positions come back to each
    doc as ONE sorted start-array (bounded by the doc's own window count),
    and the token filter is a per-row codegen'd exists over that array —
    no position explosion, no unpartitioned window. Registry-persisted
    windows relation shared with repeated calls (same discipline as
    dup_spans)."""
    toks = F.col(tokens_col) if tokens_col else tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__w"))
    wins = base.select(
        F.col(id_col),
        F.posexplode(ngrams_from_tokens(F.col("__w"), window)).alias(
            "pos", "__win"
        ),
    ).select(F.col(id_col), "pos", F.xxhash64("__win").alias("__h"))
    n_part = shuffle_parts(df.sparkSession)
    wins = shared_persist(wins.repartition(n_part, "__h"), "rm_spans_wins")
    own = wins.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__own"),
    )
    rm = (
        wins.join(own.filter(F.col("__c") >= min_count), "__h")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"__own.{id_col}"))
                & (F.col("pos") == F.col("__own.pos"))
            )
        )
        .select(F.col(id_col), "pos")
    )
    starts = rm.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("__starts")
    )
    w_hi = F.lit(window - 1)
    joined = base.join(starts, id_col, "left")
    kept = F.when(F.col("__starts").isNull(), F.col("__w")).otherwise(
        F.filter(
            F.col("__w"),
            lambda x, i: ~F.exists(
                F.col("__starts"), lambda s: (s <= i) & (i <= s + w_hi)
            ),
        )
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text_clean"),
        F.size("__w").alias("n_tokens"),
        (F.size("__w") - F.size(kept)).cast("int").alias("n_removed"),
    )


def dedup_lines_within_doc(
    lines: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
    sep: str = "\n",
) -> DataFrame:
    """WITHIN-document repeated-line removal — the intra-page half of the
    C4 line filter (Raffel et al. 2020 §2.2 drops repeated lines inside a
    page; :func:`line_dedup_lines` is the CROSS-document half): keep the
    FIRST occurrence of each distinct line per document, drop later
    repeats, reassemble in order. Returns
    ``(id_col, n_lines, n_kept, text)``.

    Scale: the first-occurrence election is ONE keyed aggregation on
    (doc, line) — exact string keys, no hash-collision risk merging two
    distinct lines, and the key space is intra-document so no global hot
    key can form; the per-doc total and the reassembly ride doc-keyed
    aggregations (same shape as line_dedup_lines' reassembly, no
    unpartitioned window)."""
    first = lines.groupBy(id_col, line_col).agg(
        F.min(pos_col).alias(pos_col)
    )
    tot = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    body = first.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(pos_col), F.col(line_col)))
                ),
                lambda s: s[line_col],
            ),
            sep,
        ).alias("text"),
    )
    return tot.join(body, id_col).select(
        id_col, "n_lines", "n_kept", "text"
    )


def edit_distance_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    max_dist: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Levenshtein verification of blocked candidate pairs — the
    record-linkage pattern (Fellegi-Sunter style blocking+verify; also
    Lee et al. 2022's near-dup verify step): a cheap blocker (minhash
    banding, simhash buckets, sort-neighborhood — anything producing
    ``(id_a, id_b)``) proposes, the true edit distance decides. Returns
    ``(id_a, id_b, dist)`` for pairs with ``dist ≤ max_dist``.

    Scale: two keyed joins carry (id, text) once per side (the only text
    movement); the metric is Spark's builtin ``levenshtein`` in its
    THRESHOLD form — banded DP, cost O(max_dist·min_len) per pair instead
    of O(len_a·len_b), returning -1 above the bound so oversized pairs
    short-circuit. Candidate count is the blocker's (Σ bucket² for the
    banding join, measured linear to 100x) — never all-pairs."""
    a = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    b = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    return (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "dist", F.levenshtein("__ta", "__tb", int(max_dist))
        )
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def _jaccard_prefix_candidates(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Prefix-filtered candidate pairs (id_a, id_b, size_a, size_b) for the
    exact-Jaccard join — the PPJoin-family candidate generator (Chaudhuri
    et al. SSJoin / Xiao et al. PPJoin, public literature).

    Order every doc's shingles by GLOBAL rarity (document frequency asc,
    shingle asc — a total order); if J(A,B) >= t then |A∩B| >= ceil(t·|A|),
    so A must contribute at least one of its first |A| − ceil(t·|A|) + 1
    rarest shingles to any qualifying pair — only PREFIX shingles generate
    candidates. Rare shingles have small df, so the candidate join costs
    Σ df_prefix² over rare tokens instead of Σ df² over all tokens — the
    third candidate strategy next to the dense matmul and the full
    inverted join, and the one that survives a corpus whose boilerplate
    has been LEFT IN (no stop-shingle cap needed: hot shingles sort LAST
    and fall out of every prefix). The length filter (t·|A| <= |B| <= |A|/t)
    prunes the rest. Candidates are a SUPERSET of qualifying pairs;
    callers must exact-verify."""
    dfreq = sh.groupBy("shingle").agg(
        F.count_distinct(F.col(id_col)).alias("__df")
    )
    ranked = sh.join(dfreq, "shingle")
    per_doc = ranked.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
        ).alias("__ord")
    )
    n = F.size("__ord")
    plen = (n - F.ceil(F.lit(float(threshold)) * n) + 1).cast("int")
    prefix = per_doc.select(
        F.col(id_col),
        n.alias("__n"),
        F.explode(F.slice(F.col("__ord"), 1, plen)).alias("__p"),
    ).select(
        F.col(id_col), F.col("__n"), F.col("__p.shingle").alias("shingle")
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("size_a"), "shingle"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("size_b"), "shingle"
    )
    t = float(threshold)
    return (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: sizes of a qualifying pair are within t of
            # each other in ratio (|A∩B| <= min, |A∪B| >= max)
            & (F.col("size_b") * F.lit(t) <= F.col("size_a"))
            & (F.col("size_a") * F.lit(t) <= F.col("size_b"))
        )
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    dense_cells_cap: int = 1 << 27,
    force_prefix: bool = False,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via prefix-filtered candidates — same
    output contract as ngram_jaccard_pairs (id_a < id_b, 6-dp jaccard >=
    threshold; tests/test_pipeline_ops.py pins them row-identical), but
    the candidate join touches only each doc's n − ⌈t·n⌉ + 1 RAREST
    shingles. When a doc's rare shingles outnumber that bound, its hot
    boilerplate shingles sort to the suffix and generate NO candidates —
    EXACT results where the inverted path needs the opt-in stop-shingle
    cap and the capped result is an approximation. When boilerplate
    dominates past the bound (low t on template-heavy docs), the theorem
    forces hot shingles into the prefix and pruning degrades gracefully
    toward the inverted join's cost — correctness never depends on the
    corpus shape, only the savings do (pinned both ways in the test).

    Strategy dispatch (same measured-shape doctrine as
    ngram_jaccard_pairs): a DENSE corpus — tiny shared vocabulary, docs ×
    distinct-shingles under ``dense_cells_cap`` — is the regime where NO
    rarity order prunes (every doc's rarest shingle still has high df;
    measured on the sf0.1 fixture: the pure prefix path ran 62s where the
    matmul runs ~1s), so the call delegates to ngram_jaccard_pairs, whose
    dense matmul is exact too and the output contract is identical.
    ``force_prefix=True`` pins the pure prefix path for tests/benchmarks
    of the machinery itself.

    Plan: one df count + per-doc array_sort (doc-keyed) + prefix explode
    + shingle-keyed candidate join + length filter + exact verify (two
    id-keyed joins against the full shingle relation, cost Σ(na+nb) over
    candidates). Everything keyed on shingle or doc id; no windows, no
    driver state. The exact verify makes prefix filtering PURE savings:
    false candidates cost verification only, and the completeness bound
    is the standard prefix-filter theorem over the global rarity order."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold in (0, 1]; got {threshold}")
    sh = shingles if shingles is not None else shingle_relation(
        df, text_col, id_col, shingle_n
    )
    if not force_prefix:
        # dense-regime dispatch: prefix filtering cannot prune a
        # tiny-vocabulary corpus; hand the same shingle relation to the
        # strategy chooser (which takes the exact dense matmul there and
        # the inverted join otherwise — both share this output contract)
        n_docs = _footer_num_rows(df)
        if n_docs is None:
            n_docs = sh.select(id_col).distinct().count()
        max_dense_docs = max(1, dense_cells_cap // 512)
        if n_docs <= max_dense_docs:
            est_vocab = sh.agg(
                F.approx_count_distinct("shingle").alias("v")
            ).first()["v"]
            if n_docs * est_vocab * 1.1 <= dense_cells_cap:
                return ngram_jaccard_pairs(
                    df, text_col, id_col, shingle_n, threshold,
                    dense_cells_cap, shingles=sh, n_docs=n_docs,
                )
    lvl = sh.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        sh = shared_persist(
            sh.repartition(shuffle_parts(sh.sparkSession), "shingle"),
            "jaccard_prefix_sh",
        )
    cand = _jaccard_prefix_candidates(sh, id_col, threshold)
    l = sh.select(F.col(id_col).alias("id_a"), "shingle")
    r = sh.select(F.col(id_col).alias("__rb"), F.col("shingle").alias("__s2"))
    inter = (
        cand.join(l, "id_a")
        .join(
            r,
            (F.col("id_b") == F.col("__rb"))
            & (F.col("shingle") == F.col("__s2")),
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = inter.withColumn(
        "jaccard",
        F.round(
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
            6,
        ),
    )
    return out.filter(F.col("jaccard") >= F.lit(float(threshold))).select(
        "id_a", "id_b", "jaccard"
    )
