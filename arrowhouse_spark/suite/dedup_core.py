"""Query suite chunk: see the package __init__ docstring. Positional slice of the original suite.py (registration order is load-bearing for the driver rotation — do not reorder)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrowhouse_spark.operators.dedup import (
    dedup_exact,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash,
)

from arrowhouse_spark.suite import (
    _XXH64_GUARD_DD,
    _doc_shingles_guarded,
    _doc_token_hashes_guarded,
    _parquet_num_rows,
    _t,
    register,
)
from arrowhouse_spark.suite.text_hash import (
    _XP64,
    _dd_add64,
    _dd_chain,
    _dd_fetch,
    _dd_mul64,
    _dd_rotl64,
)

# ---------------------------------------------------------------------------
# 8. Training-data pipeline: dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT)    AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_t(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_dups",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS gs
      FROM toks
    ), sh AS (
      -- same shingle-domain guard as the Spark side's shared guarded
      -- relation (ASCII, <= 31 bytes); symmetric by construction
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
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_n=2,
        threshold=0.2,
        shingles=_doc_shingles_guarded(spark, sf_dir, 2),
        n_docs=_parquet_num_rows(sf_dir, "documents"),
    )


def _dd_spark_xxh64_str_stages(tcol: str, out: str) -> list[tuple[str, str]]:
    """CTE stages modeling Spark's JVM xxhash64 (XXH64, seed 42) over the
    UTF-8 bytes of short ASCII strings (n ≤ 31 → tail-only path; the port in
    functions/xxhash.py is pinned to the JVM output in tests). Rounds apply
    conditionally on the actual length, so one straight-line chain covers
    every n ≤ 31; the string is padded so out-of-range fetches are valid but
    unused."""
    p1, p2, p3, p4, p5 = _XP64
    p = f"__{out}"
    st: list[tuple[str, str]] = [
        (f"{p}n", f"length({tcol})::UBIGINT"),
        (f"{p}tp", f"rpad({tcol}, 35, 'x')"),
        (f"{p}h0", _dd_add64(str((42 + p5) & ((1 << 64) - 1)), f"{p}n")),
    ]
    h = f"{p}h0"
    for k in range(3):  # 8-byte rounds, applied iff n >= 8*(k+1)
        lane = _dd_fetch(f"{p}tp", 8 * k + 1, 8)
        st += [
            (f"{p}r{k}a", _dd_mul64(lane, p2)),
            (f"{p}r{k}b", _dd_rotl64(f"{p}r{k}a", 31)),
            (f"{p}r{k}c", _dd_mul64(f"{p}r{k}b", p1)),
            (f"{p}r{k}d", f"xor({h}, {p}r{k}c)"),
            (f"{p}r{k}e", _dd_rotl64(f"{p}r{k}d", 27)),
            (f"{p}r{k}f", _dd_add64(_dd_mul64(f"{p}r{k}e", p1), str(p4))),
            (
                f"{p}h{k + 1}",
                f"CASE WHEN {p}n >= {8 * (k + 1)} THEN {p}r{k}f ELSE {h} END",
            ),
        ]
        h = f"{p}h{k + 1}"
    byte_at = (
        lambda off: f"ord(substr({p}tp, ({off})::INTEGER, 1))::UBIGINT"  # noqa: E731
    )
    st += [
        (f"{p}i0", f"({p}n - ({p}n % 8))"),
        (f"{p}rr", f"({p}n % 8)"),
        (
            f"{p}f4",
            "("
            + " + ".join(
                f"{byte_at(f'{p}i0 + {k + 1}')} * {1 << (8 * k)}" for k in range(4)
            )
            + ")",
        ),
        (f"{p}qa", f"xor({h}, {_dd_mul64(f'{p}f4', p1)})"),
        (f"{p}qb", _dd_add64(_dd_mul64(_dd_rotl64(f"{p}qa", 23), p2), str(p3))),
        (f"{p}h4", f"CASE WHEN {p}rr >= 4 THEN {p}qb ELSE {h} END"),
        (f"{p}bo", f"({p}i0 + CASE WHEN {p}rr >= 4 THEN 4 ELSE 0 END)"),
        (f"{p}rb", f"({p}rr - CASE WHEN {p}rr >= 4 THEN 4 ELSE 0 END)"),
    ]
    h = f"{p}h4"
    for j in range(3):  # 1-byte rounds, applied iff rb > j
        st += [
            (f"{p}s{j}a", f"xor({h}, {_dd_mul64(byte_at(f'{p}bo + {j + 1}'), p5)})"),
            (f"{p}s{j}b", _dd_mul64(_dd_rotl64(f"{p}s{j}a", 11), p1)),
            (f"{p}h{5 + j}", f"CASE WHEN {p}rb > {j} THEN {p}s{j}b ELSE {h} END"),
        ]
        h = f"{p}h{5 + j}"
    st += [
        (f"{p}av0", _dd_mul64(f"xor({h}, {h} >> 33)", p2)),
        (f"{p}av1", _dd_mul64(f"xor({p}av0, {p}av0 >> 29)", p3)),
        (out, f"xor({p}av1, {p}av1 >> 32)"),
    ]
    return st


_DOC_TOKS_SQL = (
    "SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w "
    "FROM documents"
)


def _simhash_oracle() -> str:
    inner = _dd_chain(
        f"SELECT doc_id, t FROM (SELECT doc_id, unnest(w) AS t "
        f"FROM ({_DOC_TOKS_SQL})) WHERE {_XXH64_GUARD_DD}",
        _dd_spark_xxh64_str_stages("t", "H"),
        "doc_id, H",
        base_cols=["doc_id", "t"],
    )
    votes = ", ".join(
        f"sum(CASE WHEN (H >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    sim = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN 1 ELSE 0 END)::UBIGINT * {1 << j}::UBIGINT"
        for j in range(64)
    )
    return f"""
    WITH hashed AS ({inner}),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sims AS (SELECT doc_id, ({sim}) AS sim FROM votes)
    SELECT doc_id, (sim >> 32)::BIGINT AS simhash_hi,
           (sim & 4294967295)::BIGINT AS simhash_lo
    FROM sims
    """


def _minhash_members_sql(num_hashes: int = 64, doc_filter: str = "") -> str:
    """Members relation: per (doc, distinct 2-gram shingle), all 64 seeded
    family hashes xxhash64(lit(i), shingle_hash) as SIGNED BIGINTs — seeds
    precomputed with the pinned port (Spark hashes the int literal first:
    seed_i = XXH64(int4(i), 42))."""
    from arrowhouse_spark.functions.xxhash import xxh64_py

    p1, p2, p3, p4, p5 = _XP64
    M = (1 << 64) - 1
    st = _dd_spark_xxh64_str_stages("t", "H")
    # shared first half of hashLong(H, seed_i): k1 = rotl31(H * P2) * P1
    st += [
        ("k1a", _dd_mul64("H", p2)),
        ("k1b", _dd_rotl64("k1a", 31)),
        ("k1c", _dd_mul64("k1b", p1)),
    ]
    for i in range(num_hashes):
        seed_i = xxh64_py(i.to_bytes(4, "little"), 42)
        h0_i = (seed_i + p5 + 8) & M
        q = f"m{i}"
        st += [
            (f"{q}a", f"xor({h0_i}::UBIGINT, k1c)"),
            (f"{q}b", _dd_add64(_dd_mul64(_dd_rotl64(f"{q}a", 27), p1), str(p4))),
            (f"{q}c", _dd_mul64(f"xor({q}b, {q}b >> 33)", p2)),
            (f"{q}d", _dd_mul64(f"xor({q}c, {q}c >> 29)", p3)),
            (
                q,
                f"CASE WHEN xor({q}d, {q}d >> 32) >= 9223372036854775808::UBIGINT "
                f"THEN (xor({q}d, {q}d >> 32)::HUGEINT - 18446744073709551616)::BIGINT "
                f"ELSE xor({q}d, {q}d >> 32)::BIGINT END",
            ),
        ]
    return _dd_chain(
        f"SELECT doc_id, t FROM ("
        f"SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] "
        f"FOR i IN range(1, len(w))])) AS t FROM ({_DOC_TOKS_SQL}{doc_filter})"
        f") WHERE {_XXH64_GUARD_DD}",
        st,
        "doc_id, " + ", ".join(f"m{i}" for i in range(num_hashes)),
        base_cols=["doc_id", "t"],
    )


def _minhash_sigs_prefix(num_hashes: int, bands: int) -> tuple[str, str]:
    """Shared oracle prefix: the (members, sigs, banded) MATERIALIZED CTE
    block modeling Spark's seeded signature family and chained-xxhash64 band
    buckets, plus the per-pair signature-equality sum expression. Consumed
    by both the self-join pairs oracle and the incremental-store oracle."""
    p1, p2, p3, p4, p5 = _XP64
    rows_per_band = num_hashes // bands
    mins = ", ".join(f"min(m{i}) AS mh{i}" for i in range(num_hashes))
    # bucket stages over the mins relation
    st: list[tuple[str, str]] = []
    # unsigned views of the signed minima
    for i in range(num_hashes):
        st.append(
            (
                f"u{i}",
                f"CASE WHEN mh{i} < 0 THEN (mh{i}::HUGEINT + 18446744073709551616)::UBIGINT "
                f"ELSE mh{i}::UBIGINT END",
            )
        )
    for b in range(bands):
        seed: str | None = None  # None → initial literal 42
        for r in range(rows_per_band):
            q = f"b{b}s{r}"
            x = f"u{b * rows_per_band + r}"
            h0 = (
                str((42 + p5 + 8) & ((1 << 64) - 1))
                if seed is None
                else _dd_add64(seed, str((p5 + 8) & ((1 << 64) - 1)))
            )
            st += [
                (f"{q}h0", h0),
                (f"{q}k1", _dd_mul64(_dd_rotl64(_dd_mul64(x, p2), 31), p1)),
                (
                    f"{q}m",
                    _dd_add64(
                        _dd_mul64(_dd_rotl64(f"xor({q}h0, {q}k1)", 27), p1), str(p4)
                    ),
                ),
                (f"{q}a0", _dd_mul64(f"xor({q}m, {q}m >> 33)", p2)),
                (f"{q}a1", _dd_mul64(f"xor({q}a0, {q}a0 >> 29)", p3)),
                (f"{q}", f"xor({q}a1, {q}a1 >> 32)"),
            ]
            seed = f"{q}"
        st.append((f"bucket{b}", seed))
    buckets_sql = _dd_chain(
        f"SELECT doc_id, {mins} FROM members GROUP BY doc_id",
        st,
        "doc_id, "
        + ", ".join(f"mh{i}" for i in range(num_hashes))
        + ", "
        + ", ".join(f"bucket{b}" for b in range(bands)),
        base_cols=["doc_id"] + [f"mh{i}" for i in range(num_hashes)],
    )
    banded_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bucket{b} AS bucket, "
        + ", ".join(f"mh{i}" for i in range(num_hashes))
        + " FROM sigs"
        for b in range(bands)
    )
    eq_sum = " + ".join(f"(l.mh{i} = r.mh{i})::INT" for i in range(num_hashes))
    # MATERIALIZED: banded is referenced twice by the self-join; DuckDB
    # inlines plain CTEs per reference, which re-expands the ~850-stage hash
    # chain on both sides and blows up planning memory.
    prefix = f"""
    WITH members AS MATERIALIZED ({_minhash_members_sql(num_hashes)}),
    sigs AS MATERIALIZED ({buckets_sql}),
    banded AS MATERIALIZED ({banded_union})"""
    return prefix, eq_sum


def _minhash_pairs_oracle(
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.35
) -> str:
    """Full end-to-end minhash LSH oracle: signatures (as in the signature
    parity) → band buckets, each bucket = Spark's multi-arg xxhash64 over
    the band's signature slots (a seed-chained hashLong per slot, verified
    chain semantics) → bucket-join candidates → est_jaccard filter."""
    prefix, eq_sum = _minhash_sigs_prefix(num_hashes, bands)
    return f"""{prefix},
    pairs AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b,
             round(({eq_sum}) / {num_hashes}.0, 6) AS est_jaccard
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
      GROUP BY ALL
    )
    SELECT DISTINCT id_a, id_b, est_jaccard
    FROM pairs WHERE est_jaccard >= {threshold}
    """


def _minhash_incremental_oracle(
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.35
) -> str:
    """Incremental near-dup oracle: historical store = docs with
    doc_id%3=0 (their banded LSH index), batch = the rest. A batch doc is
    dropped if (a) est_jaccard ≥ threshold against ANY store doc sharing a
    band bucket, or (b) it is the HIGHER id of a within-batch candidate
    pair at est ≥ threshold (the greedy keep-first rule of
    dedup_keep_first). Survivor ids pin the whole decision chain."""
    prefix, eq_sum = _minhash_sigs_prefix(num_hashes, bands)
    return f"""{prefix},
    store AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
    batch AS (SELECT * FROM banded WHERE doc_id % 3 != 0),
    cross_losers AS (
      SELECT DISTINCT l.doc_id FROM batch l JOIN store r
        ON l.band = r.band AND l.bucket = r.bucket
      WHERE round(({eq_sum}) / {num_hashes}.0, 6) >= {threshold}
    ), within_losers AS (
      SELECT DISTINCT r.doc_id FROM batch l JOIN batch r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
      WHERE round(({eq_sum}) / {num_hashes}.0, 6) >= {threshold}
    )
    SELECT DISTINCT doc_id FROM batch
    WHERE doc_id NOT IN (SELECT doc_id FROM cross_losers)
      AND doc_id NOT IN (SELECT doc_id FROM within_losers)
    """


@register(
    "minhash_lsh_parity",
    _minhash_pairs_oracle(num_hashes=16, bands=8),
)
def minhash_lsh_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash LSH dedup at a 16-hash/8-band configuration, fully
    oracle-verified: DuckDB reproduces the seeded signature family, the
    chained-xxhash64 band buckets, the bucket-join candidate generation, and
    the est_jaccard filter bit-for-bit. 16 hashes keeps the generated SQL
    model's operator graph 4× smaller than the production 64-hash default —
    the 64-hash run (`minhash_dups`) is the same code path with a wider
    family. Shingles pass the model-domain guard (ASCII, ≤31 bytes) on BOTH
    sides so the oracle's hash model is valid by construction."""
    return minhash_dedup(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=8,
        shingle_n=2,
        threshold=0.35,
        shingles=_doc_shingles_guarded(spark, sf_dir, 2),
    )


@register(
    "minhash_incremental_docs",
    _minhash_incremental_oracle(num_hashes=16, bands=8, threshold=0.35),
)
def minhash_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (operators/dedup.py:minhash_incremental):
    historical store = band index of docs with doc_id%3=0, batch = the
    rest; a batch doc survives unless it LSH-matches the store or a
    lower-id batch-mate at est_jaccard ≥ 0.35. Same fully-modeled 16-hash/
    8-band oracle machinery as minhash_lsh_parity — DuckDB replays the
    signature family, band buckets, store/batch split, and BOTH loser
    rules bit-for-bit; survivor ids pin the whole decision chain."""
    from arrowhouse_spark.operators.dedup import (
        minhash_band_index,
        minhash_incremental,
        minhash_signature,
    )

    sh = _doc_shingles_guarded(spark, sf_dir, 2)
    empty = spark.createDataFrame([], "doc_id long, text string")
    store = minhash_band_index(
        minhash_signature(
            empty, num_hashes=16, shingle_n=2,
            shingles=sh.filter(F.col("doc_id") % 3 == 0),
        ),
        num_hashes=16,
        bands=8,
    )
    out = minhash_incremental(
        empty,
        store,
        num_hashes=16,
        bands=8,
        shingle_n=2,
        threshold=0.35,
        shingles=sh.filter(F.col("doc_id") % 3 != 0),
    )
    return out.select("doc_id").distinct()


@register(
    "minhash_dups",
    _minhash_pairs_oracle(num_hashes=64, bands=16, threshold=0.35),
)
def minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-config MinHash LSH dedup (64 hashes / 16 bands), fully
    oracle-verified: the DuckDB model reproduces all 64 seeded signature
    members, the 16 chained-xxhash64 band buckets, the bucket-join candidate
    generation, and the est_jaccard filter bit-for-bit (~0.6 MB of generated
    SQL, ~35s/1 GB in DuckDB at sf0.01 — measured before registering).
    Shingles pass the hash-model domain guard (ASCII, ≤31 bytes) on BOTH
    sides; the guarded relation is shared with ngram_jaccard_dups."""
    return minhash_dedup(
        _t(spark, sf_dir, "documents"),
        num_hashes=64,
        bands=16,
        shingle_n=2,
        threshold=0.35,
        shingles=_doc_shingles_guarded(spark, sf_dir, 2),
    )


@register("simhash_docs", _simhash_oracle())
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc, oracle-verified bit-for-bit: the DuckDB model
    reproduces Spark's seed-42 xxhash64 token hashes (via the pinned port in
    functions/xxhash.py) and the 64 bit-majority votes; emitted as 32-bit
    halves so compare never rides uint64→float. Tokens pass the model-domain
    guard (ASCII, ≤31 bytes) on BOTH sides so the oracle's hash model is
    valid by construction."""
    sh = simhash(
        _t(spark, sf_dir, "documents"),
        token_hashes=_doc_token_hashes_guarded(spark, sf_dir),
    )
    return sh.select(
        "doc_id",
        F.shiftrightunsigned("simhash", 32).alias("simhash_hi"),
        F.col("simhash").bitwiseAND(F.lit((1 << 32) - 1)).alias("simhash_lo"),
    )


@register(
    "doc_token_count_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text || ' v2.0, #tag!', '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
             AS n_bpe_tokens_sym
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def doc_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs / digit runs / isolated
    symbols — the GPT-2 pre-tokenizer shape) alongside the whitespace
    counter; the second column appends a symbol-heavy suffix so the regex
    paths beyond plain words are value-checked too."""
    from arrowhouse_spark.operators.text import token_count_bpe

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    out = token_count_bpe(docs)
    out = token_count_bpe(
        out.withColumn("__aug", F.concat(F.col("text"), F.lit(" v2.0, #tag!"))),
        text_col="__aug",
        out="n_bpe_tokens_sym",
    )
    return out.select("doc_id", "n_bpe_tokens", "n_bpe_tokens_sym")


@register(
    "doc_pii_scrub",
    r"""
    WITH injected AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
        || CASE WHEN doc_id % 11 = 0
             THEN ' ip 10.0.' || (doc_id % 256) || '.17 seen' ELSE '' END
        || CASE WHEN doc_id % 13 = 0
             THEN ' call +1-555-' || (100 + doc_id % 900) || '-'
                  || (1000 + doc_id % 9000) || ' today' ELSE '' END
        AS text
      FROM documents
    )
    SELECT doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
        '\+\d{1,3}[-. ]\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]?\d{3,4}\b',
        '<PHONE>', 'g') AS text_clean,
      CAST(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
      CAST(len(regexp_extract_all(text,
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
      CAST(len(regexp_extract_all(text,
        '\+\d{1,3}[-. ]\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]?\d{3,4}\b')) AS INTEGER) AS n_phone,
      CAST(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(text,
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        + len(regexp_extract_all(text,
        '\+\d{1,3}[-. ]\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]?\d{3,4}\b'))
        AS INTEGER) AS n_pii
    FROM injected
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text.py:pii_scrub): emails / IPv4s / phones
    replaced by typed placeholders with per-doc counts — the
    RefinedWeb-style scrub pass, pure map-side codegen (no shuffle, no
    UDF). Deterministic PII is INJECTED from doc_id on both sides so the
    oracle pins real redactions (every 7th/11th/13th doc), not a no-op:
    value-hash covers the scrubbed text itself plus all counts."""
    from arrowhouse_spark.operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" ip 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".17 seen"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    (F.lit(100) + F.col("doc_id") % 900).cast("string"),
                    F.lit("-"),
                    (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                    F.lit(" today"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(injected)


@register(
    "doc_gopher_quality",
    """
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), scal AS (
      SELECT doc_id,
             CAST(len(w) AS INTEGER) AS n_words,
             round((length(text) - (len(w) - 1)) / greatest(len(w), 1), 6) AS mean_word_len,
             round(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
                   / greatest(len(w), 1), 6) AS alpha_word_ratio,
             round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                   / greatest(length(text), 1), 6) AS symbol_ratio,
             round(1.0 - len(list_distinct(w)) / greatest(len(w), 1), 6) AS dup_word_frac
      FROM toks
    ), bg AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS g
      FROM toks
    ), cnt AS (
      SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_frac
      FROM cnt GROUP BY 1
    )
    SELECT s.doc_id, s.n_words, s.mean_word_len, s.alpha_word_ratio,
           s.symbol_ratio, s.dup_word_frac,
           coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac,
           (s.n_words >= 50 AND s.n_words <= 100000
            AND s.mean_word_len >= 3 AND s.mean_word_len <= 10
            AND s.alpha_word_ratio >= 0.8 AND s.symbol_ratio <= 0.1
            AND coalesce(t.top_bigram_frac, 0.0) <= 0.18) AS gopher_pass
    FROM scal s LEFT JOIN top t ON s.doc_id = t.doc_id
    """,
)
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality filter battery (repetition, symbol, word-shape
    signals + conjunctive keep rule) — see operators/text.py:gopher_quality."""
    from arrowhouse_spark.operators.text import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


@register(
    "doc_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i:i+12], ' ')
                                   FOR i IN range(1, len(w) - 11)])) AS g
      FROM toks
    ), ev AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams
      FROM grams c JOIN ev ON c.g = ev.g
      GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(h.n_contaminated_grams, 0) AS n_contaminated_grams,
           coalesce(h.n_contaminated_grams, 0) >= 1 AS is_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (13-gram overlap vs an eval set — the
    GPT-3 rule) with the eval side as a broadcast hash; eval set here is the
    deterministic doc_id%97 sample standing in for a benchmark table."""
    from arrowhouse_spark.operators.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, ev, ngram_n=13)


