"""The engine's query suite — one entry per implemented capability from
SURVEY.md §2 plus the data-pipeline extensions, each with a DuckDB oracle
(ANSI SQL over the same parquet) where SQL-expressible.

Conventions that keep the driver's hash-compare exact:
  - every computed/aggregate column is aliased IDENTICALLY in Spark and SQL;
  - double aggregates are rounded (2 decimals for big sums, 4-6 for ratios)
    on BOTH sides, so float associativity differences can't flip the hash;
  - timestamps are emitted as formatted strings (Spark truncates parquet ns
    to µs; DuckDB keeps ns — strings at second granularity are stable);
  - DuckDB HUGEINT results (sum of integers) are cast to BIGINT to match
    Spark's LongType.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrowhouse_spark.session import cached_relation, shuffle_parts


QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _coverage_priority(artifact_dir: str | None = None) -> dict[str, tuple]:
    """Order hint from past driver rounds (CORRECTNESS_r*.json).

    The driver checks a capped prefix of ``queries()`` per round (r01 capped
    at 50), so with >50 registered queries the registry rotates: queries whose
    MOST RECENT driver record failed come first (a known regression is
    strictly worse than an unknown), then never-checked ones, then green ones
    ordered oldest-proven first. Across rounds every query gets an
    oracle-verified entry; regressions re-enter the checked window
    immediately, ahead of everything else.

    ``artifact_dir`` overrides where CORRECTNESS_r*.json files are read from
    (unit tests point it at a tmpdir with synthetic records).
    """
    import glob
    import json
    import os

    here = artifact_dir or os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last_seen: dict[str, int] = {}
    last_green: dict[str, int] = {}
    latest_green: dict[str, bool] = {}  # green-ness of the MOST RECENT record
    rows_only_green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rnd = int("".join(ch for ch in os.path.basename(path) if ch.isdigit()))
            with open(path) as f:
                data = json.load(f)
        except Exception:
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict):
                last_seen[name] = max(last_seen.get(name, 0), rnd)
                continue
            hash_green = rec.get("hash_match") is True
            rows_green = (
                rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None
            )
            green = hash_green or rows_green
            if rnd >= last_seen.get(name, 0):
                # files iterate in round order, so this tracks the latest result
                latest_green[name] = green
            last_seen[name] = max(last_seen.get(name, 0), rnd)
            if hash_green:
                last_green[name] = max(last_green.get(name, 0), rnd)
                rows_only_green.discard(name)
            elif rows_green:
                if name not in last_green:
                    rows_only_green.add(name)
                last_green[name] = max(last_green.get(name, 0), rnd)
    reg_pos = {name: i for i, name in enumerate(_QUERIES)}

    def key(name: str) -> tuple:
        if name in last_seen and (
            name not in last_green or latest_green.get(name) is not True
        ):
            # never green, OR regressed: the most recent driver record is not
            # green even if an older round was. A known-failed query is worse
            # than a never-checked one — re-check it FIRST.
            return (0, reg_pos[name])
        if name not in last_seen:
            return (1, reg_pos[name])  # never checked → next
        if name in rows_only_green and name in _ORACLES:
            # previously green only as a rows-only check but an oracle exists
            # now → its value check has never run; treat as unchecked
            return (1, reg_pos[name])
        return (2, last_green[name], reg_pos[name])  # green: oldest proof first

    return {name: key(name) for name in _QUERIES}


def queries() -> dict[str, QueryFn]:
    prio = _coverage_priority()
    return {name: _QUERIES[name] for name in sorted(_QUERIES, key=prio.__getitem__)}


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark refuses that
        # physical type unless it's read back as a raw long. The driver's
        # harness builds its own SparkSession, so the conf must be set here
        # on the *passed* session, not only in session.py.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # static conf on some Spark builds; the read may still work
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sum_sq_sql(x: str) -> str:
    """Oracle SQL for an audio query's ``sum_sq``: Σx² as BIGINT,
    saturated at INT64_MAX exactly as operators/multimodal.py's
    AUDIO_SCHEMA emits it, where a bare cast of the sum would overflow."""
    return f"CAST(least(sum({x} * {x}), 9223372036854775807) AS BIGINT)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events relation with ``ts`` normalized to a µs TIMESTAMP whatever
    the fixture's physical type: older fixtures stored TIMESTAMP(NANOS)
    (read as long ns via nanosAsLong → convert), current ones store
    timestamp[us] (read as TIMESTAMP_NTZ → cast). Session timezone is forced
    to UTC first so naive↔instant conversions are exact and DST-free —
    DuckDB treats the same naive values as-is, so both engines agree on
    every epoch/diff/format derived from ``ts``."""
    from pyspark.sql import types as T

    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001 — conf may be pinned; fixtures are UTC
        pass
    df = _t(spark, sf_dir, "events")
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Row count straight from parquet footer metadata — zero Spark jobs."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        path = f"{sf_dir}/{name}.parquet"
        files = (
            sorted(glob.glob(os.path.join(path, "*.parquet")))
            if os.path.isdir(path)
            else [path]
        )
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


# Domain guard for the DuckDB xxhash64 model (_dd_spark_xxh64_str_stages):
# the SQL model hard-codes 3 8-byte rounds and ord()-as-byte, so it is only
# valid for ASCII strings of ≤31 bytes. The documents fixture satisfies this
# today, but the assumption must be ENFORCED symmetrically — a ≥32-byte or
# non-ASCII token would make the oracle diverge and falsely fail a correct
# engine answer. Spark side: octet_length ≤ 31 AND octet_length = char length
# (ASCII ⇔ bytes == chars); DuckDB side: strlen (bytes) vs length (chars).
_XXH64_GUARD_DD = "strlen(t) <= 31 AND strlen(t) = length(t)"


def _xxh64_model_guard(c):
    return (F.octet_length(c) <= 31) & (F.octet_length(c) == F.length(c))


def _doc_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-shared (doc_id, source, text, __toks) SUBTREE — repartition
    by doc_id over the scan, tokenized once. Deliberately NOT persisted:
    every composed-pipeline stage consumes this identical subplan, so
    Catalyst's ReuseExchange materializes the repartition's shuffle files
    once and all stage families read THOSE — measured 3.7× faster than an
    InMemoryRelation cache of the same relation (11.1 s vs 3.0 s at sf0.1:
    columnar-cache decode of array<string> costs more than the parquet
    scan + split it saves, and shuffle-file reuse is also the right 100 TB
    story — no executor storage memory pinned across the job). Memoized
    per (session, sf_dir) so every query shares one plan object; the
    operator ``tokens_col`` seams skip per-stage re-splits."""
    from arrowhouse_spark.operators.text import tokens as _tokens

    key = (spark.sparkContext.applicationId, sf_dir, "txttok")

    def build() -> DataFrame:
        n_part = shuffle_parts(spark)
        return (
            _t(spark, sf_dir, "documents")
            .repartition(n_part, "doc_id")
            .select(
                "doc_id", "source", "text", _tokens("text").alias("__toks")
            )
        )

    return cached_relation(key, build)


# Shared dedup scans, cached per (session, sf_dir, params) in the session
# relation cache: the minhash / exact-Jaccard / simhash trio all start from
# the same tokenize→hash prefix, so within one session (bench, driver
# harness) the corpus is read and shingled ONCE instead of once per query.
def _doc_token_hashes_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrowhouse_spark.operators.dedup import token_hash_relation

    key = (spark.sparkContext.applicationId, sf_dir, "tokg")
    return cached_relation(
        key,
        lambda: token_hash_relation(
            _t(spark, sf_dir, "documents"), token_filter=_xxh64_model_guard
        ).persist(),
    )


def _doc_shingles_guarded(
    spark: SparkSession, sf_dir: str, shingle_n: int
) -> DataFrame:
    from arrowhouse_spark.operators.dedup import shingle_relation

    key = (spark.sparkContext.applicationId, sf_dir, "shg", shingle_n)
    return cached_relation(
        key,
        lambda: shingle_relation(
            _t(spark, sf_dir, "documents"),
            shingle_n=shingle_n,
            shingle_filter=_xxh64_model_guard,
        ).persist(),
    )


def _doc_shingles_stopfiltered(
    spark: SparkSession, sf_dir: str, shingle_n: int, max_df: int
) -> DataFrame:
    """Stop-shingle-capped view of the shared shingle relation, itself
    persisted (pre-repartitioned by shingle so join consumers need no further
    exchange): the df-count aggregation + anti-join are paid ONCE per
    session, not on every execution of every consuming query — the same
    shared-relation discipline as the base caches above."""
    from arrowhouse_spark.operators.dedup import stop_shingle_filter

    key = (spark.sparkContext.applicationId, sf_dir, "shgstop", shingle_n, max_df)

    def build() -> DataFrame:
        n_part = shuffle_parts(spark)
        return (
            stop_shingle_filter(
                _doc_shingles_guarded(spark, sf_dir, shingle_n), max_df
            )
            .repartition(n_part, "shingle")
            .persist()
        )

    return cached_relation(key, build)


# --- registration: import order IS registry order (driver rotation depends on it) ---
from arrowhouse_spark.suite import foundation as _foundation  # noqa: E402,F401
from arrowhouse_spark.suite import text_hash as _text_hash  # noqa: E402,F401
from arrowhouse_spark.suite import dedup_core as _dedup_core  # noqa: E402,F401
from arrowhouse_spark.suite import ann_limits as _ann_limits  # noqa: E402,F401
from arrowhouse_spark.suite import pipelines_pack as _pipelines_pack  # noqa: E402,F401
from arrowhouse_spark.suite import text_bpe as _text_bpe  # noqa: E402,F401
from arrowhouse_spark.suite import events_graph as _events_graph  # noqa: E402,F401
from arrowhouse_spark.suite import stats_ext as _stats_ext  # noqa: E402,F401
from arrowhouse_spark.suite import tpch_completion as _tpch_completion  # noqa: E402,F401
from arrowhouse_spark.suite import late_waves as _late_waves  # noqa: E402,F401
from arrowhouse_spark.suite import round12 as _round12  # noqa: E402,F401
from arrowhouse_spark.suite import round13 as _round13  # noqa: E402,F401

# compatibility re-exports (tests import these from the package)
_WYHASH_LENS_HASHES = _text_hash._WYHASH_LENS_HASHES
