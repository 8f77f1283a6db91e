"""Deterministic training-shard export with a verifiable manifest.

A pretraining export at 100 TB is consumed by a training job that needs
(a) stable shard membership across re-runs and engines, and (b) a manifest
the loader can trust without re-scanning payloads. Shard assignment is the
engine-independent md5-prefix bucket (operators/sampling.py:hash_bucket);
the manifest rolls up per shard: doc count, whitespace-token count, byte
count, and an order-insensitive 60-bit XOR checksum over
md5(doc_id ':' text) — a flipped byte, lost row, or misrouted doc flips
exactly that shard's manifest row.

Reference parity: the reference's sinks are block output streams with no
manifest concept (/root/reference/DataStreams/IBlockOutputStream.h) — this
is extension surface for the LLM-pipeline story, same family as the
binaryFile source.

Scale: the writer repartitions BY the shard column (rows of a shard land in
exactly one task, so each shard is one parquet file; ``n_shards`` controls
both file count and write parallelism), sorts within partitions by id for
byte-stable files, and writes via ``partitionBy`` so readers partition-prune
by shard. The manifest is ONE keyed aggregation over the re-read files —
it certifies what is ON DISK, not what was intended — and has exactly
``n_shards`` rows, so materializing it is bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def doc_checksum(id_col: str = "doc_id", text_col: str = "text"):
    """60-bit content checksum of one document: the first 15 hex chars of
    md5(id ':' text) as a long. 15 hex = 60 bits keeps the value inside
    BIGINT on every engine (DuckDB replays it as
    ('0x' || substr(md5(...), 1, 15))::UBIGINT::BIGINT)."""
    payload = F.concat_ws(
        ":",
        F.col(id_col).cast("string"),
        F.coalesce(F.col(text_col), F.lit("")),
    )
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shard",
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as ``n_shards`` deterministic parquet shards under
    ``path`` (directory layout ``shard=K/``). Assignment is
    hash_bucket(id) — stable across runs, engines, and cluster sizes —
    and rows are sorted by id within each shard for byte-stable files.

    ``mode="append"`` is the incremental-ingest path: a day's new docs land
    as one additional file inside each affected ``shard=K/`` directory
    (same assignment, so a doc's shard never changes across days), and the
    re-read manifest equals the one-shot manifest of the unioned corpus —
    the counts are additive and the XOR checksum is order-insensitive by
    construction (pinned by test_shards_append_equals_union)."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    sharded = df.withColumn("shard", hash_bucket(id_col, n_shards, salt=salt))
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions(id_col)
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
    return path


def shard_manifest(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(shard, n_docs, n_tokens, n_bytes, xor_checksum) per written shard,
    computed by RE-READING the shard directory — the manifest certifies the
    files a training loader will actually open. One keyed aggregation;
    output row count = shard count."""
    from arrowhouse_spark.operators.text import tokens

    df = spark.read.parquet(path)
    per = df.select(
        F.col("shard").cast("long").alias("shard"),
        F.size(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__tok"),
        F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).alias("__bytes"),
        doc_checksum(id_col, text_col).alias("__ck"),
    )
    return per.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.sum("__bytes").cast("long").alias("n_bytes"),
        F.bit_xor("__ck").alias("xor_checksum"),
    )


def shard_store_retract(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "doc_id",
) -> int:
    """Retract documents from a training-shard export — the GDPR
    primitive for the one store whose rows ARE the training data: a
    deletion request against a pretraining corpus must reach the shards
    a loader actually opens, not just the dedup/index stores around
    them. ``ids`` is a DataFrame carrying ``id_col`` or a plain sequence.

    Locating needs no ``n_shards``/salt parameter: one COLUMN-PRUNED
    scan of (id, shard) off the store itself collects the touched
    shards and the removal count (the scd2_store_retract locate
    discipline). The rewrite touches ONLY the touched ``shard=K``
    partitions (operators/store.py), one file per shard sorted by id —
    the surviving file keeps the writer's byte-stable layout.

    The manifest needs NO separate repair: :func:`shard_manifest`
    certifies what is ON DISK by re-reading, so re-running it after a
    retraction yields the updated counts and checksums — a loader
    holding the OLD manifest will refuse the rewritten shard, which is
    exactly the tamper-evidence contract working as designed
    (re-issue the manifest with the deletion request's audit record).
    Unknown ids no-op; idempotent across retries. Returns the number of
    documents removed. Single-writer contract, as for every store."""
    from arrowhouse_spark.operators.store import partitioned_store_retract

    return partitioned_store_retract(
        spark, path, ids, id_col, "shard", sort_col=id_col
    )
