"""In-memory sources ≡ One/BlocksList/Null block input streams
(/root/reference/DataStreams/OneBlockInputStream.h:17-46,
BlocksListBlockInputStream.h:13-39, NullBlockInputStream.h).

The reference's streams emit fixed in-memory Arrow batches; the Spark analog is
``spark.createDataFrame`` with an explicit schema (the engine keeps the
reference's explicit-``getHeader()`` discipline: schema is always declared,
never inferred — IBlockInputStream.h:117-123).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def one_block(spark: SparkSession, rows: Sequence[Any], schema: T.StructType) -> DataFrame:
    """A single batch emitted once ≡ OneBlockInputStream.

    Ships the rows as ONE RDD slice (per ~100k rows) instead of
    ``createDataFrame``'s default-parallelism scatter: a bare
    ``createDataFrame(local_rows)`` splits even a 20-row fixture into
    ``defaultParallelism`` Python-RDD slices, and every scan of the
    relation then pays one Python-worker round-trip PER SLICE (~0.2 s
    each on local[32] — a measured ~2 s tax per KB-scale fixture query,
    scaling with core count, not data; the same pathology as the
    ``coalesce(1)`` centroid-write fix in operators/similarity.py).
    One slice per 100k rows keeps huge driver-built lists splittable;
    row values and schema semantics are unchanged (the RDD path runs
    the same per-row type verifier, executor-side)."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    n_slices = max(1, len(rows) // 100_000)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )


def blocks_list(
    spark: SparkSession, blocks: Iterable[Sequence[Any]], schema: T.StructType
) -> DataFrame:
    """A list of batches ≡ BlocksListBlockInputStream. Order-preserving
    concatenation (UNION ALL semantics, like ConcatBlockInputStream)."""
    dfs = [one_block(spark, b, schema) for b in blocks]
    if not dfs:
        return null_source(spark, schema)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out


def null_source(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Empty source with a header ≡ NullBlockInputStream."""
    return spark.createDataFrame([], schema)
