"""Streaming forms of the engine's dedup/replace/aggregate semantics.

The reference's replace-merge (YdbModes/MergingSortedInputStream.cpp:227-289,
"keep first per replace-key in sort order") is a batch versioned-upsert; in a
continuous setting the same semantics are (SURVEY.md §2.8):

  - exact streaming dedup  → ``withWatermark`` + ``dropDuplicates`` (state
    bounded by the watermark horizon);
  - latest-version-per-key → ``applyInPandasWithState`` keeping the max-version
    row per key (the stateful generalization of replace_merge_agg);
  - windowed aggregation   → event-time tumbling windows with late-data
    handling via watermark.

State scale: all three shuffle by key; state store size is O(distinct keys in
horizon), independent of stream length — the property that matters at
100 TB/day ingest.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def read_parquet_stream(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """File-source stream (schema must be explicit — same discipline as the
    reference's getHeader contract)."""
    return spark.readStream.schema(schema).parquet(path)


def stream_dedup_exact(
    sdf: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Drop exact duplicates by key within the watermark horizon."""
    return sdf.withWatermark(ts_col, watermark_delay).dropDuplicates(
        [*key_cols, ts_col]
    )


def stream_replace_latest(
    sdf: DataFrame,
    key_col: str,
    version_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Continuously maintain the max-version row per key (streaming
    replace-merge). Emits the current winner for a key whenever a batch
    touches it; per-key state is one row."""
    fields = [T.StructField(key_col, T.LongType())] + [
        T.StructField(c, T.StringType()) for c in value_cols
    ] + [T.StructField(version_col, T.LongType())]
    out_schema = T.StructType(fields)
    state_schema = T.StructType(
        [T.StructField(version_col, T.LongType())]
        + [T.StructField(c, T.StringType()) for c in value_cols]
    )

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
        import pandas as pd

        best_v = None
        best_vals = None
        if state.exists:
            st = state.get
            best_v, best_vals = st[0], list(st[1:])
        for pdf in pdfs:
            idx = pdf[version_col].idxmax()
            v = int(pdf[version_col].loc[idx])
            if best_v is None or v > best_v:
                best_v = v
                best_vals = [pdf[c].loc[idx] for c in value_cols]
        state.update((best_v, *best_vals))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                **{c: [val] for c, val in zip(value_cols, best_vals)},
                version_col: [best_v],
            }
        )

    return sdf.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_windowed_agg(
    sdf: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
    group_cols: Sequence[str] = (),
    slide_duration: str | None = None,
) -> DataFrame:
    """Event-time windowed counts/sums with late-data handling — tumbling
    by default, HOPPING when ``slide_duration`` < ``window_duration``
    (each event then feeds window/slide overlapping windows; state grows
    by the same factor, which is why the watermark matters more here).
    The batch complement is the suite's events_hourly /
    events_hopping_window pair."""
    win = (
        F.window(ts_col, window_duration)
        if slide_duration is None
        else F.window(ts_col, window_duration, slide_duration)
    )
    return (
        sdf.withWatermark(ts_col, watermark_delay)
        .groupBy(win, *group_cols)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            *group_cols,
            "n",
            "sum_value",
        )
    )


def stream_ohlc(
    sdf: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    tie_col: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Continuous OHLC downsampling — the streaming form of
    operators/timeseries.py:ohlc_downsample, same struct-ordered
    open/close selection ((ts, tie, v) min/max inside the windowed
    aggregate, deterministic under equal timestamps) with event-time
    windows and late-data handling. Struct min/max is a plain ordered
    aggregate, so state per (key, window) is two structs + three
    scalars — no applyInPandasWithState needed. Epoch-aligned windows
    coincide with the batch operator's date_trunc buckets, which is what
    the batch-equivalence test pins."""
    ordered = F.struct(
        F.col(ts_col).alias("ts"),
        F.col(tie_col).alias("tie"),
        F.col(value_col).alias("v"),
    )
    return (
        sdf.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration), F.col(key_col))
        .agg(
            F.min(ordered).getField("v").alias("open"),
            F.round(F.max(F.col(value_col)), 2).alias("high"),
            F.round(F.min(F.col(value_col)), 2).alias("low"),
            F.max(ordered).getField("v").alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col(value_col)), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("bucket_ts"),
            key_col,
            F.round("open", 2).alias("open"),
            "high",
            "low",
            F.round("close", 2).alias("close"),
            "n",
            "sum_value",
        )
    )


def stream_sessionize(
    sdf: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    gap: str = "30 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization: Spark's ``session_window`` merges events
    within ``gap`` into one growing window per key — the continuous form of
    operators.sessions.sessionize (state per open session, closed and
    emitted once the watermark passes the gap)."""
    return (
        sdf.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(ts_col, gap), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *key_cols,
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a bounded event-time interval:
    right rows match a left row with the same keys and
    ``left_ts - lookback <= right_ts <= left_ts``.

    Both sides carry a watermark AND the join carries the time-range
    condition — together they let Spark expire join state once the watermark
    passes a row's reach, so state is O(rows in lookback+delay horizon),
    independent of stream length. Without the range condition Spark would
    buffer both streams forever — that is the 100 TB/day failure mode this
    wrapper makes unrepresentable (the batch analog is
    operators/rangejoin.py:range_join).

    ``left_ts`` and ``right_ts`` must be distinct column names; non-key
    columns of the two sides must not collide.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError("stream_interval_join supports inner / leftOuter")
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct names")
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    key_cond = " AND ".join(f"l.{k} = r.{k}" for k in keys)
    cond = F.expr(
        f"{key_cond} AND r.{right_ts} <= l.{left_ts} "
        f"AND r.{right_ts} >= l.{left_ts} - INTERVAL {lookback}"
    )
    joined = lw.alias("l").join(rw.alias("r"), on=cond, how=how)
    # project away the duplicated key columns (keep the left copy)
    keep = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in right.columns if c not in keys
    ]
    return joined.select(*keep)


def stream_dedup_first_seen(
    sdf: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming incremental exact dedup: emit each content fingerprint's
    FIRST arrival only, over an UNBOUNDED horizon — the continuous form of
    operators/dedup.py:dedup_incremental (whose store is a batch-side
    table), and the unbounded cousin of :func:`stream_dedup_exact` (whose
    state evicts at the watermark). Within one micro-batch the lowest id
    wins, matching the batch operator's min-id rule; later occurrences of
    a seen fingerprint emit nothing.

    State: ONE boolean marker per distinct fingerprint, keyed and shuffled
    by fp — O(distinct content) regardless of stream length, the property
    a 100 TB/day ingest needs; production deployments back it with the
    RocksDB state store and this exact plan."""
    import pandas as pd  # noqa: PLC0415 — optional at module import

    from arrowhouse_spark.operators.text import fingerprint

    with_fp = fingerprint(sdf, text_col, "fp")
    out_schema = T.StructType(
        [
            T.StructField("fp", T.StringType()),
            T.StructField(id_col, T.LongType()),
            T.StructField(text_col, T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        if state.exists:
            return  # fingerprint already emitted in an earlier batch
        first = None
        for pdf in pdfs:
            cand = pdf.loc[pdf[id_col].idxmin()]
            if first is None or cand[id_col] < first[id_col]:
                first = cand
        if first is not None:
            state.update((True,))
            yield pd.DataFrame(
                {
                    "fp": [key[0]],
                    id_col: [int(first[id_col])],
                    text_col: [first[text_col]],
                }
            )

    return with_fp.groupBy("fp").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_trending_terms(
    sdf: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Windowed term-frequency stream — the continuous input to a trending
    top-k: tokenize (same whitespace rule as the batch operators), explode,
    event-time tumbling-window counts with late-data handling. Emitted in
    update mode as (window_start, token, n); consumers take per-window
    top-k in the sink (`foreachBatch` rank, or a materialized table the
    serving layer reads with ORDER BY n LIMIT k) — ranking inside the
    stream would force complete mode, whose state grows with the full
    token vocabulary instead of the watermark horizon.

    State: one counter per (window, token) inside the horizon — the same
    O(keys-in-horizon) bound as stream_windowed_agg; the token explode
    multiplies rows before the shuffle but adds no state of its own."""
    from arrowhouse_spark.operators.text import tokens

    return (
        sdf.withWatermark(ts_col, watermark_delay)
        .select(F.col(ts_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(F.window(ts_col, window_duration), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "token", "n")
    )


def stream_minhash_neardup(
    sdf: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
):
    """Continuous MinHash NEAR-dup dedup — the streaming twin of
    operators/dedup.py:minhash_incremental, as stream_dedup_first_seen is
    to dedup_incremental. Each micro-batch is probed against the
    accumulated LSH band-index store; surviving documents are written to
    ``out_path`` and their index rows appended to ``store_path``, which
    becomes the store the NEXT batch probes — so a near-duplicate of any
    previously surviving document is dropped, forever, across batches.

    Shape: this is deliberately ``foreachBatch`` + the batch operator, NOT
    applyInPandasWithState. The near-dup verdict is a cross-key
    multi-phase decision — a doc's ``bands`` index rows probe ``bands``
    different (band, bucket) state partitions, the verdict aggregates
    over ALL of them, and only then do the survivor's rows enter ALL its
    buckets — which per-key state transitions cannot express (a per-bucket
    operator would admit a doc to bucket B's store even when bucket A
    killed it, silently diverging from the batch semantics). foreachBatch
    against a persistent store is Spark's idiomatic form for exactly this
    class (streaming MERGE/SCD upserts), and it buys BATCH PARITY BY
    CONSTRUCTION: the very same operator runs per batch, so per-batch
    outputs equal sequential minhash_incremental calls by definition
    (pinned in tests/test_streaming.py).

    State scale: the store is the minhash_band_index relation — bands rows
    of (id, minhash, band, bucket) per surviving doc. Written bucketed by
    (band, bucket) in production, the daily batch joins against years of
    history without moving it (only matched buckets' rows are read); the
    probe is the same Σ bucket-product join as the batch operator. Every
    batch appends its own file-set, so long-running streams should run
    :func:`compact_band_store` between triggers every N batches (probe
    results are invariant — pinned in tests/test_streaming.py).

    Returns the StreamingQuery (caller awaits/stops it)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _minhash_process_batch(
            batch_df,
            batch_id,
            store_path,
            out_path,
            text_col,
            id_col,
            num_hashes,
            bands,
            shingle_n,
            threshold,
        )

    return (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _minhash_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> None:
    """One micro-batch of stream_minhash_neardup, IDEMPOTENT per batch_id
    (round-6 advice — foreachBatch is at-least-once): the store carries
    batch_id, the probe sees only EARLIER batches' rows (a replayed batch
    never probes rows its failed attempt wrote, which would drop every
    doc), and both sinks OVERWRITE this batch's own batch_id partition
    (dynamic partition overwrite) instead of blindly appending, so a retry
    replaces its partial output rather than duplicating it. The probe
    relation is therefore identical on every attempt and the batch result
    deterministic. Module-level so the retry contract is directly
    pytest-able."""
    from pyspark.sql.types import StructType

    from arrowhouse_spark.operators.dedup import minhash_incremental
    from arrowhouse_spark.operators.store import exists, refuse_missing_history

    store_schema = (
        StructType()
        .add(id_col, T.LongType())
        .add("minhash", T.ArrayType(T.LongType()))
        .add("band", T.IntegerType())
        .add("bucket", T.LongType())
        .add("batch_id", T.LongType())
    )
    spark = batch_df.sparkSession
    if exists(spark, store_path):
        store = spark.read.schema(store_schema).parquet(store_path)
    else:
        # e.g. read inside compact_band_store's swap window: probing an
        # empty history would re-admit every near-duplicate in the batch
        refuse_missing_history(store_path, batch_id)
        store = spark.createDataFrame([], store_schema)
    # legacy stores (written before the batch_id-partitioned layout) surface
    # batch_id = NULL under the explicit schema; treat them as committed
    # history (-1) instead of silently filtering the whole pre-upgrade
    # index out (and its near-dups back in)
    prior = (
        store.withColumn(
            "batch_id", F.coalesce(F.col("batch_id"), F.lit(-1).cast("long"))
        )
        .filter(F.col("batch_id") < batch_id)
        .drop("batch_id")
    )
    # persisted locally: consumed by BOTH the doc emit and the store
    # write, and released before the batch returns (no registry entry
    # — each batch's relation is unique and dies with the batch)
    surv_idx = minhash_incremental(
        batch_df,
        prior,
        text_col,
        id_col,
        num_hashes,
        bands,
        shingle_n,
        threshold,
    ).persist()
    try:
        surv_ids = surv_idx.select(id_col).distinct()
        (
            batch_df.join(surv_ids, id_col)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        (
            surv_idx.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_path)
        )
    finally:
        surv_idx.unpersist()


def compact_band_store(
    spark: SparkSession,
    store_path: str,
    n_files: int = 8,
) -> dict:
    """Compact the MinHash LSH band store that stream_minhash_neardup /
    minhash_incremental appends grow (round-6 verdict #4): every batch
    adds its own small parquet file-set, so a years-of-history store
    becomes thousands of tiny files whose open/footer cost dominates the
    probe. This helper rewrites the store as about ``n_files`` files
    RANGE-partitioned by (batch_id, band, bucket) — the probe's join key
    after the partition column — so each file holds one contiguous
    bucket run and min/max column statistics let the scan skip files for
    buckets the daily batch never touches.

    Layout contract: every batch strictly OLDER than the newest one
    present is folded into the reserved history partition
    ``batch_id = -1`` (repeated compactions are idempotent — history
    stays at -1); the NEWEST batch is kept as its own partition, never
    merged into history. That makes compaction safe against the
    at-least-once replay window this module documents: if the newest
    batch J committed its store write but not its checkpoint, the
    replayed J still probes the full folded history (-1 < J), and its
    dynamic partition overwrite still replaces ONLY partition J — not the
    collapsed store. Rows with batch_id = NULL (a legacy unpartitioned
    store) fold into -1 too, which is also the migration path to the
    partitioned layout. Stores with no batch_id partitions (the plain
    incremental path) are rewritten unpartitioned.

    **Run only with the stream STOPPED** (between availableNow triggers
    or after query.stop()): the swap is two renames, not one atomic
    operation, so a concurrent micro-batch can observe the store ABSENT
    between them. A reader in that window must not probe empty history —
    _minhash_process_batch raises (operators/store.py:
    refuse_missing_history) when the store is missing but batch_id
    indicates committed batches, so the failure is loud and the retried
    batch sees the swapped-in store. An object-store deployment would
    write a new snapshot prefix and flip a pointer instead, which removes
    the window entirely. Returns {"rows": n, "files_before": a,
    "files_after": b}."""
    from arrowhouse_spark.operators.store import (
        data_files,
        is_partitioned,
        remove,
        rename,
    )

    part_col = (
        "batch_id" if is_partitioned(spark, store_path, "batch_id") else None
    )
    df = spark.read.parquet(store_path)
    files_before = data_files(spark, store_path, part_col)
    tmp = store_path.rstrip("/") + ".compact_tmp"
    remove(spark, tmp)
    out, sort_cols = df, ["band", "bucket"]
    if part_col is not None:
        b = F.coalesce(F.col("batch_id"), F.lit(-1).cast("long"))
        # one scan of the old store for both numbers the compaction needs
        max_b, rows = df.agg(F.max(b), F.count(F.lit(1))).collect()[0]
        out = df.withColumn(
            "batch_id",
            F.when(b == F.lit(max_b), b).otherwise(F.lit(-1).cast("long")),
        )
        # ranges led by the partition column: at most one range spans
        # both partitions, so the store keeps about n_files files
        sort_cols = [part_col, *sort_cols]
    w = (
        out.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
    )
    if part_col is not None:
        w = w.partitionBy(part_col)
    w.parquet(tmp)
    if part_col is None:
        rows = df.count()
    old = store_path.rstrip("/") + ".compact_old"
    remove(spark, old)
    rename(spark, store_path, old)
    rename(spark, tmp, store_path)
    remove(spark, old)
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": data_files(spark, store_path, part_col),
    }


def _shard_export_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    n_shards: int,
    id_col: str,
    salt: str,
) -> None:
    """One micro-batch of the continuous shard export — module-level so a
    retry can be simulated in tests. Files are partitioned
    (shard, ingest_batch) and written with DYNAMIC partition overwrite: a
    re-delivered batch N replaces exactly the shard=*/ingest_batch=N
    partitions it wrote before, so the at-least-once foreachBatch contract
    yields exactly-once file state (the idempotency rule the minhash sink
    established)."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    sharded = batch_df.withColumn(
        "shard", hash_bucket(id_col, n_shards, salt=salt)
    ).withColumn("ingest_batch", F.lit(int(batch_id)))
    (
        sharded.repartition("shard")
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard", "ingest_batch")
        .parquet(store_path)
    )


def stream_shard_export(
    sdf: DataFrame,
    store_path: str,
    checkpoint_path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shard",
):
    """Continuous deterministic training-shard export (the streaming form of
    sources/shards.py:write_training_shards): each micro-batch's docs land
    in their md5-assigned ``shard=K/`` directories under an
    ``ingest_batch=N`` subpartition, idempotently per batch. A doc's shard
    assignment is batch- and day-stable, readers partition-prune on the
    top-level shard key, and sources/shards.py:shard_manifest over the
    store ignores the batch dimension — so the manifest provably equals a
    one-shot batch export of the replayed union
    (test_streaming.py::test_stream_shard_export_matches_batch)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _shard_export_batch(
            batch_df, batch_id, store_path, n_shards, id_col, salt
        )

    return (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_cms(
    sdf: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Continuously-maintained count-min sketch: the streaming form of
    operators/aggstate.py:cms_state. The insight that makes this fully
    NATIVE (no custom state operator): a CM sketch IS a keyed count
    aggregate over a bounded key space — explode each value to its
    ``depth`` (row, bucket) coordinates and let Structured Streaming's
    stateful aggregation own the counters. State is exactly depth x width
    rows FOREVER, independent of stream length or key cardinality — the
    bounded-state frequency monitor (trending users, hot keys) that an
    exact per-key count can't give at 100 TB/day.

    Update-mode output emits only the counters each micro-batch touched;
    by sum-associativity the state after batch N equals the batch sketch
    over the union of batches 1..N exactly (the parity the test pins).
    Probe the sketch with cms_point_estimate on the materialized state."""
    from arrowhouse_spark.operators.aggstate import _CMS_ROWS, _cms_bucket

    if depth > len(_CMS_ROWS):
        raise ValueError(f"depth <= {len(_CMS_ROWS)}; got {depth}")
    buckets = F.array(
        *[_cms_bucket(value_col, a, b, width) for a, b in _CMS_ROWS[:depth]]
    )
    return (
        sdf.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def stream_hist(
    sdf: DataFrame,
    value_col: str,
    bins: int = 250,
    lo: float = 0.0,
    hi: float = 1000.0,
) -> DataFrame:
    """Continuously-maintained fixed-grid histogram — the streaming form of
    operators/aggstate.py:hist_state, by the same insight as
    :func:`stream_cms`: the histogram IS a keyed count over a bounded key
    space (the bin grid), so native stateful aggregation owns the
    counters and state is exactly ``bins`` rows forever. Probe quantiles
    from the materialized state with hist_quantile (error <= binwidth) —
    the continuous p99 monitor without per-value state."""
    from arrowhouse_spark.operators.aggstate import hist_state

    return hist_state(sdf, keys=[], value_col=value_col, bins=bins, lo=lo, hi=hi)


def stream_bitmap_distinct(
    sdf: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Continuously-maintained EXACT distinct count via bitmap aggregates
    (bitmap_construct_agg over bit positions, bucketed by
    bitmap_bucket_number): state per (group, bucket) is one fixed 4KB
    bitmap page — exact distinct at bounded state, where dropDuplicates
    would hold one state row PER VALUE. OR-idempotence means re-delivered
    rows can never double-count — the retry-safe exact-distinct monitor.
    Emits per-(group, bucket) set bit counts; sum buckets per group at
    read time for the distinct count (the test pins batch parity)."""
    return (
        sdf.groupBy(
            *group_cols, F.bitmap_bucket_number(value_col).alias("bucket")
        )
        .agg(
            F.bitmap_count(
                F.bitmap_construct_agg(F.bitmap_bit_position(value_col))
            ).alias("n_in_bucket")
        )
    )


def _scd2_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    attr_col: str,
    tie_col: str,
    n_buckets: int = 16,
) -> None:
    """One micro-batch of stream_scd2: incremental per-key SCD2 rebuild.

    Steps (all keyed on the dimension key — nothing global):
      1. affected keys = the batch's distinct keys;
      2. load ONLY the affected keys' history rows from the store
         (bucket-pruned: the store is partitioned by ``kb = hash_bucket
         (key)``, so unaffected buckets are never read or written);
      3. convert those rows back to run-start change events
         (valid_from, attr, tie) and union the batch's events;
      4. re-run operators/merge.py:scd2_from_log on this small relation —
         late events land INSIDE closed intervals correctly because the
         key's whole history is rebuilt;
      5. rewrite only the affected buckets via dynamic partition
         overwrite, carrying unaffected keys in those buckets over.

    IDEMPOTENT per batch_id by construction rather than by bookkeeping:
    re-applying the same events to an already-updated store is a no-op
    because each store row IS the run-start event that produced it —
    re-unioned batch events either duplicate a run start or fall mid-run
    with an equal attribute, and scd2_from_log collapses both (equal
    consecutive attrs never open a new run; a duplicate of the run-start
    row shares its (ts, tie, attr), leaving run boundaries fixed). The
    retry test pins this. State at rest is the SCD2 table itself —
    the same store-is-the-state doctrine as the minhash band index.
    """
    from arrowhouse_spark.operators.merge import scd2_from_log
    from arrowhouse_spark.operators.sampling import hash_bucket

    keys = list(key_cols)
    spark = batch_df.sparkSession
    events = batch_df.select(*keys, ts_col, attr_col, tie_col).withColumn(
        "kb", hash_bucket(keys[0], n_buckets, salt="scd2")
    )
    from arrowhouse_spark.operators.store import (
        read_store,
        refuse_missing_history,
    )

    store = read_store(spark, store_path)
    if store is None:
        refuse_missing_history(store_path, batch_id)
    akeys = events.select(*keys, "kb").distinct()
    if store is not None:
        prior = store.join(F.broadcast(akeys.select(*keys)), keys, "semi")
        prior_events = prior.select(
            *keys,
            F.col("valid_from").alias(ts_col),
            F.col(attr_col),
            F.col("__tie").alias(tie_col),
            "kb",
        )
        all_events = events.unionByName(prior_events)
        carry = store.join(F.broadcast(akeys.select(*keys)), keys, "left_anti")
        # only buckets the batch touches get rewritten; carried rows are
        # the unaffected keys LIVING IN those buckets
        carry = carry.join(
            F.broadcast(akeys.select("kb").distinct()), ["kb"], "semi"
        )
    else:
        all_events = events
        carry = None
    # keep_cols carries the run-start row's tie (renamed __tie below) and
    # store bucket through the rebuild — the row stays re-convertible to
    # its originating event on the NEXT batch
    rebuilt = scd2_from_log(
        all_events.withColumnRenamed(tie_col, "__tie"),
        key_cols=keys, ts_col=ts_col, attr_col=attr_col, tie_col="__tie",
        keep_cols=["__tie", "kb"],
    )
    cols = [*keys, attr_col, "valid_from", "valid_to", "is_current",
            "__tie", "kb"]
    out = rebuilt.select(*cols)
    if carry is not None:
        out = out.unionByName(carry.select(*cols))
    (
        out.repartition("kb")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb")
        .parquet(store_path)
    )


def stream_scd2(
    sdf: DataFrame,
    store_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    attr_col: str = "event_type",
    tie_col: str = "event_id",
    n_buckets: int = 16,
):
    """Continuously-maintained SCD2 dimension history — the streaming form
    of operators/merge.py:scd2_from_log, completing the lakehouse
    write-side streaming set (exact dedup, replace-latest, minhash
    near-dup, shard export → and now validity-interval history).

    foreachBatch + the batch operator over a bucket-partitioned store,
    NOT applyInPandasWithState: interval maintenance needs the key's full
    history on every update (a late event can split a CLOSED interval),
    which per-key state transitions would have to hold forever anyway —
    the store IS the state, bucket-pruned per batch. Per-batch outputs
    equal one batch scd2_from_log over the union of all delivered events
    (pinned in tests/test_streaming.py), and re-delivered batches are
    no-ops by construction (see _scd2_process_batch).

    Returns the StreamingQuery (caller awaits/stops it)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _scd2_process_batch(
            batch_df, batch_id, store_path, key_cols, ts_col, attr_col,
            tie_col, n_buckets,
        )

    return (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_bloom(
    sdf: DataFrame,
    value_col: str,
    depth: int = 4,
    n_words: int = 256,
) -> DataFrame:
    """Continuously-maintained Bloom filter — the streaming form of
    operators/aggstate.py:bloom_state, by the stream_cms/stream_hist
    insight: the filter IS a keyed BIT_OR aggregate over a bounded key
    space (the word index), so native stateful aggregation owns the
    words and state is at most ``n_words`` rows forever. OR-idempotence
    makes re-delivered rows no-ops — the retry-safe membership monitor
    (has this key EVER appeared?) at fixed state, where
    stream_dedup_first_seen holds one state row per distinct key. Probe
    the materialized word rows with bloom_probe (no false negatives)."""
    from arrowhouse_spark.operators.aggstate import (
        _BLOOM_BITS_PER_WORD,
        _CMS_ROWS,
        _bloom_pos,
    )

    if depth > len(_CMS_ROWS):
        raise ValueError(f"depth <= {len(_CMS_ROWS)}; got {depth}")
    m_bits = n_words * _BLOOM_BITS_PER_WORD
    pos = F.array(
        *[_bloom_pos(value_col, a, b, m_bits) for a, b in _CMS_ROWS[:depth]]
    )
    exploded = sdf.select(F.explode(pos).alias("p"))
    word = F.floor(F.col("p") / _BLOOM_BITS_PER_WORD).cast("long")
    bit = F.pmod(F.col("p"), F.lit(_BLOOM_BITS_PER_WORD)).cast("int")
    return (
        exploded.select(word.alias("word"), bit.alias("__bit"))
        .withColumn("__b", F.expr("shiftleft(CAST(1 AS BIGINT), __bit)"))
        .groupBy("word")
        .agg(F.bit_or("__b").alias("bits"))
    )


def stream_ewma(
    sdf: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.25,
) -> DataFrame:
    """Continuously-maintained per-key EWMA — the streaming form of
    operators/timeseries.py:ewma, via per-key state transitions
    (applyInPandasWithState): the textbook recurrence
    ``u_n = x_n + (1-a) u_{n-1}``, ``s_n = 1 + (1-a) s_{n-1}``,
    ``ewma = u/s`` — the NORMALIZED (untruncated) exponential average,
    so state per key is exactly three scalars (u, s, n) forever. Rows
    within a batch fold in (order_col) order; cross-batch order is
    arrival order (the replace-latest contract — for late-event
    correctness feed an ordered source or re-run the batch operator).
    Emits (key, n_events, ewma) for touched keys each micro-batch.
    Equals the batch operator exactly while the series is shorter than
    its ``lookback`` (the truncation point — parity the test pins)."""
    if not 0 < alpha < 1:
        raise ValueError(f"need 0 < alpha < 1, got {alpha}")
    beta = 1.0 - alpha
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("u", T.DoubleType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
        import pandas as pd

        u, s, n = (state.get if state.exists else (0.0, 0.0, 0))
        for pdf in pdfs:
            for x in pdf.sort_values(order_col)[value_col]:
                u = float(x) + beta * u
                s = 1.0 + beta * s
                n += 1
        state.update((u, s, n))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "ewma": [u / s]}
        )

    return sdf.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _pareto_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    min_col: str,
    max_col: str,
    id_col: str,
    run_key: str | None = None,
) -> None:
    """One micro-batch of stream_pareto: fold the batch's points into
    the stored frontier. The frontier ABSORBS dominated history — a
    point dominated now is dominated forever (dominance is monotone
    under insertion) — so folding (stored frontier ∪ batch) through the
    batch skyline operator yields exactly the frontier of every point
    ever seen; counts/min-ids of SURVIVING points aggregate across
    batches by sum/min during the fold. Replay safety: frontier
    MEMBERSHIP is idempotent (re-folding known points changes no
    dominance verdict), but the n_rows tally would double-count a
    re-delivered batch — a `_last_batch` ledger file skips batch ids
    already folded. The ledger records (run_key, last_batch): batch ids
    are only monotone WITHIN one checkpoint lineage, so pairing an
    existing store with a FRESH checkpoint directory would restart ids
    at 0 and the monotone guard would silently drop every new batch.
    When ``run_key`` (the checkpoint location) is supplied, a mismatch
    against the ledger's recorded key raises instead of corrupting;
    a legacy keyless ledger is adopted on first keyed fold. Remaining
    (documented) hazard: the store write and ledger write are two
    non-atomic steps — a crash between them re-folds the in-flight
    batch on recovery and double-counts ITS n_rows contribution (the
    frontier membership itself stays correct); same stop-the-stream
    caveat as compact_band_store under concurrent readers."""
    import json

    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.skyline import pareto_frontier
    from arrowhouse_spark.operators.store import (
        hadoop_fs,
        read_small,
        write_small,
    )

    spark = batch_df.sparkSession
    ledger = store_path + "__last_batch"
    raw_b = read_small(spark, ledger)
    if raw_b is not None:
        raw = raw_b.decode("utf-8").strip()
        try:
            # AttributeError: a legacy ledger is a bare int ('7'), which IS
            # valid JSON — json.loads returns an int and .get would crash
            rec = json.loads(raw)
            led_key, led_last = rec.get("run_key"), int(rec.get("last_batch"))
        except (json.JSONDecodeError, TypeError, ValueError, AttributeError):
            try:
                led_key, led_last = None, int(raw or -1)  # legacy keyless
            except ValueError:
                # neither the keyed format nor a bare int: a partially
                # written or foreign file — refuse loudly rather than
                # silently adopting last_batch=-1 and double-counting
                # every already-folded batch on replay
                raise ValueError(
                    f"stream_pareto ledger {ledger!r} is unreadable "
                    f"(contents {raw[:80]!r}); restore it or delete BOTH "
                    "the ledger and the store to restart the lineage"
                ) from None
        if led_key is not None and led_key != run_key:
            raise ValueError(
                f"stream_pareto store {store_path!r} belongs to checkpoint "
                f"lineage {led_key!r} but this stream runs under "
                f"{run_key!r}; batch ids are not comparable across "
                "checkpoints — reuse the original checkpoint location or "
                "start a fresh store"
            )
        if batch_id <= led_last:
            return  # replayed batch: already folded
    _fs, _sp = hadoop_fs(spark, store_path)
    have_store = _fs.exists(_sp) and any(
        st.getPath().getName().endswith(".parquet")
        or st.getPath().getName().startswith("part-")
        for st in _fs.listStatus(_sp)
    )
    pts = batch_df.select(
        F.col(min_col), F.col(max_col), F.col(id_col).cast("long").alias("__w")
    ).withColumn("__n", F.lit(1).cast("long"))
    if have_store:
        stored = spark.read.parquet(store_path).select(
            F.col(min_col),
            F.col(max_col),
            F.col("min_id").alias("__w"),
            F.col("n_rows").alias("__n"),
        )
        pts = pts.unionByName(stored)
    # weighted distinct-point reduce, then the grid skyline on the
    # reduced relation (pareto_frontier re-reduces harmlessly: its
    # internal count over one row per point re-counts via __n below)
    reduced = pts.groupBy(min_col, max_col).agg(
        F.sum("__n").alias("n_rows"), F.min("__w").alias("min_id")
    )
    front = pareto_frontier(
        reduced.withColumn("__pid", F.col("min_id")),
        min_col=min_col,
        max_col=max_col,
        id_col="__pid",
    ).select(min_col, max_col)
    out = front.join(reduced, [min_col, max_col])
    tmp = store_path + "__tmp"
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    final = spark.read.parquet(tmp)
    final.write.mode("overwrite").parquet(store_path)
    # fold recorded AFTER the store write
    write_small(
        spark,
        ledger,
        json.dumps({"run_key": run_key, "last_batch": batch_id}).encode(),
    )


def stream_pareto(
    sdf: DataFrame,
    store_path: str,
    min_col: str,
    max_col: str,
    id_col: str,
    checkpoint_path: str | None = None,
):
    """Continuously-maintained 2-D Pareto frontier — the streaming form
    of operators/skyline.py:pareto_frontier via foreachBatch over a
    frontier store (the stream_minhash_neardup pattern: the state IS a
    relation, here the current frontier — dominance is a CROSS-point
    verdict no per-key state transition can express). State is the
    frontier alone: dominated points are discarded forever (dominance
    is insertion-monotone), so store size is frontier-shaped, not
    stream-shaped. After each batch the store holds (min_col, max_col,
    n_rows, min_id) for every non-dominated point of the whole history —
    batch-parity with the batch operator over the union is pinned in
    tests.

    With ``checkpoint_path`` given (recommended), the query is STARTED
    (availableNow trigger, like stream_scd2) and the StreamingQuery is
    returned; the checkpoint location doubles as the ledger run-key, so
    re-pairing the store with a different checkpoint fails loudly
    instead of silently dropping batches (batch ids restart at 0 under
    a fresh checkpoint). Without it, the UNSTARTED DataStreamWriter is
    returned and the caller must chain .option("checkpointLocation",
    ...)/.trigger(...)/.start() — in that legacy form the ledger is
    keyless and the caller MUST keep the store paired with one
    checkpoint location forever."""
    import os

    run_key = (
        os.path.abspath(checkpoint_path) if checkpoint_path is not None
        else None
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _pareto_process_batch(
            batch_df, batch_id, store_path, min_col, max_col, id_col,
            run_key=run_key,
        )

    writer = sdf.writeStream.foreachBatch(_fold)
    if checkpoint_path is None:
        return writer
    return (
        writer.option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_kmv(
    sdf: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Continuously-maintained KMV distinct sketch — the streaming form of
    operators/aggstate.py:kmv_state/kmv_estimate. The state per key is
    the k smallest distinct unsigned xxhash64 values, a MIN-set: fold-in
    is idempotent (re-delivered rows re-insert already-present minima and
    change nothing) and order-free, so the estimate equals the batch
    operator over all delivered rows after EVERY micro-batch — pinned in
    tests. No declarative keyed aggregate can hold a truncated ordered
    set, hence applyInPandasWithState (the stream_ewma pattern); state is
    <= k longs per key forever. Emits (key, n_state, est) for touched
    keys each batch.

    Hashes are computed Spark-side (JVM xxhash64 over the string form —
    identical to the batch sketch); the python state stores the SIGNED
    long and orders by its unsigned reinterpretation."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if k < 2:
        raise ValueError(f"need k >= 2, got {k}")
    hashed = sdf.select(
        F.col(key_col), F.xxhash64(F.col(value_col).cast("string")).alias("__h")
    )
    mask = (1 << 64) - 1
    two64 = float(1 << 64)

    def update(key, pdfs, state):
        import pandas as pd

        vs = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            vs.update(int(h) for h in pdf["__h"])
        kept = sorted(vs, key=lambda h: h & mask)[:k]
        state.update((kept,))
        n = len(kept)
        if n < k:
            est = float(n)
        else:
            est = float(k - 1) * two64 / float(kept[-1] & mask)
        yield pd.DataFrame(
            {key_col: [key[0]], "n_state": [n], "est": [round(est, 2)]}
        )

    key_t = dict(sdf.dtypes)[key_col]
    return hashed.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} {key_t}, n_state long, est double",
        stateStructType="vs array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_components(
    sdf: DataFrame,
    store_path: str,
    checkpoint_path: str,
    src: str = "src",
    dst: str = "dst",
    n_buckets: int = 16,
):
    """Continuously-maintained connected components — the streaming form
    of operators/components.py:components_incremental, closing the
    streaming dedup chain end to end: stream_minhash_neardup maintains
    the band store and emits surviving docs; the PAIR stream those
    verdicts imply lands here and folds into persistent CLUSTER ids.

    foreachBatch + the batch operator over the id-bucketed label store,
    NOT applyInPandasWithState: a merge triggered by one edge can relabel
    a whole historical component, so per-key state transitions would need
    cross-key writes — the store IS the state (the stream_scd2 doctrine).
    Replay safety needs NO batch ledger: folding already-known edges
    converges to the identical labeling, the delta comes out empty, and
    the store write is skipped entirely — idempotence by construction.
    After every micro-batch the store equals one batch CC over all edges
    ever delivered (pinned in tests/test_streaming.py).

    Returns the StreamingQuery (caller awaits/stops it)."""
    from arrowhouse_spark.operators.components import components_incremental

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        components_incremental(
            batch_df, store_path, src=src, dst=dst, n_buckets=n_buckets
        )

    return (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_ivf_append(
    sdf: DataFrame,
    store_path: str,
    checkpoint_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Continuously-maintained IVF index — the streaming form of
    operators/similarity.py:ivf_store_append, completing the streaming
    ingest set for the ANN store: each micro-batch assigns against the
    FROZEN stored centroids and appends postings only to the touched
    cells. Replay safety needs no ledger: a re-delivered batch carries
    the same vectors, each assigns to the same cell, and the
    touched-cell id check drops every row — idempotent by construction
    (the stream_components doctrine). The append-not-upsert contract is
    inherited verbatim: a CHANGED vector for a known id is an update
    this form cannot express; route update streams through
    :func:`stream_ivf_upsert` instead.

    The store must exist (ivf_store_init) before the stream starts —
    the quantizer is fit offline, never from a micro-batch.

    Returns the StreamingQuery (caller awaits/stops it)."""
    from arrowhouse_spark.operators.similarity import ivf_store_append

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ivf_store_append(batch_df, store_path, vec_col=vec_col, id_col=id_col)

    return (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_ivf_upsert(
    sdf: DataFrame,
    store_path: str,
    checkpoint_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming UPSERT maintenance of the IVF store — the foreachBatch
    twin of operators/similarity.py:ivf_store_upsert for feeds that
    re-deliver ids with CHANGED vectors (embedding refreshes, model
    upgrades): each micro-batch first tombstones its ids out of whatever
    cells they occupy, then appends under the frozen quantizer, so a
    moved vector relocates cleanly instead of double-residing.

    Replay safety needs no ledger, one step weaker than append's: a
    re-delivered batch re-runs delete+append with identical vectors, so
    the store is CONTENT-identical after the replay (row-for-row equal
    postings) though the touched cells' files are rewritten — the
    byte-identical no-op guarantee of stream_ivf_append costs exactly
    the locate scan upsert exists to pay. In-batch duplicate ids: exact
    duplicates collapse; conflicting vectors fail the batch loudly (the
    ivf_store_append refusal) — resolve upstream with replace_merge.

    Same single-writer contract as every store stream here; the store
    must exist (ivf_store_init) before the stream starts."""
    from arrowhouse_spark.operators.similarity import ivf_store_upsert

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ivf_store_upsert(batch_df, store_path, vec_col=vec_col, id_col=id_col)

    return (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def band_store_retract(
    spark: SparkSession,
    store_path: str,
    ids,
    id_col: str = "doc_id",
) -> int:
    """Retract documents from a persistent LSH band store — the GDPR
    primitive completing the store-lifecycle set (the CC label store and
    IVF postings got delete/retract in the same round): remove every
    band row carrying a retracted id so FUTURE batches can no longer
    match against the forgotten document. Historical drop decisions are
    history — a doc already dropped as this id's near-dup stays dropped
    (replaying old emits is the caller's re-ingest, not this op's).

    Works on any band-store shape keyed by ``id_col`` — the minhash
    store's (id, minhash, band, bucket) and the dHash store's
    (id, dhash, band, key) alike. Batch-id-partitioned stores rewrite
    ONLY the partitions holding a retracted row (the touched-partition
    rewrite of operators/store.py); legacy unpartitioned stores
    rewrite in full (they have no pruning axis — migrate via
    compact_band_store). Retracting every id removes the store
    directory: stream_minhash_neardup would otherwise refuse the
    empty-but-present layout, and _minhash_process_batch treats the
    missing dir as first-fold ONLY at batch 0 — so after a full
    retraction pair the store with a FRESH checkpoint (document reads:
    full forget = full restart, which is what it is semantically).
    Returns the number of band rows removed. Single-writer contract:
    run with the stream stopped, as for compact_band_store."""
    from arrowhouse_spark.operators.idgate import gate_broadcast
    from arrowhouse_spark.operators.store import (
        is_partitioned,
        normalize_ids,
        partitioned_store_retract,
        read_store,
        remove,
    )

    if is_partitioned(spark, store_path, "batch_id"):
        return partitioned_store_retract(
            spark, store_path, ids, id_col, "batch_id"
        )
    store = read_store(spark, store_path)
    if store is None:
        return 0
    # legacy unpartitioned layout: no pruning axis — rewrite whole
    ids_j = gate_broadcast(normalize_ids(spark, ids, id_col))
    hitn = store.join(ids_j, id_col, "semi").count()
    if hitn == 0:
        return 0
    keep = store.join(ids_j, id_col, "left_anti").localCheckpoint()
    if keep.isEmpty():
        remove(spark, store_path)
    else:
        keep.write.mode("overwrite").parquet(store_path)
    return int(hitn)


def scd2_store_retract(
    spark: SparkSession,
    store_path: str,
    keys,
    key_col: str = "user_id",
) -> int:
    """Retract a dimension key's ENTIRE history from a persistent SCD2
    store (the stream_scd2 / _scd2_process_batch layout) — the GDPR
    primitive completing the store-lifecycle set: validity-interval
    history is exactly the kind of per-person record a deletion request
    names, and every other persistent store in the engine already has
    its forget op. ``keys`` is a DataFrame carrying ``key_col`` or a
    plain sequence of key values.

    Locating the keys needs NO n_buckets parameter (the store's bucket
    count lives only in the stream's config): one COLUMN-PRUNED scan of
    (key, kb) collects the touched buckets — the ivf_store_delete locate
    discipline — then the rewrite touches ONLY those buckets
    (operators/store.py); a full drain removes the store directory
    (the stream's missing-store-at-batch>0 refusal then
    applies: full forget = fresh checkpoint restart, as for the band
    stores). The key set rides the count-gated broadcast
    (operators/idgate.py), so retention-sweep-sized requests fall back
    to shuffle joins against the bucket-pruned store side. Unknown keys
    are a no-op; idempotent across retries. Returns the number of
    history rows removed. Single-writer contract: run with the stream
    stopped."""
    from arrowhouse_spark.operators.store import partitioned_store_retract

    return partitioned_store_retract(
        spark, store_path, keys, key_col, "kb"
    )
