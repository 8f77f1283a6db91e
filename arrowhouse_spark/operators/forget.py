"""Cross-store GDPR sweep — one deletion request, every persistent store.

Round 11 gave every persistent store in the engine a per-store forget op
(IVF postings delete, CC label-store retract, LSH/dHash/audio band-store
retract) and round 12 added the exact-dedup fingerprint store's; a REAL
deletion request must hit ALL of them consistently, not one (round-11
verdict #2). :func:`forget_ids` composes the per-store retractions over a
caller-supplied manifest and returns a summary relation — the auditable
record a retention pipeline logs per request.

NON-ATOMICITY WINDOW (documented contract): each store commits its
retraction independently — there is no cross-store transaction, exactly as
there is none between any two parquet stores. A failure mid-sweep leaves
the already-processed stores forgotten and the rest untouched. Recovery is
to RE-RUN the sweep with the same ids: every per-store retraction treats
unknown/already-removed ids as a no-op, so the sweep is idempotent across
partial re-runs (pinned in tests/test_pipeline_ops.py). Callers needing an
exactly-once audit trail should log the returned summary per attempt and
sum ``rows_removed`` across attempts.

Scale: the id set is localCheckpoint()ed once and shared; each per-store
op count-gates its broadcast (operators/idgate.py), so a retention-sweep
sized set (1e8+ ids) rides shuffle joins against bucket/cell-pruned store
sides. The sweep itself is a driver-side loop over the manifest — store
COUNT is small (one manifest row per store, not per id).

DELIBERATE EXCEPTION — the streaming Pareto-frontier store
(streaming/replace.py:stream_pareto) has no retraction kind: the frontier
is a LOSSY aggregate (dominated points were discarded at ingest), so
removing a frontier point cannot resurrect the points it dominated —
retraction there is information-theoretically undefined without the full
point history. Forget requests touching a frontier rebuild it from the
retained source relation instead (the store is cheap to rebuild by
construction: it IS the compacted state).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Manifest entry kinds → which per-store retraction runs.
STORE_KINDS = ("band", "fingerprint", "ivf", "components", "scd2", "shard")

SUMMARY_SCHEMA = "store string, kind string, rows_removed long"


def _checkpoint_ids(spark: SparkSession, ids) -> DataFrame:
    """Normalize ``ids`` (sequence or single-column DataFrame) to ONE
    distinct, localCheckpoint()ed single-column relation shared by every
    manifest entry — a caller passing an expensive derivation (a
    filtered join, say) pays for it once, not once per store."""
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(ids.columns[0]).alias("__fid"))
    else:
        from arrowhouse_spark.operators.store import long_frame

        df = long_frame(spark, {"__fid": [int(i) for i in ids]})
    return df.distinct().localCheckpoint()


def forget_ids(
    spark: SparkSession,
    stores: Sequence[dict],
    ids,
    parallelism: int = 4,
) -> DataFrame:
    """Apply the matching per-store retraction for every manifest entry
    and return the summary relation (store, kind, rows_removed).

    ``stores`` is the manifest — one dict per persistent store:

      - ``path``: the store's root path (required);
      - ``kind``: one of :data:`STORE_KINDS` (required) —
        ``band`` → streaming/replace.py:band_store_retract (minhash,
        dHash, and audio band stores — any id-keyed band layout),
        ``fingerprint`` → operators/dedup.py:fingerprint_store_retract,
        ``ivf`` → operators/similarity.py:ivf_store_delete,
        ``components`` → operators/components.py:components_store_retract,
        ``scd2`` → streaming/replace.py:scd2_store_retract (the key's
        entire validity-interval history),
        ``shard`` → sources/shards.py:shard_store_retract (the document
        rows inside the training-shard export itself — re-run
        shard_manifest afterwards, it certifies what is on disk);
      - ``id_col``: the store's id column (default ``doc_id``; ``vec_id``
        for ``ivf``; ``user_id`` for ``scd2``; ``components`` stores
        always use ``id``);
      - ``n_buckets``: components only — required when the store has no
        meta file (same rule as components_store_retract).

    ``ids`` is one logical deletion request (sequence or single-column
    DataFrame) applied to EVERY store; per-store id-column naming is
    handled here and the set is checkpointed ONCE and shared.
    ``rows_removed`` counts store rows, so one document can legitimately
    remove many rows (one per band) from a band store and one from the
    fingerprint store. For ``components`` the counted retraction form
    reports the removed rows from its own already-located ``gone`` set —
    ONE bucket-pruned pass, no separate presence scan. See the module
    docstring for the non-atomicity window and the re-run recovery
    contract.

    ``parallelism`` (round-12 verdict #7): per-store legs are submitted
    from a driver thread pool (Spark schedules concurrent jobs from one
    session fine), so independent stores' job waves overlap instead of
    paying additive latency — the summary relation stays in MANIFEST
    order regardless. Legs are only parallelized when every manifest
    path is distinct (two entries naming the same store would break the
    per-store single-writer contract — such manifests run sequentially);
    ``parallelism=1`` forces the sequential order. A failed leg
    surfaces after all submitted legs finish (first failure in manifest
    order) — the same partial-sweep state as a sequential failure, with
    the same re-run recovery. Kinds are validated BEFORE any store is
    touched, so a malformed manifest never half-runs."""
    from arrowhouse_spark.operators.components import (
        components_store_retract_counted,
    )
    from arrowhouse_spark.operators.dedup import fingerprint_store_retract
    from arrowhouse_spark.operators.similarity import ivf_store_delete
    from arrowhouse_spark.streaming.replace import band_store_retract

    entries = list(stores)
    for entry in entries:  # fail fast, BEFORE any store is mutated
        if entry["kind"] not in STORE_KINDS:
            raise ValueError(
                f"unknown store kind {entry['kind']!r} for "
                f"{entry['path']!r}; expected one of {STORE_KINDS}"
            )

    ids_ck = _checkpoint_ids(spark, ids)

    def _named(col: str) -> DataFrame:
        return ids_ck.select(F.col("__fid").alias(col))

    def _leg(entry: dict) -> tuple[str, str, int]:
        path, kind = entry["path"], entry["kind"]
        if kind == "band":
            col = entry.get("id_col", "doc_id")
            removed = band_store_retract(
                spark, path, _named(col), id_col=col
            )
        elif kind == "fingerprint":
            col = entry.get("id_col", "doc_id")
            removed = fingerprint_store_retract(
                spark, path, _named(col), id_col=col
            )
        elif kind == "ivf":
            col = entry.get("id_col", "vec_id")
            removed = ivf_store_delete(
                spark, path, _named(col), id_col=col
            )
        elif kind == "scd2":
            from arrowhouse_spark.streaming.replace import (
                scd2_store_retract,
            )

            col = entry.get("id_col", "user_id")
            removed = scd2_store_retract(
                spark, path, _named(col), key_col=col
            )
        elif kind == "shard":
            from arrowhouse_spark.sources.shards import (
                shard_store_retract,
            )

            col = entry.get("id_col", "doc_id")
            removed = shard_store_retract(
                spark, path, _named(col), id_col=col
            )
        else:  # components — ONE pass: retract returns the removed count
            _delta, removed = components_store_retract_counted(
                spark, path, _named("id"), n_buckets=entry.get("n_buckets")
            )
        return (path, kind, int(removed))

    distinct_paths = len({e["path"] for e in entries}) == len(entries)
    if parallelism > 1 and len(entries) > 1 and distinct_paths:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(parallelism, len(entries))
        ) as pool:
            futures = [pool.submit(_leg, e) for e in entries]
            out, first_exc = [], None
            for fut in futures:  # manifest order: summary AND first error
                try:
                    out.append(fut.result())
                except Exception as exc:  # noqa: BLE001 — re-raised below
                    if first_exc is None:
                        first_exc = exc
            if first_exc is not None:
                raise first_exc
    else:
        out = [_leg(e) for e in entries]
    from arrowhouse_spark.sources.memory import one_block

    return one_block(spark, out, SUMMARY_SCHEMA)
