from __future__ import annotations

import pytest

from arrowhouse_spark.operators.clustering import kmeans_lloyd


def test_kmeans_separates_two_obvious_blobs(spark):
    # blob A around (0,0), blob B around (10,10); seeds are ids 1 and 2 —
    # one in each blob, so one iteration already lands the right split
    rows = [
        (1, [0.0, 0.1]),
        (2, [10.0, 10.0]),
        (3, [0.2, -0.1]),
        (4, [9.8, 10.2]),
        (5, [0.1, 0.0]),
        (6, [10.1, 9.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<float>")
    out = kmeans_lloyd(df, "vec_id", "vec", k=2, iters=2).collect()
    got = {r["vec_id"]: r["cluster_id"] for r in out}
    assert got == {1: 1, 3: 1, 5: 1, 2: 2, 4: 2, 6: 2}
    # members sit near their centroid: squared distance is small
    assert all(float(r["sqdist"]) < 0.1 for r in out)


def test_kmeans_deterministic_under_repartitioning(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<float>")
    a = sorted(
        (r["vec_id"], r["cluster_id"], str(r["sqdist"]))
        for r in kmeans_lloyd(df, "vec_id", "vec", k=3, iters=2).collect()
    )
    b = sorted(
        (r["vec_id"], r["cluster_id"], str(r["sqdist"]))
        for r in kmeans_lloyd(
            df.repartition(7), "vec_id", "vec", k=3, iters=2
        ).collect()
    )
    assert a == b


def test_kmeans_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, [1.0])], "vec_id long, vec array<float>")
    with pytest.raises(ValueError):
        kmeans_lloyd(df, "vec_id", "vec", k=0)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, "vec_id", "vec", iters=0)


def test_pq_adc_query_ranks_first_and_dupes_tie(spark):
    import random

    from arrowhouse_spark.operators.clustering import pq_adc_topk

    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(32)]
    rows = [(0, base), (7, list(base))]  # 7 is an exact duplicate of the query
    rows += [
        (i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(1, 40) if i != 7
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<float>")
    got = pq_adc_topk(df, "vec_id", "vec", subdim=8, k_cb=3, k=5).collect()
    # the query's own codes minimize every per-subspace table entry, so the
    # query (min id) must rank first; its exact duplicate shares all codes
    # hence the identical ADC, and follows on the id tie-break
    assert [r["vec_id"] for r in got[:2]] == [0, 7]
    assert got[0]["adc_dist"] == got[1]["adc_dist"]
    assert all(r["adc_dist"] >= 0 for r in got)


def test_pq_adc_deterministic_under_repartitioning(spark):
    import random

    from arrowhouse_spark.operators.clustering import pq_adc_topk

    rng = random.Random(9)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<float>")
    a = [tuple(r) for r in pq_adc_topk(df, "vec_id", "vec", subdim=4).collect()]
    b = [
        tuple(r)
        for r in pq_adc_topk(df.repartition(11), "vec_id", "vec", subdim=4).collect()
    ]
    assert a == b


def test_pq_adc_rejects_bad_params(spark):
    import pytest

    from arrowhouse_spark.operators.clustering import pq_adc_topk

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, vec array<float>")
    with pytest.raises(ValueError):
        pq_adc_topk(df, "vec_id", "vec", subdim=0)


def test_ivf_store_init_append_query_drift(spark, tmp_path):
    """Persistent IVF index lifecycle: init on batch 1, append batch 2
    (frozen centroids), idempotent re-append, exact parity at
    nprobe=n_centroids, partition-pruned probes, drift report."""
    import os

    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.similarity import (
        cosine_topk_query,
        ivf_store_append,
        ivf_store_drift,
        ivf_store_init,
        ivf_store_topk,
    )

    n, dim = 300, 8
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint()
    b1 = base.filter(F.col("vec_id") % 3 == 0)
    b2 = base.filter(F.col("vec_id") % 3 != 0)

    store = str(tmp_path / "ivf")
    ivf_store_init(b1, store, n_centroids=4)
    appended = ivf_store_append(b2, store)
    assert appended.count() == b2.count()

    # idempotent: the same batch again appends nothing, files unchanged
    def files():
        out = {}
        for root, _, fs in os.walk(store + "/postings"):
            for f in fs:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = files()
    again = ivf_store_append(b2, store)
    assert again.count() == 0 and files() == before

    # nprobe = n_centroids is exact brute force over the union
    qv = [float(j % 3 - 1) for j in range(dim)]
    got = [
        (r.vec_id, r.cos_sim)
        for r in ivf_store_topk(spark, store, qv, k=15, nprobe=4).collect()
    ]
    exp = [
        (r.vec_id, r.cos_sim)
        for r in cosine_topk_query(base, qv, k=15).collect()
    ]
    assert got == exp

    # pruned probe: only the probed cells' partitions are scanned
    cand = ivf_store_topk(spark, store, qv, k=5, nprobe=1)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan

    # drift: global row present, per-cell rows cover the batch
    d = {r.centroid: (r.n, r.mean_best_cos) for r in
         ivf_store_drift(spark, store, b2).collect()}
    assert -1 in d and d[-1][0] == b2.count()
    assert sum(v[0] for c, v in d.items() if c >= 0) == b2.count()


def test_ivf_store_delete_upsert_lifecycle(spark, tmp_path):
    """Store lifecycle beyond append: delete removes an id's postings
    wherever they live (touched-cell rewrite only; untouched cells keep
    files byte-for-byte), upserting a CHANGED vector moves it cleanly to
    its new cell — store contents equal a from-scratch rebuild over the
    updated relation — and appends with in-batch duplicates either
    collapse (same vector) or refuse (conflicting vectors)."""
    import os

    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.similarity import (
        ivf_store_append,
        ivf_store_delete,
        ivf_store_init,
        ivf_store_upsert,
    )

    n, dim = 200, 8
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint()
    store = str(tmp_path / "ivf")
    ivf_store_init(base, store, n_centroids=4)

    def postings():
        return {
            r.vec_id: (r.centroid, tuple(r.embedding))
            for r in spark.read.parquet(store + "/postings").collect()
        }

    def snap_files():
        out = {}
        for root, _, files in os.walk(store + "/postings"):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    full = postings()
    assert len(full) == n

    # --- delete: ids vanish, untouched cells keep their files
    victims = [5, 17, 100]
    before = snap_files()
    removed = ivf_store_delete(spark, store, victims)
    assert removed == 3
    after_del = postings()
    assert set(after_del) == set(full) - set(victims)
    assert all(after_del[k] == full[k] for k in after_del)
    after = snap_files()
    victim_cells = {full[v][0] for v in victims}
    for p, t in before.items():
        cell = next(
            (c for c in range(4) if f"centroid={c}" in p), None
        )
        if cell is not None and cell not in victim_cells:
            assert after.get(p) == t, f"untouched cell file rewritten: {p}"
    # deleting nothing is a no-op returning 0
    assert ivf_store_delete(spark, store, [9999]) == 0

    # --- upsert a MOVED vector: flip the sign so it assigns elsewhere
    moved = base.filter(F.col("vec_id") == 7).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    appended = ivf_store_upsert(moved, store)
    assert appended.count() == 1
    after_up = postings()
    assert after_up[7][1] == tuple(-x for x in full[7][1])
    # exactly ONE residency for id 7 (the dangling-two-cell hazard)
    cnt = (
        spark.read.parquet(store + "/postings")
        .filter(F.col("vec_id") == 7)
        .count()
    )
    assert cnt == 1
    # upsert ≡ rebuild: init a fresh store over the updated relation
    updated = base.filter(~F.col("vec_id").isin([5, 17, 100, 7])).unionByName(
        moved
    )
    store2 = str(tmp_path / "ivf_rebuild")
    ivf_store_init(updated, store2, n_centroids=4)
    rebuilt = {
        r.vec_id: (r.centroid, tuple(r.embedding))
        for r in spark.read.parquet(store2 + "/postings").collect()
    }
    assert after_up == rebuilt

    # --- re-upserting an UNCHANGED vector lands back identically
    again = ivf_store_upsert(base.filter(F.col("vec_id") == 3), store)
    assert again.count() == 1
    assert postings()[3] == full[3]

    # --- in-batch duplicates: exact dupes collapse to one posting
    dup = base.filter(F.col("vec_id") == 5)
    appended = ivf_store_append(dup.unionByName(dup), store)
    assert appended.count() == 1
    assert postings()[5] == full[5]

    # --- conflicting in-batch vectors refuse loudly
    conflict = dup.unionByName(
        dup.select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    import pytest

    with pytest.raises(ValueError, match="conflicting vectors"):
        ivf_store_append(conflict, store)


def test_compact_ivf_store_bitexact_fewer_files(spark, tmp_path):
    """Daily appends fragment the postings cells (parquet append writes a
    file-set per touched cell); compaction coalesces to one file per cell
    with postings BIT-IDENTICAL and the store still probe- and
    append-able."""
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.similarity import (
        compact_ivf_store,
        ivf_store_append,
        ivf_store_init,
        ivf_store_topk,
    )

    n, dim = 240, 8
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint()
    store = str(tmp_path / "ivf")
    ivf_store_init(base.filter(F.col("vec_id") % 4 == 0), store, n_centroids=4)
    for r in (1, 2, 3):  # three daily appends fragment every cell
        ivf_store_append(base.filter(F.col("vec_id") % 4 == r), store)

    def postings():
        return {
            (r.vec_id, r.centroid, tuple(r.embedding))
            for r in spark.read.parquet(store + "/postings").collect()
        }

    before = postings()
    res = compact_ivf_store(spark, store)
    assert postings() == before
    assert res["rows"] == n
    assert res["files_after"] < res["files_before"]
    assert res["files_after"] <= 4  # one file per cell
    # compacted store still appends and probes correctly
    extra = spark.range(n, n + 5).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    )
    assert ivf_store_append(extra, store).count() == 5
    qv = base.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    assert ivf_store_topk(spark, store, qv, k=5, nprobe=4).count() == 5


def test_ivf_store_upsert_refusal_is_nondestructive_and_drain_all(spark, tmp_path):
    """Review fixes, pinned: (1) an upsert batch refused for in-batch
    conflicting vectors leaves the store UNTOUCHED (validation runs
    before the delete — the old order destructively dropped the batch
    ids' postings, then raised); (2) deleting EVERY posting leaves a
    readable empty-store state: topk returns 0 rows with the stable
    schema, delete is a no-op, compaction reports zeros, and the next
    append rebuilds postings under the still-frozen centroids."""
    import pytest
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.similarity import (
        compact_ivf_store,
        ivf_store_append,
        ivf_store_delete,
        ivf_store_init,
        ivf_store_topk,
        ivf_store_upsert,
    )

    dim = 8
    base = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint()
    store = str(tmp_path / "ivf")
    ivf_store_init(base, store, n_centroids=4)

    def postings():
        return {
            (r.vec_id, tuple(r.embedding))
            for r in spark.read.parquet(store + "/postings").collect()
        }

    before = postings()
    one = base.filter(F.col("vec_id") == 5)
    conflict = one.unionByName(
        one.select(
            "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
        )
    )
    with pytest.raises(ValueError, match="conflicting vectors"):
        ivf_store_upsert(conflict, store)
    assert postings() == before, "refused upsert mutated the store"

    # drain everything
    removed = ivf_store_delete(spark, store, base.select("vec_id"))
    assert removed == 60
    qv = [0.25] * dim
    assert ivf_store_topk(spark, store, qv, k=5, nprobe=4).count() == 0
    assert ivf_store_delete(spark, store, [1, 2]) == 0
    assert compact_ivf_store(spark, store) == {
        "rows": 0, "files_before": 0, "files_after": 0,
    }
    # append rebuilds against the surviving frozen quantizer
    appended = ivf_store_append(base.filter(F.col("vec_id") < 10), store)
    assert appended.count() == 10
    assert ivf_store_topk(spark, store, qv, k=5, nprobe=4).count() == 5


def test_ivf_store_delete_shuffle_regime_matches_broadcast(
    spark, tmp_path, monkeypatch
):
    """ivf_store_delete's id-set joins are count-gated (idgate, round-11
    verdict #1): identical surviving postings whether the id set rides a
    broadcast hint or a plain shuffle join (limit forced to 0)."""
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators import idgate
    from arrowhouse_spark.operators.similarity import (
        ivf_store_delete,
        ivf_store_init,
    )

    n, dim = 80, 6
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint()
    victims = [3, 19, 42, 77]

    def build_and_delete(store: str):
        ivf_store_init(base, store, n_centroids=3)
        removed = ivf_store_delete(spark, store, victims)
        rows = {
            r.vec_id: (r.centroid, tuple(r.embedding))
            for r in spark.read.parquet(store + "/postings").collect()
        }
        return removed, rows

    rem_b, rows_b = build_and_delete(str(tmp_path / "bcast"))
    monkeypatch.setattr(idgate, "BROADCAST_ID_LIMIT", 0)
    rem_s, rows_s = build_and_delete(str(tmp_path / "shuffle"))
    assert rem_b == rem_s == len(victims)
    assert rows_b == rows_s
    assert set(rows_b) == set(range(n)) - set(victims)


def test_ivf_store_refit_versioned_swap_and_recovery(spark, tmp_path):
    """Close the drift loop (round-11 verdict #5): a store whose coarse
    quantizer was fit before a distribution shift probes badly at low
    nprobe; ivf_store_refit re-fits from a sample, re-assigns every
    posting into a NEW version directory, and atomically swaps the META
    pointer — after which nprobe=1 recall is restored, the old layout is
    gone, and every reader/writer transparently resolves the new
    version. Crash seams pinned: a stale half-built v-dir is ignored by
    readers and swept by a re-run; a mid-swap META loss still resolves
    the newest complete layout."""
    import os

    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.similarity import (
        ivf_store_append,
        ivf_store_delete,
        ivf_store_init,
        ivf_store_refit,
        ivf_store_topk,
    )
    from arrowhouse_spark.operators.store import store_base, store_version

    dim = 8

    def vec(i: int, salt: int, sign: float):
        v = [((i * salt + d * 13) % 21 - 10) / 100.0 for d in range(dim)]
        v[0] += sign
        return [float(x) for x in v]

    # A ~ +e0; the drifted ingest B ~ -e0 — against the A-only quantizer
    # every B vector is a near-tie between the two A-ish cells, so the
    # jitter SPLITS B across both cells (the recall hazard)
    a = [(i, vec(i, 7, 1.0)) for i in range(40)]
    b = [(100 + i, vec(i, 11, -1.0)) for i in range(40)]
    SCHEMA = "vec_id long, embedding array<double>"
    store = str(tmp_path / "ivf")
    # quantizer fit on A ONLY (2 centroids, both ~e0), then B drifts in
    ivf_store_init(spark.createDataFrame(a, SCHEMA), store, n_centroids=2)
    ivf_store_append(spark.createDataFrame(b, SCHEMA), store)

    # pick (driver-side, deterministically) a B-ish query whose true
    # top-10 straddles both cells under the drifted assignment — the
    # query the recall hazard actually bites
    import numpy as np

    from arrowhouse_spark.operators.similarity import _ivf_store_centroids

    post = spark.read.parquet(store + "/postings").collect()
    vids = np.array([r.vec_id for r in post])
    mat = np.array([r.embedding for r in post], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    cells = np.array([r.centroid for r in post])
    cents = _ivf_store_centroids(spark, store)
    q = None
    for i in range(40):
        cand = np.array(vec(i, 11, -1.0))
        cand = cand / np.linalg.norm(cand)
        probe_cell = int(np.argmax(np.round(cents @ cand, 6)))
        top10 = np.argsort(-np.round(mat @ cand, 6), kind="stable")[:10]
        if any(cells[t] != probe_cell for t in top10):
            q = vec(i, 11, -1.0)
            break
    assert q is not None, "drift fixture must show a recall gap"

    def ids(nprobe):
        return {
            r.vec_id
            for r in ivf_store_topk(spark, store, q, k=10, nprobe=nprobe).collect()
        }

    exact_before = ids(2)
    assert ids(1) != exact_before, "drift fixture must show a recall gap"

    # stale half-built version dir (crash BEFORE the META flip): readers
    # ignore it — probes unchanged
    os.makedirs(store + "/v1/postings", exist_ok=True)
    with open(store + "/v1/postings/garbage", "w") as fh:
        fh.write("not parquet")
    assert store_base(spark, store) == store
    assert ids(2) == exact_before

    # refit: sweeps the stale dir, re-fits, re-assigns, swaps, cleans up
    res = ivf_store_refit(spark, store, n_centroids=2, seed=5)
    assert (res["old_version"], res["new_version"]) == (0, 1)
    assert res["rows"] == 80
    assert store_version(spark, store) == 1
    assert not os.path.exists(store + "/postings")  # old layout removed
    assert not os.path.exists(store + "/centroids")
    assert os.path.exists(store + "/META")
    # content preserved: exact probe identical to the pre-refit exact set
    assert ids(2) == exact_before
    # recall restored: the re-fit quantizer separates A from B, so ONE
    # probed cell now carries the whole B cluster
    assert ids(1) == exact_before

    # mid-swap crash (META lost after old-layout removal): the fallback
    # resolves the newest complete layout and probes keep working
    os.remove(store + "/META")
    assert store_base(spark, store).endswith("/v1")
    assert ids(1) == exact_before
    res2 = ivf_store_refit(spark, store, n_centroids=2, seed=5)
    assert (res2["old_version"], res2["new_version"]) == (1, 2)
    assert ids(1) == exact_before

    # the versioned store keeps its full lifecycle: append, delete
    extra = [(500, vec(3, 13, -1.0))]
    assert ivf_store_append(spark.createDataFrame(extra, SCHEMA), store).count() == 1
    assert 500 in ids(2)
    assert ivf_store_delete(spark, store, [500]) == 1
    assert 500 not in ids(2)

    # leaked legacy root (crash after a v0->v1 flip but before cleanup):
    # the next refit must SWEEP it — a resurrected stale root is worse
    # than disk waste, the missing-META fallback would prefer it
    os.makedirs(store + "/centroids", exist_ok=True)
    os.makedirs(store + "/postings", exist_ok=True)
    with open(store + "/centroids/stale", "w") as fh:
        fh.write("dead layout")
    res_sweep = ivf_store_refit(spark, store, n_centroids=2, seed=5)
    assert res_sweep["new_version"] == 3
    assert not os.path.exists(store + "/centroids")
    assert not os.path.exists(store + "/postings")
    assert not os.path.exists(store + "/v2")
    assert ids(1) == exact_before

    # the probe through the VERSIONED layout stays partition-pruned —
    # the version indirection must not cost the store its scale property
    cand = ivf_store_topk(spark, store, q, k=5, nprobe=1)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan

    # compaction resolves the live version too: bit-exact postings
    from arrowhouse_spark.operators.similarity import compact_ivf_store

    before_rows = sorted(
        (r.vec_id, tuple(r.embedding), r.centroid)
        for r in spark.read.parquet(
            store_base(spark, store) + "/postings"
        ).collect()
    )
    res3 = compact_ivf_store(spark, store)
    assert res3["rows"] == len(before_rows)
    after_rows = sorted(
        (r.vec_id, tuple(r.embedding), r.centroid)
        for r in spark.read.parquet(
            store_base(spark, store) + "/postings"
        ).collect()
    )
    assert after_rows == before_rows

    # re-init resets to generation zero (META + v* swept)
    ivf_store_init(spark.createDataFrame(a, SCHEMA), store, n_centroids=2)
    assert store_version(spark, store) == 0
    assert not os.path.exists(store + "/v2")


def test_ivf_store_refit_no_meta_recovery_pins_live_version(spark, tmp_path):
    """Double-fault window (round-12 ADVICE): a crashed non-FileContext
    fallback flip can leave a v>=1 store with NO META, so readers resolve
    the HIGHEST v-dir. A recovery refit must rewrite META to the resolved
    live version BEFORE building v{n+1} — otherwise a concurrent reader
    during the rebuild would resolve the half-built v{n+1} as 'highest
    v-dir'. Pin it with a fault injection that kills the refit right
    after the fit: META must already be back, naming the OLD version."""
    import json
    import os

    import pytest

    from arrowhouse_spark.operators import similarity as sim
    from arrowhouse_spark.operators import store as st

    dim = 4
    rows = [
        (i, [float(((i * 7 + d) % 9) - 4) / 4.0 for d in range(dim)])
        for i in range(24)
    ]
    SCHEMA = "vec_id long, embedding array<double>"
    store = str(tmp_path / "ivf")
    sim.ivf_store_init(spark.createDataFrame(rows, SCHEMA), store, n_centroids=2)
    assert sim.ivf_store_refit(spark, store, n_centroids=2)["new_version"] == 1

    # simulate the crashed fallback flip: META gone, v1 is the live layout
    os.remove(store + "/META")
    assert st.store_base(spark, store).endswith("/v1")

    real_assign = sim._assign_to_centroids

    def _boom(*a, **k):
        raise RuntimeError("injected crash mid-rebuild")

    sim._assign_to_centroids = _boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            sim.ivf_store_refit(spark, store, n_centroids=2)
    finally:
        sim._assign_to_centroids = real_assign

    # the recovery write landed BEFORE the rebuild: META names v1, so no
    # reader depended on highest-v-dir resolution during the (dead) build
    with open(store + "/META", "rb") as fh:
        assert json.loads(fh.read().decode("utf-8"))["version"] == 1
    assert st.store_base(spark, store).endswith("/v1")

    # a clean re-run heals the store completely
    res = sim.ivf_store_refit(spark, store, n_centroids=2)
    assert (res["old_version"], res["new_version"]) == (1, 2)
    assert res["rows"] == 24
    assert st.store_version(spark, store) == 2


def test_ivf_store_maintain_triggers_refit_on_drift(spark, tmp_path):
    """The drift loop end to end in one call: an aligned batch appends
    without touching the quantizer (store stays version 0); a DRIFTED
    batch trips the mean-best-cos threshold and maintain rebuilds —
    after which nprobe=1 recall over the drifted cluster is exact."""
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.similarity import (
        ivf_store_init,
        ivf_store_maintain,
        ivf_store_topk,
    )
    from arrowhouse_spark.operators.store import store_version

    dim = 8

    def vec(i, salt, sign):
        v = [((i * salt + d * 13) % 21 - 10) / 100.0 for d in range(dim)]
        v[0] += sign
        return [float(x) for x in v]

    SCHEMA = "vec_id long, embedding array<double>"
    store = str(tmp_path / "ivf")
    a = [(i, vec(i, 7, 1.0)) for i in range(40)]
    ivf_store_init(spark.createDataFrame(a, SCHEMA), store, n_centroids=2)

    # aligned batch: high mean-best-cos, NO refit
    a2 = [(100 + i, vec(i, 9, 1.0)) for i in range(10)]
    r1 = ivf_store_maintain(
        spark, store, spark.createDataFrame(a2, SCHEMA), min_mean_cos=0.55
    )
    assert r1["appended"] == 10 and r1["refit"] is None
    assert r1["mean_best_cos"] > 0.55
    assert store_version(spark, store) == 0

    # drifted batch (opposite hemisphere): mean-best-cos collapses,
    # maintain refits and the new quantizer separates the clusters
    b = [(200 + i, vec(i, 11, -1.0)) for i in range(40)]
    r2 = ivf_store_maintain(
        spark, store, spark.createDataFrame(b, SCHEMA), min_mean_cos=0.55
    )
    assert r2["appended"] == 40
    assert r2["mean_best_cos"] < 0.0  # opposite hemisphere
    assert r2["refit"] is not None and r2["refit"]["new_version"] == 1
    assert store_version(spark, store) == 1
    q = vec(5, 11, -1.0)
    one = {r.vec_id for r in ivf_store_topk(spark, store, q, k=10, nprobe=1).collect()}
    ex = {r.vec_id for r in ivf_store_topk(spark, store, q, k=10, nprobe=2).collect()}
    assert one == ex  # post-refit: one probed cell carries the B cluster

    # empty micro-batch (routine in foreachBatch): no-op, not a crash —
    # NULL drift mean is no evidence of drift, refit decision skipped
    r3 = ivf_store_maintain(
        spark,
        store,
        spark.createDataFrame([], SCHEMA),
        min_mean_cos=0.99,
    )
    assert r3 == {"appended": 0, "mean_best_cos": None, "refit": None}
    assert store_version(spark, store) == 1  # untouched


def test_ivf_store_upsert_atomic_single_commit_point(spark, tmp_path, monkeypatch):
    """Round-12 verdict #3: ``ivf_store_upsert(atomic=True)`` stages both
    legs under v{n+1} and flips the META pointer — ONE commit point. A
    crash injected at the flip leaves probes seeing the ORIGINAL store
    exactly (never the behind state the two-commit default can expose);
    a re-run sweeps the half-built staging dir and lands the batch; a
    second atomic upsert walks the version chain v1 -> v2."""
    import os

    from pyspark.sql import functions as F

    from arrowhouse_spark.operators import similarity as sim
    from arrowhouse_spark.operators import store as st

    n, dim = 120, 8
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint()
    store = str(tmp_path / "ivf")
    sim.ivf_store_init(base, store, n_centroids=4)

    def postings():
        return {
            r.vec_id: (r.centroid, tuple(r.embedding))
            for r in sim._read_postings(spark, store).collect()
        }

    before = postings()
    q = [1.0] + [0.0] * (dim - 1)

    def probe():
        return [
            r.vec_id
            for r in sim.ivf_store_topk(spark, store, q, k=10, nprobe=4).collect()
        ]

    probe_before = probe()

    # batch: id 0 gets a CHANGED vector, id 5000 is new
    batch = spark.createDataFrame(
        [(0, [1.0] + [0.0] * (dim - 1)), (5000, [-1.0] + [0.0] * (dim - 1))],
        "vec_id long, embedding array<double>",
    )

    # ---- fault injection: the job dies AT the commit point
    real_flip = st._write_meta_pointer

    def boom(*a, **k):
        raise RuntimeError("injected crash at META flip")

    monkeypatch.setattr(st, "_write_meta_pointer", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.ivf_store_upsert(batch, store, atomic=True)
    # the live store is byte-identical: same version, same postings,
    # same probe — NO behind state (the two-commit default would be
    # missing id 0 here)
    assert st.store_version(spark, store) == 0
    assert postings() == before
    assert probe() == probe_before
    assert os.path.exists(store + "/v1")  # half-built staging, ignored

    # ---- re-run heals: sweeps the stale v1, stages again, flips
    monkeypatch.setattr(st, "_write_meta_pointer", real_flip)
    appended = sim.ivf_store_upsert(batch, store, atomic=True)
    assert appended.count() == 2
    assert st.store_version(spark, store) == 1
    after = postings()
    assert len(after) == n + 1  # no double residency anywhere
    assert after[0][1][0] == 1.0  # the changed vector won
    assert 5000 in after
    assert not os.path.exists(store + "/postings")  # old layout removed
    assert not os.path.exists(store + "/centroids")
    # every untouched posting carried over exactly
    assert {k: v[1] for k, v in after.items() if k not in (0, 5000)} == {
        k: v[1] for k, v in before.items() if k != 0
    }
    assert probe()[0] == 0  # the new vector of id 0 is the best match

    # ---- versioned-store entry: v1 -> v2 through the same path
    batch2 = spark.createDataFrame(
        [(5000, [0.0, 1.0] + [0.0] * (dim - 2))],
        "vec_id long, embedding array<double>",
    )
    sim.ivf_store_upsert(batch2, store, atomic=True)
    assert st.store_version(spark, store) == 2
    assert not os.path.exists(store + "/v1")
    final = postings()
    assert len(final) == n + 1
    assert final[5000][1][1] == 1.0


def test_ivf_store_refit_crash_at_meta_flip(spark, tmp_path, monkeypatch):
    """The same injected crash at the META flip, through ivf_store_refit:
    the live store stays the pre-refit one (version, postings, probe),
    the half-built v1 is ignored, and a re-run commits the rebuild."""
    import os

    from pyspark.sql import functions as F

    from arrowhouse_spark.operators import similarity as sim
    from arrowhouse_spark.operators import store as st

    n, dim = 60, 8
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64("id", j), F.lit(2001)) - F.lit(1000))
                / F.lit(1000.0)
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint()
    store = str(tmp_path / "ivf")
    sim.ivf_store_init(base, store, n_centroids=4)

    def postings():
        return {
            r.vec_id: (r.centroid, tuple(r.embedding))
            for r in sim._read_postings(spark, store).collect()
        }

    q = [1.0] + [0.0] * (dim - 1)

    def probe():
        return [
            r.vec_id
            for r in sim.ivf_store_topk(spark, store, q, k=10, nprobe=4).collect()
        ]

    before, probe_before = postings(), probe()

    real_flip = st._write_meta_pointer

    def boom(*a, **k):
        raise RuntimeError("injected crash at META flip")

    monkeypatch.setattr(st, "_write_meta_pointer", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.ivf_store_refit(spark, store, n_centroids=4, seed=5)
    assert st.store_version(spark, store) == 0
    assert postings() == before
    assert probe() == probe_before
    assert os.path.exists(store + "/v1")  # half-built staging, ignored

    monkeypatch.setattr(st, "_write_meta_pointer", real_flip)
    res = sim.ivf_store_refit(spark, store, n_centroids=4, seed=5)
    assert (res["old_version"], res["new_version"]) == (0, 1)
    assert st.store_version(spark, store) == 1
    assert {k: v[1] for k, v in postings().items()} == {
        k: v[1] for k, v in before.items()
    }
    assert not os.path.exists(store + "/postings")  # old layout removed
    assert not os.path.exists(store + "/centroids")


def test_ivf_store_refit_distributed_fit_above_threshold(spark, tmp_path):
    """Round-12 verdict #4: when n_centroids * 64 > sample_cap the refit
    FIT leg runs the distributed declarative Lloyd over ALL postings
    instead of the driver-side sampled numpy loop. Both paths produce
    valid stores over the same drifted fixture; the distributed path
    restores nprobe=1 recall (the quantizer separates the drifted
    cluster) and preserves every posting."""
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators import similarity as sim
    from arrowhouse_spark.operators import store as st

    dim = 8

    def vec(i: int, salt: int, sign: float):
        v = [((i * salt + d * 13) % 21 - 10) / 100.0 for d in range(dim)]
        v[0] += sign
        return [float(x) for x in v]

    SCHEMA = "vec_id long, embedding array<double>"
    a = [(i, vec(i, 7, 1.0)) for i in range(40)]
    b = [(100 + i, vec(i, 11, -1.0)) for i in range(40)]

    def build(path):
        sim.ivf_store_init(spark.createDataFrame(a, SCHEMA), path, n_centroids=2)
        sim.ivf_store_append(spark.createDataFrame(b, SCHEMA), path)

    def ids(path, q, nprobe):
        return {
            r.vec_id
            for r in sim.ivf_store_topk(spark, path, q, k=10, nprobe=nprobe).collect()
        }

    q = vec(3, 11, -1.0)

    # distributed path: 2 * 64 = 128 > sample_cap=100
    st_d = str(tmp_path / "ivf_dist")
    build(st_d)
    res_d = sim.ivf_store_refit(spark, st_d, n_centroids=2, sample_cap=100)
    assert res_d["rows"] == 80
    assert st.store_version(spark, st_d) == 1
    assert 1 <= res_d["n_centroids"] <= 2
    # every posting survived the rebuild
    assert sim._read_postings(spark, st_d).count() == 80
    # recall restored: the exact probe set is reachable at nprobe=1
    exact = ids(st_d, q, res_d["n_centroids"])
    assert ids(st_d, q, 1) == exact

    # driver path on the same fixture: valid store, same exact probe set
    st_s = str(tmp_path / "ivf_samp")
    build(st_s)
    res_s = sim.ivf_store_refit(spark, st_s, n_centroids=2, sample_cap=4096)
    assert res_s["rows"] == 80
    assert ids(st_s, q, 2) == exact

    # review regression: iters=0 (seeds-only fit, valid pre-switch-rule)
    # must NOT route to the distributed leg (kmeans_lloyd needs iters>=1)
    # even when n_centroids * 64 > sample_cap — the fit IS its seeds, so
    # it takes the sampled path and still yields a valid store
    st_z = str(tmp_path / "ivf_zero")
    build(st_z)
    res_z = sim.ivf_store_refit(
        spark, st_z, n_centroids=2, sample_cap=100, iters=0
    )
    assert res_z["rows"] == 80 and res_z["n_centroids"] == 2
    assert sim._read_postings(spark, st_z).count() == 80
