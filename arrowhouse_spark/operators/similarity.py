"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one scan, no shuffle for a single query
(the dot product folds inside codegen via F.zip_with/F.aggregate). Scale path:
LSH bucketing by random-hyperplane signs (deterministic, seed-fixed) so a
1000-executor cluster probes one bucket instead of the full corpus; and an
IVF-style variant using k sampled centroids.

All-JVM: the float[64] math uses higher-order array functions, not Python UDFs.
For very wide vectors a vectorized pandas_udf over Arrow batches wins — the
crossover is ~1k dims; at 64 dims the built-ins are faster (no serialization).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arrowhouse_spark.operators.idgate import gate_broadcast
from arrowhouse_spark.operators.store import (
    begin_version,
    commit_version,
    compact_partitions,
    normalize_ids,
    read_store,
    reset_versions,
    rewrite_partitions,
    store_base,
)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ as double (accumulate in double regardless of input width)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk_query(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k for one literal query vector.

    Plan: scan → project(cos) → TakeOrderedAndProject(k) — per-partition
    k-heaps, no shuffle; linear in corpus size, embarrassingly parallel.
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim")
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def cosine_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k per query row: broadcast the (small) query set against the
    (huge) corpus, rank per query. The corpus never shuffles; only
    (qid, vec_id, score) rows move."""
    from pyspark.sql import Window

    j = corpus.crossJoin(F.broadcast(queries.select(query_id, F.col(vec_col).alias("__q"))))
    scored = j.select(
        query_id,
        corpus_id,
        F.round(cosine(F.col(vec_col), F.col("__q")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (numpy RandomState, fixed seed) —
    generated driver-side once, shipped as literals (tiny)."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim).tolist()


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    seed: int = 42,
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of ⟨v, hᵢ⟩.
    Cosine-similar vectors collide with prob 1 − θ/π per bit (Charikar).
    Adds a long bucket id; search = shuffle-free filter on one bucket
    (or multi-probe neighbors for recall)."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket: Column = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        h = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(F.col(vec_col), h) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit * F.lit(1 << i).cast("long")
    return df.withColumn(out, bucket)


def ann_cosine_lsh(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus all buckets
    within ``probe_hamming`` bit flips, then exact cosine rank inside.
    ``probe_hamming`` is the recall/cost dial — buckets probed grows as
    sum_{i<=h} C(n_planes, i) (measured on the synthetic embeddings:
    recall@5 0.23/0.33/0.57 at h=0/1/2 with 6 planes); weakly clustered
    vectors need a larger radius or more tables. At 100 TB: bucket column is
    precomputed + partition key, so the probe is partition pruning, not a
    scan."""
    if not 0 <= probe_hamming <= 2:
        raise ValueError("probe_hamming must be 0, 1, or 2")
    planes = _hyperplanes(dim, n_planes, seed)
    qb = 0
    for i, p in enumerate(planes):
        s = sum(float(a) * float(b) for a, b in zip(query, p))
        if s > 0:
            qb |= 1 << i
    probe = [qb]
    if probe_hamming >= 1:
        probe += [qb ^ (1 << i) for i in range(n_planes)]
    if probe_hamming >= 2:
        probe += [
            qb ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    bucketed = lsh_bucket(df, vec_col, dim, n_planes, seed)
    cand = bucketed.filter(F.col("bucket").isin(probe))
    return cosine_topk_query(cand, query, vec_col, id_col, k)


def ann_cosine_lsh_multi(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    probe_hamming: int = 2,
) -> DataFrame:
    """Multi-table LSH approximate top-k: ``n_tables`` independent hyperplane
    sets (seeds seed..seed+n_tables-1); a vector is a candidate if ANY table
    puts it within ``probe_hamming`` bit flips of the query's code. Exact
    cosine rank inside the candidate union.

    The union is computed in ONE scan — the per-table membership tests OR
    together into a single codegen'd filter — so there is no per-table
    union/dedup shuffle. At 100 TB the per-table bucket codes are precomputed
    partition keys and the probe is partition pruning across tables.

    Recall (synthetic 64-d embeddings, query vec_id=0, k=10): 1.0 at sf0.01 /
    0.9 at sf0.1 with the defaults (8 tables × 8 planes, radius 2) — this
    fixture is weakly clustered (10th-neighbor cos ≈ 0.3), so honest 0.9
    recall costs a wide probe (~70% of this small corpus; probe fraction
    shrinks as corpus density rises). The single-table ann_cosine_lsh is the
    cheap/low-recall end of the same dial."""
    if not 0 <= probe_hamming <= 2:
        raise ValueError("probe_hamming must be 0, 1, or 2")
    cond: Column | None = None
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        qb = 0
        for i, p in enumerate(planes):
            if sum(float(a) * float(b) for a, b in zip(query, p)) > 0:
                qb |= 1 << i
        probe = {qb}
        if probe_hamming >= 1:
            probe |= {qb ^ (1 << i) for i in range(n_planes)}
        if probe_hamming >= 2:
            probe |= {
                qb ^ (1 << i) ^ (1 << j)
                for i in range(n_planes)
                for j in range(i + 1, n_planes)
            }
        bucket: Column = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            h = F.array(*[F.lit(float(x)) for x in p])
            bit = F.when(
                dot(F.col(vec_col), h) > 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            bucket = bucket + bit * F.lit(1 << i).cast("long")
        c = bucket.isin(sorted(probe))
        cond = c if cond is None else (cond | c)
    cand = df.filter(cond)
    return cosine_topk_query(cand, query, vec_col, id_col, k)


def ivf_centroids_kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    iters: int = 3,
    seed: int = 42,
):
    """Spherical k-means centroids: deterministic hash-ordered sample init
    (same rule as ivf_assign) + ``iters`` distributed Lloyd iterations.

    Each iteration is one Spark job: assignment happens inside mapInPandas
    (one matmul per Arrow batch against the broadcast centroids) and the new
    centroids come from a groupBy(centroid).avg over the 64 components —
    only the c×dim centroid matrix ever reaches the driver. Returns the
    L2-normalized centroid ndarray."""
    import numpy as np

    cent_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    c = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    dim = c.shape[1]
    for _ in range(iters):
        assigned = _assign_to_centroids(df, c, vec_col, out="__c")
        means = (
            assigned.groupBy("__c")
            .agg(*[F.avg(F.col(vec_col)[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        for r in means:
            v = np.array([r[f"m{i}"] for i in range(dim)], dtype=np.float64)
            n = np.linalg.norm(v)
            if n > 1e-12:
                c[r["__c"]] = v / n
    return c


def _assign_to_centroids(
    df: DataFrame, centroids, vec_col: str, out: str = "centroid", round_dp=None
) -> DataFrame:
    """Nearest-centroid (cosine) assignment: one vectorized matmul per Arrow
    batch against the broadcast centroid matrix.

    ``round_dp`` rounds the similarity matrix before the argmax (ties then
    break toward the LOWEST centroid index — numpy argmax keeps the first
    maximum). Oracle-facing callers use this so a cross-engine ulp wiggle in
    the cosine can't flip an assignment; index-style callers (IVF) leave it
    None and keep the raw argmax."""
    from pyspark.sql import types as T

    bc = df.sparkSession.sparkContext.broadcast(centroids)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.IntegerType())]
    )

    def _assign(batches):
        import numpy as np  # noqa: PLC0415 — runs on executors

        cm = bc.value
        for pdf in batches:
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            s = (m / norms) @ cm.T
            if round_dp is not None:
                s = np.round(s, round_dp)
            pdf[out] = np.argmax(s, axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(_assign, out_schema)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 8,
    iters: int = 0,
    seed: int = 42,
    threshold: float = 0.95,
    init: str = "min_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embeddings, then inside each cluster drop every item whose cosine to a
    LOWER-ID member of the same cluster reaches ``threshold`` — the paper's
    within-cluster pruning with a deterministic keep rule (lowest id
    survives) instead of its arbitrary representative choice.

    Returns one row per input: (id, cluster, max_dup_cos, is_kept) where
    max_dup_cos is the largest cosine to any lower-id cluster-mate (NULL for
    each cluster's lowest id) rounded to 6 dp, and is_kept = max_dup_cos <
    threshold (NULL-safe true).

    ``init="min_id"`` takes the ``n_clusters`` lowest ids as seed centroids —
    engine-independent, so the whole pipeline is SQL-oracle-reproducible at
    ``iters=0``; ``init="hash"`` uses the xxhash64-ordered corpus sample the
    IVF family uses. ``iters`` runs distributed Lloyd refinements
    (groupBy-avg per component; only the k×dim matrix reaches the driver).

    Scale shape (the paper's own recipe): choose n_clusters ~ sqrt(n) so
    cluster blocks stay bounded; clustering is one mapInPandas matmul per
    Arrow batch + one groupBy per Lloyd iteration, and the dedup is ONE
    shuffle by cluster followed by an in-block O(n_c²) BLAS matmul inside
    applyInPandas — identical cost law to embedding_neardup_pairs, but with
    data-adaptive blocks and guaranteed full recall within a cluster. Only
    (id, vec) rows ever shuffle. The reference has no semantic surface at
    all (its nearest analogue is plain hash dedup,
    Interpreters/RequiredSourceColumns in spirit only) — this is part of the
    training-data superset."""
    import numpy as np

    if init == "min_id":
        cent_rows = (
            df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(n_clusters).collect()
        )
    elif init == "hash":
        cent_rows = (
            df.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
            .limit(n_clusters)
            .collect()
        )
    else:
        raise ValueError(f"init must be 'min_id' or 'hash', got {init!r}")
    if not cent_rows:
        # empty batch (daily-ingest pipelines hit this): empty result with
        # the contract schema, not an IndexError from a 0-row init matrix
        return df.sparkSession.createDataFrame(
            [], "id long, cluster int, max_dup_cos double, is_kept boolean"
        )
    c = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    dim = c.shape[1]
    for _ in range(iters):
        assigned = _assign_to_centroids(df, c, vec_col, out="__c", round_dp=6)
        means = (
            assigned.groupBy("__c")
            .agg(*[F.avg(F.col(vec_col)[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        for r in means:
            v = np.array([r[f"m{i}"] for i in range(dim)], dtype=np.float64)
            n = np.linalg.norm(v)
            if n > 1e-12:
                c[r["__c"]] = v / n

    import pandas as pd
    from pyspark.sql import types as T

    assigned = _assign_to_centroids(
        df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")),
        c,
        "v",
        out="cluster",
        round_dp=6,
    )
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("max_dup_cos", T.DoubleType()),
            T.StructField("is_kept", T.BooleanType()),
        ]
    )
    thr = float(threshold)

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # noqa: PLC0415 — runs on executors

        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        nm = m / norms
        s = np.round(nm @ nm.T, 6)
        # row j's candidates are strictly-lower-id rows i < j; -inf padding
        # (NOT tril's zeros) so all-negative cosine rows keep their true max
        n_rows = len(pdf)
        mask = np.tril(np.ones((n_rows, n_rows), dtype=bool), k=-1)
        best = np.max(np.where(mask, s, -np.inf), axis=1)
        best = np.where(np.isneginf(best), np.nan, best)
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "cluster": pdf["cluster"].astype("int32"),
                "max_dup_cos": best,
                "is_kept": np.where(np.isnan(best), True, best < thr),
            }
        )

    return assigned.groupBy("cluster").applyInPandas(_prune, out_schema)


def ann_cosine_ivf_kmeans(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    iters: int = 3,
    seed: int = 42,
) -> DataFrame:
    """IVF-flat top-k over k-means-refined centroids (vs ann_cosine_ivf's
    raw sampled centroids): probe the ``nprobe`` nearest cells, exact cosine
    rank inside. Lloyd refinement adapts cells to the data distribution —
    measured recall@10 on the synthetic embeddings rises from 0.5→0.8 at
    sf0.1 (c=8, nprobe=4). At 100 TB: centroids train once on a sample, the
    cell id becomes a partition column, probes become partition pruning."""
    import numpy as np

    c = ivf_centroids_kmeans(df, vec_col, id_col, n_centroids, iters, seed)
    q = np.asarray(list(query), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    probes = [int(i) for i in np.argsort(-(c @ q))[:nprobe]]
    assigned = _assign_to_centroids(df, c, vec_col, out="centroid")
    cand = assigned.filter(F.col("centroid").isin(probes))
    return cosine_topk_query(cand, query, vec_col, id_col, k)


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    seed: int = 42,
    out: str = "centroid",
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid.

    Centroids are a deterministic hash-ordered sample of the corpus itself
    (top-k by xxhash64(id, seed) — stable across runs and partitioning, no
    k-means iterations; good-enough coarse cells for a first-pass index).
    Assignment is one vectorized matmul per Arrow batch inside mapInPandas.

    At 100 TB the assignment runs once at ingest and ``out`` becomes a
    partition/cluster column, so a probe is partition pruning, not a scan.
    """
    import numpy as np

    cent_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    c = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return _assign_to_centroids(df, c, vec_col, out=out)


def ann_cosine_ivf(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF-flat approximate top-k: probe the ``nprobe`` centroid cells
    nearest the query, exact cosine rank inside them. ``nprobe ==
    n_centroids`` degrades gracefully to exact brute force (tested).
    Complements ann_cosine_lsh: IVF cells adapt to the data distribution
    where hyperplane buckets are data-oblivious."""
    import numpy as np

    cent_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    c = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    q = np.asarray(list(query), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    probes = [int(i) for i in np.argsort(-(c @ q))[:nprobe]]

    assigned = ivf_assign(df, vec_col, id_col, n_centroids, seed)
    cand = assigned.filter(F.col("centroid").isin(probes))
    return cosine_topk_query(cand, query, vec_col, id_col, k)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str | None = None,
    threshold: float = 0.95,
    dim: int = 64,
    auto_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Pair generation is restricted to ``group_col`` blocks (e.g. an LSH bucket
    or a label) — the blocked shape is what scales: one shuffle by block, then
    an O(k²) in-block comparison where k is the block size.

    ``group_col=None`` auto-blocks by random-hyperplane LSH with multi-probe
    replication (each vector lands in its ``auto_planes``-bit bucket AND every
    hamming-1 neighbor), so a pair is compared whenever their codes differ by
    ≤2 bits — recall ≈ P[hamming ≤ 2] ≈ 0.96 for cos ≥ 0.95 at 8 planes, at
    the cost of (auto_planes+1)× row replication. There is deliberately NO
    single-block fallback: an all-pairs O(n²) matmul on one task is a
    scale-killer, so exact all-pairs requires the caller to block explicitly
    (e.g. ``withColumn("g", F.lit(0))``) as an informed choice.

    The in-block comparison is a numpy matrix product inside applyInPandas
    (Arrow-batched): normalize rows once, S = N·Nᵀ, emit pairs ≥ threshold.
    This is the documented exception to the built-ins-first rule — Spark's
    higher-order array functions are interpreted per element, while one BLAS
    matmul per block is ~50× faster at 64 dims (measured: 9.0s → 0.3s on
    2000×64 sf0.1 embeddings).
    """
    dedupe = False
    if group_col is None:
        bucketed = lsh_bucket(df, vec_col, dim, auto_planes, seed, out="__b")
        neighbors = F.array(
            F.col("__b"),
            *[
                F.col("__b").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(auto_planes)
            ],
        )
        df = bucketed.withColumn("__g", F.explode(neighbors))
        group_col = "__g"
        dedupe = True  # replicated rows → the same pair can appear in 2 blocks

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    base = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["id"].to_numpy()
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        n = m / norms
        s = n @ n.T
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = np.round(s[iu, ju], 6)
        keep = cos >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        swap = ia > ib
        ia2 = np.where(swap, ib, ia)
        ib2 = np.where(swap, ia, ib)
        return pd.DataFrame({"id_a": ia2, "id_b": ib2, "cos_sim": cos[keep]})

    out = base.groupBy("g").applyInPandas(_block, out_schema)
    # multi-probe replication can surface the same pair from two neighbor
    # buckets; every copy carries the identical deterministic cos_sim
    return out.dropDuplicates(["id_a", "id_b"]) if dedupe else out


def label_centroid_cosine(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group embedding centroids + pairwise cosine between them — the
    corpus-curation diagnostic that answers "how semantically close are my
    sources/clusters to each other?" before setting mixing weights (two
    near-identical centroids suggest merging their sampling buckets).

    Plan: posexplode the vectors to (label, dim, value), ONE keyed
    aggregation to per-(label, dim) means — the only wide stage, and its
    key count is n_labels × dim regardless of corpus size — then a
    broadcast self-join on dim over the tiny centroid relation and a
    final n_labels² aggregation. At 100 TB the explode feeds a map-side
    partial aggregate, so the shuffle carries one (label, dim, sum,
    count) record per map task per key, not per vector. Centroid means
    are rounded to 9 dp before the cosine so the cross-engine compare is
    independent of float summation order."""
    ex = df.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
    cent = ex.groupBy(label_col, "pos").agg(
        F.round(F.avg("v"), 9).alias("m")
    )
    a = cent.select(
        F.col(label_col).alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col(label_col).alias("label_b"), "pos", F.col("m").alias("mb")
    )
    j = a.join(F.broadcast(b), "pos").filter(
        F.col("label_a") < F.col("label_b")
    )
    return (
        j.groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.sum(F.col("ma") * F.col("mb"))
                / (
                    F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                    * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
                ),
                round_digits,
            ).alias("centroid_cos")
        )
    )


def quantize_vec(col: Column, scale: int = 1000) -> Column:
    """Fixed-point vector quantization: floor(x*scale + 0.5) per component,
    as longs. floor over identical IEEE doubles is bit-identical on ANY
    engine (unlike round(), whose half-even vs half-away choice differs),
    so every dot product downstream is an exact integer both engines
    agree on — the determinism doctrine's integer-exactness trick applied
    to embeddings."""
    return F.transform(col, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized (long) vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def mmr_topk(
    vectors: DataFrame,
    query_vec: DataFrame,
    k: int = 5,
    pool_n: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998),
    the diversity-aware final stage every retrieval pipeline puts after
    its ANN stage: greedily pick k items maximizing
    ``relevance − max-similarity-to-already-picked`` (λ=1/2 MMR, scores
    kept integer by dropping the common ½ factor). Relevance and the
    diversity penalty are EXACT integer inner products of fixed-point
    quantized vectors (see quantize_vec) — the greedy argmax is therefore
    deterministic with (score DESC, id ASC) tie-break and replayable
    bit-for-bit by a SQL oracle, which float cosines cannot guarantee.

    Returns (rank, id, s, penalty, score) for the k picks.

    Scale: the ANN stage (cosine_topk_* / IVF / LSH here) bounds the pool
    to ``pool_n`` rows FIRST — MMR is quadratic in what it re-ranks, so
    it must only ever see a bounded candidate relation. The bounded pool
    is collected ONCE (model-sized by construction, the kmeans-centroid
    precedent) and the k greedy rounds run driver-side in exact int64
    numpy — the previous form submitted one TakeOrdered job plus one
    broadcast build PER ROUND, k+1 cluster round-trips for arithmetic
    over ≤pool_n rows (measured 4.4 s for k=10 over 50 rows at sf0.1;
    now one). The integer quantized dot products make the two forms
    bit-identical, tie-break (score DESC, id ASC) included."""
    import numpy as np

    qv = quantize_vec(F.col(vec_col), scale)
    pool_rows = (
        vectors.select(F.col(id_col).alias("__id"), qv.alias("__q"))
        .crossJoin(
            F.broadcast(
                query_vec.select(quantize_vec(F.col(vec_col), scale).alias("__qq"))
            )
        )
        .select("__id", "__q", int_dot(F.col("__q"), F.col("__qq")).alias("__s"))
        .orderBy(F.col("__s").desc(), F.col("__id").asc())
        .limit(pool_n)
        .collect()
    )
    spark = vectors.sparkSession
    ids = np.array([r["__id"] for r in pool_rows], dtype=np.int64)
    s = np.array([r["__s"] for r in pool_rows], dtype=np.int64)
    q = (
        np.array([r["__q"] for r in pool_rows], dtype=np.int64)
        if pool_rows
        else np.zeros((0, 1), dtype=np.int64)
    )
    # rank-1 penalty is DEFINED as 0 (nothing selected yet); thereafter
    # the penalty is a plain max over the selected set's dots — which
    # can be NEGATIVE for dissimilar vectors, so the fold must start
    # from the first pick's dot, never from a zero floor
    pen = np.zeros(len(pool_rows), dtype=np.int64)
    taken = np.zeros(len(pool_rows), dtype=bool)
    selected: list = []  # rows: (rank, id, s, penalty)
    for rank in range(1, min(k, len(pool_rows)) + 1):
        # argmax (s - pen) DESC, id ASC over the unselected pool — the
        # same total order the per-round TakeOrdered used
        score = s - pen
        live = ~taken
        best_score = score[live].max()
        cand_mask = live & (score == best_score)
        j = int(np.flatnonzero(cand_mask)[ids[cand_mask].argmin()])
        selected.append((rank, int(ids[j]), int(s[j]), int(pen[j])))
        taken[j] = True
        # fold the new pick into every candidate's max-similarity penalty
        d = q @ q[j]
        pen = d if rank == 1 else np.maximum(pen, d)
    from arrowhouse_spark.sources.memory import one_block

    return one_block(
        spark,
        [(rk, i, sv, p, sv - p) for rk, i, sv, p in selected],
        "rank long, vec_id long, s long, penalty long, score long",
    )


# ---------------------------------------------------------------------------
# Persistent IVF index store — the ANN freshness twin (round-10): the batch
# IVF operators above re-derive centroids/assignments per run; a daily-ingest
# pipeline instead maintains an index AT REST and appends to it.
# ---------------------------------------------------------------------------


def _write_centroids(spark: SparkSession, c, path: str) -> None:
    """Write the k×dim centroid matrix as ONE parquet file in ONE
    single-partition task. The previous form —
    ``createDataFrame(rows).coalesce(1).write`` — was a measured 5-7 s
    per call at any store size: a local-list DataFrame parallelizes into
    ``defaultParallelism`` Python-RDD slices, and ``coalesce(1)`` makes
    a single task evaluate all of them SERIALLY, paying one Python
    worker round-trip per slice (32 × ~0.2 s on local[32]; worse, not
    better, with more cores). Parallelizing to one slice up front keeps
    the single-file layout for one ~0.35 s round-trip (guide §4: control
    how often the Python boundary is crossed)."""
    cent_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, [float(x) for x in row]) for i, row in enumerate(c)], 1
        ),
        "centroid int, cvec array<double>",
    )
    cent_df.write.mode("overwrite").parquet(path)


def ivf_store_init(
    df: DataFrame,
    store_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    seed: int = 42,
) -> None:
    """Materialize a persistent IVF-flat index: a tiny ``centroids``
    relation (hash-ordered deterministic sample, the ivf_assign coarse
    quantizer) plus ``postings`` partitioned BY CELL on disk — so a probe
    is parquet partition pruning, never a scan. The at-rest layout is the
    100 TB design the batch ann_cosine_ivf docstring promises ("assignment
    runs once at ingest, probe = partition pruning"); this materializes it.

    Init RESETS the store to generation zero: any META version pointer
    and v* layout directories from a previous refit lineage are removed
    first, so a re-init cannot leave readers resolving into a stale
    versioned layout."""
    import numpy as np

    spark = df.sparkSession
    reset_versions(spark, store_path)
    cent_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    c = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    _write_centroids(spark, c, store_path + "/centroids")
    assigned = _assign_to_centroids(
        df.select(id_col, vec_col), c, vec_col, round_dp=6
    )
    (
        assigned.repartition("centroid")
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(store_path + "/postings")
    )


def _ivf_store_centroids(
    spark: SparkSession, store_path: str, base: str | None = None
):
    """Centroid matrix of the live layout. ``base`` lets callers that
    already resolved the version pointer (one META read against remote
    storage) reuse it — the single-writer contract keeps the pointer
    stable within an op."""
    import numpy as np

    rows = (
        spark.read.parquet(
            (base or store_base(spark, store_path)) + "/centroids"
        )
        .orderBy("centroid")
        .collect()
    )
    return np.array([r.cvec for r in rows], dtype=np.float64)


def _dedupe_ivf_batch(
    new_df: DataFrame, id_col: str, vec_col: str, op: str
) -> DataFrame:
    """In-batch hygiene shared by append and upsert, and deliberately run
    BEFORE any store mutation: exact (id, vector) duplicates collapse
    (re-delivery), but the same id with TWO different vectors is an
    ambiguity no deterministic rule should resolve silently — refuse.
    Upsert validates with this FIRST so a refused batch leaves the store
    untouched (a delete-then-raise would destructively drop the batch's
    existing postings)."""
    d = (
        new_df.select(id_col, vec_col)
        .dropDuplicates([id_col, vec_col])
        # lazy: the conflict probe below is the first action and
        # materializes it — an eager cut here was one extra job per batch
        .localCheckpoint(eager=False)
    )
    conflicted = (
        d.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if conflicted:
        ids = sorted(r[id_col] for r in conflicted)
        raise ValueError(
            f"{op} batch carries conflicting vectors for ids "
            f"{ids}: same id, different embedding — an in-batch update. "
            "Resolve upstream (e.g. replace_merge to the latest version)."
        )
    return d


def _read_postings(
    spark: SparkSession, store_path: str, base: str | None = None
) -> DataFrame | None:
    """Postings of the live layout, or None for a store whose postings
    were fully drained or never written. ``base``: pre-resolved layout
    root, same reuse contract as _ivf_store_centroids."""
    return read_store(
        spark, (base or store_base(spark, store_path)) + "/postings"
    )


def ivf_store_append(
    new_df: DataFrame,
    store_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    base: str | None = None,
) -> DataFrame:
    """Fold a new vector batch into the stored index: assign against the
    STORED centroids (no re-fit — the coarse quantizer must stay frozen or
    every historical posting moves cells), drop ids already present in the
    touched cells (idempotent re-ingest, the dedup_incremental rule), and
    APPEND postings — parquet append under partitionBy only creates files
    in the touched cells. Returns the rows actually appended.

    CONTRACT — append, not upsert: re-delivering an id with its ORIGINAL
    vector is a no-op (same vector ⇒ same cell ⇒ caught by the
    touched-cell id check), but re-delivering an id with a CHANGED vector
    is an UPDATE this operator cannot express — the new vector may assign
    to a different cell, where the old posting is invisible to the
    pruned check, and the id would then exist in two cells. Vector
    updates need delete-then-append — :func:`ivf_store_upsert` composes
    exactly that (and :func:`ivf_store_delete` alone is the retraction
    primitive); detecting them here would require a full-store id scan,
    defeating the pruning design.

    Scale: the store is read only at the touched cells (partition pruning
    on the cell filter) and only its id column; the batch is map-side
    assigned against a broadcast k×dim matrix. Centroid drift is the
    caller's re-fit trigger — measure it with ivf_store_drift.
    ``base``: pre-resolved layout root (the _ivf_store_centroids reuse
    contract) for callers composing several ops per ingest batch."""
    spark = new_df.sparkSession
    deduped = _dedupe_ivf_batch(new_df, id_col, vec_col, "ivf_store_append")
    return _ivf_store_append_validated(
        spark, deduped, store_path, vec_col, id_col, base
    )


def _ivf_store_append_validated(
    spark: SparkSession,
    deduped: DataFrame,
    store_path: str,
    vec_col: str,
    id_col: str,
    base: str | None,
) -> DataFrame:
    """ivf_store_append's body AFTER batch validation — the seam lets
    ivf_store_upsert reuse its already-validated (and lineage-cut) batch
    instead of paying a second dropDuplicates + conflict-probe job on the
    same rows."""
    if base is None:
        base = store_base(spark, store_path)  # resolve the pointer ONCE
    c = _ivf_store_centroids(spark, store_path, base=base)
    assigned = _assign_to_centroids(
        deduped, c, vec_col, round_dp=6
    ).localCheckpoint(eager=False)  # the touched-cell collect materializes it
    touched = [r.centroid for r in assigned.select("centroid").distinct().collect()]
    store = _read_postings(spark, store_path, base=base)
    if store is not None:
        existing = store.filter(F.col("centroid").isin(touched)).select(id_col)
        # lazy: the isEmpty probe below is the first action and
        # materializes the anti-join blocks once; the write then reads
        # them — an eager cut here was one extra job per batch
        fresh = assigned.join(existing, id_col, "left_anti").localCheckpoint(
            eager=False
        )
    else:  # fully-drained store (delete-all) — every batch row is fresh
        fresh = assigned
    if not fresh.isEmpty():
        (
            fresh.repartition("centroid")
            .write.mode("append")
            .partitionBy("centroid")
            .parquet(base + "/postings")
        )
    return fresh


def ivf_store_delete(
    spark: SparkSession,
    store_path: str,
    ids,
    id_col: str = "vec_id",
    base: str | None = None,
) -> int:
    """Delete postings by id — the retraction/GDPR primitive the
    append-not-upsert contract of :func:`ivf_store_append` leaves
    inexpressible (round-10 verdict #1). ``ids`` is a DataFrame carrying
    ``id_col`` or a plain Python sequence of ids.

    The store is partitioned by cell, not id, so locating an id costs one
    COLUMN-PRUNED scan of (id, centroid) over the postings — unavoidable
    without an id→cell sidecar, and the honest price of pruned probes.
    The rewrite touches ONLY the cells that carry a deleted id (the
    touched-partition rewrite of operators/store.py). Deleting an id that
    (erroneously) resides in two cells removes BOTH postings — so delete
    is also the repair tool for a double residency. Returns the number
    of postings removed.

    Run with no concurrent appender (the single-writer contract).
    ``base``: pre-resolved layout root (the _ivf_store_centroids reuse
    contract) for callers composing several ops per batch — delete
    rewrites in place and never flips the pointer, so the composition
    stays on one layout."""
    ids = normalize_ids(spark, ids, id_col)
    if base is None:
        base = store_base(spark, store_path)  # resolve the pointer ONCE
    store = _read_postings(spark, store_path, base=base)
    if store is None:
        return 0  # already fully drained (or never written)
    # count-gate the hint: batch-sized forgets broadcast; a retention
    # sweep (1e8+ ids) drops to a shuffle join — the store side is
    # column-pruned here and cell-pruned below, so the shuffle is
    # delta-sized (idgate.BROADCAST_ID_LIMIT)
    ids_j = gate_broadcast(ids)
    # ONE pass over the column-pruned (id, centroid) scan yields both the
    # per-cell hit counts and the per-cell totals that tell which touched
    # cells die entirely
    stats = (
        store.join(ids_j.withColumn("__hit", F.lit(1)), id_col, "left")
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("__t"), F.count("__hit").alias("__n"))
        .filter(F.col("__n") > 0)
        .collect()
    )
    if not stats:
        return 0
    touched = [r.centroid for r in stats]
    rewrite_partitions(
        spark,
        base + "/postings",
        store.filter(F.col("centroid").isin(touched)).join(
            ids_j, id_col, "left_anti"
        ),
        "centroid",
        touched,
        kept=[r.centroid for r in stats if r["__t"] > r["__n"]],
    )
    return int(sum(r["__n"] for r in stats))


def ivf_store_upsert(
    new_df: DataFrame,
    store_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    atomic: bool = False,
) -> DataFrame:
    """Upsert = delete-then-append, composed from the two primitives: the
    batch's ids are first tombstoned out of whatever cells they occupy
    (no-op for genuinely new ids), then appended under the frozen
    quantizer — so a CHANGED vector moves cleanly to its new cell instead
    of becoming the dangling two-cell resident the append contract warns
    about, and re-upserting an unchanged vector lands it back in its old
    cell. Returns the appended rows. Cost over plain append: the one
    column-pruned id-locate scan of ivf_store_delete — callers that KNOW
    their ids are new should keep calling ivf_store_append.

    Batch hygiene runs BEFORE the delete: a batch with conflicting
    in-batch vectors is refused while the store is still untouched — a
    delete-then-raise would have destructively dropped the batch ids'
    existing postings on a refused batch.

    PARTIAL-FAILURE WINDOW (``atomic=False``, the default): delete and
    append are two separate commit points. A crash between them
    (executor loss, OOM, SIGKILL) leaves the batch ids' old postings
    removed with no replacement — the store is still VALID (no dangling
    or duplicate postings; probes simply miss the batch ids), just
    behind. Recovery is to RE-RUN the upsert with the same batch: the
    delete leg no-ops on the already-removed ids and the append leg
    lands the vectors — the operator is idempotent across retries, which
    is exactly how the streaming twin (stream_ivf_upsert) self-heals via
    foreachBatch replay. The batch API leaves retry to the caller rather
    than staging the append first: an append-before-delete would
    transiently double-resident every changed id (probes could return
    the STALE vector ranked by the new one's score), trading a
    visible-behind window for a silently-wrong one.

    ``atomic=True`` (round-12 verdict #3) removes the window entirely by
    reusing the refit's version-pointer machinery: BOTH legs are staged
    into ``store_path/v{n+1}`` (unchanged centroids copied, merged
    postings written) while v{n} keeps serving probes, then the META
    pointer flips atomically — a crash ANYWHERE before the flip leaves
    the live store byte-identical (the half-built v{n+1} is ignored and
    swept by the next attempt), and after the flip the store is fully
    current; there is no observable behind state. The honest price: the
    merge writes EVERY live posting into the new layout (one map-side
    pass + a cell-partitioned write, the refit's rebuild cost class), so
    per-batch cost is O(store), not O(delta) — right for batch callers
    without retry discipline or for large batches; frequent small-batch
    ingest should keep the default delta-cost path (or the streaming
    twin, whose replay already provides exactly-once healing)."""
    spark = new_df.sparkSession
    deduped = _dedupe_ivf_batch(new_df, id_col, vec_col, "ivf_store_upsert")
    if atomic:
        return _ivf_store_upsert_atomic(
            spark, deduped, store_path, vec_col, id_col
        )
    # resolve the version pointer ONCE for both legs (delete rewrites in
    # place, never flips it — single-writer contract)
    base = store_base(spark, store_path)
    # Assign the batch against the frozen centroids BEFORE the delete: the
    # assignment reads only the validated batch + the broadcast centroid
    # matrix, never the postings, so its materializing collect can run
    # concurrently with the delete leg's id-locate scan from a driver
    # thread (guide §2.6 overlap) — only the two WRITES stay ordered
    # (the delete's dynamic overwrite would wipe postings appended into a
    # touched cell before it).
    from concurrent.futures import ThreadPoolExecutor

    c = _ivf_store_centroids(spark, store_path, base=base)
    assigned = _assign_to_centroids(
        deduped, c, vec_col, round_dp=6
    ).localCheckpoint(eager=False)  # the touched collect materializes it
    with ThreadPoolExecutor(max_workers=1) as pool:
        touched_fut = pool.submit(
            lambda: [
                r.centroid
                for r in assigned.select("centroid").distinct().collect()
            ]
        )
        ivf_store_delete(
            spark, store_path, deduped.select(id_col), id_col=id_col,
            base=base,
        )
        touched = touched_fut.result()
    # After the delete leg NO batch id remains anywhere in the store
    # (delete tombstones exactly the batch's ids, and assigned's ids are
    # a subset of them), so the append contract's touched-cell
    # existing-id anti-join is provably empty — write the assigned batch
    # directly. The former anti-join + isEmpty probe cost one extra job
    # with a store-cell scan per upsert for a no-op filter; the touched
    # list doubles as the emptiness gate.
    if touched:
        (
            assigned.repartition("centroid")
            .write.mode("append")
            .partitionBy("centroid")
            .parquet(base + "/postings")
        )
    return assigned


def _ivf_store_upsert_atomic(
    spark: SparkSession,
    deduped: DataFrame,
    store_path: str,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The ``atomic=True`` leg of :func:`ivf_store_upsert`: stage
    (survivors ∪ re-assigned batch) as the next version of the store,
    then commit it — single commit point, no behind state."""
    base, staged, version = begin_version(spark, store_path)
    c = _ivf_store_centroids(spark, store_path, base=base)
    assigned = _assign_to_centroids(
        deduped, c, vec_col, round_dp=6
    ).localCheckpoint(eager=False)  # the staged write materializes it
    store = _read_postings(spark, store_path, base=base)
    if store is not None:
        batch_ids = gate_broadcast(assigned.select(id_col))
        merged = store.join(batch_ids, id_col, "left_anti").unionByName(
            assigned
        )
    else:  # fully-drained store: the batch IS the new postings
        merged = assigned

    # the two staged writes land in DIFFERENT directories and both must
    # simply complete before the commit — submit the small centroids copy
    # from a driver thread so it back-fills executors while the postings
    # merge runs (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        cfut = pool.submit(
            lambda: spark.read.parquet(base + "/centroids")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(staged + "/centroids")
        )
        (
            merged.repartition("centroid")
            .write.mode("overwrite")
            .partitionBy("centroid")
            .parquet(staged + "/postings")
        )
        cfut.result()
    commit_version(spark, store_path, version)
    return assigned


def ivf_store_topk(
    spark: SparkSession,
    store_path: str,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the stored index: pick the ``nprobe`` cells nearest the query
    from the k×dim centroid relation (driver-side — it is model-sized),
    then exact cosine top-k over ONLY those cells' postings. The cell
    filter is a partition filter on the postings layout, so unprobed
    cells are never read (gated in tests). ``nprobe == n_centroids`` is
    exact brute force over the whole store."""
    import numpy as np

    base = store_base(spark, store_path)  # resolve the pointer ONCE
    c = _ivf_store_centroids(spark, store_path, base=base)
    q = np.asarray(list(query), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    probes = [int(i) for i in np.argsort(-np.round(c @ q, 6), kind="stable")[:nprobe]]
    store = _read_postings(spark, store_path, base=base)
    if store is None:  # fully-drained store: empty result, stable schema
        return spark.createDataFrame(
            [], f"{id_col} long, cos_sim double"
        )
    cand = store.filter(F.col("centroid").isin(probes))
    return cosine_topk_query(cand, query, vec_col, id_col, k)


def ivf_store_drift(
    spark: SparkSession,
    store_path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
    base: str | None = None,
) -> DataFrame:
    """Re-fit trigger: one row per centroid with the new batch's count and
    mean best-cosine against the FROZEN centroids, plus a global row
    (centroid = -1). A falling global mean is the drift signal that the
    coarse quantizer no longer matches the ingest distribution — time to
    re-fit and rebuild (an offline job; the store stays serving meanwhile).
    Map-side assignment + one keyed aggregate; nothing global.
    ``base``: pre-resolved layout root (the reuse contract)."""
    import numpy as np
    from pyspark.sql import types as T

    c = _ivf_store_centroids(spark, store_path, base=base)
    bc = spark.sparkContext.broadcast(c)

    def _score(batches):
        import numpy as np  # noqa: PLC0415

        cm = bc.value
        for pdf in batches:
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            s = np.round(m @ cm.T, 6)
            import pandas as pd  # noqa: PLC0415

            yield pd.DataFrame(
                {
                    "centroid": np.argmax(s, axis=1).astype("int32"),
                    "best_cos": s.max(axis=1),
                }
            )

    scored = new_df.select(vec_col).mapInPandas(
        _score, T.StructType(
            [
                T.StructField("centroid", T.IntegerType()),
                T.StructField("best_cos", T.DoubleType()),
            ]
        )
    )
    per = scored.groupBy("centroid").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("best_cos"), 6).alias("mean_best_cos"),
    )
    tot = scored.agg(
        F.lit(-1).cast("int").alias("centroid"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("best_cos"), 6).alias("mean_best_cos"),
    )
    return per.unionByName(tot)


def compact_ivf_store(spark: SparkSession, store_path: str) -> dict:
    """Compact the IVF postings layout: every ivf_store_append/upsert
    writes its own file-set into each touched cell (parquet append under
    partitionBy), so a daily-ingest store accumulates small files whose
    open/footer cost comes to dominate the pruned probes — the
    compact_band_store problem on the cell layout. Postings are carried
    BIT-IDENTICAL (pinned in tests) and the centroids relation is
    untouched (the frozen quantizer never fragments — it is one coalesced
    file from init). Single-writer contract. Returns {"rows",
    "files_before", "files_after"}; a fully-drained store is all zeros."""
    rows, before, after = compact_partitions(
        spark, store_base(spark, store_path) + "/postings", "centroid"
    )
    return {"rows": rows, "files_before": before, "files_after": after}


def _fit_centroids_distributed(
    store: DataFrame,
    n_centroids: int,
    iters: int,
    vec_col: str,
    id_col: str,
):
    """The distributed FIT leg of :func:`ivf_store_refit` (round-12
    verdict #4): run the declarative broadcast-centroid Lloyd
    (operators/clustering.py:kmeans_lloyd) over ALL postings —
    unit-normalized first, so its Euclidean argmin coincides with the
    store's cosine assignment — then reduce each final cluster to its
    mean vector distributedly and collect ONLY the k × dim centroid
    matrix (model-sized; nothing corpus-sized reaches the driver).
    Cluster means are rounded to 9 dp (the kmeans_lloyd centroid-update
    convention) before the numpy renormalization, keeping the collected
    matrix engine-deterministic. Returns unit row-normalized float64
    centroids; clusters that lost every member are absent (k-means--),
    so the matrix may have fewer than ``n_centroids`` rows."""
    import numpy as np

    from arrowhouse_spark.operators.clustering import kmeans_lloyd

    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda y: y * y),
            F.lit(0.0),
            lambda a, y: a + y,
        )
    )
    pts = store.select(
        F.col(id_col).alias(id_col),
        F.transform(
            F.col(vec_col), lambda x: x / F.greatest(nrm, F.lit(1e-12))
        ).alias(vec_col),
    ).localCheckpoint(eager=False)
    assign = kmeans_lloyd(
        pts, id_col, vec_col, k=n_centroids, iters=iters
    ).select(id_col, "cluster_id")
    cent_rows = (
        pts.join(assign, id_col)
        .select("cluster_id", F.posexplode(vec_col).alias("__dim", "__v"))
        .groupBy("cluster_id", "__dim")
        .agg(F.round(F.avg("__v"), 9).alias("__c"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for r in cent_rows:  # index access: Row.__getattr__ rejects dunders
        by_cluster.setdefault(r["cluster_id"], {})[r["__dim"]] = r["__c"]
    mat = []
    for cid in sorted(by_cluster):
        dims = by_cluster[cid]
        mat.append([dims[d] for d in range(len(dims))])
    c = np.array(mat, dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def ivf_store_refit(
    spark: SparkSession,
    store_path: str,
    n_centroids: int | None = None,
    sample_cap: int = 4096,
    iters: int = 5,
    seed: int = 43,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Close the drift loop (round-11 verdict #5): ivf_store_drift
    SIGNALS that the frozen coarse quantizer no longer matches the
    ingest distribution; this op performs the rebuild —

      1. FIT: spherical k-means (Lloyd, ``iters`` rounds) over a
         deterministic hash-ordered sample of the CURRENT postings
         (``sample_cap`` vectors collected driver-side — model-sized
         whatever the store size, the ivf_store_init discipline; seeds
         are the sample's first ``n_centroids`` rows, empty clusters
         keep their previous centroid). Defaults to the current cell
         count; pass ``n_centroids`` to grow/shrink the index.

         SWITCH RULE (round-12 verdict #4): when ``n_centroids * 64 >
         sample_cap`` — fewer than 64 sample vectors per centroid — the
         driver-side sample under-determines the quantizer, so the FIT
         leg runs DISTRIBUTED instead: the existing declarative Lloyd
         (operators/clustering.py:kmeans_lloyd, broadcast-centroid,
         nothing collected) fits over ALL postings (unit-normalized, so
         the Euclidean argmin it minimizes matches the cosine
         assignment the store probes with), and only the resulting
         k × dim centroid matrix is collected (model-sized). Clusters
         that lose every member drop out (kmeans_lloyd's documented
         k-means-- behavior), so the rebuilt store may carry fewer
         cells than requested — the returned ``n_centroids`` reports
         the actual count. Below the threshold the cheaper sampled
         driver path is used unchanged. ``iters=0`` (seeds-only fit)
         always takes the sampled path whatever the switch rule says:
         the distributed Lloyd requires at least one round, and a
         zero-round fit is exactly its seed vectors, so sample
         thinness cannot under-determine it (needs ``sample_cap >=
         n_centroids`` to seed, as ever).
      2. REBUILD: re-assign EVERY posting against the new centroids in
         one map-side pass (broadcast k×dim matrix, no shuffle except
         the cell-partitioned write) into the NEXT version directory
         ``store_path/v{n+1}/{centroids,postings}`` — the live layout
         keeps serving probes throughout.
      3. SWAP: commit the new version (operators/store.py), so the swap
         is invisible to callers. Re-running a refit that crashed at any
         point heals the store (pinned in tests/test_clustering.py).
         Single-writer contract, as for every store mutation.

    Returns {"old_version", "new_version", "n_centroids", "rows"}."""
    import numpy as np

    base, staged, version = begin_version(spark, store_path)
    store = _read_postings(spark, store_path, base=base)
    if store is None:
        raise ValueError(
            f"ivf_store_refit needs a non-empty store at {store_path!r} "
            "(fully-drained or never-written postings have nothing to "
            "fit; use ivf_store_init)"
        )
    if n_centroids is None:
        n_centroids = int(
            spark.read.parquet(base + "/centroids").count()
        )

    # ---- 1. fit: distributed Lloyd when the sample would be too thin
    # (< 64 vectors per centroid), else driver-side numpy on a sample.
    # iters=0 (seeds-only fit, a valid call since round 12) always takes
    # the sampled path: kmeans_lloyd requires iters >= 1, and with zero
    # refinement rounds the fit IS its seeds, so "the sample is too thin
    # to determine the quantizer" does not apply — there is nothing to
    # determine beyond k seed vectors.
    if iters >= 1 and n_centroids * 64 > sample_cap:
        c = _fit_centroids_distributed(
            store, n_centroids, iters, vec_col, id_col
        )
    else:
        sample_rows = (
            store.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
            .limit(sample_cap)
            .collect()
        )
        m = np.array([r[1] for r in sample_rows], dtype=np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        if len(m) < n_centroids:
            raise ValueError(
                f"sample of {len(m)} vectors cannot seed {n_centroids} "
                "centroids; lower n_centroids or raise sample_cap"
            )
        c = m[:n_centroids].copy()
        for _ in range(iters):
            # spherical Lloyd: cosine assignment (unit rows), mean, renorm
            assign = np.argmax(np.round(m @ c.T, 6), axis=1)
            for j in range(n_centroids):
                mask = assign == j
                if mask.any():  # empty cluster keeps its previous centroid
                    c[j] = m[mask].mean(axis=0)
            c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    n_centroids = len(c)  # k-means-- may shrink the distributed fit

    # ---- 2. rebuild the full postings as the next version
    _write_centroids(spark, c, staged + "/centroids")
    reassigned = _assign_to_centroids(
        store.select(id_col, vec_col), c, vec_col, round_dp=6
    ).localCheckpoint(eager=False)
    # the count materializes the lazy pin (still BEFORE the old layout
    # goes away) and the write then reads the pinned blocks — one job
    # fewer than eager-pin + write + count
    n_rows = reassigned.count()
    (
        reassigned.repartition("centroid")
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(staged + "/postings")
    )
    commit_version(spark, store_path, version)
    return {
        "old_version": version,
        "new_version": version + 1,
        "n_centroids": int(n_centroids),
        "rows": int(n_rows),
    }


def ivf_store_maintain(
    spark: SparkSession,
    store_path: str,
    new_df: DataFrame,
    min_mean_cos: float = 0.55,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int | None = None,
    refit_seed: int = 43,
) -> dict:
    """The drift loop as ONE maintenance call: append the batch against
    the frozen quantizer, measure how well the quantizer still fits it
    (ivf_store_drift's global mean best-cosine), and when the fit falls
    below ``min_mean_cos``, rebuild via :func:`ivf_store_refit` — the
    ingest-path composition that keeps a long-lived index healthy
    without a human watching the drift report. The threshold is the
    caller's recall budget: the drift metric is the mean cosine between
    new vectors and their NEAREST centroid, so a falling value means
    probes need ever more cells for the same recall.

    Refit inside maintain is safe under the same single-writer contract
    every store op carries — the caller IS the only writer, exactly as
    in a foreachBatch ingest loop. Empty micro-batches (routine in a
    foreachBatch loop) no-op: the drift aggregate's global mean is NULL
    over zero rows, which is no evidence of drift — the refit decision
    is skipped and mean_best_cos returns None. The version pointer
    resolves ONCE and threads through append and drift. Returns
    {"appended", "mean_best_cos", "refit": None | ivf_store_refit's
    result dict}."""
    base = store_base(spark, store_path)
    appended = ivf_store_append(
        new_df, store_path, vec_col=vec_col, id_col=id_col, base=base
    )
    n_app = appended.count()
    drift = ivf_store_drift(
        spark, store_path, new_df, vec_col=vec_col, base=base
    )
    raw = [r.mean_best_cos for r in drift.collect() if r.centroid == -1][0]
    if raw is None:  # empty batch: no drift evidence, no refit
        return {"appended": n_app, "mean_best_cos": None, "refit": None}
    gmean = float(raw)
    refit = None
    if gmean < min_mean_cos:
        refit = ivf_store_refit(
            spark,
            store_path,
            n_centroids=n_centroids,
            seed=refit_seed,
            vec_col=vec_col,
            id_col=id_col,
        )
    return {"appended": n_app, "mean_best_cos": gmean, "refit": refit}
