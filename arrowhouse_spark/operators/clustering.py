"""Distributed Lloyd's k-means — fully declarative, engine-replayable.

The companion surface to similarity.py's IVF fits — there,
``ivf_centroids_kmeans`` runs Lloyd with numpy assignment inside
``mapInPandas`` against broadcast centroids (one groupBy-avg collected
per iteration), and ``ivf_store_refit``'s sampled path fits driver-side
in numpy on a BOUNDED collected sample. Here every step — assignment,
centroid update, iteration — is a DataFrame plan, so the fit itself
distributes, nothing is collected, and a SQL oracle can replay the
whole unrolled iteration exactly. The iterative-algorithm
family next to graph.py's pagerank/BFS and components.py's
min-label propagation.

Determinism doctrine (the label_centroid_sim / source_entropy_report
precedent, pushed one step further because centroids FEED the next
round's argmin):

- squared-distance terms are quantized to DECIMAL(38,12) and summed
  EXACTLY per (point, centroid) — combine-order-free, so the argmin
  sees identical keys on any engine;
- argmin is min-dist + min-cid-at-min-dist (two exact aggregates, no
  struct/row comparators an oracle might order differently);
- centroid updates sum DECIMAL(38,10)-quantized coordinates exactly,
  divide once in double, and ROUND to 9 dp — the rounded double is the
  value both engines carry into the next iteration.

Seeding is the k smallest ids' vectors (deterministic, fixture-free);
the centroid LABEL is the seed's id itself, so no ranking window is
needed anywhere. A centroid that loses every member simply drops out
of later iterations (documented; k-means-- behavior) — with min-id
seeding this requires the seed itself to defect, which real corpora
essentially never produce at small k.

Scale: per iteration the plan is (a) explode points to (id, dim, val)
— map-side, (b) join the k x dim centroid relation (BROADCAST — k*dim
rows, corpus-size-free), (c) one keyed exact sum per (id, cid), (d)
one keyed argmin per id, (e) one keyed mean per (cid, dim). Shuffles
are all keyed by point id or (cid, dim); nothing global, nothing
collected, no Python. Lineage is cut per iteration with
localCheckpoint(eager=False) — the staged-pipeline seam discipline
(suite pipeline_pretrain_full) — so the unrolled plan does not
re-inline iteration i-1 into every branch of iteration i.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DIST_T = "decimal(38,12)"
_COORD_T = "decimal(38,10)"


def _explode_vecs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.posexplode(vec_col).alias("__dim", "__v"),
    ).withColumn("__v", F.col("__v").cast("double"))


def _assign(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """(__id, __cid) argmin assignment from exploded points against the
    (__cid, __dim, __c) centroid relation — exact decimal distances."""
    d = F.col("__v") - F.col("__c")
    dists = (
        pts.join(F.broadcast(centroids), "__dim")
        .select("__id", "__cid", (d * d).cast(_DIST_T).alias("__t"))
        .groupBy("__id", "__cid")
        .agg(F.sum("__t").alias("__dist"))
        # referenced twice (the per-id min and the join-back) — without a
        # cut the explode+broadcast-join+sum subtree executes twice per
        # assignment (ReusedExchange does not always fire across the agg)
        .localCheckpoint(eager=False)
    )
    mind = dists.groupBy("__id").agg(F.min("__dist").alias("__dist"))
    return (
        dists.join(mind, ["__id", "__dist"])
        .groupBy("__id")
        .agg(F.min("__cid").alias("__cid"))
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Run ``iters`` exact Lloyd iterations from min-id seeds; returns
    the final assignment with its exact squared distance:
    (``id_col``, cluster_id, sqdist DECIMAL(38,12)) — cluster_id is the
    seed point's id."""
    if k < 1 or iters < 1:
        raise ValueError(f"need k/iters >= 1, got {k}/{iters}")
    pts = _explode_vecs(df, id_col, vec_col)
    seeds = df.select(F.col(id_col).cast("long").alias("__sid"), vec_col)
    seeds = seeds.orderBy("__sid").limit(k)
    centroids = seeds.select(
        F.col("__sid").alias("__cid"),
        F.posexplode(vec_col).alias("__dim", "__c"),
    ).withColumn("__c", F.col("__c").cast("double"))
    for _ in range(iters):
        assign = _assign(pts, centroids)
        centroids = (
            pts.join(assign, "__id")
            .groupBy("__cid", "__dim")
            .agg(
                F.round(
                    F.sum(F.col("__v").cast(_COORD_T)).cast("double")
                    / F.count(F.lit(1)),
                    9,
                ).alias("__c")
            )
            .localCheckpoint(eager=False)
        )
    final = _assign(pts, centroids)
    d = F.col("__v") - F.col("__c")
    sqd = (
        pts.join(final, "__id")
        .join(F.broadcast(centroids), ["__dim", "__cid"])
        .select("__id", "__cid", (d * d).cast(_DIST_T).alias("__t"))
        .groupBy("__id", "__cid")
        .agg(F.sum("__t").alias("sqdist"))
    )
    return sqd.select(
        F.col("__id").alias(id_col),
        F.col("__cid").alias("cluster_id"),
        "sqdist",
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    subdim: int = 16,
    k_cb: int = 4,
    k: int = 10,
) -> DataFrame:
    """Product quantization + asymmetric-distance top-k (Jégou et al.
    2011, public literature) — the memory-compressed ANN path that
    complements similarity.py's brute/LSH/IVF-flat: vectors are split
    into ``dim/subdim`` subspaces, each subspace gets a ``k_cb``-centroid
    codebook (ONE exact Lloyd iteration from min-id seeds — the
    kmeans_lloyd determinism doctrine applied per subspace), every
    vector is encoded as its per-subspace nearest-centroid code (storage
    = n_sub small ints per vector instead of the full float array), and
    a query scans CODES against a precomputed (subspace, centroid)
    distance table — asymmetric distance = sum of n_sub table lookups,
    never a full-vector float op.

    The subspace axis is A KEY COLUMN, not a loop: one exploded relation
    (sub, id, dim, v) carries all codebook training, encoding, and table
    lookups as keyed aggregates — the whole fit+encode+search is ONE
    declarative plan. All distances are exact DECIMAL(38,12) term sums
    and centroid means are exact-decimal-rounded to 9 dp, so codes,
    tables, and the final (adc, id) ordering are engine-identical.

    The query is the corpus's min-id vector (a 1-row broadcast relation,
    never a driver scalar). Returns the top ``k`` (``id_col``, adc_dist)
    rows by ascending asymmetric distance, exact-decimal-ordered with an
    id tie-break (the query vector itself included — its ADC is its
    quantization residual, not 0).

    Scale: codebooks are n_sub*k_cb*subdim rows (corpus-size-free,
    broadcast everywhere); codes are the only corpus-sized relation
    (n_sub rows per vector, int-narrow); the ADC scan is one broadcast
    lookup join + keyed sum + TakeOrdered — no full-vector distance at
    query time, which is the entire point of PQ at 100 TB."""
    if subdim < 1 or k_cb < 1 or k < 1:
        raise ValueError(f"need subdim/k_cb/k >= 1, got {subdim}/{k_cb}/{k}")
    from arrowhouse_spark.session import shuffle_parts

    sub = F.floor(F.col("__d") / subdim).cast("long")
    kk = F.pmod(F.col("__d"), F.lit(subdim)).cast("long")
    # pre-explode repartition (the shingle_relation doctrine): the dim
    # explode × broadcast-codebook join × DECIMAL(38,12) partial sums are
    # the operator's CPU, and fused into the scan they run at input-split
    # parallelism — one small file means ONE task does all of it, several
    # times (pts has multiple consumers)
    pts = (
        df.repartition(shuffle_parts(df.sparkSession), id_col).select(
            F.col(id_col).cast("long").alias("__id"),
            F.posexplode(vec_col).alias("__d", "__v"),
        )
        .select(
            "__id",
            sub.alias("__sub"),
            kk.alias("__k"),
            F.col("__v").cast("double").alias("__v"),
        )
    )
    seeds = df.select(F.col(id_col).cast("long").alias("__sid"), vec_col)
    seeds = seeds.orderBy("__sid").limit(k_cb)
    c0 = (
        seeds.select(
            F.col("__sid").alias("__cid"),
            F.posexplode(vec_col).alias("__d", "__c"),
        )
        .select(
            "__cid",
            sub.alias("__sub"),
            kk.alias("__k"),
            F.col("__c").cast("double").alias("__c"),
        )
    )

    def assign(cb: DataFrame) -> DataFrame:
        d = F.col("__v") - F.col("__c")
        dists = (
            pts.join(F.broadcast(cb), ["__sub", "__k"])
            .select(
                "__sub", "__id", "__cid", (d * d).cast(_DIST_T).alias("__t")
            )
            .groupBy("__sub", "__id", "__cid")
            .agg(F.sum("__t").alias("__dist"))
        )
        mind = dists.groupBy("__sub", "__id").agg(
            F.min("__dist").alias("__dist")
        )
        return (
            dists.join(mind, ["__sub", "__id", "__dist"])
            .groupBy("__sub", "__id")
            .agg(F.min("__cid").alias("__cid"))
        )

    a1 = assign(c0)
    c1 = (
        pts.join(a1, ["__sub", "__id"])
        .groupBy("__sub", "__cid", "__k")
        .agg(
            F.round(
                F.sum(F.col("__v").cast(_COORD_T)).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("__c")
        )
        .localCheckpoint(eager=False)
    )
    codes = assign(c1)
    qid = df.agg(F.min(F.col(id_col).cast("long")).alias("__qid"))
    # explode ONLY the query row (same sub/kk mapping as pts): the former
    # pts-side filter re-executed the whole corpus explode to slice out
    # one vector's 64 rows
    q = (
        df.join(
            F.broadcast(qid), F.col(id_col).cast("long") == F.col("__qid")
        )
        .select(F.posexplode(vec_col).alias("__d", "__v"))
        .select(
            sub.alias("__sub"),
            kk.alias("__k"),
            F.col("__v").cast("double").alias("__qv"),
        )
    )
    dq = F.col("__qv") - F.col("__c")
    dtable = (
        c1.join(F.broadcast(q), ["__sub", "__k"])
        .select("__sub", "__cid", (dq * dq).cast(_DIST_T).alias("__t"))
        .groupBy("__sub", "__cid")
        .agg(F.sum("__t").alias("__td"))
    )
    adc = (
        codes.join(F.broadcast(dtable), ["__sub", "__cid"])
        .groupBy("__id")
        .agg(F.sum("__td").alias("__adc"))
    )
    return (
        adc.orderBy(F.col("__adc").asc(), F.col("__id").asc())
        .limit(k)
        .select(
            F.col("__id").alias(id_col),
            F.round(F.col("__adc").cast("double"), 6).alias("adc_dist"),
        )
    )
