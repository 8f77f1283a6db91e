"""Connected components over a near-duplicate pair list — the transitive
closure step of corpus dedup (A~B and B~C put A,B,C in one cluster even when
A≁C). Complements operators/dedup.py:dedup_keep_first, which resolves pairs
greedily without closure.

Algorithm: iterative min-label propagation (each vertex repeatedly takes the
minimum label among itself and its neighbors), the standard distributed CC
scheme; converges in O(graph diameter) rounds. Each round is two shuffles
(edge⋈label join + per-vertex min). Near-dup graphs have tiny diameters
(clusters are quasi-cliques), so rounds stay in single digits; for
adversarially long chains use ``connected_components_star`` — the
alternating large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond"), O(log² n) rounds from the same
join/groupBy building blocks.

Scale notes: both cluster algorithms localCheckpoint() every round —
iterative Spark jobs otherwise accumulate lineage until planning itself
dominates — and probe convergence with a LIMIT 1 query, not a full count.
Every round still costs several jobs of fixed overhead, which a
batch-sized subgraph does not need: the persistent label store
(``components_incremental`` and its retract) collects a touched subgraph
of at most ``idgate.BROADCAST_ID_LIMIT`` rows with integer ids and solves
it on the driver with a union-find, in a bounded number of jobs. Larger
subgraphs, and ids Python orders unlike Spark (floats: NaN, -0.0), take
the star contraction on the cluster.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arrowhouse_spark.operators import idgate
from arrowhouse_spark.operators.idgate import gate_broadcast
from arrowhouse_spark.operators.store import (
    compact_partitions,
    long_frame,
    normalize_ids,
    read_small,
    read_store,
    remove,
    rewrite_partitions,
    write_small,
)


def _resolve_n_buckets(
    spark: SparkSession, store_path: str, n_buckets: int | None
) -> tuple[int, bool]:
    """(n_buckets, whether the store has a meta file). The meta file
    wins and a different caller-passed value is refused: n_buckets is
    baked into the partition layout, so pruning with another count
    would consult the wrong buckets (missed merges, scattered rewrites).
    Meta-less stores take the caller's value."""
    meta_raw = read_small(spark, store_path + "__meta")
    if meta_raw is None:
        if n_buckets is None:
            raise ValueError(
                "n_buckets unknown: the store has no meta file — pass the "
                "value the store was built with"
            )
        return n_buckets, False
    stored_n = json.loads(meta_raw.decode("utf-8")).get("n_buckets")
    if n_buckets is not None and n_buckets != stored_n:
        raise ValueError(
            f"store {store_path!r} was built with n_buckets={stored_n}; "
            f"caller passed {n_buckets} — keep it constant for the "
            "store's whole lifecycle"
        )
    return stored_n, True


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every vertex appearing in ``edges``; ``component``
    is the minimum vertex id reachable from the vertex. Raises if not
    converged within ``max_iterations`` (diameter larger than expected —
    switch to large-star/small-star before raising the cap)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = sym.select("src").distinct().withColumn("comp", F.col("src"))
    labels = labels.localCheckpoint()

    for _ in range(max_iterations):
        nbr = (
            sym.join(labels, on="src")
            .select(F.col("dst").alias("src"), "comp")
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # carry the per-row changed flag THROUGH the checkpoint (label
        # strictly drops, so changed ⇔ a strictly smaller neighbor label
        # arrived): the convergence probe is then a filter over the
        # checkpointed blocks instead of a second keyed join of new
        # labels against old — one shuffle per round removed
        new_labels = (
            labels.join(nbr, on="src", how="left")
            .select(
                "src",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
                (F.col("nbr_comp") < F.col("comp")).alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels.select(F.col("src").alias("id"), F.col("comp").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log² n) rounds even on path graphs, where plain min-label propagation
    needs O(diameter) rounds. Use this when clusters may chain deeply
    (e.g. near-dup edges from sliding shingle windows).

    Each half-round: m(u) = min(N(u) ∪ {u}); large-star rewires u's larger
    neighbors to m, small-star rewires the rest. Edges stay symmetric and
    deduped between rounds; convergence = the undirected edge set stopped
    changing (two anti-join probes)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )

    def _star(s: DataFrame, larger: bool) -> DataFrame:
        m = (
            s.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select("src", F.least("__mn", F.col("src")).alias("m"))
        )
        part = s.filter(
            F.col("dst") > F.col("src") if larger else F.col("dst") < F.col("src")
        )
        new = part.join(m, "src").select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        keep = s.join(m, "src").select("src", F.col("m").alias("dst"))
        out = new.union(keep).filter(F.col("src") != F.col("dst"))
        return (
            out.union(out.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint()
        )

    for _ in range(max_iterations):
        nxt = _star(_star(sym, larger=True), larger=False)
        # one full-outer probe instead of two anti-joins: each anti-join
        # shuffled BOTH checkpointed edge sets, so the old probe paid the
        # double shuffle twice per round; a row with either side null is
        # an edge in exactly one set (both sets are (src,dst)-distinct)
        unchanged = (
            nxt.withColumn("__l", F.lit(1))
            .join(
                sym.withColumn("__r", F.lit(1)), ["src", "dst"], "full_outer"
            )
            .filter(F.col("__l").isNull() | F.col("__r").isNull())
            .limit(1)
            .count()
            == 0
        )
        sym = nxt
        if unchanged:
            labels = (
                sym.groupBy("src")
                .agg(F.min("dst").alias("__mn"))
                .select(
                    F.col("src").alias("id"),
                    F.least("__mn", F.col("src")).alias("component"),
                )
            )
            # vertices that contracted into pure centers keep themselves
            return vertices.join(labels, "id", "left").select(
                "id", F.coalesce("component", F.col("id")).alias("component")
            )
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iterations} rounds"
    )


def dedup_components(
    df: DataFrame,
    pair_df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve near-dup pairs transitively: keep one doc (the minimum id =
    the component label) per duplicate cluster, pass through docs that appear
    in no pair."""
    comps = connected_components(pair_df, src="id_a", dst="id_b")
    drop = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def dedup_keep_best(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup canonicalization: per connected component of ``edges``, keep
    the single highest-``score_col`` document (minimum ``id_col`` on ties);
    a document in no component is its own singleton and is always kept.

    This is the "keep best representative" step real dedup pipelines run
    after fuzzy matching (vs :func:`dedup_components`, whose survivor is the
    arbitrary min-id label). Returns one row per input doc:
    (id_col, component, kept ∈ {0,1} as long).

    Scale: component labels cost the usual two keyed shuffles per
    label-propagation round; the winner election is ONE keyed aggregation
    ``min(struct(-score, id))`` per component — never a window over the
    whole corpus — and the (component, winner) relation joins back keyed on
    component (AQE broadcasts it when small; stays a shuffle join when the
    component count is corpus-sized).
    """
    comps = connected_components(edges, src=src, dst=dst)
    labeled = (
        docs.select(F.col(id_col), F.col(score_col))
        .join(comps.withColumnRenamed("id", id_col), on=id_col, how="left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    winners = (
        labeled.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col(score_col)).alias("neg_score"),
                    F.col(id_col).alias("wid"),
                )
            ).alias("w")
        )
        .select("component", F.col("w.wid").alias("_winner_id"))
    )
    return labeled.join(winners, on="component").select(
        F.col(id_col),
        "component",
        (F.col(id_col) == F.col("_winner_id")).cast("long").alias("kept"),
    )


def _union_find(pairs) -> dict:
    """id -> the minimum id of its component, over integer ``pairs``."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _bounded(df: DataFrame, room: int):
    """``df``'s rows when there are at most ``room`` of them, else None."""
    rows = df.limit(room + 1).collect()
    return rows if len(rows) <= room else None


def _label_frame(spark: SparkSession, ids, comps, id_type) -> DataFrame:
    """Driver-built (id, component) labels, both columns ``id_type``."""
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )
    cols = {"id": list(ids), "component": list(comps)}
    return long_frame(spark, cols, schema)


def _fold_on_driver(e: DataFrame, id_type, store, n_buckets: int):
    """The fold's delta as sorted (id, component) pairs, from a union-find
    over the batch's edges plus the affected members' stars. None when
    the ids are not integers (Python orders floats unlike Spark) or the
    touched subgraph holds more than idgate.BROADCAST_ID_LIMIT rows."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    if not isinstance(id_type, T.IntegralType):
        return None
    lim = idgate.BROADCAST_ID_LIMIT
    edges = _bounded(
        e.select(
            "src",
            "dst",
            hash_bucket("src", n_buckets, salt="cc").alias("scb"),
            hash_bucket("dst", n_buckets, salt="cc").alias("dcb"),
        ),
        lim,
    )
    if edges is None:
        return None
    old: dict = {}
    if store is not None and edges:
        spark = e.sparkSession
        batch = sorted({v for r in edges for v in (r.src, r.dst)})
        buckets = sorted({b for r in edges for b in (r.scb, r.dcb)})
        acomps = (
            store.filter(F.col("cb").isin(buckets))
            .join(F.broadcast(long_frame(spark, {"id": batch})), "id", "semi")
            .select("component")
            .distinct()
        )
        members = _bounded(
            store.join(F.broadcast(acomps), "component", "semi").select(
                "id", "component"
            ),
            lim - len(edges),
        )
        if members is None:
            return None
        old = {r.id: r.component for r in members}
    labels = _union_find([(r.src, r.dst) for r in edges] + list(old.items()))
    return sorted((v, c) for v, c in labels.items() if old.get(v) != c)


def _fold_on_spark(e: DataFrame, verts: DataFrame, store, n_buckets: int):
    """The fold's delta (id, component, cb) by star contraction of the
    touched subgraph on the cluster; None when it is empty."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    verts = verts.localCheckpoint()
    if store is not None:
        # prune the id-bucketed store to the batch vertices' buckets before
        # the semi-join (<= n_buckets values, known driver-side)
        vbuckets = [
            r.cb
            for r in verts.select(
                hash_bucket("id", n_buckets, salt="cc").alias("cb")
            )
            .distinct()
            .collect()
        ]
        acomps = (
            store.filter(F.col("cb").isin(vbuckets))
            .join(F.broadcast(verts), "id", "semi")
            .select("component")
            .distinct()
            .localCheckpoint()
        )
        members = (
            store.join(F.broadcast(acomps), "component", "semi")
            .select("id", "component")
            .localCheckpoint()
        )
        stars = members.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("src"), F.col("component").alias("dst")
        )
        union_e = e.unionByName(stars).distinct()
    else:
        members = None
        union_e = e

    if union_e.isEmpty():
        return None

    labels = connected_components_star(union_e)
    if members is not None:
        delta = (
            labels.join(
                members.withColumnRenamed("component", "__old"), "id", "left"
            )
            .filter(
                F.col("__old").isNull()
                | (F.col("__old") != F.col("component"))
            )
            .select("id", "component")
        )
    else:
        delta = labels
    delta = delta.withColumn(
        "cb", hash_bucket("id", n_buckets, salt="cc")
    ).localCheckpoint()
    return None if delta.isEmpty() else delta


def components_incremental(
    new_edges: DataFrame,
    store_path: str,
    src: str = "src",
    dst: str = "dst",
    n_buckets: int = 16,
) -> DataFrame:
    """Incremental connected components over a persistent label store —
    the missing incremental twin of the dedup stack: minhash_incremental
    produces daily cross-batch duplicate PAIRS; this turns them into
    stable CLUSTER ids without re-running CC over the full historical
    edge set every day.

    Store = the current labeling (id, component, cb) at ``store_path``,
    parquet partitioned by ``cb = hash_bucket(id)``. A converged
    min-label assignment IS a star-contracted spanning forest of every
    edge ever folded (each row is the edge id → component), so CC over
    (stored stars ∪ new edges) equals CC over the full historical union
    — the union-find invariant, maintained inductively per fold.

    Per fold (all joins keyed; nothing global):
      1. affected components = labels of the batch's vertices (broadcast
         semi-join of the batch vertex set against the store);
      2. affected members = store rows of those components — the one
         full-store MAP-SIDE scan per fold (a broadcast semi-join);
      3. CC over (member stars ∪ new edges). A subgraph of at most
         idgate.BROADCAST_ID_LIMIT rows with integer ids is collected
         (the batch's edges with their buckets in one query, the members
         of steps 1-2 in a second) and solved on the driver by a
         union-find with min-id labels; a larger one, or one with other
         ids, runs large-star/small-star contraction on the cluster;
      4. delta = labels that changed or are new; if empty (replayed
         batch), the fold is a no-op — idempotent by construction, the
         stream_scd2 doctrine. A driver-solved delta goes back to Spark
         as one Arrow table;
      5. rewrite ONLY the delta's buckets via dynamic partition
         overwrite, carrying those buckets' unaffected rows over.

    Returns the delta labels (id, component) this fold committed.

    Scale: the store is never shuffled — steps 1-2 are broadcast
    semi-joins against batch-sized / affected-sized relations, step 5
    rewrites only touched partitions (its carry read is not yet
    bucket-pruned). A driver-solved fold runs a bounded
    number of jobs whatever the longest new chain; the cluster path
    needs O(log² n) star rounds of several jobs each. The known CC
    hazard (one giant component making every fold touch it) is inherent
    to the problem, not the increment; past the driver bound it is what
    sends a fold to the cluster path. The reference engine has no graph
    operators — extension surface, same doctrine as operators/graph.py."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    spark = new_edges.sparkSession
    e = (
        new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    store = read_store(spark, store_path)
    has_meta = False
    if store is not None:
        n_buckets, has_meta = _resolve_n_buckets(spark, store_path, n_buckets)

    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # the id type the cluster path would write: the batch's, widened
    # with the store's (analysis only, no job)
    typed = verts if store is None else verts.union(store.select("id"))
    id_type = typed.schema["id"].dataType
    pairs = _fold_on_driver(e, id_type, store, n_buckets)
    if pairs is None:
        delta = _fold_on_spark(e, verts, store, n_buckets)
    elif pairs:
        ids, comps = zip(*pairs)
        delta = _label_frame(spark, ids, comps, id_type).withColumn(
            "cb", hash_bucket("id", n_buckets, salt="cc")
        )
    else:
        delta = None
    if delta is None:
        # keep the caller's vertex id type in the empty result
        return verts.limit(0).withColumn("component", F.col("id"))

    rows = delta
    if store is not None:
        touched = delta.select("cb").distinct()
        rows = delta.unionByName(
            store.join(F.broadcast(touched), "cb", "semi")
            .join(delta.select("id"), "id", "left_anti")
            .select("id", "component", "cb")
        )
    # a fold never empties a bucket (cb = hash(id), and every stored id
    # keeps its row), so there is no drained bucket to look for
    rewrite_partitions(spark, store_path, rows, "cb", touched=())
    if not has_meta:
        write_small(
            spark,
            store_path + "__meta",
            json.dumps({"n_buckets": n_buckets}).encode(),
        )
    return delta.select("id", "component")


def components_store_retract(
    spark: SparkSession,
    store_path: str,
    ids,
    n_buckets: int | None = None,
) -> DataFrame:
    """See :func:`components_store_retract_counted` — this form returns
    only the relabel delta (the original public surface)."""
    return components_store_retract_counted(
        spark, store_path, ids, n_buckets=n_buckets
    )[0]


def _retract_on_driver(spark: SparkSession, store: DataFrame, ids, n_buckets):
    """(delta, removed, touch ids, touched buckets) from one collect of the
    affected members with their buckets: the new minimum per component,
    the relabeled survivors and the removed rows are worked out on the
    driver. None when an id type is not an integer or the ids plus the
    members hold more than idgate.BROADCAST_ID_LIMIT rows."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    id_type = store.schema["id"].dataType
    if not (
        isinstance(id_type, T.IntegralType)
        and isinstance(ids.schema["id"].dataType, T.IntegralType)
    ):
        return None
    lim = idgate.BROADCAST_ID_LIMIT
    hb = hash_bucket("id", n_buckets, salt="cc").alias("cb")
    idrows = _bounded(ids.select("id", hb), lim)
    if idrows is None:
        return None
    acomps = (
        store.filter(F.col("cb").isin(sorted({r.cb for r in idrows})))
        .join(F.broadcast(ids), "id", "semi")
        .select("component")
        .distinct()
    )
    members = _bounded(
        store.join(F.broadcast(acomps), "component", "semi").select(
            "id", "component", "cb"
        ),
        lim - len(idrows),
    )
    if members is None:
        return None
    retracted = {r.id for r in idrows}
    newmin: dict = {}
    for r in members:
        if r.id not in retracted:
            newmin[r.component] = min(newmin.get(r.component, r.id), r.id)
    removed = [r for r in members if r.id in retracted]
    relabeled = [
        r
        for r in members
        if r.id not in retracted and newmin[r.component] != r.component
    ]
    delta = _label_frame(
        spark,
        [r.id for r in relabeled],
        [newmin[r.component] for r in relabeled],
        id_type,
    )
    touched = removed + relabeled
    touch_ids = F.broadcast(long_frame(spark, {"id": [r.id for r in touched]}))
    return delta, len(removed), touch_ids, sorted({r.cb for r in touched})


def _retract_on_spark(store: DataFrame, ids: DataFrame, n_buckets: int):
    """(delta, removed, touch ids, touched buckets) through checkpointed
    cluster relations — the path for id sets and affected components above
    the driver bound."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    # count-gate every id-set hint in this op: batch-sized forgets
    # broadcast, retention-sweep-sized sets (≥ idgate.BROADCAST_ID_LIMIT)
    # fall back to shuffle joins — the store side is cb-pruned or
    # semi-joined against affected components, so they stay delta-sized
    ids_j = gate_broadcast(ids)
    vbuckets = [
        r.cb
        for r in ids.select(hash_bucket("id", n_buckets, salt="cc").alias("cb"))
        .distinct()
        .collect()
    ]
    acomps = (
        store.filter(F.col("cb").isin(vbuckets))
        .join(ids_j, "id", "semi")
        .select("component")
        .distinct()
        .localCheckpoint()
    )
    n_acomps = acomps.count()
    if n_acomps == 0:
        return None, 0, None, []  # none of the ids are in the store
    acomps_j = gate_broadcast(acomps, n_rows=n_acomps)

    members = (
        store.join(acomps_j, "component", "semi")
        .select("id", "component")
        .localCheckpoint()
    )
    remaining = members.join(ids_j, "id", "left_anti")
    newlab = remaining.groupBy("component").agg(
        F.min("id").alias("__new")
    )
    delta = (
        remaining.join(newlab, "component")
        .filter(F.col("component") != F.col("__new"))
        .select("id", F.col("__new").alias("component"))
        .localCheckpoint()
    )

    # primary rewrite: buckets holding a removed id or a relabeled row
    gone = ids.join(members.select("id"), "id", "semi")  # ids actually stored
    n_removed = gone.count()  # one job over two checkpointed relations
    touch_ids = (
        gone.unionByName(delta.select("id")).distinct().localCheckpoint()
    )
    tvals = [
        r.cb
        for r in touch_ids.select(
            hash_bucket("id", n_buckets, salt="cc").alias("cb")
        )
        .distinct()
        .collect()
    ]
    return delta, n_removed, gate_broadcast(touch_ids), tvals


def components_store_retract_counted(
    spark: SparkSession,
    store_path: str,
    ids,
    n_buckets: int | None = None,
) -> tuple:
    """Retract vertex ids from the persistent label store — the
    GDPR/forget-this-document primitive components_incremental lacks
    (round-10 verdict #1, CC half): remove each id's row, and when a
    retracted id WAS its component's label (the minimum id), relabel the
    surviving members to their new minimum — so the store stays a valid
    converged labeling and later folds keep merging correctly.

    SEMANTICS — cluster retraction, not graph vertex deletion: the store
    keeps the star forest, not the original edges, so whether removing a
    cut vertex would SPLIT a component is unknowable here. The surviving
    members stay one component (the near-dup reading: their pairwise
    verdicts routed through the retracted item are forgotten but the
    cluster identity persists); callers needing exact split semantics
    must re-run CC over the retained edge relation.

    Per retract: the id set and the members of the affected components
    (cb-bucket-pruned semi-join of the ids, then one map-side full scan,
    as in components_incremental) are collected once, with each member's
    bucket, when together they hold at most idgate.BROADCAST_ID_LIMIT
    rows of integer ids; the new minimum per component, the relabeled
    survivors, the removed count and the touched buckets are then
    worked out on the driver. Larger sets, or other id types, take the
    same steps through checkpointed cluster relations. Either way the
    rewrite touches ONLY buckets holding a removed or relabeled row.
    Returns (delta, removed): the RELABELED survivors (id, component) —
    empty when no retracted id was a component label — and the number of
    store rows removed (the stored-victim count, computed from the
    already-located ``gone`` set so a forget sweep needs no second
    bucket-pruned pass; round-12 review finding #5). A MISSING store
    (never written,
    or removed by a previous retract-everything) is an empty store: the
    retract no-ops and returns the empty delta, whatever ``n_buckets``
    says — this is what makes a cross-store forget sweep
    (operators/forget.py) idempotently RE-RUNNABLE after a mid-sweep
    failure even when an earlier attempt fully drained this store (and
    took the meta file with it). Single-writer contract, as for every
    store in this module."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    ids = normalize_ids(spark, ids, "id")
    empty = ids.limit(0).withColumn("component", F.col("id"))
    store = read_store(spark, store_path)
    if store is None:
        return empty, 0
    n_buckets, _ = _resolve_n_buckets(spark, store_path, n_buckets)

    delta, n_removed, touch_ids_j, tvals = _retract_on_driver(
        spark, store, ids, n_buckets
    ) or _retract_on_spark(store, ids, n_buckets)
    if n_removed == 0:
        return empty, 0
    carry = (
        store.filter(F.col("cb").isin(tvals))
        .join(touch_ids_j, "id", "left_anti")
        .select("id", "component", "cb")
    )
    rows = delta.withColumn(
        "cb", hash_bucket("id", n_buckets, salt="cc")
    ).unionByName(carry)
    if rewrite_partitions(spark, store_path, rows, "cb", tvals):
        # retract-ALL removed the store; its meta goes with it, so the
        # next components_incremental is a clean first fold — the
        # correct forget-everything state
        remove(spark, store_path + "__meta")
    return delta.select("id", "component"), n_removed


def compact_components_store(
    spark: SparkSession,
    store_path: str,
) -> dict:
    """Compact the CC label store: every components_incremental fold
    rewrites only touched buckets, and a long-lived store accumulates
    small files whose open/footer cost comes to dominate the per-fold
    pruned reads — the compact_band_store problem on the label layout.
    Labels are carried BIT-IDENTICAL (pinned in tests). Single-writer
    contract. Returns {"rows", "files_before", "files_after"}."""
    rows, before, after = compact_partitions(spark, store_path, "cb")
    return {"rows": rows, "files_before": before, "files_after": after}
