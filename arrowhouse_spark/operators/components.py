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

Scale notes: labels are localCheckpoint()ed every round — iterative Spark
jobs otherwise accumulate lineage until planning itself dominates. The
convergence probe is a LIMIT 1 anti-equality join, not a full count.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrowhouse_spark.operators.idgate import gate_broadcast
from arrowhouse_spark.operators.store import (
    compact_partitions,
    exists,
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


def components_incremental(
    new_edges: DataFrame,
    store_path: str,
    src: str = "src",
    dst: str = "dst",
    n_buckets: int = 16,
    comp_index: bool = False,
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
      2. affected members = store rows of those components — with
         ``comp_index=False`` this is the one full-store MAP-SIDE scan
         per fold (a broadcast semi-join); with ``comp_index=True`` a
         component-bucketed TWIN of the labels is maintained next to the
         store (``<store>__bycomp``, partitioned by ccb =
         hash_bucket(component)) and the lookup reads ONLY the affected
         components' ccb partitions — no full scan anywhere in the fold;
      3. large-star/small-star CC over (member stars ∪ new edges) — the
         sub-graph is affected-components-sized, and stars are depth 1,
         so rounds stay O(log² longest NEW chain);
      4. delta = labels that changed or are new; if empty (replayed
         batch), the fold is a no-op — idempotent by construction, the
         stream_scd2 doctrine;
      5. rewrite ONLY the delta's buckets via dynamic partition
         overwrite, carrying those buckets' unaffected rows over.

    Returns the delta labels (id, component) this fold committed.

    Scale: the store is never shuffled — steps 1-2 are broadcast
    semi-joins against batch-sized / affected-sized relations, step 5
    reads only touched partitions. The known CC hazard (one giant
    component making every fold touch it) is inherent to the problem,
    not the increment. The reference engine has no graph operators —
    extension surface, same doctrine as operators/graph.py."""
    from arrowhouse_spark.operators.sampling import hash_bucket

    spark = new_edges.sparkSession
    twin_path = store_path + "__bycomp"
    e = (
        new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    store = read_store(spark, store_path)
    has_meta, twin = False, None
    if store is not None:
        n_buckets, has_meta = _resolve_n_buckets(spark, store_path, n_buckets)
        if comp_index:
            # an unreadable twin (a crashed first twin write) is absent:
            # this fold full-scans and the write below rebuilds it
            twin = read_store(spark, twin_path)
        elif exists(spark, twin_path):
            # a twin left behind by comp_index=True folds would go
            # silently STALE here and corrupt a later comp_index=True fold
            raise ValueError(
                f"store {store_path!r} has a component index twin; "
                "keep passing comp_index=True for its whole lifecycle "
                "(or delete the twin directory to drop the index)"
            )

    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
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
        members_src = store
        if twin is not None:
            cbuckets = [
                r.ccb
                for r in acomps.select(
                    hash_bucket(
                        "component", n_buckets, salt="ccb"
                    ).alias("ccb")
                )
                .distinct()
                .collect()
            ]
            members_src = twin.filter(F.col("ccb").isin(cbuckets))
        members = (
            members_src.join(F.broadcast(acomps), "component", "semi")
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
        # keep the caller's vertex id type in the empty result
        return verts.limit(0).withColumn("component", F.col("id"))

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
    if delta.isEmpty():
        return delta.select("id", "component")

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
    if comp_index:
        ccb = hash_bucket("component", n_buckets, salt="ccb").alias("ccb")
        if twin is not None:
            # touched ccb partitions = new positions of the delta rows ∪
            # OLD positions of every affected component (rows that merged
            # away must leave their old bucket when it is rewritten)
            tvals = [
                r.ccb
                for r in delta.select(ccb)
                .unionByName(acomps.select(ccb))
                .distinct()
                .collect()
            ]
            tcarry = (
                twin.filter(F.col("ccb").isin(tvals))
                .join(delta.select("id"), "id", "left_anti")
                .select("id", "component", "ccb")
            )
            rewrite_partitions(
                spark,
                twin_path,
                delta.select("id", "component", ccb).unionByName(tcarry),
                "ccb",
                tvals,
            )
        else:
            # first fold, or adopting a twin-less store: build the twin
            # from the full labeling just committed
            (
                spark.read.parquet(store_path)
                .select("id", "component", ccb)
                .repartition("ccb")
                .write.mode("overwrite")
                .partitionBy("ccb")
                .parquet(twin_path)
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

    Per retract (all pruned, nothing global): locate = cb-bucket-pruned
    semi-join of the id set; members of affected components come from the
    ``__bycomp`` twin's ccb partitions when present (else one map-side
    full scan, as in components_incremental; an unreadable twin counts
    as absent); the rewrite touches ONLY buckets holding a removed or
    relabeled row. The twin is kept consistent, including label moves
    across ccb buckets.
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
    # count-gate every id-set hint in this op: batch-sized forgets
    # broadcast, retention-sweep-sized sets (≥ idgate.BROADCAST_ID_LIMIT)
    # fall back to shuffle joins — the store side is cb/ccb-pruned at
    # every site, so the shuffles stay delta-sized
    ids_j = gate_broadcast(ids)
    n_buckets, _ = _resolve_n_buckets(spark, store_path, n_buckets)
    twin_path = store_path + "__bycomp"

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
        return empty, 0  # none of the ids are in the store
    acomps_j = gate_broadcast(acomps, n_rows=n_acomps)

    twin = read_store(spark, twin_path)
    if twin is not None:
        cbuckets = [
            r.ccb
            for r in acomps.select(
                hash_bucket("component", n_buckets, salt="ccb").alias("ccb")
            )
            .distinct()
            .collect()
        ]
        members_src = twin.filter(F.col("ccb").isin(cbuckets))
    else:
        members_src = store
    members = (
        members_src.join(acomps_j, "component", "semi")
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
    touch_ids_j = gate_broadcast(touch_ids)
    tvals = [
        r.cb
        for r in touch_ids.select(
            hash_bucket("id", n_buckets, salt="cc").alias("cb")
        )
        .distinct()
        .collect()
    ]
    carry = (
        store.filter(F.col("cb").isin(tvals))
        .join(touch_ids_j, "id", "left_anti")
        .select("id", "component", "cb")
    )
    rows = delta.withColumn(
        "cb", hash_bucket("id", n_buckets, salt="cc")
    ).unionByName(carry)
    if rewrite_partitions(spark, store_path, rows, "cb", tvals):
        # retract-ALL removed the store; its meta and twin go with it, so
        # the next components_incremental is a clean first fold — the
        # correct forget-everything state
        remove(spark, store_path + "__meta")
        remove(spark, twin_path)
    elif twin is not None:
        ccb = hash_bucket("component", n_buckets, salt="ccb").alias("ccb")
        # touched ccb = every affected component's OLD bucket ∪ the delta
        # rows' NEW buckets (labels move buckets when the root retires)
        tcvals = [
            r.ccb
            for r in acomps.select(ccb)
            .unionByName(delta.select(ccb))
            .distinct()
            .collect()
        ]
        tcarry = (
            twin.filter(F.col("ccb").isin(tcvals))
            .join(touch_ids_j, "id", "left_anti")
            .select("id", "component", "ccb")
        )
        rewrite_partitions(
            spark,
            twin_path,
            delta.select("id", "component", ccb).unionByName(tcarry),
            "ccb",
            tcvals,
        )
    return delta.select("id", "component"), n_removed


def compact_components_store(
    spark: SparkSession,
    store_path: str,
) -> dict:
    """Compact the CC label store (and its ``__bycomp`` twin when
    present): every components_incremental fold rewrites only touched
    buckets, and a long-lived store accumulates small files whose
    open/footer cost comes to dominate the per-fold pruned reads — the
    compact_band_store problem on the label layout. Labels are carried
    BIT-IDENTICAL (pinned in tests). Single-writer contract. Returns
    {"rows", "files_before", "files_after"} (plus "twin_rows")."""
    rows, before, after = compact_partitions(spark, store_path, "cb")
    res = {"rows": rows, "files_before": before, "files_after": after}
    twin_path = store_path + "__bycomp"
    if exists(spark, twin_path):
        trows, tbefore, tafter = compact_partitions(spark, twin_path, "ccb")
        res["twin_rows"] = trows
        res["files_before"] += tbefore
        res["files_after"] += tafter
    return res
