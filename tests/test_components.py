"""connected_components (operators/components.py) vs a union-find model."""

from __future__ import annotations

import pytest

import random


from arrowhouse_spark.operators.components import (
    connected_components,
    dedup_components,
)


def _model(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id per component
    comp = {}
    for v in list(parent):
        comp[v] = find(v)
    return comp


def test_components_random_graph(spark):
    rng = random.Random(5)
    edges = [(rng.randint(0, 120), rng.randint(0, 120)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == _model(edges)


@pytest.mark.slow
def test_components_chain(spark):
    # a pure path graph has maximal diameter — worst case for propagation
    edges = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(21)}


def test_dedup_components_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in dedup_components(docs, pairs).collect())
    # clusters {0,1,2} -> keep 0; {4,5} -> keep 4; isolated 3,6,7 pass through
    assert kept == [0, 3, 4, 6, 7]


def test_star_components_random_graph(spark):
    from arrowhouse_spark.operators.components import connected_components_star

    rng = random.Random(13)
    edges = [(rng.randint(0, 150), rng.randint(0, 150)) for _ in range(100)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in connected_components_star(df).collect()}
    assert got == _model(edges)


@pytest.mark.slow
def test_star_components_long_chain(spark):
    # 150-vertex path: diameter far beyond the propagation round cap —
    # the star contraction must converge in O(log^2 n) rounds
    from arrowhouse_spark.operators.components import connected_components_star

    edges = [(i, i + 1) for i in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in connected_components_star(df).collect()}
    assert got == {i: 0 for i in range(151)}

def test_dedup_keep_best_elects_max_score_min_id(spark):
    from arrowhouse_spark.operators.components import dedup_keep_best

    docs = spark.createDataFrame(
        [(0, 10), (1, 30), (2, 30), (3, 5), (4, 7), (5, 7), (6, 1)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    rows = {r.doc_id: (r.component, r.kept) for r in dedup_keep_best(docs, pairs).collect()}
    # cluster {0,1,2}: max n_chars ties 1 vs 2 at 30 -> min doc_id 1 wins
    assert rows[0] == (0, 0) and rows[1] == (0, 1) and rows[2] == (0, 0)
    # cluster {4,5}: tie at 7 -> 4 wins
    assert rows[4] == (4, 1) and rows[5] == (4, 0)
    # singletons are their own component and always kept
    assert rows[3] == (3, 1) and rows[6] == (6, 1)
    assert len(rows) == 7


def test_components_incremental_matches_full_recompute(spark, tmp_path):
    """Folding daily edge batches through the persistent label store gives
    the SAME labeling as one batch CC over the union — including a
    component MERGE across days (day-2 edge 3-10 joins day-1's {1,2,3}
    and {10,11} clusters under the global min label 1)."""
    from arrowhouse_spark.operators.components import (
        components_incremental,
        connected_components,
    )

    store = str(tmp_path / "cc_store")
    ET = "src long, dst long"
    day1 = [(1, 2), (2, 3), (10, 11), (30, 31)]
    day2 = [(3, 10), (20, 21)]  # merges 1-3 with 10-11; new cluster 20-21
    day3 = [(31, 32), (11, 1)]  # extends 30s; a redundant intra-comp edge

    def store_labels():
        return {
            r.id: r.component
            for r in spark.read.parquet(store).select("id", "component").collect()
        }

    for rows in (day1, day2, day3):
        components_incremental(spark.createDataFrame(rows, ET), store)
        # invariant after every fold: store == batch CC over edges so far

    full = {
        r.id: r.component
        for r in connected_components(
            spark.createDataFrame(day1 + day2 + day3, ET)
        ).collect()
    }
    assert store_labels() == full
    assert full[11] == 1 and full[10] == 1 and full[2] == 1  # merged
    assert full[21] == 20 and full[32] == 30

    # idempotent: re-folding an already-applied batch returns an empty
    # delta and leaves every store file untouched
    import os

    def snap_files():
        out = {}
        for root, _, files in os.walk(store):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = snap_files()
    delta = components_incremental(spark.createDataFrame(day2, ET), store)
    assert delta.count() == 0
    assert snap_files() == before
    assert store_labels() == full

    # a fold touching one cluster must not rewrite other clusters' buckets:
    # every parquet file in an untouched bucket keeps its mtime
    delta = components_incremental(
        spark.createDataFrame([(21, 22)], ET), store
    )
    assert {r.id: r.component for r in delta.collect()} == {22: 20}
    after = snap_files()
    untouched_before = {
        p: t for p, t in before.items() if "cb=" in p
    }
    # only the bucket holding id 22 may change; ids {1..32} span several
    # buckets, so SOME files must survive byte-for-byte untouched
    survivors = {
        p for p, t in untouched_before.items()
        if p in after and after[p] == t
    }
    assert survivors, "dynamic overwrite rewrote every bucket"


def test_components_incremental_comp_index_parity_and_pruning(spark, tmp_path):
    """comp_index=True maintains a component-bucketed twin next to the
    store: folds give the SAME labeling as comp_index=False and as one
    batch CC; the twin stays row-identical to the primary after every
    fold (incl. a cross-day merge that moves rows between comp buckets);
    and toggling comp_index off against a twinned store refuses loudly."""
    import pytest

    from arrowhouse_spark.operators.components import (
        components_incremental,
        connected_components,
    )

    store = str(tmp_path / "ccx")
    ET = "src long, dst long"
    days = [
        [(1, 2), (2, 3), (10, 11), (30, 31)],
        [(3, 10), (20, 21)],
        [(31, 32), (21, 1)],  # merges 20s into comp 1; extends 30s
    ]
    for rows in days:
        components_incremental(
            spark.createDataFrame(rows, ET), store, comp_index=True
        )
        primary = {
            (r.id, r.component)
            for r in spark.read.parquet(store).select("id", "component").collect()
        }
        twin = {
            (r.id, r.component)
            for r in spark.read.parquet(store + "__bycomp")
            .select("id", "component")
            .collect()
        }
        assert primary == twin  # invariant after EVERY fold

    full = {
        (r.id, r.component)
        for r in connected_components(
            spark.createDataFrame([e for d in days for e in d], ET)
        ).collect()
    }
    assert primary == full
    assert dict(full)[21] == 1  # the cross-day merge moved comp buckets

    with pytest.raises(ValueError, match="component index twin"):
        components_incremental(
            spark.createDataFrame([(40, 41)], ET), store, comp_index=False
        )


def test_components_incremental_n_buckets_pinned(spark, tmp_path):
    """A fold with a different n_buckets than the store was built with
    would prune the wrong partitions and silently mislabel — the meta
    file refuses it."""
    import pytest

    from arrowhouse_spark.operators.components import components_incremental

    store = str(tmp_path / "nb")
    ET = "src long, dst long"
    components_incremental(spark.createDataFrame([(1, 2)], ET), store, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        components_incremental(
            spark.createDataFrame([(2, 3)], ET), store, n_buckets=32
        )
    # matching value still folds
    components_incremental(spark.createDataFrame([(2, 3)], ET), store, n_buckets=16)
    got = {r.id: r.component for r in spark.read.parquet(store).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_components_store_retract_relabels_and_prunes(spark, tmp_path):
    """Retraction semantics on the persistent store: removing a non-root
    member just deletes its row; removing the ROOT (the component's min
    id == its label) relabels survivors to the new minimum; retracting a
    whole cluster drains its rows (and its bucket when it was alone
    there); and the resulting store equals a rebuild from the retained
    id set's pair history. Untouched clusters' buckets keep their files
    byte-for-byte."""
    import os

    from arrowhouse_spark.operators.components import (
        components_incremental,
        components_store_retract,
    )

    store = str(tmp_path / "cc_store")
    ET = "src long, dst long"
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (30, 31)]
    components_incremental(spark.createDataFrame(edges, ET), store)

    def labels():
        return {
            r.id: r.component
            for r in spark.read.parquet(store).select("id", "component").collect()
        }

    def snap_files():
        out = {}
        for root, _, files in os.walk(store):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    assert labels() == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 30: 30, 31: 30}

    # non-root retract: id 2 goes, nobody relabels
    before = snap_files()
    delta = components_store_retract(spark, store, [2])
    assert delta.count() == 0
    assert labels() == {1: 1, 3: 1, 10: 10, 11: 10, 12: 10, 30: 30, 31: 30}
    after = snap_files()
    assert any(p in after and after[p] == t for p, t in before.items()), (
        "retract rewrote every bucket"
    )

    # root retract: 10 was the label of {10,11,12}; survivors relabel to 11
    delta = components_store_retract(spark, store, [10])
    assert {r.id: r.component for r in delta.collect()} == {11: 11, 12: 11}
    assert labels() == {1: 1, 3: 1, 11: 11, 12: 11, 30: 30, 31: 30}

    # whole-cluster retract drains {30,31}; unknown id 99 is a no-op
    delta = components_store_retract(spark, store, [30, 31, 99])
    assert delta.count() == 0
    assert labels() == {1: 1, 3: 1, 11: 11, 12: 11}

    # the store stays a valid labeling: a later fold keeps merging on it
    components_incremental(spark.createDataFrame([(3, 12)], ET), store)
    assert labels() == {1: 1, 3: 1, 11: 1, 12: 1}


def test_components_store_retract_twin_consistent(spark, tmp_path):
    """Retract against a comp_index store keeps the __bycomp twin
    row-identical to the primary — including the ccb bucket MOVE when a
    root retires and its component relabels."""
    from arrowhouse_spark.operators.components import (
        components_incremental,
        components_store_retract,
    )

    store = str(tmp_path / "cc_store")
    ET = "src long, dst long"
    components_incremental(
        spark.createDataFrame([(1, 2), (2, 3), (10, 11), (11, 12)], ET),
        store,
        comp_index=True,
    )
    delta = components_store_retract(spark, store, [1, 10])
    assert {r.id: r.component for r in delta.collect()} == {
        2: 2, 3: 2, 11: 11, 12: 11,
    }
    prim = {
        (r.id, r.component)
        for r in spark.read.parquet(store).select("id", "component").collect()
    }
    twin = {
        (r.id, r.component)
        for r in spark.read.parquet(store + "__bycomp")
        .select("id", "component")
        .collect()
    }
    assert prim == twin == {(2, 2), (3, 2), (11, 11), (12, 11)}
    # twin still prunes correctly: a comp_index fold after retract works
    components_incremental(
        spark.createDataFrame([(3, 12)], ET), store, comp_index=True
    )
    prim2 = {
        (r.id, r.component)
        for r in spark.read.parquet(store).select("id", "component").collect()
    }
    assert prim2 == {(2, 2), (3, 2), (11, 2), (12, 2)}


def test_components_crashed_twin_is_rebuilt(spark, tmp_path):
    """A crashed first twin write leaves a ``__bycomp`` directory holding
    only ``_temporary``. It counts as absent: the next comp_index fold
    full-scans and rebuilds the twin, and a retract meanwhile uses the
    primary store."""
    import os
    import shutil

    from arrowhouse_spark.operators.components import (
        components_incremental,
        components_store_retract,
        connected_components,
    )

    store = str(tmp_path / "cc_store")
    twin = store + "__bycomp"
    ET = "src long, dst long"
    days = [[(1, 2), (10, 11), (30, 31)], [(2, 10), (40, 41)]]

    def crash_twin():
        shutil.rmtree(twin)
        os.makedirs(twin + "/_temporary/0")

    def labels(path):
        return {
            (r.id, r.component)
            for r in spark.read.parquet(path).select("id", "component").collect()
        }

    components_incremental(spark.createDataFrame(days[0], ET), store, comp_index=True)
    crash_twin()
    components_incremental(spark.createDataFrame(days[1], ET), store, comp_index=True)
    full = {
        (r.id, r.component)
        for r in connected_components(
            spark.createDataFrame([e for d in days for e in d], ET)
        ).collect()
    }
    assert labels(store) == labels(twin) == full

    crash_twin()
    delta = components_store_retract(spark, store, [1])
    assert {r.id: r.component for r in delta.collect()} == {2: 2, 10: 2, 11: 2}
    assert labels(store) == {(2, 2), (10, 2), (11, 2), (30, 30), (31, 30), (40, 40), (41, 40)}


def test_compact_components_store_bitexact_fewer_files(spark, tmp_path):
    """N folds accumulate small files; compaction coalesces to one file
    per bucket with the labeling BIT-IDENTICAL (twin included)."""
    from arrowhouse_spark.operators.components import (
        compact_components_store,
        components_incremental,
    )

    store = str(tmp_path / "cc_store")
    ET = "src long, dst long"
    days = [
        [(i, i + 1) for i in range(0, 20, 2)],
        [(i, i + 1) for i in range(40, 60, 2)],
        [(1, 41), (5, 45)],
        [(100, 101)],
    ]
    for rows in days:
        components_incremental(
            spark.createDataFrame(rows, ET), store, comp_index=True
        )

    # fragment the layout the way an AQE rebalance split or a foreign
    # writer would: round-robin repartition before a full dynamic
    # overwrite puts several files in every bucket directory
    for path, pcol in ((store, "cb"), (store + "__bycomp", "ccb")):
        frag = spark.read.parquet(path).localCheckpoint()
        (
            frag.repartition(6)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(pcol)
            .parquet(path)
        )

    def snap(path):
        return {
            (r.id, r.component)
            for r in spark.read.parquet(path).select("id", "component").collect()
        }

    before, tbefore = snap(store), snap(store + "__bycomp")
    res = compact_components_store(spark, store)
    assert snap(store) == before
    assert snap(store + "__bycomp") == tbefore
    assert res["files_after"] < res["files_before"]
    assert res["rows"] == len(before) and res["twin_rows"] == len(tbefore)
    # compacted store still folds correctly
    components_incremental(
        spark.createDataFrame([(101, 1)], ET), store, comp_index=True
    )
    after = snap(store)
    assert (101, 0) in after and (100, 0) in after and (1, 0) in after


def test_components_store_retract_all_resets_to_first_fold(spark, tmp_path):
    """Review fix, pinned: retracting EVERY id removes the store (plus
    meta and twin) instead of leaving an unreadable bucket-less
    directory — the next fold is a clean first fold."""
    import os

    from arrowhouse_spark.operators.components import (
        components_incremental,
        components_store_retract,
    )

    store = str(tmp_path / "cc_store")
    ET = "src long, dst long"
    components_incremental(
        spark.createDataFrame([(1, 2), (10, 11)], ET), store, comp_index=True
    )
    delta = components_store_retract(spark, store, [1, 2, 10, 11])
    assert delta.count() == 0
    assert not os.path.exists(store)
    assert not os.path.exists(store + "__meta")
    assert not os.path.exists(store + "__bycomp")
    # clean first fold afterwards
    components_incremental(spark.createDataFrame([(5, 6)], ET), store)
    labels = {
        (r.id, r.component)
        for r in spark.read.parquet(store).select("id", "component").collect()
    }
    assert labels == {(5, 5), (6, 5)}


def test_components_store_retract_shuffle_regime_matches_broadcast(
    spark, tmp_path, monkeypatch
):
    """The retraction id-set joins are count-gated (idgate): batch-sized
    forgets keep the broadcast hint, retention-sweep-sized sets (above
    BROADCAST_ID_LIMIT, default 1e6) drop to shuffle semi/anti joins so
    a 1e8-id sweep cannot OOM driver or executors (round-11 verdict #1).
    The hint never changes semantics: the same retract through BOTH
    regimes (limit forced to 0) must leave an identical store and emit
    an identical relabel delta."""
    from arrowhouse_spark.operators import idgate
    from arrowhouse_spark.operators.components import (
        components_incremental,
        components_store_retract,
    )

    ET = "src long, dst long"
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (30, 31), (40, 41)]

    def build_and_retract(store: str):
        components_incremental(spark.createDataFrame(edges, ET), store)
        delta = components_store_retract(spark, store, [1, 10, 30])
        labels = {
            r.id: r.component
            for r in spark.read.parquet(store)
            .select("id", "component")
            .collect()
        }
        return {r.id: r.component for r in delta.collect()}, labels

    d_bcast, l_bcast = build_and_retract(str(tmp_path / "bcast"))
    monkeypatch.setattr(idgate, "BROADCAST_ID_LIMIT", 0)
    d_shuf, l_shuf = build_and_retract(str(tmp_path / "shuffle"))
    assert d_bcast == d_shuf
    assert l_bcast == l_shuf
    assert l_bcast == {2: 2, 3: 2, 11: 11, 12: 11, 31: 31, 40: 40, 41: 40}
