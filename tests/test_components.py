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


def test_compact_components_store_bitexact_fewer_files(spark, tmp_path):
    """N folds accumulate small files; compaction coalesces to one file
    per bucket with the labeling BIT-IDENTICAL."""
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
        components_incremental(spark.createDataFrame(rows, ET), store)

    # fragment the layout the way an AQE rebalance split or a foreign
    # writer would: round-robin repartition before a full dynamic
    # overwrite puts several files in every bucket directory
    frag = spark.read.parquet(store).localCheckpoint()
    (
        frag.repartition(6)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cb")
        .parquet(store)
    )

    def snap(path):
        return {
            (r.id, r.component)
            for r in spark.read.parquet(path).select("id", "component").collect()
        }

    before = snap(store)
    res = compact_components_store(spark, store)
    assert snap(store) == before
    assert res["files_after"] < res["files_before"]
    assert res["rows"] == len(before)
    # compacted store still folds correctly
    components_incremental(spark.createDataFrame([(101, 1)], ET), store)
    after = snap(store)
    assert (101, 0) in after and (100, 0) in after and (1, 0) in after


def test_components_store_retract_all_resets_to_first_fold(spark, tmp_path):
    """Review fix, pinned: retracting EVERY id removes the store (plus
    meta) instead of leaving an unreadable bucket-less
    directory — the next fold is a clean first fold."""
    import os

    from arrowhouse_spark.operators.components import (
        components_incremental,
        components_store_retract,
    )

    store = str(tmp_path / "cc_store")
    ET = "src long, dst long"
    components_incremental(spark.createDataFrame([(1, 2), (10, 11)], ET), store)
    delta = components_store_retract(spark, store, [1, 2, 10, 11])
    assert delta.count() == 0
    assert not os.path.exists(store)
    assert not os.path.exists(store + "__meta")
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
    an identical relabel delta. The limit also picks the solver: the
    default solves on the driver, 0 on the cluster, so this compares the
    two paths as well."""
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


# -- both solver paths -------------------------------------------------------
# A touched subgraph within idgate.BROADCAST_ID_LIMIT rows is solved on the
# driver; forcing the limit to 0 sends every fold and retract through the
# cluster path (star contraction, checkpointed retract). Each store test
# above runs again on that path.


def _cluster_path(monkeypatch):
    from arrowhouse_spark.operators import idgate

    monkeypatch.setattr(idgate, "BROADCAST_ID_LIMIT", 0)


def test_components_incremental_matches_full_recompute_cluster_path(
    spark, tmp_path, monkeypatch
):
    _cluster_path(monkeypatch)
    test_components_incremental_matches_full_recompute(spark, tmp_path)


def test_components_store_retract_relabels_and_prunes_cluster_path(
    spark, tmp_path, monkeypatch
):
    _cluster_path(monkeypatch)
    test_components_store_retract_relabels_and_prunes(spark, tmp_path)


def test_components_store_retract_all_resets_to_first_fold_cluster_path(
    spark, tmp_path, monkeypatch
):
    _cluster_path(monkeypatch)
    test_components_store_retract_all_resets_to_first_fold(spark, tmp_path)


def test_compact_components_store_bitexact_fewer_files_cluster_path(
    spark, tmp_path, monkeypatch
):
    _cluster_path(monkeypatch)
    test_compact_components_store_bitexact_fewer_files(spark, tmp_path)


@pytest.mark.slow
@pytest.mark.parametrize("cluster", [False, True], ids=["driver", "cluster"])
def test_components_incremental_long_path_in_batches(
    spark, tmp_path, monkeypatch, cluster
):
    """A 150-vertex path folded in 5 batches, each taking every fifth
    edge, so later batches bridge earlier fragments, equals the union-find
    after every fold on both solver paths."""
    from arrowhouse_spark.operators.components import components_incremental

    if cluster:
        _cluster_path(monkeypatch)
    store = str(tmp_path / "cc_store")
    edges = [(i, i + 1) for i in range(149)]
    seen = []
    for k in range(5):
        batch = edges[k::5]
        seen += batch
        components_incremental(
            spark.createDataFrame(batch, "src long, dst long"), store
        )
        got = {
            r.id: r.component
            for r in spark.read.parquet(store).select("id", "component").collect()
        }
        assert got == _model(seen)
    assert set(got.values()) == {0}


def test_components_store_jobs_bounded(spark, tmp_path):
    """On a store the size of perfbench's (72 live ids, 4 buckets) one fold
    and one retract each run a bounded number of Spark jobs, where star
    contraction took 88 and the checkpointed retract 33. Ceilings, not
    exact counts: adaptive execution may run a stage as its own job."""
    from perfbench.workloads import CcModel

    from arrowhouse_spark.operators.components import (
        components_incremental,
        components_store_retract_counted,
    )

    store, ET = str(tmp_path / "cc_store"), "src long, dst long"
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    model = CcModel()

    def fold(edges):
        model.fold(edges)
        return components_incremental(
            spark.createDataFrame(edges, ET), store, n_buckets=4
        )

    fold(
        [(i, i + 1) for i in range(0, 72, 2)]
        + [(i, i - 5) for i in range(6, 72, 6)]
    )
    new = list(range(72, 96))
    batch = [(new[i], new[i + 1]) for i in range(0, 24, 2)]
    batch += [(new[i], (7 * i) % 72) for i in range(0, 24, 6)]
    before = sched.numTotalJobs()
    fold(batch)
    fold_jobs = sched.numTotalJobs() - before

    ids = sorted(model.label)[:24]
    model.retract(ids)
    before = sched.numTotalJobs()
    _, removed = components_store_retract_counted(spark, store, ids)
    retract_jobs = sched.numTotalJobs() - before

    got = {
        r.id: r.component
        for r in spark.read.parquet(store).select("id", "component").collect()
    }
    assert removed == 24 and got == model.label
    assert fold_jobs <= 16, fold_jobs
    assert retract_jobs <= 18, retract_jobs


@pytest.mark.slow
def test_components_store_state_machine(spark, tmp_path_factory, monkeypatch):
    """Random fold / retract / compact sequences on one store keep it equal
    to perfbench's CcModel after every step. Each fold and retract draws
    its solver: the driver (default bound) or the cluster (bound 0), so
    the two paths interleave on one store."""
    from hypothesis import HealthCheck, settings
    from hypothesis import strategies as st
    from hypothesis.stateful import (
        RuleBasedStateMachine,
        initialize,
        invariant,
        rule,
        run_state_machine_as_test,
    )
    from perfbench.workloads import CcModel

    from arrowhouse_spark.operators import idgate
    from arrowhouse_spark.operators.components import (
        compact_components_store,
        components_incremental,
        components_store_retract_counted,
    )

    default_limit = idgate.BROADCAST_ID_LIMIT
    ids = st.integers(0, 40)
    edge_lists = st.lists(st.tuples(ids, ids), min_size=1, max_size=10)

    def solve_on(cluster):
        # monkeypatch restores the default after the test
        monkeypatch.setattr(
            idgate, "BROADCAST_ID_LIMIT", 0 if cluster else default_limit
        )

    class CcStore(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.path = str(tmp_path_factory.mktemp("ccsm") / "store")
            self.model = CcModel()

        @initialize(edges=edge_lists, cluster=st.booleans())
        def first_fold(self, edges, cluster):
            self.fold(edges, cluster)

        @rule(edges=edge_lists, cluster=st.booleans())
        def fold(self, edges, cluster):
            solve_on(cluster)
            components_incremental(
                spark.createDataFrame(edges, "src long, dst long"),
                self.path,
                n_buckets=4,
            )
            self.model.fold([(a, b) for a, b in edges if a != b])

        @rule(data=st.data(), cluster=st.booleans())
        def retract(self, data, cluster):
            live = sorted(self.model.label)
            gone = data.draw(
                st.lists(st.sampled_from(live) if live else ids, max_size=6)
                | st.lists(ids, max_size=3)
            )
            solve_on(cluster)
            _, removed = components_store_retract_counted(
                spark, self.path, gone, n_buckets=4
            )
            assert removed == len(set(gone) & set(live))
            self.model.retract(gone)

        @rule()
        def compact(self):
            out = compact_components_store(spark, self.path)
            assert out["rows"] == len(self.model.label)

        @invariant()
        def store_matches_model(self):
            import os

            if not os.path.exists(self.path):
                assert self.model.label == {}
                return
            got = {
                r.id: r.component
                for r in spark.read.parquet(self.path)
                .select("id", "component")
                .collect()
            }
            assert got == self.model.label

    run_state_machine_as_test(
        CcStore,
        settings=settings(
            max_examples=4,
            stateful_step_count=8,
            deadline=None,
            derandomize=True,
            database=None,
            suppress_health_check=list(HealthCheck),
        ),
    )
