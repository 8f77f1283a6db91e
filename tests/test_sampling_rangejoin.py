"""Tests for deterministic sampling (operators/sampling.py) and the bucketed
range join (operators/rangejoin.py) — both capability-superset operators for
training-data pipelines (no reference counterpart; SURVEY.md §2.4 notes the
reference has no joins at all)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from arrowhouse_spark.operators.rangejoin import range_join
from arrowhouse_spark.operators.sampling import (
    hash_sample,
    stratified_sample_exact,
    train_test_split,
)


def test_split_is_stable_and_disjoint(spark):
    df = spark.range(0, 2000).toDF("k")
    train, test = train_test_split(df, "k", test_frac=0.2)
    train_ids = {r.k for r in train.collect()}
    test_ids = {r.k for r in test.collect()}
    assert train_ids.isdisjoint(test_ids)
    assert len(train_ids) + len(test_ids) == 2000
    # fraction lands near 20% (hash uniformity)
    assert 0.15 < len(test_ids) / 2000 < 0.25
    # assignment is a pure function of the key: a differently-partitioned,
    # differently-sized frame assigns identically
    df2 = spark.range(0, 500).toDF("k").repartition(7)
    _, test2 = train_test_split(df2, "k", test_frac=0.2)
    assert {r.k for r in test2.collect()} == {k for k in test_ids if k < 500}


def test_hash_sample_deterministic(spark):
    df = spark.range(0, 1000).toDF("k")
    a = {r.k for r in hash_sample(df, "k", 0.3).collect()}
    b = {r.k for r in hash_sample(df.repartition(13), "k", 0.3).collect()}
    assert a == b
    assert 0.25 < len(a) / 1000 < 0.35


def test_stratified_exact_counts(spark):
    rows = [(i, "ab"[i % 2] * (1 + i % 3)) for i in range(333)]
    df = spark.createDataFrame(rows, "k long, s string")
    out = stratified_sample_exact(df, ["s"], 0.1, "k")
    got = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    want = {
        r["s"]: math.ceil(0.1 * r["n"])
        for r in df.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    # deterministic: second run picks the same rows
    again = stratified_sample_exact(df, ["s"], 0.1, "k")
    assert {r.k for r in out.collect()} == {r.k for r in again.collect()}


def test_range_join_matches_naive(spark):
    rng = random.Random(3)
    points = [(i, rng.randint(-50, 1050)) for i in range(300)]
    intervals = [
        (j, lo := rng.randint(-60, 1000), lo + rng.randint(0, 250))
        for j in range(60)
    ]
    pdf = spark.createDataFrame(points, "pid long, p long")
    idf = spark.createDataFrame(intervals, "iid long, lo long, hi long")
    got = {
        (r.pid, r.iid)
        for r in range_join(
            pdf, idf, point_col="p", lo_col="lo", hi_col="hi", bucket_width=100
        ).collect()
    }
    want = {
        (pid, iid)
        for pid, p in points
        for iid, lo, hi in intervals
        if lo <= p <= hi
    }
    assert got == want


def test_range_join_by_keys_and_boundaries(spark):
    pdf = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 200), (3, "v", 100), (4, "u", 201)],
        "pid long, u string, p long",
    )
    idf = spark.createDataFrame(
        [(10, "u", 100, 200), (20, "v", 150, 300)], "iid long, u string, lo long, hi long"
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            pdf,
            idf,
            point_col="p",
            lo_col="lo",
            hi_col="hi",
            by=["u"],
            bucket_width=64,
        ).collect()
    }
    # both endpoints inclusive; by-key separates users; 201 is outside
    assert got == {(1, 10), (2, 10)}


def test_source_mixing_plan_exact(spark):
    from arrowhouse_spark.operators.sampling import source_mixing_plan

    df = spark.createDataFrame(
        [(i, "a" if i < 50 else ("b" if i < 80 else "c")) for i in range(100)],
        "doc_id: long, source: string",
    )
    # n = {a:50, b:30, c:20}; weights 5/3/1 → m = min(10, 10, 20) = 10
    plan = {
        r.source: (r.n_avail, r.take_n)
        for r in source_mixing_plan(df, {"a": 5, "b": 3, "c": 1}).collect()
    }
    assert plan == {"a": (50, 50), "b": (30, 30), "c": (20, 10)}


def test_source_mixed_sample_deterministic_and_mix(spark):
    from arrowhouse_spark.operators.sampling import source_mixed_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)],
        "doc_id: long, source: string",
    )
    # n = {a:50, b:50}; weights 3/1 → m = 16 → take a:48, b:16
    out1 = source_mixed_sample(df, {"a": 3, "b": 1}, key="doc_id")
    got1 = sorted((r.source, r.doc_id) for r in out1.collect())
    counts = {}
    for s, _ in got1:
        counts[s] = counts.get(s, 0) + 1
    assert counts == {"a": 48, "b": 16}
    # deterministic under repartitioning
    out2 = source_mixed_sample(df.repartition(7), {"a": 3, "b": 1}, key="doc_id")
    assert sorted((r.source, r.doc_id) for r in out2.collect()) == got1
    # the same keys in two sources: n = {a:10, b:10}; weights 2/1 → m = 5
    # → take a:10, b:5 — a key winning in a must not carry its b copy
    both = spark.createDataFrame(
        [(i, s) for s in ("a", "b") for i in range(10)],
        "doc_id: long, source: string",
    )
    got3 = [
        r.source
        for r in source_mixed_sample(both, {"a": 2, "b": 1}, key="doc_id").collect()
    ]
    assert (got3.count("a"), got3.count("b")) == (10, 5)


def test_source_mixing_rejects_bad_weights(spark):
    import pytest

    from arrowhouse_spark.operators.sampling import source_mixing_plan

    df = spark.createDataFrame([(1, "a")], "doc_id: long, source: string")
    with pytest.raises(ValueError):
        source_mixing_plan(df, {"a": 0})


def test_source_mixed_sample_approx_mode(spark):
    """exact=False: map-side rate filter — no window in the plan, counts
    binomial around take_n, and still deterministic per row."""
    from arrowhouse_spark.operators.sampling import source_mixed_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "doc_id: long, source: string",
    )
    # n = {a:1000, b:1000}; weights 3/1 → m=333 → take a:999, b:333
    out = source_mixed_sample(df, {"a": 3, "b": 1}, key="doc_id", exact=False)
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()
    got = sorted((r.source, r.doc_id) for r in out.collect())
    counts = {}
    for s, _ in got:
        counts[s] = counts.get(s, 0) + 1
    # binomial tolerance: ±5 sigma ≈ ±5*sqrt(take*(1-take/n))
    assert abs(counts["a"] - 999) < 5 * (999 * (1 - 0.999)) ** 0.5 + 5
    assert abs(counts["b"] - 333) < 5 * (333 * (1 - 0.333)) ** 0.5 + 5
    # per-row determinism: same result under a different layout
    out2 = source_mixed_sample(
        df.repartition(11), {"a": 3, "b": 1}, key="doc_id", exact=False
    )
    assert sorted((r.source, r.doc_id) for r in out2.collect()) == got


def test_split_leakage_check_finds_cross_split_dups(spark):
    from arrowhouse_spark.operators.sampling import (
        split_leakage_check,
        train_test_split,
        hash_bucket,
    )
    from pyspark.sql import functions as F

    # find two ids that land on opposite sides of the 50/50 split, give
    # them identical text, and assert exactly that fingerprint is flagged
    ids = spark.range(100).select(F.col("id").alias("doc_id"))
    b = {
        r.doc_id: r.bucket
        for r in ids.select(
            "doc_id", hash_bucket("doc_id", 1000, "split").alias("bucket")
        ).collect()
    }
    lo = next(i for i in sorted(b) if b[i] < 500)
    hi = next(i for i in sorted(b) if b[i] >= 500)
    rows = [(lo, "dup text"), (hi, "dup text"), (99999, "unique text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = split_leakage_check(df, test_frac=0.5).collect()
    assert len(out) == 1
    assert out[0].n_train == 1 and out[0].n_test == 1
    assert {out[0].min_train_id, out[0].min_test_id} == {lo, hi}


def test_temperature_mixing_plan_alpha_behavior(spark):
    from pyspark.sql import functions as F

    from arrowhouse_spark.operators.sampling import temperature_mixing_plan

    rows = (
        [(i, "big") for i in range(900)]
        + [(900 + i, "mid") for i in range(90)]
        + [(990 + i, "small") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def plan(alpha, total=100):
        return {
            r.source: r.take_n
            for r in temperature_mixing_plan(df, alpha=alpha, total=total).collect()
        }

    nat = plan(1.0)
    # alpha=1 reproduces natural proportions of the budget
    assert nat == {"big": 90, "mid": 9, "small": 1}
    flat = plan(0.0)
    # alpha=0 is uniform across sources (floor(100/3) each, capped by avail)
    assert flat == {"big": 33, "mid": 33, "small": 10}
    mid = plan(0.5)
    # intermediate alpha upweights small sources, downweights the head
    assert mid["small"] > nat["small"] and mid["big"] < nat["big"]
    # take_n never exceeds availability
    capped = plan(0.0, total=3000)
    assert capped["small"] <= 10 and capped["mid"] <= 90


def test_temperature_mix_sample_is_deterministic(spark):
    from arrowhouse_spark.operators.sampling import temperature_mix_sample

    rows = [(i, f"s{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(r.doc_id for r in temperature_mix_sample(df, total=80).collect())
    b = sorted(
        r.doc_id
        for r in temperature_mix_sample(df.orderBy("source"), total=80).collect()
    )
    assert a == b and len(a) == 80


def test_weighted_sample_deterministic_and_proportional(spark):
    """A-ES weighted sampling: same salt → identical draw; across salts,
    weight-10 rows are selected far more often than weight-1 rows (the
    proportionality the race key exists for); zero/NULL weights never
    qualify."""
    from arrowhouse_spark.operators.sampling import weighted_sample

    rows = [(i, 10 if i < 20 else 1) for i in range(40)]
    rows += [(98, 0), (99, None)]
    df = spark.createDataFrame(rows, "doc_id long, w int")

    a = [r.doc_id for r in weighted_sample(df, "w", k=10, salt="s0").collect()]
    b = [r.doc_id for r in weighted_sample(df, "w", k=10, salt="s0").collect()]
    assert a == b and len(a) == 10
    assert 98 not in a and 99 not in a

    heavy = 0
    for s in range(12):
        got = weighted_sample(df, "w", k=10, salt=f"s{s}").collect()
        heavy += sum(1 for r in got if r.doc_id < 20)
    # E[heavy per draw] ≈ 8.7 for 20×w10 vs 20×w1 at k=10; a uniform
    # sampler would center on 5. The salts are fixed -> no flakiness.
    assert heavy >= 12 * 7, heavy


def test_contrastive_negatives_excludes_same_label_and_self(spark):
    from arrowhouse_spark.operators.sampling import contrastive_negatives

    pool = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "vid long, lab int"
    )
    anchors = pool.filter(F.col("vid") < 2)  # labels 0 and 1
    out = contrastive_negatives(anchors, pool, "vid", "lab", k=4).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    assert set(by_anchor) == {0, 1}
    for aid, rows in by_anchor.items():
        assert sorted(r["neg_rank"] for r in rows) == [1, 2, 3, 4]
        for r in rows:
            assert r["neg_label"] != aid % 3
            assert r["neg_id"] != aid

    # deterministic under repartitioning
    again = contrastive_negatives(
        pool.filter(F.col("vid") < 2), pool.repartition(7), "vid", "lab", k=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    import pytest

    with pytest.raises(ValueError):
        contrastive_negatives(anchors, pool, "vid", "lab", k=0)


def test_waterfill_allocation_hand_checked(spark):
    import pytest
    from pyspark.sql import functions as F  # noqa: F811

    from arrowhouse_spark.operators.sampling import waterfill_allocation

    av = spark.createDataFrame(
        [("a", 10), ("b", 40), ("c", 100)], "src string, n long"
    )

    def run(**kw):
        return {
            r.src: (r.avail, r.alloc, r.rate, r.capped)
            for r in waterfill_allocation(av, "src", "n", **kw).collect()
        }

    # B=90: waterline exactly at 40 -> a,b capped, c gets its equal share
    got = run(budget=90.0)
    assert got == {
        "a": (10, 10.0, 1.0, True),
        "b": (40, 40.0, 1.0, True),
        "c": (100, 40.0, 0.4, False),
    }
    # B=120: shortfall of a,b redistributes entirely to c (waterline 70)
    got = run(budget=120.0)
    assert got["c"] == (100, 70.0, 0.7, False)
    assert sum(v[1] for v in got.values()) == 120.0
    # B >= total availability: everything capped, no division by zero
    got = run(budget=500.0)
    assert all(v[3] for v in got.values())
    assert sum(v[1] for v in got.values()) == 150.0
    # budget_frac form: 0.5 * 150 = 75 -> waterline between 10 and 40:
    # theta = 10 + (75 - alloc(10)=30... alloc(10)=10+10+10=30) / 2 = 32.5
    got = run(budget_frac=0.5)
    assert got["a"] == (10, 10.0, 1.0, True)
    assert got["b"] == (40, 32.5, 0.8125, False)
    assert got["c"] == (100, 32.5, 0.325, False)

    with pytest.raises(ValueError):
        waterfill_allocation(av, "src", "n")
    with pytest.raises(ValueError):
        waterfill_allocation(av, "src", "n", budget=1.0, budget_frac=0.5)
