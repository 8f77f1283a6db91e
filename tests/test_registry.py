"""Tests for the query-registry rotation logic (suite._coverage_priority):
the driver checks a capped window of queries() per round, so ordering
mistakes silently remove queries from the correctness gate."""

from __future__ import annotations

import json

from arrowhouse_spark import suite


def _write(path, data):
    with open(path, "w") as f:
        json.dump(data, f)


def test_coverage_priority_regression_outranks_never_checked(tmp_path):
    """A query green in r01 but FAILED in r02 must classify as group 0 —
    AHEAD of never-checked queries (a known regression is strictly worse
    than an unknown; round-8 verdict item 2) — not ride its stale r01
    proof into the oldest-green rotation."""
    names = list(suite._QUERIES)[:3]
    a, b, c = names
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    bad = dict(ok, hash_match=False)
    _write(tmp_path / "CORRECTNESS_r01.json", {a: ok, b: ok})
    _write(tmp_path / "CORRECTNESS_r02.json", {a: bad, b: ok})

    prio = suite._coverage_priority(artifact_dir=str(tmp_path))
    assert prio[a][0] == 0, "driver-failed query must come FIRST"
    assert prio[b][0] == 2, "still-green query rotates by oldest proof"
    assert prio[c][0] == 1, "never-checked query comes after failed ones"
    # failed < never-checked < green in the final sort
    assert prio[a] < prio[c] < prio[b]


def test_coverage_priority_rows_only_with_new_oracle_front(tmp_path):
    """A query only ever checked rows-only (err=no_oracle) that NOW has an
    oracle must be treated as never-value-checked (group 1, with the
    never-checked — it has no failure on record)."""
    oracled = [n for n in suite._QUERIES if n in suite._ORACLES]
    a = oracled[0]
    _write(
        tmp_path / "CORRECTNESS_r01.json",
        {a: {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 5, "oracle_rows": None, "err": "no_oracle"}},
    )
    prio = suite._coverage_priority(artifact_dir=str(tmp_path))
    assert prio[a][0] == 1


def test_queries_order_respects_priority():
    """queries() must enumerate in priority order (the driver truncates)."""
    order = list(suite.queries())
    prio = suite._coverage_priority()
    keys = [prio[n] for n in order]
    assert keys == sorted(keys)


def test_suite_rel_cache_capped(spark):
    """Suite relations go through the session relation cache: hard cap,
    FIFO eviction, exact-key hits and one release."""
    from arrowhouse_spark import session

    session.release_caches()
    orig = session._CACHE_MAX
    session._CACHE_MAX = 3
    try:
        for k in range(5):
            session.cached_relation(
                ("app", "dir", f"t{k}"),
                lambda k=k: spark.range(k + 1).toDF("v"),
            )
        assert len(session._CACHE) == 3
        tags = [key[2] for key in session._CACHE]
        assert tags == ["t2", "t3", "t4"]  # oldest two evicted FIFO
        # hit returns the cached object without eviction
        a = session.cached_relation(("app", "dir", "t4"), lambda: None)
        assert a is session._CACHE[("app", "dir", "t4")][0]
        assert session.release_caches() == 3
        assert len(session._CACHE) == 0
    finally:
        session._CACHE_MAX = orig
        session.release_caches()


def test_suite_and_operator_relations_share_one_cache(spark):
    """A suite relation (exact key) and an operator persist (plan key) count
    against the same cap, evict each other in FIFO order, and one
    release_caches() unpersists both kinds."""
    from pyspark.sql import functions as F

    from arrowhouse_spark import session

    def persisted(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    def tags():
        # suite keys are (app, sf_dir, tag, ...); operator keys (app, tag, hash)
        return [k[2] if k[1] == "dir" else k[1] for k in session._CACHE]

    session.release_caches()
    orig = session._CACHE_MAX
    session._CACHE_MAX = 3
    try:
        base = spark.range(20).toDF("v")

        def rel(lo):
            return base.filter(F.col("v") >= lo)

        s0 = session.cached_relation(("app", "dir", "s0"), lambda: rel(10).persist())
        o1 = session.shared_persist(rel(11), "o1")
        s2 = session.cached_relation(("app", "dir", "s2"), lambda: rel(12).persist())
        o3 = session.shared_persist(rel(13), "o3")
        # the operator entry evicted the oldest entry, a suite relation
        assert tags() == ["o1", "s2", "o3"]
        assert not persisted(s0)
        s4 = session.cached_relation(("app", "dir", "s4"), lambda: rel(14).persist())
        # the suite entry evicted the oldest entry, an operator relation
        assert tags() == ["s2", "o3", "s4"]
        assert not persisted(o1)
        assert all(persisted(df) for df in (s2, o3, s4))
        assert session.release_caches() == 3
        assert len(session._CACHE) == 0
        assert not any(persisted(df) for df in (s2, o3, s4))
    finally:
        session._CACHE_MAX = orig
        session.release_caches()


def test_spark_entry_driver_contract(spark):
    """__spark_entry__ is the DRIVER's surface: entry() must run (the
    round-9 suite split silently broke its module-attribute lookup while
    every registry test stayed green — this is the guard), and
    queries()/oracle_sql() must stay same-keyed."""
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 239


def test_readme_query_counts_match_registry():
    """Every hand-written registry count in README.md must equal the live
    registry size — the round-9 verdict flagged silent drift, so the
    counts are now pinned here instead of trusted."""
    import re

    import __spark_entry__ as e

    n = len(e.queries())
    text = open("README.md").read()
    for m in re.finditer(r"(\d+) registered queries|Registry: (\d+) queries", text):
        claimed = int(m.group(1) or m.group(2))
        assert claimed == n, (
            f"README claims {claimed} queries; registry has {n} — "
            "update the README paragraph"
        )
