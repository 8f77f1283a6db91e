"""The benchmark's workloads: each is a fixed cycle of ops ("a pass") over
the package's public calls, plus the untimed preparation and checks that
surround every op.

An op has three parts. ``prepare`` builds its inputs (untimed), ``run`` is
the timed call and marks named sub-spans on a :class:`Clock`, and ``check``
(untimed) compares the result with an independent model: DuckDB for
registry queries and SSA programs, numpy for the IVF store and a
union-find for the components store.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.datagen import VEC_DIM

# --------------------------------------------------------------------------
# timing helpers


class Clock:
    """Marks consecutive sub-spans of one timed op, with the Spark job ids
    each span started (``jobs[name] = (first, end)``)."""

    def __init__(self, ctx: "Ctx"):
        self._ctx = ctx
        self.t = time.perf_counter()
        self.j = ctx.job_count()
        self.spans: dict[str, float] = {}
        self.jobs: dict[str, tuple[int, int]] = {}

    def lap(self, name: str) -> None:
        t, j = time.perf_counter(), self._ctx.job_count()
        self.spans[name] = self.spans.get(name, 0.0) + (t - self.t)
        lo = self.jobs.get(name, (self.j, j))[0]
        self.jobs[name] = (lo, j)
        self.t, self.j = t, j


@dataclass
class Ctx:
    """Everything the ops share within one run."""

    spark: object
    data_dir: str
    work_dir: str
    seed: int
    queries: dict = field(default_factory=dict)
    oracles: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def job_count(self) -> int:
        """Jobs submitted so far in this application (one py4j call)."""
        if "dag" not in self.state:
            self.state["dag"] = self.spark.sparkContext._jsc.sc().dagScheduler()
        return self.state["dag"].numTotalJobs()


# --------------------------------------------------------------------------
# result comparison (the repository's oracle-gate helpers)


@functools.cache
def _gate_helpers():
    path = os.path.join(os.getcwd(), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def same_rows(scols, srows, dcols, drows) -> bool:
    """Row count, column-name set and order-insensitive values, compared as
    tools/check_correctness.py compares a query with its oracle."""
    gate = _gate_helpers()
    if len(srows) != len(drows) or sorted(scols) != sorted(dcols):
        return False
    sidx = [scols.index(c) for c in sorted(scols)]
    didx = [dcols.index(c) for c in sorted(dcols)]
    sa = sorted(([r[i] for i in sidx] for r in srows), key=gate._sort_key)
    da = sorted(([r[i] for i in didx] for r in drows), key=gate._sort_key)
    return all(gate._rows_equal(x, y) for x, y in zip(sa, da))


def _duckdb(ctx: Ctx):
    """The run's DuckDB connection, with one view per generated table."""
    con = ctx.state.get("duckdb")
    if con is None:
        import duckdb

        con = ctx.state["duckdb"] = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{os.path.join(ctx.work_dir, 'duckdb')}'")
        con.execute("SET threads=4")
        con.execute("SET enable_progress_bar=false")
        for name in os.listdir(ctx.data_dir):
            if name.endswith(".parquet"):
                path = os.path.join(ctx.data_dir, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def duckdb_rows(ctx: Ctx, sql: str):
    cur = _duckdb(ctx).execute(sql)
    return [d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()]


def duckdb_frame(ctx: Ctx, sql: str):
    return _duckdb(ctx).execute(sql).fetchdf()


# --------------------------------------------------------------------------
# ops


class Op:
    name = ""
    layer = ""  # "suite", "compile", "store" or "components"
    check_every_pass = True

    def prepare(self, ctx: Ctx, pass_no: int):
        return None

    def run(self, ctx: Ctx, clock: Clock, inp):
        raise NotImplementedError

    def check(self, ctx: Ctx, inp, out) -> bool:
        return True


class RegistryOp(Op):
    """A registered suite query: build it, then execute it into a no-op sink."""

    layer = "suite"
    check_every_pass = False

    def __init__(self, name: str):
        self.name = name

    def run(self, ctx, clock, inp):
        df = ctx.queries[self.name](ctx.spark, ctx.data_dir)
        clock.lap("build")
        df.write.format("noop").mode("overwrite").save()
        clock.lap("exec")
        return df

    def check(self, ctx, inp, df):
        srows = [tuple(r) for r in df.collect()]
        dcols, drows = duckdb_rows(ctx, ctx.oracles[self.name])
        return same_rows(df.columns, srows, dcols, drows)


class SsaOp(Op):
    """A seeded SSA program over lineitem: assign → filter → group-by →
    project, compiled with ``compile.apply_program``. The group-by keys set
    the output cardinality; the filter thresholds come from the seed."""

    layer = "compile"
    check_every_pass = False

    def __init__(self, name: str, keys: tuple[str, ...]):
        self.name, self.keys = name, keys

    def _params(self, ctx) -> tuple[float, float]:
        rng = np.random.default_rng([ctx.seed, len(self.keys), sum(map(len, self.keys))])
        return float(rng.integers(24, 51)), float(rng.integers(0, 6)) / 100.0

    def program(self, ctx):
        from arrowhouse_spark.program import (
            AggOp, AggregateAssign, Assign, GroupBy, Op as SOp, Program, ProgramStep, const,
        )

        qty_max, disc_min = self._params(ctx)
        aggs = (
            AggregateAssign("n", AggOp.COUNT),
            AggregateAssign("sum_disc_price", AggOp.SUM, "disc_price"),
            AggregateAssign("avg_qty", AggOp.AVG, "l_quantity"),
            AggregateAssign("max_charge", AggOp.MAX, "charge"),
        )
        return Program(steps=(ProgramStep(
            assignes=(
                const("one", 1.0),
                const("qty_max", qty_max),
                const("disc_min", disc_min),
                Assign("disc_factor", SOp.SUBTRACT, ("one", "l_discount")),
                Assign("disc_price", SOp.MULTIPLY, ("l_extendedprice", "disc_factor")),
                Assign("tax_factor", SOp.ADD, ("one", "l_tax")),
                Assign("charge", SOp.MULTIPLY, ("disc_price", "tax_factor")),
                Assign("f_qty", SOp.LESS, ("l_quantity", "qty_max")),
                Assign("f_disc", SOp.GREATER_EQUAL, ("l_discount", "disc_min")),
            ),
            filters=("f_qty", "f_disc"),
            group_by=GroupBy(keys=self.keys, aggregates=aggs),
            projection=(*self.keys, "n", "sum_disc_price", "avg_qty", "max_charge"),
        ),))

    def sql(self, ctx) -> str:
        qty_max, disc_min = self._params(ctx)
        keys = ", ".join(self.keys)
        return f"""
            SELECT {keys}, count(*) AS n, sum(disc_price) AS sum_disc_price,
                   avg(l_quantity) AS avg_qty, max(charge) AS max_charge
            FROM (SELECT *, l_extendedprice * (1.0 - l_discount) AS disc_price,
                         l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
                  FROM lineitem)
            WHERE l_quantity < {qty_max!r} AND l_discount >= {disc_min!r}
            GROUP BY {keys}"""

    def prepare(self, ctx, pass_no):
        if "lineitem" not in ctx.state:
            ctx.state["lineitem"] = ctx.spark.read.parquet(
                os.path.join(ctx.data_dir, "lineitem.parquet")
            )
        return self.program(ctx)

    def run(self, ctx, clock, prog):
        from arrowhouse_spark.compile import apply_program

        df = apply_program(ctx.state["lineitem"], prog)
        clock.lap("compile")
        df.write.format("noop").mode("overwrite").save()
        clock.lap("exec")
        return df

    def check(self, ctx, prog, df):
        # up to 150k groups: compared as sorted frames, not row by row
        got = df.toPandas().sort_values(list(self.keys), ignore_index=True)
        want = duckdb_frame(ctx, self.sql(ctx)).sort_values(list(self.keys), ignore_index=True)
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            return False
        for col in want.columns:
            a, b = got[col].to_numpy(), want[col].to_numpy()
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                a, b = a.astype(float), b.astype(float)
                if (np.abs(a - b) > 1e-6 * np.maximum(1.0, np.maximum(np.abs(a), np.abs(b)))).any():
                    return False
            elif (a != b).any():
                return False
        return True


# --------------------------------------------------------------------------
# stores: a seeded live set held at constant size, and its models

BATCH = 50  # vectors appended, upserted and deleted per pass
K = 10
N_CELLS = 8
CC_BATCH = 24  # ids folded into and retracted from the components store
CC_FIRST_BATCHES = 4  # the size of the store's first fold, in batches
CC_BUCKETS = 4


class IvfModel:
    """The live vector set the IVF store must hold, in insertion order."""

    def __init__(self, ids, vecs):
        self.vecs = {int(i): np.asarray(v, np.float32) for i, v in zip(ids, vecs)}
        self.next_id = max(self.vecs) + 1

    def topk_scores(self, q, ids=None) -> dict[int, float]:
        ids = list(self.vecs) if ids is None else ids
        m = np.stack([self.vecs[i] for i in ids]).astype(np.float64)
        qv = np.asarray(q, np.float64)
        cos = (m @ qv) / (np.maximum(np.linalg.norm(m, axis=1), 1e-12) * max(np.linalg.norm(qv), 1e-12))
        return dict(zip(ids, cos))


def _vec_df(ctx, ids, vecs):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return ctx.spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _rng(ctx, tag: str, pass_no: int):
    return np.random.default_rng([ctx.seed, pass_no, sum(tag.encode())])


class IvfAppend(Op):
    name, layer = "ivf_append", "store"

    def prepare(self, ctx, pass_no):
        m = ctx.state["ivf"]
        ids = list(range(m.next_id, m.next_id + BATCH))
        m.next_id += BATCH
        vecs = _rng(ctx, self.name, pass_no).normal(0.0, 0.12, (BATCH, VEC_DIM)).astype(np.float32)
        return ids, vecs, _vec_df(ctx, ids, vecs)

    def run(self, ctx, clock, inp):
        from arrowhouse_spark.operators.similarity import ivf_store_append

        out = ivf_store_append(inp[2], ctx.state["ivf_path"])
        clock.lap("store")
        return out

    def check(self, ctx, inp, out):
        ids, vecs, _ = inp
        ctx.state["ivf"].vecs.update(zip(ids, vecs))
        return out.count() == len(ids)


class IvfUpsert(Op):
    """Moves existing vectors: new values for live ids, so rows change cells."""

    name, layer = "ivf_upsert", "store"

    def prepare(self, ctx, pass_no):
        m, rng = ctx.state["ivf"], _rng(ctx, self.name, pass_no)
        ids = sorted(int(i) for i in rng.choice(sorted(m.vecs), BATCH, replace=False))
        vecs = rng.normal(0.0, 0.12, (BATCH, VEC_DIM)).astype(np.float32)
        return ids, vecs, _vec_df(ctx, ids, vecs)

    def run(self, ctx, clock, inp):
        from arrowhouse_spark.operators.similarity import ivf_store_upsert

        out = ivf_store_upsert(inp[2], ctx.state["ivf_path"])
        clock.lap("store")
        return out

    def check(self, ctx, inp, out):
        ids, vecs, _ = inp
        ctx.state["ivf"].vecs.update(zip(ids, vecs))
        return out.count() == len(ids)


class IvfDelete(Op):
    """Tombstones the oldest live ids, keeping the live set's size constant."""

    name, layer = "ivf_delete", "store"

    def prepare(self, ctx, pass_no):
        return sorted(ctx.state["ivf"].vecs)[:BATCH]

    def run(self, ctx, clock, ids):
        from arrowhouse_spark.operators.similarity import ivf_store_delete

        removed = ivf_store_delete(ctx.spark, ctx.state["ivf_path"], ids)
        clock.lap("store")
        return removed

    def check(self, ctx, ids, removed):
        for i in ids:
            ctx.state["ivf"].vecs.pop(i)
        return removed == len(ids)


class IvfTopk(Op):
    """Probes with a perturbed live vector. At ``nprobe`` = cell count the
    answer is exact and must equal the brute force over the model; below it
    every returned row must be live, scored right and in order. Probes of
    one kind in one pass differ by ``slot``, which picks their query."""

    layer = "store"

    def __init__(self, nprobe: int, tag: str, slot: int = 0):
        self.nprobe, self.name, self.slot = nprobe, f"ivf_topk_{tag}", slot

    def prepare(self, ctx, pass_no):
        m, rng = ctx.state["ivf"], _rng(ctx, f"{self.name}{self.slot}", pass_no)
        base = m.vecs[sorted(m.vecs)[int(rng.integers(0, len(m.vecs)))]]
        return (base + rng.normal(0.0, 0.03, VEC_DIM)).tolist()

    def run(self, ctx, clock, q):
        from arrowhouse_spark.operators.similarity import ivf_store_topk

        rows = ivf_store_topk(ctx.spark, ctx.state["ivf_path"], q, k=K, nprobe=self.nprobe).collect()
        clock.lap("store")
        return rows

    def check(self, ctx, q, rows):
        m = ctx.state["ivf"]
        got = [(int(r[0]), float(r[1])) for r in rows]
        if len(got) != K or any(i not in m.vecs for i, _ in got):
            return False
        scores = [s for _, s in got]
        if scores != sorted(scores, reverse=True):
            return False
        model = m.topk_scores(q, [i for i, _ in got])
        if any(abs(model[i] - s) > 1e-5 for i, s in got):
            return False
        if self.nprobe >= N_CELLS:
            best = sorted(m.topk_scores(q).values(), reverse=True)[:K]
            return all(abs(a - b) <= 1e-5 for a, b in zip(best, scores))
        return True


class IvfRefit(Op):
    name, layer = "ivf_refit", "store"

    def run(self, ctx, clock, inp):
        from arrowhouse_spark.operators.similarity import ivf_store_refit

        out = ivf_store_refit(ctx.spark, ctx.state["ivf_path"])
        clock.lap("store")
        return out

    def check(self, ctx, inp, out):
        return out["rows"] == len(ctx.state["ivf"].vecs)


class IvfCompact(Op):
    name, layer = "ivf_compact", "store"

    def run(self, ctx, clock, inp):
        from arrowhouse_spark.operators.similarity import compact_ivf_store

        out = compact_ivf_store(ctx.spark, ctx.state["ivf_path"])
        clock.lap("store")
        return out

    def check(self, ctx, inp, out):
        return out["rows"] == len(ctx.state["ivf"].vecs)


class CcModel:
    """The labelling the components store must hold: id -> component, the
    smallest live id of its component (a union-find with min labels).
    Retraction removes ids without splitting their component, as the store
    does: survivors of a component whose label was retracted take the
    smallest surviving id."""

    def __init__(self):
        self.label: dict[int, int] = {}
        self.next_id = 0

    def fold(self, edges) -> None:
        parent = dict(self.label)

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        self.label = {v: find(v) for v in parent}

    def retract(self, ids) -> None:
        gone = set(ids)
        members: dict[int, list[int]] = {}
        for v, c in self.label.items():
            if v not in gone:
                members.setdefault(c, []).append(v)
        self.label = {v: min(vs) if c in gone else c for c, vs in members.items() for v in vs}


def _cc_matches(ctx) -> bool:
    """The store's labelling equals the model's (untimed read)."""
    rows = ctx.spark.read.parquet(ctx.state["cc_path"]).select("id", "component").collect()
    return {int(r[0]): int(r[1]) for r in rows} == ctx.state["cc"].label


def _cc_batch(ctx, n: int, pass_no: int):
    """``n`` new ids: pairs among them, and every sixth linked to a live id,
    so components merge across batches. Returns the edges and their frame."""
    m, rng = ctx.state["cc"], _rng(ctx, "cc_fold", pass_no)
    live = sorted(m.label)
    block = list(range(m.next_id, m.next_id + n))
    m.next_id += n
    edges = [(block[i], block[i + 1]) for i in range(0, n, 2)]
    if live:
        edges += [(block[i], live[int(rng.integers(0, len(live)))]) for i in range(0, n, 6)]
    return edges, ctx.spark.createDataFrame(edges, "src long, dst long")


class CcFold(Op):
    """Folds a batch of new ids into the components store. The cold pass's
    fold creates the store, with a larger first batch."""

    name, layer = "cc_fold", "components"

    def prepare(self, ctx, pass_no):
        first = not ctx.state["cc"].label
        return _cc_batch(ctx, CC_BATCH * (CC_FIRST_BATCHES if first else 1), pass_no)

    def run(self, ctx, clock, inp):
        from arrowhouse_spark.operators.components import components_incremental

        out = components_incremental(inp[1], ctx.state["cc_path"], n_buckets=CC_BUCKETS)
        clock.lap("components")
        return out

    def check(self, ctx, inp, out):
        ctx.state["cc"].fold(inp[0])
        return _cc_matches(ctx)


class CcRetract(Op):
    """Retracts the oldest live ids, keeping the live set's size constant."""

    name, layer = "cc_retract", "components"

    def prepare(self, ctx, pass_no):
        return sorted(ctx.state["cc"].label)[:CC_BATCH]

    def run(self, ctx, clock, ids):
        from arrowhouse_spark.operators.components import components_store_retract_counted

        _, removed = components_store_retract_counted(ctx.spark, ctx.state["cc_path"], ids)
        clock.lap("components")
        return removed

    def check(self, ctx, ids, removed):
        ctx.state["cc"].retract(ids)
        return removed == len(ids) and _cc_matches(ctx)


class CcCompact(Op):
    name, layer = "cc_compact", "components"

    def run(self, ctx, clock, inp):
        from arrowhouse_spark.operators.components import compact_components_store

        out = compact_components_store(ctx.spark, ctx.state["cc_path"])
        clock.lap("components")
        return out

    def check(self, ctx, inp, out):
        return out["rows"] == len(ctx.state["cc"].label) and _cc_matches(ctx)


def prepare_stores(ctx: Ctx) -> None:
    """Untimed: initialise the IVF store from the embeddings table, and the
    models of both stores. The components store is created by the cold
    pass's fold."""
    from arrowhouse_spark.operators.similarity import ivf_store_init

    import pyarrow.parquet as pq

    path = os.path.join(ctx.data_dir, "embeddings.parquet")
    table = pq.read_table(path, columns=["vec_id", "embedding"])
    ctx.state["ivf"] = IvfModel(table["vec_id"].to_pylist(), table["embedding"].to_pylist())
    ctx.state["ivf_path"] = os.path.join(ctx.work_dir, "ivf_store")
    emb = ctx.spark.read.parquet(path).select("vec_id", "embedding")
    ivf_store_init(emb, ctx.state["ivf_path"], n_centroids=N_CELLS, seed=ctx.seed)
    ctx.state["cc"] = CcModel()
    ctx.state["cc_path"] = os.path.join(ctx.work_dir, "cc_store")


# --------------------------------------------------------------------------
# the workloads


@dataclass
class Workload:
    name: str
    tables: tuple[str, ...]
    ops: list[Op]
    #: untimed warm-up passes between the cold pass and the measured phase
    warmup_passes: int
    #: the measured phase runs at least this many passes, whatever
    #: ``--seconds`` asks: a pass count that flips with the host's speed
    #: would change how many samples each op's tail is taken over
    min_measured_passes: int
    #: op -> pass parity it runs on after the cold pass (0 = even passes);
    #: ops not listed run on every pass, and the cold pass runs every op
    parity: dict[str, int] = field(default_factory=dict)

    @property
    def stores(self) -> bool:
        return any(o.layer in ("store", "components") for o in self.ops)

    def ops_for(self, pass_no: int) -> list[Op]:
        if pass_no == 0:
            return list(self.ops)
        return [o for o in self.ops if self.parity.get(o.name, pass_no % 2) == pass_no % 2]


OLAP_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue", "groupby_multikey",
)


def olap_scan_agg() -> Workload:
    ops: list[Op] = [RegistryOp(n) for n in OLAP_QUERIES]
    ops += [
        SsaOp("ssa_6_keys", ("l_returnflag", "l_linestatus")),
        SsaOp("ssa_1k_keys", ("l_suppkey",)),
        SsaOp("ssa_150k_keys", ("l_orderkey",)),
    ]
    return Workload(
        "olap_scan_agg",
        ("customer", "orders", "lineitem"),
        ops,
        warmup_passes=3,
        min_measured_passes=3,
    )


#: nprobe=2 probes per pass, besides one exact probe
PROBES_PER_PASS = 1


def corpus_store() -> Workload:
    """Corpus pipeline ops beside the IVF and components store lifecycles,
    spread over a cycle of two passes; the IVF upsert and the probes run on
    every pass. IVF appends (even passes) and deletes (odd passes) of the
    same batch size hold its live set level; the components store folds in
    and retracts the same number of ids on even passes."""
    ops: list[Op] = [
        IvfUpsert(), *(IvfTopk(2, "nprobe2", i) for i in range(PROBES_PER_PASS)),
        IvfTopk(N_CELLS, "exact"),
        RegistryOp("ngram_jaccard_dups"), IvfAppend(), IvfCompact(),
        CcFold(), CcRetract(), CcCompact(), IvfDelete(), IvfRefit(),
    ]
    even = ("ngram_jaccard_dups", "ivf_append", "ivf_compact", "cc_fold", "cc_retract", "cc_compact")
    odd = ("ivf_delete", "ivf_refit")
    return Workload(
        "corpus_store",
        ("documents", "embeddings"),
        ops,
        warmup_passes=0,
        min_measured_passes=2,
        parity={**dict.fromkeys(even, 0), **dict.fromkeys(odd, 1)},
    )


WORKLOADS = {w.name: w for w in (olap_scan_agg(), corpus_store())}
