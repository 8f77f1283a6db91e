"""Per-layer metrics of a traced run (``--trace 1``).

Layers are named after the package's modules: ``session``, ``suite`` (the
query-build call), ``compile`` (SSA programs), ``exec`` (plan execution),
``operators.dedup``'s shared cache, the ``operators.similarity`` IVF
store and the ``operators.components`` label store — plus the process CPU
split, the JVM and, from the Spark event log, the task/shuffle/source
layers. Names and units come from BENCHMARK.json's ``per_layer`` list.
Times are per measured op unless the name says otherwise; counts are per
op cycle (the last measured occurrence of every op, summed), so they repeat
exactly across runs of the same seed. A layer the workload does not touch
reports 0. README.md maps every metric to the end-to-end metric it should
move.
"""

from __future__ import annotations

import os
import statistics

from perfbench import eventlog, spec
from perfbench.stats import drift
from perfbench.workloads import BATCH, VEC_DIM

#: store metric prefix -> the ops it covers
STORE_OPS = {
    "store.append": ("ivf_append",), "store.upsert": ("ivf_upsert",),
    "store.delete": ("ivf_delete",), "store.topk": ("ivf_topk_nprobe2", "ivf_topk_exact"),
    "store.refit": ("ivf_refit",), "store.compact": ("ivf_compact",),
    "components.fold": ("cc_fold",), "components.retract": ("cc_retract",),
    "components.compact": ("cc_compact",),
}
#: store ops that write; user bytes are the vectors the batch carries
STORE_WRITES = ("ivf_append", "ivf_upsert", "ivf_delete", "ivf_refit", "ivf_compact")


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _jobs(s, span: str) -> int:
    lo, hi = s.jobs.get(span, (0, 0))
    return hi - lo


def _units() -> dict:
    """Per-layer metric name -> unit, in BENCHMARK.json's order."""
    return {m["name"]: m["unit"] for m in spec()["per_layer"]}


def _last_per_op(samples) -> dict:
    last = {}
    for s in samples:
        last[s.op] = s
    return last


def per_layer(run, measured, cold) -> tuple[dict, dict]:
    """Every per-layer metric that needs no event log; the event-log ones
    start at 0 and are filled in by :func:`add_event_log`."""
    info, n = run.info, len(measured)
    last = _last_per_op(measured)
    cold_by_op = _last_per_op(cold)
    registry = [s for s in measured if s.layer == "suite"]
    executing = [s for s in measured if "exec" in s.spans]
    warm = [p for p in run.passes if p["phase"] == "warmup"]
    units = _units()
    m = dict.fromkeys(units, 0.0)
    cold_jobs = sum(_jobs(cold_by_op[o], "build") + _jobs(cold_by_op[o], "exec")
                    for o, s in last.items() if s.layer == "suite" and o in cold_by_op)
    warm_jobs = sum(_jobs(s, "build") + _jobs(s, "exec") for s in last.values() if s.layer == "suite")
    lat = [s.latency for s in measured]
    m.update({
        "session.get_spark_s": info["get_spark_s"],
        "session.worker_warm_s": info["worker_warm_s"],
        "suite.build_s": _mean(s.spans["build"] for s in registry),
        "suite.build_jobs": sum(_jobs(s, "build") for s in last.values() if s.layer == "suite"),
        "compile.apply_program_s": _mean(s.spans["compile"] for s in measured if "compile" in s.spans),
        "exec.s": _mean(s.spans["exec"] for s in executing),
        "exec.jobs": sum(_jobs(s, "exec") for s in last.values() if "exec" in s.spans),
        "cpu.driver_s": _mean(s.cpu["driver"] for s in measured),
        "cpu.jvm_s": _mean(s.cpu["jvm"] for s in measured),
        "cpu.pyworker_s": _mean(s.cpu["pyworker"] for s in measured),
        "jvm.gc_s": info["measured_gc_s"] / n,
        "jvm.jit_compile_s": run.passes[0]["jit_s"],
        "jvm.jit_last_warmup_s": warm[-1]["jit_s"] if warm else 0.0,
        "warmup.passes": info["warmup_passes"],
        "measured.passes": info["measured_passes"],
        "steady.drift": drift([(s.pass_no, s.op, s.latency) for s in measured]),
        "latency.samples": n,
        "trace.ops_per_s": n / sum(lat),
        "cache.persisted_rdds": info["persisted_rdds"],
        "cache.storage_bytes": info["storage_bytes"],
        "cache.job_ratio": warm_jobs / cold_jobs if cold_jobs else 0.0,
    })
    for prefix, ops in STORE_OPS.items():
        picked = [s for s in measured if s.op in ops]
        m[prefix + "_s"] = _mean(s.latency for s in picked)
        m[prefix + "_jobs"] = _jobs(last[ops[0]], prefix.split(".")[0]) if ops[0] in last else 0
    if "live_rows" in info:
        m["store.bytes_per_live_row"] = info["store_bytes"] / info["live_rows"]
        m["store.files"] = info["store_files"]
    per_op = {}
    for s in measured:
        rec = per_op.setdefault(s.op, {"n": 0, "latency_s": [], "spans_s": {}, "jobs": {}})
        rec["n"] += 1
        rec["latency_s"].append(s.latency)
        for k, v in s.spans.items():
            rec["spans_s"].setdefault(k, []).append(v)
        rec["jobs"] = {k: _jobs(s, k) for k in s.jobs}
    for rec in per_op.values():
        rec["latency_s"] = statistics.median(rec["latency_s"])
        rec["spans_s"] = {k: statistics.median(v) for k, v in rec["spans_s"].items()}
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}, per_op


def add_event_log(run, detail: dict, result: dict) -> None:
    """Fold the run's event log into the task/shuffle/source/store metrics
    (per measured op) and into the per-op detail."""
    log_dir = os.path.join(run.run_dir, "eventlog")
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {len(logs)}")
    measured = [s for s in run.samples if s.phase == "measured" and s.ok and s.latency is not None]
    spans = [(f"{i}/{span}", lo, hi) for i, s in enumerate(measured) for span, (lo, hi) in s.jobs.items()]
    folded = eventlog.parse(logs[0], spans)
    per_sample = [{} for _ in measured]
    for label, rec in folded.items():
        i, span = label.split("/", 1)
        per_sample[int(i)][span] = rec
    n = len(measured)

    def total(key, pick=lambda s: True):
        return sum(r[key] for s, recs in zip(measured, per_sample) if pick(s) for r in recs.values())

    last_idx = {s.op: i for i, s in enumerate(measured)}
    exec_recs = [per_sample[i]["exec"] for i in last_idx.values() if "exec" in per_sample[i]]
    skews = [max((r["skew"] for r in recs.values()), default=1.0) for recs in per_sample]
    writes = [s for s in measured if s.op in STORE_WRITES]
    user_bytes = sum(BATCH * (8 + 4 * VEC_DIM) for s in writes if s.op in ("ivf_append", "ivf_upsert"))
    m, units = result["metrics"], _units()
    for name, value in {
        "exec.stages": sum(r["stages"] for r in exec_recs),
        "exec.tasks": sum(r["tasks"] for r in exec_recs),
        "task.count": total("tasks") / n,
        "task.sched_delay_s": total("sched_delay_s") / n,
        "task.deser_s": total("deser_s") / n,
        "task.cpu_s": total("cpu_s") / n,
        "task.gc_s": total("gc_s") / n,
        "task.skew": statistics.median(skews),
        "shuffle.read_bytes": total("shuffle_read_bytes") / n,
        "shuffle.write_bytes": total("shuffle_write_bytes") / n,
        "spill.bytes": total("spill_bytes") / n,
        "sources.bytes_read": total("bytes_read") / n,
        "sources.records_read": total("records_read") / n,
        "store.bytes_written_per_user_byte": (
            total("bytes_written", lambda s: s.op in STORE_WRITES) / user_bytes if user_bytes else 0.0
        ),
    }.items():
        m[name] = {"value": value, "unit": units[name]}
    for op, rec in detail.get("ops", {}).items():
        recs = [r for s, rs in zip(measured, per_sample) if s.op == op for r in rs.values()]
        k = rec["n"]
        rec["tasks"] = {
            key: sum(r[key] for r in recs) / k
            for key in ("tasks", "stages", "cpu_s", "deser_s", "gc_s", "sched_delay_s",
                        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                        "bytes_read", "records_read", "bytes_written")
        }
        rec["tasks"]["skew"] = max((r["skew"] for r in recs), default=1.0)
        rec["job_groups"] = sorted({g for r in recs for g in r["groups"]})
