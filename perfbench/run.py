"""One run of the arrowhouse_spark steady-state benchmark.

    python3 perfbench/run.py --workload olap_scan_agg --seed 1 --seconds 7 --trace 0

Run it from the repository root. One process is one run: it starts its own
Spark session on ``local[N]`` (N = min(4, available cores)), generates the
workload's inputs from ``--seed``, and drives the workload's op cycle as a
closed loop with one client:

1. the cold pass — the first pass over every op, checked for correctness;
2. a fixed number of untimed warm-up passes (3 for ``olap_scan_agg``, none
   for ``corpus_store``), each recording its JIT time and CPU per op;
3. the measured phase — whole passes until ``--seconds`` have been spent
   in timed ops (at least three passes on ``olap_scan_agg``, two — one
   cycle — on ``corpus_store``); a phase whose second half drifts
   from its first by more than the ``ops_per_s`` bound is flagged.

Every op is timed from outside at the package's public calls. With
``--trace 1`` the Spark event log is written for the run and folded into
per-layer metrics. The last line of standard output is the result object
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before it
carries the per-op detail. All scratch files live in a fresh directory
under ``.perfbench_tmp/`` that is removed at exit, and every process the
run starts is stopped before it exits. Without the package next to it the
benchmark exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from perfbench import procfs, spec, stats  # noqa: E402 — stdlib-only modules

#: a run must end well inside the caller's 180 s limit
DEADLINE_S = 170
#: stop starting measured passes once the run is this old
LAST_PASS_START_S = 130
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"


def _hard_stop(reason: str, run_dir: str) -> None:
    """Last resort when the run overstays or is terminated: kill the
    process tree, remove the run's files and exit without a result. Runs
    on a timer thread, so it also fires while the main thread is inside
    native code."""
    print(f"perfbench: {reason}", file=sys.stderr, flush=True)
    reap_descendants()
    shutil.rmtree(run_dir, ignore_errors=True)
    os._exit(3)


@dataclass
class Sample:
    """One attempted op: its timed latency, sub-spans, job-id ranges and
    process-tree CPU, and whether it raised or returned a wrong result."""

    op: str
    layer: str
    pass_no: int
    phase: str  # "cold", "warmup" or "measured"
    latency: float | None = None
    spans: dict = field(default_factory=dict)
    jobs: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)
    ok: bool = False
    error: str | None = None


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.samples: list[Sample] = []
        self.passes: list[dict] = []
        self.info: dict = {}

    # ---------------------------------------------------------------- setup

    def start_session(self):
        """From process start to a ready session: imports, ``get_spark`` and
        one Python worker per core with pandas/pyarrow imported."""
        conf = {
            "spark.local.dir": self._dir("spark_local"),
            "spark.sql.warehouse.dir": self._dir("warehouse"),
            # keep the JVM's scratch files in the run directory; UsePerfData
            # would write hsperfdata under /tmp whatever the tmpdir. A heap
            # fixed at its maximum keeps the JVM's resident size from
            # following the collector's heap-sizing choices, which differ
            # from run to run
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self._dir('tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}",
            "spark.hadoop.hadoop.tmp.dir": self._dir("tmp"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self._dir("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from arrowhouse_spark.sources import binaryfile

        # importing the suite writes a media fixture whose directory
        # defaults to /tmp; keep it inside the run directory
        binaryfile.ensure_media_fixture.__defaults__ = (self._dir("media_fixture"),)
        from arrowhouse_spark import suite
        from arrowhouse_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES, extra_conf=conf,
        )
        t1 = time.perf_counter()
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.parallelize(range(CORES), CORES).mapPartitions(_warm_worker).collect()
        t2 = time.perf_counter()
        self.info.update(
            setup_s=procfs.seconds_since_start(),
            get_spark_s=t1 - t0,
            worker_warm_s=t2 - t1,
        )
        self.spark, self.suite = spark, suite

    def _dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        os.makedirs(path, exist_ok=True)
        return path

    def jvm_times(self) -> tuple[float, float]:
        """Cumulative JVM GC and JIT-compilation seconds (MXBeans)."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return gc_ms / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    # ----------------------------------------------------------------- loop

    def run_pass(self, pass_no: int, phase: str) -> dict:
        ctx, sc = self.ctx, self.spark.sparkContext
        from perfbench.workloads import Clock

        gc0, jit0 = self.jvm_times()
        lat_sum = cpu_sum = 0.0
        n = 0
        for op in self.workload.ops_for(pass_no):
            s = Sample(op.name, op.layer, pass_no, phase)
            try:
                inp = op.prepare(ctx, pass_no)
                sc.setJobGroup(f"perfbench:{op.name}:{pass_no}", op.name)
                c0 = procfs.cpu_split()
                clock = Clock(ctx)
                t0 = time.perf_counter()
                out = op.run(ctx, clock, inp)
                s.latency = time.perf_counter() - t0
                c1 = procfs.cpu_split()
                s.cpu = {k: c1[k] - c0[k] for k in c0}
                s.spans, s.jobs = clock.spans, clock.jobs
                s.ok = op.check(ctx, inp, out) if (op.check_every_pass or phase == "cold") else True
                if not s.ok:
                    s.error = "wrong result"
            except Exception as e:  # noqa: BLE001 — an op failure is a benchmark outcome
                traceback.print_exc()
                s.error = f"{type(e).__name__}: {e}"[:300]
            self.samples.append(s)
            if s.latency is not None:
                lat_sum += s.latency
                cpu_sum += sum(s.cpu.values())
                n += 1
        gc1, jit1 = self.jvm_times()
        rec = {
            "pass": pass_no, "phase": phase, "ops_s": lat_sum,
            "cpu_per_op": cpu_sum / max(n, 1), "gc_s": gc1 - gc0, "jit_s": jit1 - jit0,
        }
        self.passes.append(rec)
        return rec

    def execute(self) -> tuple[dict, dict]:
        from perfbench import datagen
        from perfbench.workloads import WORKLOADS, Ctx, prepare_stores

        self.workload = WORKLOADS[self.args.workload]
        self.start_session()
        wall = self.info["phase_wall_s"] = {"setup": self.info["setup_s"]}
        t = time.perf_counter()
        data_dir = self._dir("data")
        datagen.generate(data_dir, self.args.seed, self.workload.tables)
        self.ctx = Ctx(
            spark=self.spark, data_dir=data_dir, work_dir=self._dir("work"),
            seed=self.args.seed, queries=self.suite.queries(), oracles=self.suite.oracle_sql(),
        )
        if self.workload.stores:
            prepare_stores(self.ctx)
        t, wall["inputs"] = time.perf_counter(), time.perf_counter() - t

        pass_no = 0
        self.run_pass(pass_no, "cold")
        t, wall["cold"] = time.perf_counter(), time.perf_counter() - t
        while pass_no < self.workload.warmup_passes:
            pass_no += 1
            self.run_pass(pass_no, "warmup")
        t, wall["warmup"] = time.perf_counter(), time.perf_counter() - t
        gc0, _ = self.jvm_times()
        spent, measured = 0.0, 0
        while measured < self.workload.min_measured_passes or (
            spent < self.args.seconds and procfs.seconds_since_start() < LAST_PASS_START_S
        ):
            pass_no += 1
            spent += self.run_pass(pass_no, "measured")["ops_s"]
            measured += 1
        gc1, _ = self.jvm_times()
        wall["measured"] = time.perf_counter() - t
        self.info.update(
            warmup_passes=self.workload.warmup_passes, measured_passes=measured,
            measured_gc_s=gc1 - gc0, peak_rss_mb=procfs.peak_rss_mb(),
        )
        if self.args.trace:
            self.info.update(self.cache_and_store_state())
        return self.metrics()

    def cache_and_store_state(self) -> dict:
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        out = {
            "persisted_rdds": len(jsc.getPersistentRDDs()),
            "storage_bytes": sum(i.memSize() + i.diskSize() for i in infos),
        }
        if self.workload.stores:
            files, size = 0, 0
            for dirpath, _, names in os.walk(self.ctx.state["ivf_path"]):
                for name in names:
                    if name.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, name))
            out.update(store_files=files, store_bytes=size, live_rows=len(self.ctx.state["ivf"].vecs))
        return out

    # -------------------------------------------------------------- metrics

    def metrics(self) -> tuple[dict, dict]:
        timed = [s for s in self.samples if s.latency is not None]
        measured = [s for s in timed if s.phase == "measured" and s.ok]
        cold = [s for s in timed if s.phase == "cold"]
        lat = [s.latency for s in measured]
        failed = sum(1 for s in self.samples if not s.ok)
        attempted = len(self.samples)
        p50, tail = stats.op_class_latency([(s.op, s.latency) for s in measured])
        drift = stats.drift([(s.pass_no, s.op, s.latency) for s in measured])
        drift_bound = next(m["bound"] for m in spec()["end_to_end"] if m["name"] == "ops_per_s")
        e2e = {
            "setup_s": (self.info["setup_s"], "s"),
            "cold_s": (sum(s.latency for s in cold), "s"),
            "ops_per_s": (len(lat) / sum(lat), "1/s"),
            "latency_p50_s": (p50, "s"),
            "latency_tail_s": (tail, "s"),
            "cpu_s_per_op": (sum(sum(s.cpu.values()) for s in measured) / len(lat), "s"),
            "peak_rss_mb": (self.info["peak_rss_mb"], "MB"),
            "success_rate": (1.0 - failed / attempted, "ratio"),
        }
        detail = {
            "workload": self.args.workload, "seed": self.args.seed, "cores": CORES,
            "warmup_passes": self.info["warmup_passes"],
            "measured_passes": self.info["measured_passes"],
            "drift": drift, "drift_flagged": abs(drift) > drift_bound,
            "samples": len(lat),
            "error_rate": failed / attempted,
            "failures": [f"{s.phase}#{s.pass_no} {s.op}: {s.error}" for s in self.samples if not s.ok],
            "passes": self.passes,
            "phase_wall_s": self.info["phase_wall_s"],
            "op_latency_s": {
                s.op: {
                    "cold": s.latency,
                    "measured_median": statistics.median(
                        [m.latency for m in measured if m.op == s.op] or [0.0]
                    ),
                }
                for s in cold
            },
        }
        if self.args.trace:
            from perfbench.layers import per_layer

            metrics, per_op = per_layer(self, measured, cold)
            detail["ops"] = per_op
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        detail["ops_per_s"] = e2e["ops_per_s"][0]
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return detail, result


def _warm_worker(it):
    import numpy  # noqa: F401 — the imports are the warm-up
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    yield sum(1 for _ in it)


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already down
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def reap_descendants() -> None:
    """Kill whatever the run started that is still alive, and wait for it."""
    deadline = time.monotonic() + 10
    while True:
        left = [p for p in procfs.tree(os.getpid()) if p != os.getpid()]
        if not left or time.monotonic() > deadline:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    for needed in ("arrowhouse_spark/__init__.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from the repository root",
                  file=sys.stderr)
            return 2
    args = parse_args(argv)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    watchdog = threading.Timer(DEADLINE_S, _hard_stop, (f"run exceeded {DEADLINE_S} s", run_dir))
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: _hard_stop("terminated", run_dir))
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark_local")):
        os.environ[var] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    run = Run(args, run_dir)
    code, out = 1, None
    try:
        out = run.execute()
        code = 0
    except Exception as e:  # noqa: BLE001
        traceback.print_exc()
        print(f"perfbench: run failed: {e}", file=sys.stderr)
    finally:
        try:
            stop_spark()
        except Exception:  # noqa: BLE001
            pass
        if code == 0 and args.trace:
            try:
                from perfbench.layers import add_event_log

                add_event_log(run, *out)
            except Exception as e:  # noqa: BLE001
                print(f"perfbench: event log: {e}", file=sys.stderr)
                code = 1
        reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
        watchdog.cancel()
    if code == 0:
        detail, result = out
        print(json.dumps(detail, default=str))
        print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
