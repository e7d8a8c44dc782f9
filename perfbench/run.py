"""Benchmark of the extractors_geo_spark engine: two seeded workloads, each
a closed loop of one client issuing one operation at a time on
local[nproc].  See perfbench/README.md for what each workload and metric
is for.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Prints a report, then as the last line
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end ones; with --trace 1 a traced
run reports the per-layer ones.  Everything the run writes goes under
.perfbench/ in the checkout; per-run scratch is deleted at exit, reports,
spans and the oracle digest cache are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import layers, trace, workloads  # noqa: E402
from perfbench.layers import med, summarize  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
STAGINGS = 3  # input staging is repeated and its median reported
MIN_PASSES = 2
PREFIX_REPS = 3
# untimed passes before the first timed one: in set-up, and after the
# traced phase's session restart.  `queries` also runs one capture pass
# (its output check, counted in no metric) right before timing.
WARMUP_PASSES = {"ingest": 2, "queries": 1}
PHASE_WARMUP_PASSES = {"ingest": 1, "queries": 0}

E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_geomean_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_missing() -> str | None:
    for rel in ("__spark_entry__.py", "extractors_geo_spark/__init__.py", "tools/check_oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def cpu_now() -> float:
    return trace.tree_cpu_s(os.getpid())


def jit_now() -> float:
    return trace.jit_cpu_s(os.getpid())


class Bench:
    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.wl = workloads.make(args.workload, self.cores)
        self.work = os.path.join(STATE, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.tracer = trace.Tracer(False)
        self.spark = None
        self.gateway_proc = None
        self.attempted = 0
        self.failed_runs: dict[str, int] = {op: 0 for op in self.wl.ops}
        self.runs: dict[str, int] = {op: 0 for op in self.wl.ops}
        self.info: dict = {}

    # ---------------------------------------------------------------- env
    def prepare_env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # compiler threads that never exit keep trace.jit_cpu_s exact
        os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                           "-XX:-UseDynamicNumberOfCompilerThreads")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(self.cores))
        os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        import tempfile

        tempfile.tempdir = None

    # ---------------------------------------------------------------- session
    def start_session(self, event_log: bool = False) -> float:
        from pyspark import SparkContext

        from extractors_geo_spark.session import get_spark

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               master=f"local[{self.cores}]", extra_conf=conf)
        elapsed = time.time() - t0
        self.gateway_proc = getattr(SparkContext._gateway, "proc", None) or self.gateway_proc
        return elapsed

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every Python worker, and wait for them.
        Python workers are the JVM's children, so they are listed before
        the JVM goes and waited for by pid afterwards."""
        from pyspark import SparkContext

        started = trace.descendants(os.getpid())
        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.gateway_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        pending = set(started) | set(trace.descendants(os.getpid()))
        deadline = time.time() + 15
        while trace.alive(pending) and time.time() < deadline:
            time.sleep(0.2)
        for pid in trace.alive(pending):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        deadline = time.time() + 10
        while trace.alive(pending) and time.time() < deadline:
            time.sleep(0.1)

    # ---------------------------------------------------------------- setup
    def setup(self) -> dict:
        from perfbench import inputs

        c0 = cpu_now()
        session_s = self.start_session()
        session_cpu = cpu_now() - c0
        stage_s, stage_cpu = [], []
        for i in range(STAGINGS):
            d = os.path.join(self.work, f"data{i}")
            c0, t0 = cpu_now(), time.time()
            staged = self.wl.stage(d, self.args.seed)
            stage_s.append(time.time() - t0)
            stage_cpu.append(cpu_now() - c0)
        self.data_dir = d
        self.info["inputs"] = {**staged, "bytes": inputs.tree_bytes(d)}
        self.input_digest = inputs.tree_digest(d)
        self.java_version = self.spark.sparkContext._jvm.System.getProperty("java.version")
        for i in range(STAGINGS - 1):
            shutil.rmtree(os.path.join(self.work, f"data{i}"))
        warmup_s, warmup_cpu = self.warm_up(WARMUP_PASSES[self.args.workload])
        return {"session_s": session_s, "stage_s": med(stage_s), "warmup_s": warmup_s,
                "session_cpu_s": session_cpu, "stage_cpu_s": med(stage_cpu),
                "warmup_cpu_s": warmup_cpu, "stage_samples": stage_s}

    def warm_up(self, passes: int) -> tuple[float, float]:
        """(wall, process-tree CPU) seconds of binding the workload and
        running `passes` untimed passes.  Only bind and the ops are summed:
        the output check after each op counts in no metric."""
        c0, t0 = cpu_now(), time.time()
        self.wl.bind(self.spark, self.data_dir, self.work)
        wall, cpu = time.time() - t0, cpu_now() - c0
        for _ in range(passes):
            for op in self.wl.ops:
                c0, t0 = cpu_now(), time.time()
                self.wl.run_op(self.spark, op, self.tracer)
                wall, cpu = wall + time.time() - t0, cpu + cpu_now() - c0
                if not self.wl.after_op(op):
                    raise RuntimeError(f"warm-up {op}: output check failed")
        return wall, cpu

    # ---------------------------------------------------------------- loop
    def measure(self, seconds: float, traced: bool) -> dict:
        """Closed loop over the op list until `seconds` have passed (and at
        least MIN_PASSES passes ran).  Returns per-op walls, CPU and JIT
        CPU, and the op spans.  Each op's timers stop before its output
        check.  An op's CPU leaves out the JVM's JIT compiler threads: how
        much compiling is left after warm-up, and which op it lands in,
        varies from run to run; their CPU is kept apart as `jit`."""
        samples: dict[str, list[float]] = {op: [] for op in self.wl.ops}
        cpu: dict[str, list[float]] = {op: [] for op in self.wl.ops}
        jit: dict[str, list[float]] = {op: [] for op in self.wl.ops}
        passes: list[float] = []
        windows: list[tuple[float, float]] = []
        op_spans: list[tuple[str, str, float, float]] = []
        sc = self.spark.sparkContext
        ticks0 = trace.cpu_ticks()
        t_start = time.time()
        p = 0
        while p < MIN_PASSES or time.time() - t_start < seconds:
            t_pass = time.time()
            for op in self.wl.ops:
                op_id = f"{op}#{p}"
                if traced:
                    sc.setJobGroup(op_id, op)
                self.attempted += 1
                self.runs[op] += 1
                j0, c0, t0 = jit_now(), cpu_now(), time.time()
                with self.tracer.span(op, op_id):
                    ok = self._attempt(op, lambda: self.wl.run_op(self.spark, op, self.tracer))
                wall = time.time() - t0
                c1, j1 = cpu_now(), jit_now()
                cpu[op].append((c1 - c0) - (j1 - j0))
                jit[op].append(j1 - j0)
                ok = ok and self._attempt(op, lambda: self.wl.after_op(op))
                if not ok:
                    self.failed_runs[op] += 1
                samples[op].append(wall)
                op_spans.append((op, op_id, t0, t0 + wall))
            passes.append(time.time() - t_pass)
            windows.append((t_pass, time.time()))
            p += 1
        if traced:
            sc.setJobGroup("check", "output checks")
        ticks1 = trace.cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        return {"samples": samples, "cpu": cpu, "jit": jit, "passes": passes, "pass_windows": windows,
                "op_spans": op_spans, "steal_share": steal}

    @staticmethod
    def _attempt(op: str, fn) -> bool:
        """fn() is not False; an op that raises is counted as failed and
        the loop goes on."""
        try:
            return fn() is not False
        except Exception as ex:
            print(f"perfbench: {op} raised {type(ex).__name__}: {str(ex)[:400]}")
            return False

    def mark_failed(self, op: str, n: int) -> None:
        self.failed_runs[op] = min(self.runs[op], self.failed_runs[op] + n)

    # ---------------------------------------------------------------- checks
    def check(self) -> dict:
        from perfbench.check import OracleCache

        os.makedirs(STATE, exist_ok=True)
        cache = OracleCache(os.path.join(STATE, "oracle_cache.json"))
        t0 = time.time()
        try:
            ok = self.wl.check_outputs(self.spark, cache, self.args.seed, self.input_digest)
        except Exception as ex:  # no verdict means no op is known correct
            print(f"perfbench: output check raised {type(ex).__name__}: {str(ex)[:400]}")
            ok = {op: False for op in self.wl.ops}
        cache.save()
        for op, good in ok.items():
            if not good:
                self.mark_failed(op, self.runs[op])
        self.info.setdefault("check_s", []).append(time.time() - t0)
        return ok

    # ---------------------------------------------------------------- metrics
    @staticmethod
    def e2e(m: dict, setup: dict) -> dict:
        """CPU seconds of the whole process tree, not wall time: on a shared
        host the hypervisor's steal moves wall times by tens of percent
        between runs, and stolen time is charged to no process.  Set-up
        counts all of it; the ops leave out JIT compiling (see measure)."""
        pass_cpu, op_cpu = summarize(m["cpu"])
        return {
            "setup_s": setup["session_cpu_s"] + setup["stage_cpu_s"] + setup["warmup_cpu_s"],
            "pass_cpu_s": pass_cpu,
            "op_cpu_geomean_s": op_cpu,
        }

    def run(self) -> dict:
        self.prepare_env()
        # memory is a per-layer metric, so only a traced run samples it: the
        # sampler's /proc scans then never compete with an untraced run's ops
        rss = trace.RssSampler().start() if self.args.trace else None
        try:
            setup = self.setup()
            self.wl.capture(self.spark)
            m = self.measure(self.args.seconds, traced=False)
        finally:
            if rss is not None:
                rss.stop()
        self.info.update({"setup": setup, "untraced": {
            "samples": m["samples"], "cpu": m["cpu"], "jit": m["jit"], "passes": m["passes"],
            "steal_share": m["steal_share"]}})
        self.check()
        if not self.args.trace:
            return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in self.e2e(m, setup).items()}
        # the peak inside each pass, median over passes
        self.peak_rss_mb = med([rss.peak(a, b) for a, b in m["pass_windows"]]) / 1e6
        self.info["memory_mb"] = {
            "run_peak_rss": rss.peak() / 1e6,
            "pass_peak_rss": [rss.peak(a, b) / 1e6 for a, b in m["pass_windows"]],
        }
        t0 = time.time()
        tm = self.traced_phase()
        prefixes = layers.prefix_timings(self, PREFIX_REPS) if self.args.workload == "ingest" else {}
        self.check()
        self.info["traced_phase_s"] = time.time() - t0
        return layers.per_layer(self, setup, m, tm, prefixes)

    def traced_phase(self) -> dict:
        """Restart the session with the event log on (the JVM, and with it
        the JIT, stays up), warm up, and measure with spans and a job group
        per op."""
        self.stop_session()
        self.start_session(event_log=True)
        self.spark.sparkContext.setJobGroup("warmup", "warm-up")
        self.warm_up(PHASE_WARMUP_PASSES[self.args.workload])
        self.wl.capture(self.spark)
        self.tracer.enabled = True
        measured = self.measure(self.args.seconds, traced=True)
        self.tracer.enabled = False
        self.info["traced"] = {k: measured[k] for k in ("samples", "cpu", "passes")}
        return measured

    # ---------------------------------------------------------------- report
    def machine(self) -> dict:
        import duckdb
        import numpy
        import pandas
        import pyarrow
        import pyspark

        return {
            "nproc": self.cores, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "numpy": numpy.__version__,
            "duckdb": duckdb.__version__, "java": self.java_version,
            "python": platform.python_version(), "machine": platform.machine(),
            "seed": self.args.seed, "workload": self.args.workload,
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = engine_missing()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    bench = Bench(args)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    try:
        metrics = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)
    if bench.tracer.spans:
        bench.tracer.write(os.path.join(STATE, f"spans-{tag}.jsonl"))
    failed = sum(bench.failed_runs.values())
    report = {"machine": bench.machine(), **bench.info}
    with open(os.path.join(STATE, f"report-{tag}.json"), "w") as f:
        json.dump({"report": report, "metrics": metrics}, f, indent=1, default=str)
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("machine " + json.dumps(report["machine"]))
    print("inputs " + json.dumps(report["inputs"]))
    n = f"n={len(report['untraced']['passes'])} passes x {len(bench.wl.ops)} ops"
    for name, v in metrics.items():
        print(f"metric {name} = {v['value']:.6g} {v['unit']}  ({n})")
    print(f"ops attempted={bench.attempted} failed={failed} "
          f"failed_ratio={failed / max(1, bench.attempted):.4g}")
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
