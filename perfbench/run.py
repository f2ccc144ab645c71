"""linkmerce_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process per run. Set-up (``get_spark``, ``load_star`` and a first
job) is followed by one cold pass, one warm-up pass and then a fixed
number of warm passes (on ``load_incremental``, one day each), which
take about ``S`` seconds; ``S`` also caps the run. Every pass runs on
a fresh ``spark.newSession()`` after ``spark.catalog.clearCache()``;
the package keys all of its memos by session, so every pass rebuilds
every memo and shared mart.
One closed-loop client issues ops one at a time: a read op is one
catalog query built and fully evaluated, a load op is one writer call.

Every op's output is checked (``digest.py`` for read ops, a DuckDB
replay for load targets). The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")

READ_WORKLOADS = ("marts_refresh",)
WORKLOADS = READ_WORKLOADS + ("load_incremental",)

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
    "op_p50_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s", "frames.load_star_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_job_s": "s", "queries.build_py_s": "s",
    "catalyst.frame_s": "s", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.plan_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.core_util": "ratio",
    "exec.gc_s": "s", "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B", "exec.input_rows": "count", "exec.failed_tasks": "count",
    "plan.nodes": "count", "plan.exchanges": "count", "plan.reused_exchanges": "count",
    "plan.broadcasts": "count", "plan.smj": "count", "plan.bhj": "count",
    "plan.reuse_ratio": "ratio",
    "writers.append_s": "s", "writers.overwrite_s": "s", "writers.merge_s": "s",
    "writers.rows_written": "count", "writers.bytes_written": "B",
    "writers.files_written": "count", "writers.write_amp": "ratio",
    "incremental.batch_s": "s", "incremental.files_in": "count",
    "incremental.rows_in": "count",
    "trace.pass_s": "s", "trace.collect_s": "s", "trace.coverage": "ratio",
    "trace.unstable_ops": "count",
}
# The layer span of each load op; both overwrite paths are writers.overwrite.
LOAD_LAYER = {"append": "writers.append", "overwrite": "writers.overwrite",
              "date_batches": "writers.overwrite", "merge": "writers.merge",
              "incremental": "incremental.batch"}
# Per-layer metrics taken once per run rather than summed per pass.
RUN_LAYERS = ("session.get_spark_s", "frames.load_star_s", "trace.pass_s", "trace.coverage",
              "trace.unstable_ops")
# Warm passes after the cold pass that the warm figures leave out: the
# JIT is still compiling the engine's hot paths through them, and how
# fast it gets there moves with host load.
WARMUP = 1
# Warm passes a read run measures; a load run measures DAYS - 1 - WARMUP.
WARM_PASSES = 3
# op_p90_s is reported only with this many warm ops above it.
P90_MIN_BEYOND = 10
# A run stops short of its passes only past this many times --seconds.
CAP = 4
# The op's child spans must cover its wall time to within this.
COVERAGE_TOL_S = 0.005
COVERAGE_TOL_SHARE = 0.01


def process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory of this Python process and of the driver JVM."""
    return _hwm_mb("self"), _hwm_mb(jvm_pid)


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank percentile and the number of samples above it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.problems: list[str] = []
        self.layers: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------
    def setup(self, started: float) -> None:
        from linkmerce_spark.frames import load_star
        from linkmerce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        star = load_star(self.spark, DATA)
        t2 = time.perf_counter()
        star["lineitem"].count()
        self.setup_s = time.time() - started
        self.layers["session.get_spark_s"] = t1 - t0
        self.layers["frames.load_star_s"] = t2 - t1
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.cores = self.spark.sparkContext.defaultParallelism
        sc_conf = self.spark.sparkContext.getConf().getAll()
        self.engine_conf = {k: v for k, v in sc_conf if k.startswith(("spark.sql.", "spark.python."))}

        from spans import Tracer

        self.tracer = Tracer(self.spark, self.trace)
        if self.workload in READ_WORKLOADS:
            from linkmerce_spark.queries import QUERIES
            from slices import timed_ops

            self.queries = QUERIES
            self.names = timed_ops(QUERIES, self.workload, self.seed)
            with open(os.path.join(HERE, "expected.json")) as f:
                self.expected = json.load(f)
        else:
            from loads import OPS, LoadCycle, generate

            generate(self.seed, DATA, f"{self.work}/inputs")
            self.cycle = LoadCycle(f"{self.work}/inputs", self.work)
            self.names = list(OPS)
            random.Random(self.seed).shuffle(self.names)

    # -- passes ----------------------------------------------------------
    def measure(self) -> None:
        """One cold pass, ``WARMUP`` warm-up passes, then warm passes.

        The pass count is fixed, so every run and every commit takes each
        op's best over the same number of warm samples, and a load run
        covers the same target sizes. A run stops short of it only once
        the passes after the cold one have taken ``CAP * seconds``.
        """
        from loads import DAYS

        self.total = DAYS if self.workload == "load_incremental" else 1 + WARMUP + WARM_PASSES
        self.run_pass(0)
        t0 = time.perf_counter()
        while len(self.passes) < self.total and time.perf_counter() - t0 < CAP * self.seconds:
            self.run_pass(len(self.passes))
        self.rss = peak_rss_mb(self.jvm_pid)

    def check_confs(self, session) -> None:
        """Check a pass session reads every engine conf of set-up."""
        for key, value in self.engine_conf.items():
            got = session.conf.get(key, None)
            if got != value:
                self.problems.append(f"pass session reads {key}={got!r}, set-up set {value!r}")

    def run_pass(self, index: int) -> None:
        tracer = self.tracer
        collect_before = tracer.collect_s
        with tracer.span("pass", index=index) as rec:
            self.spark.catalog.clearCache()
            session = self.spark.newSession()
            if self.workload == "load_incremental":
                self.cycle.land(index)
            else:
                # Each pass reads the table footers once, outside any op,
                # so that cost does not land on whichever op runs first.
                from linkmerce_spark.frames import load_star

                with tracer.span("load_star"):
                    load_star(session, DATA)
            for name in self.names:
                if self.workload == "load_incremental":
                    self.load_op(session, index, name)
                else:
                    self.read_op(session, index, name)
        self.check_confs(session)
        self.passes.append({"index": index, "wall": rec["t1"] - rec["t0"],
                            "collect_s": tracer.collect_s - collect_before})

    def _record(self, rec: dict, op: dict, children: list[dict]) -> None:
        op["wall"] = rec["t1"] - rec["t0"]
        for child in children:
            op[child["name"]] = child["t1"] - child["t0"]
        op["covered"] = sum(c["t1"] - c["t0"] for c in children)
        self.ops.append(op)

    def read_op(self, session, index: int, name: str) -> None:
        from digest import digest_frame, mismatches, read_digest

        tracer = self.tracer
        op = {"pass": index, "name": name, "ok": False}
        oid = f"{index}:{name}"
        try:
            first = tracer.job_mark()
            with tracer.span("op", oid, query=name) as rec:
                with tracer.span("build", oid) as b:
                    df = self.queries[name](session, DATA)
                built = tracer.job_mark()
                with tracer.span("frame", oid) as f:
                    agg, keys = digest_frame(df)
                with tracer.span("plan", oid) as p:
                    qe = agg._jdf.queryExecution()
                    qe.executedPlan()
                with tracer.span("exec", oid) as e:
                    row = agg.collect()[0]
            end = tracer.job_mark()
        except Exception:  # an op failure is a measured outcome, not a crash
            self.problems.append(f"{oid} raised: {traceback.format_exc(limit=2).strip()}")
            self.ops.append(op)
            return
        got = read_digest(row, keys)
        want = self.expected.get(name)
        bad = ["no expected digest"] if want is None else mismatches(got, want)
        if bad:
            self.problems.append(f"{oid} output differs from expected on {bad[:5]}")
        op["ok"] = not bad
        self._record(rec, op, [b, f, p, e])
        if self.trace:
            from spans import catalyst_phases, plan_counts

            with tracer.counting():
                op["build_stats"] = tracer.job_stats(first, built)
                op["exec_stats"] = tracer.job_stats(built, end)
                op["phases"] = catalyst_phases(qe)
                op["plan_counts"] = plan_counts(qe)

    def load_op(self, session, index: int, name: str) -> None:
        tracer = self.tracer
        op = {"pass": index, "name": name, "ok": True}
        oid = f"{index}:{name}"
        started_ns = time.time_ns()
        try:
            first = tracer.job_mark()
            with tracer.span("op", oid, load=name) as rec:
                with tracer.span(LOAD_LAYER[name], oid) as w:
                    self.cycle.run(session, index, name)
            end = tracer.job_mark()
        except Exception:  # an op failure is a measured outcome, not a crash
            self.problems.append(f"{oid} raised: {traceback.format_exc(limit=2).strip()}")
            op["ok"] = False
            self.ops.append(op)
            return
        self._record(rec, op, [w])
        op["rows"], op["incoming_bytes"] = self.cycle.incoming(index, name)
        if self.trace:
            with tracer.counting():
                op["exec_stats"] = tracer.job_stats(first, end)
                op["files"] = self.cycle.files_since(name, started_ns)

    def check_loads(self) -> None:
        from loads import TARGETS, replay_check

        days = len(self.passes)
        for table in replay_check(self.cycle, days):
            self.problems.append(f"load target {table} differs from its DuckDB replay")
            for op in self.ops:
                if TARGETS[op["name"]] == table:
                    op["ok"] = False

    # -- results ---------------------------------------------------------
    def warm_passes(self) -> list[dict]:
        """The passes the warm figures come from."""
        return self.passes[1 + WARMUP:]

    def warm_ops(self) -> list[dict]:
        return [op for op in self.ops if op["pass"] >= 1 + WARMUP and "wall" in op]

    def best_pass(self) -> tuple[float, dict[str, float]]:
        """A warm pass with each op, and the time the pass spends outside
        its ops, at its best over the warm passes; and those op bests.

        Load from outside the process only ever slows an op, and on the
        host of record it comes in phases of minutes that often cover
        part of a run. A median over three or four passes follows such
        a phase once it covers half of them; the best of them does not.
        """
        by_name: dict[str, list[float]] = {}
        outside = {p["index"]: p["wall"] for p in self.warm_passes()}
        for op in self.warm_ops():
            by_name.setdefault(op["name"], []).append(op["wall"])
            outside[op["pass"]] -= op["wall"]
        op_s = {name: min(walls) for name, walls in by_name.items()}
        return min(outside.values()) + sum(op_s.values()), op_s

    def end_to_end(self) -> dict[str, float]:
        pass_s, op_s = self.best_pass()
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": self.passes[0]["wall"],
            "pass_s": pass_s,
            "op_p50_s": statistics.median(op_s.values()),
            "peak_rss_mb": sum(self.rss),
        }

    def per_layer(self) -> dict[str, float]:
        totals = [self._pass_layers(p) for p in self.warm_passes()]
        out = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
        out.update(self.layers)
        out["trace.pass_s"] = self.best_pass()[0]
        out["trace.coverage"] = min(op["covered"] / op["wall"] for op in self.ops if "wall" in op)
        out["trace.unstable_ops"] = len(self.unstable_ops())
        return out

    def _pass_layers(self, p: dict) -> dict[str, float]:
        ops = [op for op in self.ops if op["pass"] == p["index"] and "wall" in op]
        t = {k: 0.0 for k in PER_LAYER if k not in RUN_LAYERS}
        incoming = 0
        for op in ops:
            ex = op["exec_stats"]
            if "build" in op:
                bs = op["build_stats"]
                t["queries.build_s"] += op["build"]
                t["queries.build_jobs"] += bs["jobs"]
                t["queries.build_job_s"] += bs["job_s"]
                t["catalyst.frame_s"] += op["frame"]
                t["catalyst.plan_s"] += op["plan"]
                t["exec.s"] += op["exec"]
                for phase, ms in op["phases"].items():
                    t[f"catalyst.{phase}_ms"] += ms
                for kind, n in op["plan_counts"].items():
                    t[f"plan.{kind}"] += n
            else:
                t[LOAD_LAYER[op["name"]] + "_s"] += op["wall"]
                t["exec.s"] += op["wall"]
                t["writers.rows_written"] += ex["outputRecords"]
                t["writers.bytes_written"] += ex["outputBytes"]
                t["writers.files_written"] += op["files"]
                incoming += op["incoming_bytes"]
                if op["name"] == "incremental":
                    t["incremental.files_in"] += 1
                    t["incremental.rows_in"] += ex["inputRecords"]
            t["exec.jobs"] += ex["jobs"]
            t["exec.stages"] += ex["stages"]
            t["exec.tasks"] += ex["numCompleteTasks"]
            t["exec.failed_tasks"] += ex["numFailedTasks"]
            t["exec.task_run_s"] += ex["executorRunTime"] / 1e3
            t["exec.task_cpu_s"] += ex["executorCpuTime"] / 1e9
            t["exec.gc_s"] += ex["jvmGcTime"] / 1e3
            t["exec.shuffle_write_bytes"] += ex["shuffleWriteBytes"]
            t["exec.shuffle_read_bytes"] += ex["shuffleReadBytes"]
            t["exec.spill_bytes"] += ex["memoryBytesSpilled"] + ex["diskBytesSpilled"]
            t["exec.input_rows"] += ex["inputRecords"]
        t["queries.build_py_s"] = t["queries.build_s"] - t["queries.build_job_s"]
        if t["exec.s"]:
            t["exec.core_util"] = t["exec.task_run_s"] / (t["exec.s"] * self.cores)
        if incoming:
            t["writers.write_amp"] = t["writers.bytes_written"] / incoming
        moved = t["plan.exchanges"] + t["plan.broadcasts"] + t["plan.reused_exchanges"]
        if moved:
            t["plan.reuse_ratio"] = t["plan.reused_exchanges"] / moved
        t["trace.collect_s"] = p["collect_s"]
        return t

    def unstable_ops(self) -> dict[str, list]:
        """Read ops whose build or exec job counts differ between passes."""
        seen: dict[str, set] = {}
        for op in self.ops:
            if "build_stats" in op:
                seen.setdefault(op["name"], set()).add(
                    (op["build_stats"]["jobs"], op["exec_stats"]["jobs"]))
        return {name: sorted(v) for name, v in seen.items() if len(v) > 1}

    def trace_gaps(self) -> list[str]:
        return [f"{op['pass']}:{op['name']} wall {op['wall']:.4f}s, spans {op['covered']:.4f}s"
                for op in self.ops if "wall" in op
                and op["wall"] - op["covered"] > COVERAGE_TOL_S + COVERAGE_TOL_SHARE * op["wall"]]

    def close(self) -> None:
        """Stop Spark and wait until the driver JVM has exited."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


def report(run: Run, metrics: dict, units: dict) -> None:
    attempted = len(run.ops)
    failed = sum(not op["ok"] for op in run.ops)
    warm = run.warm_ops()
    print(f"workload {run.workload}, seed {run.seed}: {len(run.passes)} passes "
          f"(1 cold + {WARMUP} warm-up + {len(run.warm_passes())} warm), "
          f"{len(run.names)} ops per pass, "
          f"closed loop with 1 client, local[{run.cores}]")
    print("  pass walls (s): " + " ".join(f"{p['wall']:.2f}" for p in run.passes))
    if len(run.passes) < run.total:
        print(f"  note: stopped after {len(run.passes)} of {run.total} passes, past {CAP} x --seconds")
    if not run.trace:
        bests = sorted(run.best_pass()[1].items(), key=lambda kv: kv[1])
        print("  op bests (s): " + ", ".join(f"{name} {s:.3f}" for name, s in bests))
    for name, value in metrics.items():
        note = ""
        if name == "op_p50_s":
            note = f"  (median of {len(run.names)} per-op bests over {len(warm)} warm ops)"
        elif name == "peak_rss_mb":
            note = f"  (Python {run.rss[0]:.0f} + JVM {run.rss[1]:.0f})"
        print(f"  {name:28s} {value:.6g} {units[name]}{note}")
    if not run.trace:
        p90, beyond = percentile([op["wall"] for op in warm], 0.9)
        shown = f"{p90:.6g} s" if beyond >= P90_MIN_BEYOND else "not reported"
        print(f"  {'op_p90_s':28s} {shown}  ({len(warm)} warm ops, {beyond} above p90; "
              f"reported from {P90_MIN_BEYOND})")
    print(f"  {'error_rate':28s} {failed / attempted:.6g} ({failed} of {attempted} ops)")
    if run.workload == "load_incremental" and warm:
        rate = sum(op["rows"] for op in warm) / sum(op["wall"] for op in warm)
        print(f"  {'rows_written_per_s':28s} {rate:.6g} 1/s  (incoming batch rows over warm op time)")
    for problem in run.problems:
        print(f"  problem: {problem}")
    if run.trace:
        for name, counts in run.unstable_ops().items():
            print(f"  job counts (build, exec) differ between passes: {name} {counts}")
        gaps = run.trace_gaps()
        print(f"  trace self-test: {len(run.ops) - len(gaps)} of {len(run.ops)} ops covered by "
              f"their spans to within {COVERAGE_TOL_S}s + {COVERAGE_TOL_SHARE:.0%}")
        for gap in gaps:
            print(f"  trace gap: {gap}")
    result = {
        "correct": failed == 0 and not run.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))


def main(argv: list[str] | None = None) -> int:
    started = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import linkmerce_spark  # noqa: F401  (the program under test must be here)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # Keep every file Spark, the JVM and DuckDB write inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp" pyspark-shell')
    # A fixed 2 GB driver heap (-Xms above, -Xmx here) holds the sf0.01
    # working set many times over. With the package's growable 8 GB
    # default, the heap grew differently in each run: peak RSS moved by
    # up to 40% and pass times by up to 20% between runs. Pre-touching
    # it keeps peak RSS from depending on how far the young generation
    # got before the run ended (it read 2.0 or 2.8 GB without).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.chdir(work)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run.setup(started)
        run.measure()
        if args.workload == "load_incremental":
            run.check_loads()
        if args.trace:
            metrics, units = run.per_layer(), PER_LAYER
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(f"{out}/trace-{args.workload}-{args.seed}.json",
                            {"workload": args.workload, "seed": args.seed, "ops": run.ops})
        else:
            metrics, units = run.end_to_end(), END_TO_END
    finally:
        run.close()
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)
    report(run, metrics, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
