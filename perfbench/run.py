#!/usr/bin/env python3
"""Repository benchmark: times the engine's public entry points from
outside, checks every output off the timer, and prints each metric by
name with its unit.

    python3 perfbench/run.py --workload floor_mix --seed 1 --seconds 18 --trace 0

Run it from the root of a checkout. One run is one fresh process on
``local[<cores>]`` (default: every core this process may use):

1. set-up: ``session.get_spark`` boots the JVM, then one untimed warm
   pass builds every query of the workload and collects its output;
2. checks, off the timer: each first-pass output against its DuckDB
   oracle, and rows-only outputs for an unchanged content hash on every
   later pass;
3. timed passes: each query is built (``registry.load_all()[name]
   .spark(spark, sf_dir)``) and forced with a ``noop`` write; a run
   makes ``--seconds`` divided by the workload's nominal pass length
   passes (at least one), so its work never depends on its speed;
   each query's figures are medians over those passes;
4. calibration: three frozen micro-workloads, timed once each, so a
   run on a slower box is recognisable.

Each timed query records its wall time and the CPU time the engine's
processes (this process, the JVM and its Python workers) used during
it, without the JVM's JIT compiler threads: their background compiling
is the JVM warming up, and from one run to the next it moved a pass's
CPU by more than the program's own work did. The JIT's CPU is reported
on its own. A speed probe (``probe.py``) running beside the engine
gives how much slower than its reference speed the shared host ran
fixed work during each query; the bounded CPU figure is divided by it.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same work with per-layer instruments on (``layers.py``) and prints the
per-layer metrics instead. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The
full record of each run goes to ``.perfbench/results/`` in the
checkout and the spans of a traced run to ``.perfbench/traces/``;
``compare.py`` reads those records.
"""

from __future__ import annotations

import time

_PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
# Driver heap: enough for a workload's checkpoints plus shuffle maps at
# local[4], and small enough to share the machine.
DRIVER_MEM = "4g"
# A heap fixed at its maximum does not shrink after the periodic JVM GC
# and regrow in the next timed pass (which moved a pass's GC CPU from
# 0.2 to 6 s); compiler threads that never exit keep the JIT's CPU
# countable to the end.
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm, cut to 15 chars
JVM_GC_EVERY = 16
WARM_PASSES = 1
CLOCK_TICK = os.sysconf("SC_CLK_TCK")

sys.path.insert(0, HERE)

from pools import PASS_SECONDS, WORKLOADS, draw  # noqa: E402
from probe import SpeedProbe  # noqa: E402
from stats import tail  # noqa: E402

OPERATOR_KEYS = ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "off_jvm_s",
                 "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "non_task_s")
STREAMING_KEYS = ("batches", "empty_batches", "empty_batch_s", "add_batch_s",
                  "query_planning_s", "wal_commit_s", "commit_offsets_s",
                  "latest_offset_s", "input_rows", "state_rows", "state_mem_mb")
UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measurement length; sets the number of timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] master; default: usable cores")
    return ap.parse_args(argv)


def pin_environment(cores: int, tmp: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``tmp``, and fix the core count the session factory reads."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


def engine_cpu(jvm_pid: int) -> dict[int, float]:
    """CPU seconds used so far, per process, by this process and by the
    JVM with all its descendants (the Python workers), each with its
    reaped children's time."""
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        fields[int(entry)] = f
        children.setdefault(int(f[1]), []).append(int(entry))
    out, stack = {}, [jvm_pid, os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in fields and pid not in out:
            out[pid] = sum(int(x) for x in fields[pid][11:15]) / CLOCK_TICK  # u/s/cu/cs time
            stack.extend(children.get(pid, ()))
    return out


def jit_cpu(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads used so far."""
    total = 0.0
    base = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while scanning
            continue
        head, rest = raw.rsplit(")", 1)
        if head.split("(", 1)[1].startswith(JIT_THREADS):
            f = rest.split()
            total += (int(f[11]) + int(f[12])) / CLOCK_TICK  # u/s time
    return total


def cpu_between(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds used between two ``engine_cpu`` samples. A process
    that exited in between is left out rather than subtracted: PySpark's
    worker daemon ignores SIGCHLD, so its workers' time never reaches a
    parent's cutime."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def query_medians(per_query: dict[str, list[float]]) -> float:
    """One pass's figure: each query's median over the timed passes,
    summed over the queries."""
    if not all(per_query.values()):
        return float("nan")
    return sum(statistics.median(v) for v in per_query.values())


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibrate(spark, sf_dir: str) -> dict[str, float]:
    """bench.py's frozen anchors (scan+agg, join, window), timed once."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    od = load_table(spark, "orders", sf_dir)
    anchors = {
        "scan_agg": lambda: li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.sum("l_extendedprice"),
            F.avg("l_discount"), F.count(F.lit(1))),
        "join": lambda: li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderpriority").count(),
        "window": lambda: od.select("o_custkey", F.sum("o_totalprice").over(
            W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(W.unboundedPreceding, 0)).alias("running")),
    }
    out = {}
    for name, build in anchors.items():
        t0 = time.perf_counter()
        force(build())
        out[name] = time.perf_counter() - t0
    out["total"] = sum(out.values())
    return out


class Run:
    """One benchmark run over a registry workload."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.names = draw(args.workload, args.seed)
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.lost_drains = 0
        self.check_s = 0.0  # benchmark-owned time inside set-up
        self.wall: list[float] = []  # per timed query: build + force
        self.cpu: list[float] = []  # per timed query: engine CPU seconds
        self.pass_wall: list[float] = []
        self.pass_jit: list[float] = []
        self.per_query: dict[str, list[float]] = {n: [] for n in self.names}
        self.per_query_cpu: dict[str, list[float]] = {n: [] for n in self.names}
        self.timed_spans: list[tuple[str, float, float, float]] = []  # name, start, end, cpu_s
        self.layer_totals: dict[str, float] = {}
        self.since_jvm_gc = 0

    def _span(self, name: str, qid: str | None = None):
        return self.spans.span(name, qid) if self.trace else contextlib.nullcontext()

    def _query(self, name: str, qid: str, collect: bool):
        """Build one query and run it: a noop write, or with ``collect``
        a ``toPandas`` whose frame the checks read. Returns (qd, df, out,
        (start, built, end), cpu_s, jit_s) with ``time.perf_counter()``
        readings, or None if it raised; ``cpu_s`` leaves out the JIT's
        ``jit_s``. CPU reads and trace instruments
        sit outside the wall timers."""
        from kafka_streams_aggregate_spark.registry import load_all

        self.attempted += 1
        qd = load_all().get(name)
        if qd is None:
            self.failed += 1
            self.errors.setdefault(name, "not registered")
            return None
        if self.trace:
            self.ledger.mark()
            seen = set(self.listener.started)
        c0, j0 = engine_cpu(self.jvm_pid), jit_cpu(self.jvm_pid)
        try:
            with self._span("query", qid):
                with self._span("queries.build", qid):
                    t0 = time.perf_counter()
                    df = qd.spark(self.spark, self.args.sf_dir)
                    t1 = time.perf_counter()
                with self._span("force", qid):
                    out = df.toPandas() if collect else force(df)
                    t2 = time.perf_counter()
        except Exception as exc:  # a failing query is reported, never fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:200])
            return None
        jit_s = jit_cpu(self.jvm_pid) - j0
        cpu_s = cpu_between(c0, engine_cpu(self.jvm_pid)) - jit_s
        if self.trace:
            drains, lost = self.listener.collect(self.spark, seen)
            self.lost_drains += lost
            self.failed += lost
            self._layers = {**self.ledger.since_mark(), **drains}
        return qd, df, out, (t0, t1, t2), cpu_s, jit_s

    def _hygiene(self) -> None:
        """bench.py's off-timer heap hygiene: drop finished plans and
        let the ContextCleaner reclaim their blocks."""
        gc.collect()
        self.since_jvm_gc += 1
        if self.since_jvm_gc == JVM_GC_EVERY:
            self.since_jvm_gc = 0
            self.spark.sparkContext._jvm.System.gc()

    def _check(self, qd, pdf) -> None:
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            with self._span("oracle", qd.name):
                ok = self.checker.check(qd, pdf)
        except Exception as exc:  # a failing check is a mismatch
            traceback.print_exc(file=sys.stderr)
            self.checker.mismatches.setdefault(qd.name, f"{type(exc).__name__}: {exc}"[:200])
            ok = False
        self.failed += not ok
        self.check_s += time.perf_counter() - t0

    def _warm_passes(self) -> None:
        """Untimed runs of every query. The first one's collected outputs
        are the ones checked against the oracles."""
        for i in range(WARM_PASSES):
            for name in self.names:
                got = self._query(name, f"warm{i}:{name}", collect=i == 0)
                if got is not None and i == 0:
                    self._check(got[0], got[2])
                self._hygiene()

    def _timed_pass(self, label: str) -> float:
        """One timed pass; returns its wall time. Rows-only outputs are
        collected again after it, off the timer, for the stable-hash
        check."""
        t0 = time.perf_counter()
        wall_total, jit_total, rows_only = 0.0, 0.0, []
        layers: dict[str, float] = {}
        for name in self.names:
            got = self._query(name, f"{label}:{name}", collect=False)
            if got is not None:
                qd, df, _, (start, built, end), cpu_s, jit_s = got
                if qd.oracle is None:
                    rows_only.append((qd, df))
                build_s, force_s = built - start, end - built
                wall = build_s + force_s
                wall_total += wall
                jit_total += jit_s
                self.wall.append(wall)
                self.cpu.append(cpu_s)
                self.per_query[name].append(wall)
                self.per_query_cpu[name].append(cpu_s)
                self.timed_spans.append((name, start, end, cpu_s))
                if self.trace:
                    step = dict(self._layers, build_s=build_s, force_s=force_s, jit_cpu_s=jit_s,
                                non_task_s=wall - self._layers["task_run_s"] / self.args.cores)
                    for k, v in step.items():
                        layers[k] = layers.get(k, 0.0) + v
            self._hygiene()
        self.pass_wall.append(wall_total)
        self.pass_jit.append(jit_total)
        for k, v in layers.items():
            self.layer_totals[k] = self.layer_totals.get(k, 0.0) + v
        elapsed = time.perf_counter() - t0
        for qd, df in rows_only:
            self._check(qd, df.toPandas())
        return elapsed

    def execute(self) -> dict:
        from kafka_streams_aggregate_spark.registry import load_all
        from kafka_streams_aggregate_spark.session import get_spark

        from checks import OutputChecker

        if self.trace:
            from layers import DrainListener, Spans, StageLedger

            self.spans = Spans()
        self.probe = SpeedProbe()
        try:
            with self._span("session"):
                t0 = time.perf_counter()
                self.spark = get_spark(
                    app_name="perfbench", master=f"local[{self.args.cores}]",
                    extra_conf={"spark.ui.showConsoleProgress": "false",
                                "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS},
                )
                boot_s = time.perf_counter() - t0
            try:
                self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
                if self.trace:
                    self.ledger = StageLedger(self.spark)
                    self.listener = DrainListener()
                    self.spark.streams.addListener(self.listener)
                load_all()
                self.checker = OutputChecker(self.args.sf_dir)
                t_warm = time.perf_counter()
                with self._span("warm"):
                    self._warm_passes()
                t_first_timed = time.perf_counter()
                warm_s = t_first_timed - t_warm - self.check_s
                setup_s = t_first_timed - _PROCESS_T0 - self.check_s
                passes = max(1, int(self.args.seconds // PASS_SECONDS[self.args.workload]))
                timed_s = sum(self._timed_pass(f"p{i}") for i in range(passes))
                calib = calibrate(self.spark, self.args.sf_dir)
                self.checker.close()
            finally:
                stop_spark(self.spark)
        finally:
            self.probe.stop()
        return self._record(boot_s, warm_s, setup_s, timed_s, calib)

    def _record(self, boot_s, warm_s, setup_s, timed_s, calib) -> dict:
        import pyspark

        nan = float("nan")
        pass_s = statistics.median(self.pass_wall) if self.pass_wall else nan
        tail_s, tail_pct = tail(self.wall)
        per_query_ref: dict[str, list[float]] = {n: [] for n in self.names}
        slowdowns = []
        for name, start, end, cpu_s in self.timed_spans:
            slowdowns.append(self.probe.slowdown(start, end))
            per_query_ref[name].append(cpu_s / slowdowns[-1])
        layers = {"session.boot_s": boot_s, "session.warm_s": warm_s}
        if self.trace:
            per_pass = {k: v / len(self.pass_wall) for k, v in self.layer_totals.items()}
            layers["queries.build_s"] = per_pass.get("build_s", 0.0)
            layers["force.force_s"] = per_pass.get("force_s", 0.0)
            for k in OPERATOR_KEYS:
                layers["operators." + k] = per_pass.get(k, 0.0)
            busy_s = per_pass.get("task_run_s", 0.0) / self.args.cores
            layers["operators.slot_busy_frac"] = busy_s / pass_s if pass_s else 0.0
            for k in ("drains", "drain_s"):
                layers["eventlog_source." + k] = per_pass.get(k, 0.0)
            for k in STREAMING_KEYS:
                layers["streaming." + k] = per_pass.get(k, 0.0)
            layers["oracle.checked"] = float(self.checker.checked)
            layers["oracle.mismatch"] = float(len(self.checker.mismatches))
            layers["trace.pass_s"] = pass_s
            layers["trace.pass_ref_cpu_s"] = query_medians(per_query_ref)
            layers["jvm.jit_cpu_s"] = per_pass.get("jit_cpu_s", 0.0)
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "seconds": self.args.seconds,
            "env": {
                "cores": self.args.cores, "driver_mem": DRIVER_MEM,
                "spark": pyspark.__version__, "python": platform.python_version(),
                "calib_s": calib,
            },
            "queries": self.names, "passes": len(self.pass_wall), "timed_s": timed_s,
            "end_to_end": {
                "setup_s": setup_s,
                "pass_ref_cpu_s": query_medians(per_query_ref),
            },
            "extra": {
                "pass_cpu_s": query_medians(self.per_query_cpu),
                "pass_s": pass_s,
                "query_p50_s": statistics.median(self.wall) if self.wall else nan,
                "query_tail_s": tail_s,
                "query_cpu_p50_s": statistics.median(self.cpu) if self.cpu else nan,
                "jit_cpu_s": statistics.median(self.pass_jit) if self.pass_jit else nan,
            },
            "probe_slowdown": statistics.median(slowdowns) if slowdowns else nan,
            "tail_pct": tail_pct, "n_samples": len(self.wall),
            "per_layer": layers,
            "per_query_s": self.per_query,
            "per_query_cpu_s": self.per_query_cpu,
            "per_query_ref_cpu_s": per_query_ref,
            "attempted": self.attempted, "failed": self.failed,
            "errors": self.errors, "mismatches": self.checker.mismatches,
            "lost_drains": self.lost_drains,
        }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafka_streams_aggregate_spark")):
        print("perfbench: no kafka_streams_aggregate_spark package in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # The program's own default sf0.1 tables, read-only.
    from kafka_streams_aggregate_spark.sources.tables import DEFAULT_SF_DIR

    if not os.path.isdir(DEFAULT_SF_DIR):
        print(f"perfbench: tables not found at {DEFAULT_SF_DIR}", file=sys.stderr)
        return 2
    args.sf_dir = DEFAULT_SF_DIR
    tmp = os.path.join(STATE_DIR, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    pin_environment(args.cores, tmp)
    run = Run(args)
    try:
        rec = run.execute()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(STATE_DIR, sub), exist_ok=True)
    tag = f"{args.workload}-trace{args.trace}-seed{args.seed}-cores{args.cores}"
    with open(os.path.join(STATE_DIR, "results", tag + ".json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    if run.trace:
        run.spans.write(os.path.join(STATE_DIR, "traces", tag + ".json"))

    env = rec["env"]
    print(f"# {args.workload} seed={args.seed} cores={env['cores']} heap={env['driver_mem']} "
          f"spark={env['spark']} python={env['python']} passes={rec['passes']} "
          f"queries={len(rec['queries'])} calib_s={env['calib_s']['total']:.3f} "
          f"probe_slowdown={rec['probe_slowdown']:.3f}")
    print(f"# fail_frac {rec['failed'] / max(1, rec['attempted']):.4f} "
          f"({rec['failed']} of {rec['attempted']})")
    for name, why in list(rec["errors"].items()) + list(rec["mismatches"].items()):
        print(f"# FAILED {name}: {why}")
    for name, value in rec["extra"].items():
        print(f"# no bound: {name} {value:.6g} s")
    print(f"# query_tail_s is the nearest-rank p{rec['tail_pct']:g} "
          f"of n={rec['n_samples']} per-query wall times")
    shown = rec["per_layer"] if args.trace else rec["end_to_end"]
    for name, value in shown.items():
        print(f"{name} {value:.6g} {unit_of(name)}")
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in shown.items()}
    correct = not rec["errors"] and not rec["mismatches"]
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
