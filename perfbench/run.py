"""Benchmark entry point.

    python3 perfbench/run.py --workload validate_run --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[4]`` from a single process as a closed loop with
one client, checks every operation's output against an independent
reference, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` the
same loop runs with spans around every public call into the engine and
Spark's event log on, and the metrics are the per-layer ones.

Everything the run writes (inputs cache, Spark warehouse, staging, event
logs, checkpoints, outputs, temp files) goes under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
#: this run's event logs; like its output dir, per process, so that a run
#: deletes only what it wrote
EVENTS = os.path.join(WORK, "events", str(os.getpid()))
CORES = 4
#: driver heap, sized at JVM start (not pre-touched) so that heap resizing
#: does not add GC pauses that differ from run to run
DRIVER_MEMORY = "2g"
#: per Python worker address-space cap: the driver plus 4 workers fit in
#: 15 GB, and a runaway kernel raises MemoryError in its own task instead of
#: waking the kernel OOM killer
PYSPARK_MEMORY = "2g"
#: Spark session starts per run; ``setup_s`` is their median
SETUPS = 3


def process_start_time() -> float:
    """Wall-clock time (``time.time()`` scale) at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class PeakRss(threading.Thread):
    """Samples the summed proportional set size (PSS) of this process's
    descendants, the JVM and its Python workers, from /proc, and keeps the
    peak while armed: of the sum, of the JVM alone and of the workers alone.
    PSS splits pages shared between the forked Python workers among them,
    where a sum of RSS would count them once per worker. The benchmark's own
    process is left out: it holds the reference checks (DuckDB, collected
    rows), not the engine."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_workers_kb = 0
        self.peak_procs = 0
        self.armed = False
        self._halt = threading.Event()

    @staticmethod
    def descendants(root: int) -> list:
        children = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], list(children.get(root, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    @staticmethod
    def pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    @staticmethod
    def is_jvm(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip() == "java"
        except OSError:
            return False

    def run(self):
        me = os.getpid()
        while not self._halt.wait(self.period):
            if self.armed:
                procs = self.descendants(me)
                jvm = workers = 0
                for p in procs:
                    if self.is_jvm(p):
                        jvm += self.pss_kb(p)
                    else:
                        workers += self.pss_kb(p)
                if jvm + workers > self.peak_kb:
                    self.peak_kb, self.peak_procs = jvm + workers, len(procs)
                self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
                self.peak_workers_kb = max(self.peak_workers_kb, workers)

    def stop(self):
        self._halt.set()
        self.join()


def build_session(trace: bool, cores: int = CORES):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.executor.pyspark.memory", PYSPARK_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # one shuffle partition per core: at these input sizes every
        # partition's fixed cost (task launch, state store load and commit)
        # outweighs its data
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(WORK, 'derby')}")
    )
    if trace:
        os.makedirs(EVENTS, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", EVENTS)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM this process launched and wait until it and every other
    descendant (the Python worker daemon) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while PeakRss.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def heap_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def percentile_with_tail(values, min_beyond: int = 10):
    """The highest of p50/p75/p90/p95/p99 that has at least ``min_beyond``
    samples above it, as ``(label, value)``; None when even p50 has fewer."""
    xs = sorted(values)
    best = None
    for p in (50, 75, 90, 95, 99):
        if len(xs) * (100 - p) / 100 >= min_beyond:
            best = (f"p{p}", xs[min(len(xs) - 1, int(len(xs) * p / 100))])
    return best


def versions(spark) -> dict:
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {"spark": spark.version, "java": java, "python": platform.python_version()}


def scaling_probe(wl, wall_4: float) -> float:
    """local[4] throughput ÷ (4 × local[1] throughput) on one iteration, run
    in a fresh local[1] context of the same JVM (reported, not gated)."""
    wl.spark.stop()
    wl.spark = build_session(trace=False, cores=1)
    try:
        ops = wl.iteration(10_000)
    finally:
        wl.spark.stop()
    return sum(op.wall for op in ops) / (4 * wall_4)


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout this file sits in; without it
    # the benchmark cannot run and must fail before printing any result
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "jsonschema_go_spark")):
        print("perfbench: jsonschema_go_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    for d in ("tmp", "stage", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(WORK, "stage")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from perfbench import tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    phases = {"imports": time.time() - t_proc}
    spark = build_session(bool(args.trace))
    t_session = time.time() - t_proc
    phases["jvm_start"] = t_session - phases["imports"]
    rss = PeakRss()
    rss.start()
    tracer = wl = None
    try:
        wl = workloads.WORKLOADS[args.workload](spark, WORK, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        gen_s = phases["prepare"] = time.perf_counter() - t0

        # set-up: a Spark session start plus the engine's planning and first
        # action, SETUPS times. The first start also launches the JVM; the
        # others start a fresh session in it. Input generation is excluded.
        t0 = time.perf_counter()
        wl.setup_engine()
        setups = [t_session + time.perf_counter() - t0]
        while len(setups) < SETUPS:
            spark.stop()
            t0 = time.perf_counter()
            spark = wl.spark = build_session(bool(args.trace))
            wl.setup_engine()
            setups.append(time.perf_counter() - t0)
        setup_s = statistics.median(setups)
        phases["setups"] = sum(setups) - t_session

        if args.trace:
            tracer = wl.tracer = tracing.Tracer(spark, EVENTS)
        pools = heap_pools(spark)
        for p in pools:
            p.resetPeakUsage()
        rss.armed = True
        t0 = time.perf_counter()
        warm = [op for i in range(wl.warmup_iterations) for op in wl.iteration(i)]
        phases["warm_up"] = time.perf_counter() - t0
        t0 = time.perf_counter()

        # closed loop, one client, for at least --seconds of timed operations
        # and at least the workload's minimum number of iterations, so that
        # every median is over several samples. A traced run alternates
        # untraced and traced iterations, so the difference of their walls is
        # the tracing overhead.
        iters, measured = [], 0.0
        while measured < args.seconds or len(iters) < wl.min_iterations or (tracer and len(iters) < 2):
            i = wl.warmup_iterations + len(iters)
            traced = bool(tracer) and len(iters) % 2 == 1
            if traced:
                tracer.install()
                tracer.iteration = i
                before = tracer.persisted_rdds()
            try:
                ops = wl.iteration(i)
            finally:
                if traced:
                    tracer.iteration = None
                    tracer.uninstall()
                    tracer.persisted[i] = tracer.persisted_rdds() - before
            iters.append((i, ops, traced))
            measured += sum(op.wall for op in ops)
        rss.armed = False
        phases["loop"] = time.perf_counter() - t0

        all_ops = warm + [op for _, ops, _ in iters for op in ops]
        failed = [op for op in all_ops if not op.ok]
        heap_peak_mb = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
        iter_walls = [sum(op.wall for op in ops) for _, ops, _ in iters]
        op_walls = [op.wall for _, ops, _ in iters for op in ops]
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (wl.items / statistics.median(iter_walls), "1/s"),
            "op_p50_s": (statistics.median(op_walls), "s"),
            "ref_match_ratio": (wl.matched / wl.compared if wl.compared else 1.0, "ratio"),
            "ok_op_ratio": (1.0 - len(failed) / len(all_ops), "ratio"),
            "worker_peak_mb": (rss.peak_workers_kb / 1024.0, "MB"),
        }
        tail = percentile_with_tail(op_walls)
        summary = {
            "workload": args.workload, "seed": args.seed, "cpus": CORES,
            "trace": args.trace, "input_generation_s": round(gen_s, 3),
            "setups_s": [round(x, 3) for x in setups],
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "iteration_walls": [round(w, 3) for w in iter_walls], "ops": len(op_walls),
            "op_tail": {"percentile": tail[0], "s": tail[1]} if tail else None,
            "items_per_iteration": wl.items, "peak_processes": rss.peak_procs,
            "peak_total_pss_mb": round(rss.peak_kb / 1024, 1),
            "peak_jvm_pss_mb": round(rss.peak_jvm_kb / 1024, 1),
            "peak_workers_pss_mb": round(rss.peak_workers_kb / 1024, 1),
            "jvm_heap_peak_mb": round(heap_peak_mb, 1),
            "errors": sorted({f"{op.name}: {op.error or 'output mismatch'}" for op in failed}),
            **wl.extra(), **versions(spark),
        }
        if tracer:
            metrics = tracer.per_layer(
                wl,
                [(i, ops) for i, ops, t in iters if not t],
                [(i, ops) for i, ops, t in iters if t],
                wl.probe(),
            )
            metrics["memory.total_pss_peak_mb"]["value"] = rss.peak_kb / 1024
            metrics["memory.jvm_pss_peak_mb"]["value"] = rss.peak_jvm_kb / 1024
            metrics["memory.workers_pss_peak_mb"]["value"] = rss.peak_workers_kb / 1024
            metrics["memory.jvm_heap_peak_mb"]["value"] = heap_peak_mb
            if args.workload == "validate_run":
                metrics["probe.scaling_eff_1to4"]["value"] = scaling_probe(
                    wl, statistics.median(iter_walls))
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        summary["end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
        by_op = {}
        for _, ops, _ in iters:
            for op in ops:
                by_op.setdefault(op.name, []).append(op.wall)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump({"summary": summary, "metrics": metrics,
                       "op_p50_s": {k: statistics.median(v) for k, v in by_op.items()}},
                      f, indent=1, default=str)
        print(json.dumps(summary, default=str))
        print(json.dumps({
            "correct": not failed,
            "attempted": len(all_ops),
            "failed": len(failed),
            "metrics": metrics,
        }))
        return 0
    finally:
        rss.stop()
        if tracer:
            tracer.uninstall()
        spark.stop()
        stop_jvm()
        shutil.rmtree(EVENTS, ignore_errors=True)
        if wl is not None:
            shutil.rmtree(wl.out_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
