"""Traced runs: spans around the engine's public functions, plus Spark's own
metrics (event log, status tracker, streaming progress), reduced to the
per-layer metrics of BENCHMARK.json.

Spans are recorded from the benchmark's side only: :meth:`Tracer.install`
replaces every public function and public method of the engine modules with
a wrapper that times the call, in every engine module that binds it, and
:meth:`Tracer.uninstall` puts the originals back. Spans stay in memory.
Spark jobs are attributed to the innermost span open at their submission
time, so the event log's stage metrics land on the layer that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict

from . import workloads

PKG = "jsonschema_go_spark"
#: engine modules whose public functions are spanned (the layers)
LAYERS = [
    "compile", "plans.plan", "lineage", "sources.io", "sources.transcripts",
    "operators.dedup", "operators.stats", "operators.drift", "operators.text",
    "operators.similarity", "operators.multimodal", "operators.uniqueness",
    "streaming.validate_stream", "runner", "queries", "queries_pipeline",
]
#: private methods spanned as well, because a per-layer metric needs them
EXTRA = [("lineage", "CheckpointedRun", "_stage_input")]

#: per-layer metric name -> unit, as declared in BENCHMARK.json
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}

#: the quality query whose wall is each dedup operator's time
DEDUP_QUERIES = {
    "operators.dedup.exact_s": "dedup_exact_documents",
    "operators.dedup.simhash_pairs_s": "dedup_simhash_pairs",
    "operators.dedup.lsh_pairs_s": "dedup_minhash_documents",
    "operators.dedup.jaccard_s": "dedup_jaccard_documents",
}


def _union(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, spark, events_dir: str):
        self.spark = spark
        self.events_dir = events_dir
        self.spans = []          # (name, start, end, depth, iteration, attrs)
        self.iteration = None    # index of the traced iteration in progress
        self._local = threading.local()
        self._saved = []         # (owner, attr, original)
        self.plan_phases = []    # (iteration, seconds) per planned query
        self.elided = {}         # table rule name -> checks elided by IsTrivial
        self.persisted = {}      # iteration -> persisted RDDs after minus before

    # ------------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(name)
        t0 = time.time()
        try:
            yield attrs
        finally:
            stack.pop()
            if self.iteration is not None:
                self.spans.append((name, t0, time.time(), len(stack), self.iteration, attrs))

    def _wrap(self, label, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if label == "sources.io.TableIO.append":
                attrs["table"] = args[2] if len(args) > 2 else kwargs.get("name")
            with tracer.span(label, **attrs) as a:
                out = fn(*args, **kwargs)
                if label == "compile.compile_table":
                    a["checks"] = len(out.checks)
            if label == "compile.compile_table":
                tracer._note_elided(fn, args, len(out.checks))
            return out

        return wrapper

    def _note_elided(self, fn, args, n_checks):
        """Checks IsTrivial elision removed, from one extra compile of the same
        rule document with elision off (once per document)."""
        rule = args[0]
        if rule.name not in self.elided:
            from jsonschema_go_spark.compile import CompileOptions

            full = fn(rule, args[1], CompileOptions(elide_trivial=False))
            self.elided[rule.name] = len(full.checks) - n_checks

    def install(self):
        originals = {}
        for short in LAYERS:
            mod = importlib.import_module(f"{PKG}.{short}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    originals[obj] = self._wrap(f"{short}.{name}", obj)
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            self._patch(obj, attr, self._wrap(f"{short}.{name}.{attr}", fn))
        for short, cls, attr in EXTRA:
            owner = getattr(importlib.import_module(f"{PKG}.{short}"), cls)
            self._patch(owner, attr, self._wrap(f"{short}.{cls}.{attr}", vars(owner)[attr]))
        # rebind every module-level reference, including `from x import f`
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in originals:
                    self._patch(mod, name, originals[obj])

    def _patch(self, owner, attr, new):
        self._saved.append((owner, attr, getattr(owner, attr) if not inspect.isclass(owner) else vars(owner)[attr]))
        setattr(owner, attr, new)

    def uninstall(self):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved = []

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def note_plan(self, df):
        """Plan ``df`` once more (untimed by the op) and record the analysis +
        optimisation + planning phase times of Spark's QueryPlanningTracker."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = sum(phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning")
                 if phases.contains(p))
        self.plan_phases.append((self.iteration, ms / 1000.0))

    # -------------------------------------------------------------- event log
    def _events(self):
        app = self.spark.sparkContext.applicationId
        files = glob.glob(os.path.join(self.events_dir, f"{app}*"))
        if not files:
            return []
        out = []
        with open(files[0]) as f:
            for line in f:
                try:
                    out.append(json.loads(line))
                except ValueError:
                    break  # a partially flushed last line
        return out

    def jobs_by_span(self):
        """Per Spark job: the innermost traced span open at its submission and
        the summed stage metrics of the job (task metrics and SQL metrics by
        display name), plus the driver-side SQL metrics by (node, metric)."""
        events = self._events()
        stage_acc = {}
        jobs = []
        plan_ids = {}
        driver = defaultdict(Counter)  # execution id -> (node, metric) -> value
        exec_of_job = {}

        def walk(p):
            for m in p.get("metrics", []):
                plan_ids[m["accumulatorId"]] = (p.get("nodeName", ""), m["name"])
            for c in p.get("children", []):
                walk(c)

        for e in events:
            kind = e.get("Event", "").rsplit(".", 1)[-1]
            if kind == "SparkListenerStageCompleted":
                acc = Counter()
                for a in e["Stage Info"].get("Accumulables", []):
                    try:
                        acc[a["Name"]] += float(a["Value"])
                    except (TypeError, ValueError, KeyError):
                        pass
                stage_acc[e["Stage Info"]["Stage ID"]] = acc
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs.append((e["Job ID"], e["Submission Time"] / 1000.0, e["Stage IDs"]))
                if "spark.sql.execution.id" in props:
                    exec_of_job[e["Job ID"]] = int(props["spark.sql.execution.id"])
            elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                walk(e.get("sparkPlanInfo", {}))
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc_id, v in e.get("accumUpdates", []):
                    driver[e["executionId"]][acc_id] += v

        spans = sorted(self.spans, key=lambda s: s[1])
        out = []
        seen_exec = set()
        for job_id, t, stage_ids in jobs:
            inner = outer = None
            for s in spans:
                if s[1] <= t <= s[2]:
                    if inner is None or s[3] >= inner[3]:
                        inner = s
                    if outer is None or s[3] < outer[3]:
                        outer = s
            if inner is None:
                continue
            acc = Counter()
            for sid in stage_ids:
                acc.update(stage_acc.get(sid, {}))
            ex = exec_of_job.get(job_id)
            drv = Counter()
            if ex is not None and ex not in seen_exec:
                seen_exec.add(ex)
                for acc_id, v in driver.get(ex, {}).items():
                    if acc_id in plan_ids:
                        drv[plan_ids[acc_id]] += v
            out.append({"span": inner, "op": outer[0],
                        "stages": len([s for s in stage_ids if s in stage_acc]),
                        "acc": acc, "driver": drv})
        return out

    # ---------------------------------------------------------- per-layer
    def coverage(self, traced_ops) -> tuple:
        """Over traced iterations, the lowest share of the op wall that engine
        spans cover, and the highest share that only the benchmark's own
        ``bench.*`` spans cover (materialising what an engine call returned,
        or draining a stream)."""
        engine, bench = [], []
        for it, ops in traced_ops:
            wall = sum(op.wall for op in ops)
            spans = [s for s in self.spans if s[4] == it]
            covered = _union((s[1], s[2]) for s in spans if not s[0].startswith("bench."))
            anything = _union((s[1], s[2]) for s in spans)
            if wall > 0:
                engine.append(min(covered / wall, 1.0))
                bench.append(min((anything - covered) / wall, 1.0))
        return (min(engine), max(bench)) if engine else (0.0, 0.0)

    def per_layer(self, wl, untraced, traced, probes) -> dict:
        """Reduce spans, event-log jobs and workload counters to PER_LAYER.
        ``untraced``/``traced`` are lists of ``(iteration, ops)``."""
        m = dict.fromkeys(PER_LAYER, 0.0)
        jobs = self.jobs_by_span()
        its = [it for it, _ in traced]
        all_ops = [op for _, ops in untraced + traced for op in ops]

        def span_s(pred):
            """median over traced iterations of summed span seconds"""
            return _med([sum(s[2] - s[1] for s in self.spans if s[4] == it and pred(s)) for it in its])

        def job_sum(key, op=""):
            """median over traced iterations of a stage metric summed over the
            jobs of ops whose outermost span starts with ``op``"""
            return _med([sum(j["acc"].get(key, 0.0) for j in jobs
                             if j["span"][4] == it and j["op"].startswith(op)) for it in its])

        def op_med(prefix):
            return _med([op.wall for op in all_ops if op.name.startswith(prefix)])

        def in_span(name):
            def pred(j):
                s = j["span"]
                return any(t[0] == name and t[1] <= s[1] and s[2] <= t[2] and t[4] == s[4]
                           for t in self.spans)
            return pred

        n_iter_jobs = _med([sum(1 for j in jobs if j["span"][4] == it) for it in its])
        wall = _med([sum(op.wall for op in ops) for _, ops in traced])

        m["compile.compile_s"] = span_s(lambda s: s[0] == "compile.compile_table")
        m["compile.checks"] = _med([sum(s[5].get("checks", 0) for s in self.spans
                                        if s[4] == it and s[0] == "compile.compile_table") for it in its])
        m["compile.elided_checks"] = float(sum(self.elided.values()))
        m["sources.scan_bytes"] = job_sum("internal.metrics.input.bytesRead")
        m["sources.scan_rows"] = job_sum("internal.metrics.input.recordsRead")
        m["sources.files_read"] = _med([
            sum(v for j in jobs if j["span"][4] == it for (_, k), v in j["driver"].items()
                if k == "number of files read") for it in its])
        m["sources.write_bytes"] = job_sum("internal.metrics.output.bytesWritten")

        if wl.name == "validate_run":
            table = lambda prefix: lambda s: s[0] == "sources.io.TableIO.append" and str(s[5].get("table", "")).startswith(prefix)
            m["lineage.stage_s"] = span_s(lambda s: s[0] == "lineage.CheckpointedRun._stage_input")
            m["lineage.bucket_s"] = _med(wl.bucket_walls)
            stage_jobs = _med([sum(1 for j in jobs if j["span"][4] == it and in_span("lineage.CheckpointedRun._stage_input")(j)) for it in its])
            m["lineage.jobs_per_bucket"] = (n_iter_jobs - stage_jobs) / workloads.VALIDATE_BUCKETS
            m["lineage.write_bytes_per_input_byte"] = m["sources.write_bytes"] / max(wl.input_bytes, 1)
            m["plans.violations_s"] = span_s(table("violations_"))
            m["plans.verdicts_s"] = span_s(table("verdicts_"))
            m["operators.uniqueness.quality_s"] = span_s(table("quality_"))
            m["plans.codegen_s"] = job_sum("duration") / 1000.0
            m["plans.violation_ratio"] = _med(wl.violation_rows) / max(wl.items, 1)

        if wl.name == "quality_queries":
            nq = len(wl.names)
            m["queries.planning_s"] = _med([s for _, s in self.plan_phases])
            m["queries.jobs_per_query"] = n_iter_jobs / nq
            m["queries.stages_per_query"] = _med([sum(j["stages"] for j in jobs if j["span"][4] == it) for it in its]) / nq
            m["queries.python_boot_s"] = (job_sum("time to start Python workers")
                                          + job_sum("time to initialize Python workers")) / 1000.0
            m["queries.task_busy_ratio"] = job_sum("internal.metrics.executorRunTime") / 1000.0 / (wall * 4) if wall else 0.0
            for fam in ("stats", "drift", "text", "similarity", "uniqueness", "multimodal"):
                m[f"operators.{fam}.query_s"] = _med([
                    op.wall for op in all_ops
                    if workloads.QUALITY_QUERIES.get(op.name.split(".", 1)[1]) == fam])
            for metric, query in DEDUP_QUERIES.items():
                m[metric] = op_med(f"query.{query}")
            dedup = "bench.query.dedup_"
            m["operators.dedup.python_bytes_sent"] = job_sum("data sent to Python workers", dedup)
            m["operators.dedup.python_bytes_received"] = job_sum("data returned from Python workers", dedup)
            m["operators.dedup.python_run_s"] = job_sum("time to run Python workers", dedup) / 1000.0
            m["operators.dedup.candidate_pairs"] = wl.candidate_pairs
            m["operators.dedup.cc_jobs"] = _med([sum(1 for j in jobs if j["span"][4] == it
                                                     and in_span("operators.dedup.connected_components")(j)) for it in its])
            m["operators.dedup.shuffle_bytes"] = job_sum("internal.metrics.shuffle.write.bytesWritten", dedup)
            m["operators.dedup.broadcast_bytes"] = _med([
                sum(v for j in jobs if j["span"][4] == it and j["op"].startswith(dedup)
                    for (node, k), v in j["driver"].items()
                    if node == "BroadcastExchange" and k == "data size") for it in its])
            m["operators.dedup.persisted_rdds_net"] = float(sum(self.persisted.get(it, 0) for it in its))

        if wl.name == "stream_validate":
            m.update(self.streaming_metrics(wl, its))

        m.update(probes)
        untraced_wall = _med([sum(op.wall for op in ops) for _, ops in untraced])
        m["trace.overhead_s"] = wall - untraced_wall
        m["trace.span_coverage"], m["trace.bench_share"] = self.coverage(traced)
        return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in m.items()}

    def streaming_metrics(self, wl, its) -> dict:
        """The ``streaming.*`` metrics of a ``stream_validate`` workload over
        its traced iterations ``its``: streaming query progress, the Python
        boundary's stage metrics and each drain's wall."""
        jobs = self.jobs_by_span()

        def job_sum(key):
            return _med([sum(j["acc"].get(key, 0.0) for j in jobs if j["span"][4] == it) for it in its])

        m = {}
        prog = [(it, name, p) for it, name, p in wl.progress_log if it in its]
        batches = [p for _, _, p in prog if p.get("numInputRows", 0) > 0]
        m["streaming.batches"] = len(batches) / max(len(its), 1)
        m["streaming.batch_p50_s"] = _med([p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in batches])
        m["streaming.add_batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000.0 / max(len(its), 1)
        m["streaming.planning_s"] = sum(p["durationMs"].get("queryPlanning", 0) for p in batches) / 1000.0 / max(len(its), 1)
        last = {}
        for it, name, p in prog:
            if p.get("stateOperators"):
                last[(it, name)] = p["stateOperators"]
        per_it = defaultdict(lambda: [0, 0])
        for (it, _), ops in last.items():
            per_it[it][0] += sum(o.get("numRowsTotal", 0) for o in ops)
            per_it[it][1] += sum(o.get("memoryUsedBytes", 0) for o in ops)
        m["streaming.state_rows"] = _med([v[0] for v in per_it.values()])
        m["streaming.state_bytes"] = _med([v[1] for v in per_it.values()])
        m["streaming.python_bytes_sent"] = job_sum("data sent to Python workers")
        m["streaming.python_run_s"] = job_sum("time to run Python workers") / 1000.0
        for name in ("contiguity_pandas", "contiguity_jvm", "violations", "verdicts"):
            m[f"streaming.{name}_s"] = _med([w for it, n, w in wl.drain_walls if it > 0 and n == name])
        return m
