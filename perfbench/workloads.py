"""The three benchmark workloads.

Each workload prepares its seeded inputs and reference results (untimed),
then runs iterations. An iteration is a list of operations; each operation's
wall covers only the call into the engine and the materialisation of its
result, and its output is checked against an independent reference right
after, outside that wall.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import sys
import time
from collections import Counter

import duckdb

from . import inputs

# (workload sizes are set so that one run, with its Spark start-up, fits the
# benchmark's per-run budget on a 4-core box; see perfbench/README.md)
VALIDATE_CONVS = 12_000
#: hash buckets of the checkpointed run, as ``runner.main --buckets 1``. The
#: auto rule's floor of 4 buckets would make per-bucket job overhead most of
#: an iteration at this input size (≈50 MB of parquet per 1M turns)
VALIDATE_BUCKETS = 1
STREAM_CONVS = 600
STREAM_FILES = 16
STREAM_FILES_PER_TRIGGER = 8
QUALITY_SCALE = 1.0
#: documents in the traced run's one-shot dedup probe
PROBE_DOCS = 8_000
#: iteration number of the traced validation in ``validate_run``'s stream
#: probe, apart from the iterations of the run itself
STREAM_PROBE_ITERATION = 1000

#: registered queries run by ``quality_queries`` (all oracle-gated), each
#: with the operator family whose module computes its result: one query per
#: family, plus the four dedup operators
QUALITY_QUERIES = {
    "chi_square_events": "drift",
    "col_stats_events": "stats",
    "dedup_exact_documents": "dedup",
    "dedup_jaccard_documents": "dedup",
    "dedup_minhash_documents": "dedup",
    "dedup_simhash_pairs": "dedup",
    "embedding_neardup": "similarity",
    "multimodal_features": "multimodal",
    "text_quality_documents": "text",
    "uniqueness_lineitem": "uniqueness",
    "validate_events": "compile",
}
#: the query each ``quality_queries`` set-up runs
SETUP_QUERY = "validate_events"


class Op:
    """One timed call into the engine and the verdict of its output check."""

    __slots__ = ("name", "start", "wall", "ok", "error")

    def __init__(self, name: str):
        self.name = name
        self.start = time.time()
        self.wall = 0.0
        self.ok = False
        self.error = None


def timed(name: str, fn):
    """Run ``fn()`` as operation ``name``; return ``(op, result)``, with
    ``result`` None when ``fn`` raised."""
    op = Op(name)
    t0 = time.perf_counter()
    try:
        result = fn()
    except Exception as e:  # an op that raises is counted as failed, not fatal
        op.error = f"{type(e).__name__}: {str(e)[:300]}"
        result = None
    op.wall = time.perf_counter() - t0
    return op, result


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "item"):
        return _canon(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def same_rows(a_cols, a_rows, b_cols, b_rows) -> bool:
    """Order-insensitive equality of two results, columns matched by name and
    floats compared at 6 decimals (the registered oracles round to 6 dp)."""
    if sorted(a_cols) != sorted(b_cols) or len(a_rows) != len(b_rows):
        return False
    ia = [a_cols.index(c) for c in sorted(a_cols)]
    ib = [b_cols.index(c) for c in sorted(b_cols)]

    def norm(rows, idx):
        return sorted((tuple(_canon(r[i]) for i in idx) for r in rows), key=repr)

    return norm(a_rows, ia) == norm(b_rows, ib)


class Workload:
    name = ""
    #: the items one iteration processes (turns or queries)
    items = 1
    #: untimed iterations before the timed ones: they pay the cold JVM's
    #: class loading, code generation and first JIT compilations
    warmup_iterations = 1
    #: timed iterations a run makes at least, whatever its --seconds
    min_iterations = 3
    #: reference agreement over the measured iterations
    matched = 0
    compared = 0
    #: known-defect mismatches (counted in ``compared``, not as failed ops)
    known_defect = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        #: set by a traced run once the set-ups are done
        self.tracer = None
        self.seed = seed
        self.work = work
        self.inputs_root = os.path.join(work, "inputs")
        self.out_root = os.path.join(work, "out", f"{self.name}-{os.getpid()}")
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)

    def span(self, name: str):
        """A traced span ``bench.<name>`` around a step the benchmark itself
        runs, such as materialising a DataFrame an engine call returned."""
        return self.tracer.span(f"bench.{name}") if self.tracer else contextlib.nullcontext()

    def prepare(self) -> None:
        """Generate inputs and reference results (untimed)."""

    def setup_engine(self) -> None:
        """The engine's share of one set-up, timed after each Spark session
        start: plan the workload's job and run its first Spark action."""

    def probe(self) -> dict:
        """A one-shot, ungated measurement for the traced run."""
        return {}

    def iteration(self, i: int) -> list:
        raise NotImplementedError

    def extra(self) -> dict:
        """Workload-specific figures for the human-readable summary."""
        return {}


# ----------------------------------------------------------------- validate_run

#: the engine's per-bucket quality table, recomputed over the whole input
QUALITY_SQL = """
WITH k AS (SELECT conv_id, turn_idx, count(*) AS n FROM t GROUP BY 1, 2),
u AS (SELECT sum(n) AS total_rows, count(*) AS distinct_keys,
             sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS duplicate_rows FROM k),
g AS (SELECT conv_id, count(*) AS n_rows, count(DISTINCT turn_idx) AS n_distinct,
             min(turn_idx) AS mn, max(turn_idx) AS mx, count(*) - count(turn_idx) AS n_null
      FROM t GROUP BY 1),
c AS (SELECT count(*) AS n_groups,
             sum(CASE WHEN n_null = 0 AND mn = 0 AND mx = n_rows - 1 AND n_distinct = n_rows
                      THEN 0 ELSE 1 END) AS broken_groups FROM g)
SELECT total_rows, distinct_keys, duplicate_rows, n_groups, broken_groups FROM u, c
"""


class ValidateRun(Workload):
    """The north-rule job the way ``runner.main --buckets 1 --quality-checks``
    runs it: compile the F1 rule document against the input schema, then
    ``CheckpointedRun.run``, into a fresh output root and run id per
    iteration."""

    name = "validate_run"
    #: iterations keep getting faster for about ten iterations of a cold JVM:
    #: the first timed one after a single warm-up ran up to 40% slower than
    #: the fifth
    warmup_iterations = 2
    min_iterations = 5

    def prepare(self):
        from jsonschema_go_spark.oracle import summary_sql, verdict_sql
        from jsonschema_go_spark.sources.transcripts import transcript_table_rule

        self.input = inputs.transcript_table(
            self.spark, self.inputs_root, VALIDATE_CONVS, self.seed, files=4
        )
        elem = {
            "conv_id": "string", "turn_idx": "integer", "role": "string",
            "text": "string", "tool": "string", "ts": "timestamp",
        }
        tr = transcript_table_rule()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{self.input}/*.parquet')")
        self.items = con.sql("SELECT count(*) FROM t").fetchone()[0]
        self.ref_verdicts = {
            r[0]: r[1:] for r in con.sql(
                "SELECT partition_key, rows, fail_rows, violation_count, passed FROM ("
                + verdict_sql(tr, "t", "conv_id", elem) + ")"
            ).fetchall()
        }
        self.ref_summary = {
            r[0]: r[1] for r in con.sql(summary_sql(tr, "t", elem)).fetchall() if r[1]
        }
        self.ref_quality = con.sql(QUALITY_SQL).fetchone()
        con.close()
        self.input_bytes = sum(
            e.stat().st_size for e in os.scandir(self.input) if e.name.endswith(".parquet")
        )
        self.bucket_walls = []
        #: violation rows each checked run wrote
        self.violation_rows = []

    def setup_engine(self):
        from jsonschema_go_spark.compile import compile_table
        from jsonschema_go_spark.sources.transcripts import transcript_table_rule

        df = self.spark.read.parquet(self.input)
        compile_table(transcript_table_rule(), df.schema).verdicts(df, "conv_id").count()

    def iteration(self, i):
        from jsonschema_go_spark.compile import compile_table
        from jsonschema_go_spark.lineage import CheckpointedRun
        from jsonschema_go_spark.sources.io import TableIO
        from jsonschema_go_spark.sources.transcripts import transcript_table_rule

        run_id = f"bench_{i}"
        out = os.path.join(self.out_root, run_id)
        state = {}

        def run():
            df = self.spark.read.parquet(self.input)
            plan = compile_table(transcript_table_rule(), df.schema)
            io_out = TableIO(self.spark, format="parquet", base_path=out)
            state["run"] = CheckpointedRun(io_out, run_id, num_buckets=VALIDATE_BUCKETS)
            return state["run"].run(df, plan, resume=False, quality_checks=True)

        op, result = timed("validate.checkpointed_run", run)
        if result is not None:
            op.ok = self._check(out, state["run"])
        if "run" in state:
            self.spark.sql(f"DROP TABLE IF EXISTS {state['run']._staged_table}")
        shutil.rmtree(out, ignore_errors=True)
        return [op]

    def probe(self):
        """The streaming layer, measured once: ``stream_validate`` on its own
        input, one untimed warm-up validation and then one traced one
        (reported, not gated; see perfbench/README.md for why streaming has
        no gated workload)."""
        sw = StreamValidate(self.spark, self.work, self.seed)
        try:
            sw.prepare()
            sw.iteration(0)
            it = STREAM_PROBE_ITERATION
            sw.tracer, self.tracer.iteration = self.tracer, it
            self.tracer.install()
            try:
                (op,) = sw.iteration(it)
            finally:
                self.tracer.uninstall()
                self.tracer.iteration = None
            return {
                **self.tracer.streaming_metrics(sw, [it]),
                "probe.stream.turns_per_s": sw.items / op.wall,
                "probe.stream.ref_match_ratio": sw.matched / sw.compared,
                "probe.stream.failed_ops": float(not op.ok),
            }
        finally:
            shutil.rmtree(sw.out_root, ignore_errors=True)

    def _check(self, out, run) -> bool:
        rid = run._safe_run_id
        con = duckdb.connect()
        got = {
            r[0]: r[1:] for r in con.sql(
                "SELECT partition_key, rows, fail_rows, violation_count, passed FROM "
                f"read_parquet('{out}/verdicts_{rid}/*/*.parquet')"
            ).fetchall()
        }
        summary = dict(con.sql(
            f"SELECT rule_id, count(*) FROM read_parquet('{out}/violations_{rid}/*/*.parquet') GROUP BY 1"
        ).fetchall())
        quality = con.sql(
            "SELECT sum(total_rows), sum(distinct_keys), sum(duplicate_rows), sum(n_groups), "
            f"sum(broken_groups) FROM read_parquet('{out}/quality_{rid}/*/*.parquet')"
        ).fetchone()
        self.bucket_walls += [r[0] for r in con.sql(
            f"SELECT wall_sec FROM read_parquet('{out}/lineage/*.parquet')").fetchall()]
        con.close()
        self.violation_rows.append(sum(summary.values()))
        matched = sum(1 for k, v in self.ref_verdicts.items() if got.get(k) == v)
        self.matched += matched
        self.compared += len(self.ref_verdicts)
        return (
            matched == len(self.ref_verdicts)
            and len(got) == len(self.ref_verdicts)
            and summary == self.ref_summary
            and quality == self.ref_quality
        )


# -------------------------------------------------------------- quality_queries

class QualityQueries(Workload):
    """A fixed, sorted subset of the registered queries, each written to a noop
    sink. Every query's result is compared once per run, on the warm-up pass,
    with its registered DuckDB oracle."""

    name = "quality_queries"

    def prepare(self):
        from jsonschema_go_spark.queries import get_oracles, get_queries

        self.dir = inputs.quality_tables(self.inputs_root, self.seed, QUALITY_SCALE)
        self.queries = get_queries()
        self.oracles = get_oracles()
        self.names = sorted(QUALITY_QUERIES)
        self.items = len(self.names)
        self.candidate_pairs = 0

    def _query(self, name):
        """The registered query function, looked up in its module at call time
        so that a traced iteration calls the spanned wrapper."""
        fn = self.queries[name]
        return getattr(sys.modules[fn.__module__], fn.__name__, fn)

    def setup_engine(self):
        # the query that compiles a rule document: compile_table plus a first
        # action, as on the other workloads, and no Python worker start,
        # whose fork and imports read ±30% from one set-up to the next
        self._query(SETUP_QUERY)(self.spark, self.dir).write.format("noop").mode("overwrite").save()

    def iteration(self, i):
        ops = []
        for name in self.names:
            def run(name=name):
                with self.span(f"query.{name}"):
                    df = self._query(name)(self.spark, self.dir)
                    with self.span("materialize"):
                        if i == 0:
                            # the warm-up pass collects, so its rows can be checked
                            return df, [tuple(r) for r in df.collect()]
                        df.write.format("noop").mode("overwrite").save()
                        return df, None

            op, res = timed(f"query.{name}", run)
            if res is not None:
                op.ok = i > 0 or self._check(name, *res)
                if self.tracer and self.tracer.iteration is not None:
                    self.tracer.note_plan(res[0])
            ops.append(op)
        return ops

    def _check(self, name, df, rows) -> bool:
        con = duckdb.connect()
        for t in ("events", "documents", "embeddings", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        rel = con.sql(self.oracles[name])
        ok = same_rows(df.columns, rows, list(rel.columns), rel.fetchall())
        con.close()
        if name == "dedup_minhash_documents":
            self.candidate_pairs = len(rows)
        self.compared += 1
        self.matched += ok
        return ok

    def probe(self):
        """One pass of the four dedup operators over a generated corpus of
        PROBE_DOCS documents (reported, not gated: it shows how the
        operators scale past the 500-document table)."""
        from jsonschema_go_spark.operators import dedup as dd

        path = os.path.join(inputs.dedup_corpus(self.inputs_root, PROBE_DOCS, self.seed), "docs.parquet")
        df = self.spark.read.parquet(path)
        calls = {
            "exact_duplicates": lambda: dd.exact_duplicates(df, "doc_id", "text").count(),
            "simhash_near_pairs": lambda: dd.simhash_near_pairs(df, "doc_id", "text").count(),
            "lsh_keep": lambda: dd.dedup_keep_list(
                df, "doc_id", dd.lsh_candidate_pairs(df, "doc_id", "text")).count(),
            "jaccard_pairs": lambda: dd.jaccard_pairs(df, "doc_id", "text", threshold=0.5).count(),
        }
        walls, failed = {}, 0
        for name, fn in calls.items():
            op, _ = timed(name, fn)
            walls[name] = op.wall
            failed += op.error is not None
        return {
            "probe.dedup.docs_per_s": PROBE_DOCS / sum(walls.values()),
            "probe.dedup.simhash_pairs_s": walls["simhash_near_pairs"],
            "probe.dedup.jaccard_s": walls["jaccard_pairs"],
            "probe.dedup.failed_ops": failed,
        }


# -------------------------------------------------------------- stream_validate

class StreamValidate(Workload):
    """Drain a STREAM_FILES-file transcript directory through the four
    streaming validators, STREAM_FILES_PER_TRIGGER files per trigger with
    ``availableNow``, each into a memory sink with a fresh checkpoint. Every result is compared with the batch
    operators over the same files."""

    name = "stream_validate"

    def prepare(self):
        from jsonschema_go_spark.compile import compile_table
        from jsonschema_go_spark.operators.uniqueness import contiguity
        from jsonschema_go_spark.sources.transcripts import transcript_table_rule

        spark = self.spark
        self.input = inputs.transcript_table(
            spark, self.inputs_root, STREAM_CONVS, self.seed, files=STREAM_FILES
        )
        batch = spark.read.parquet(self.input)
        self.schema = batch.schema
        self.plan = compile_table(transcript_table_rule(), batch.schema)
        self.items = batch.count()
        self.ref_contig = {
            r["conv_id"]: (r["n_distinct"], r["min_val"], r["max_val"], r["contiguous"], r["n_rows"])
            for r in contiguity(batch, "conv_id", "turn_idx", start=0).collect()
        }
        self.ref_verdict = {
            r["partition_key"]: (r["rows"], r["fail_rows"], r["passed"])
            for r in self.plan.verdicts(batch, "conv_id").collect()
        }
        self.progress_log = []
        #: (iteration, validator, seconds) of every drain
        self.drain_walls = []
        self.ref_viol = Counter(
            tuple(r) for r in self.plan.violations(batch, ["conv_id", "turn_idx"], ordered=False).collect()
        )

    def setup_engine(self):
        from jsonschema_go_spark.compile import compile_table
        from jsonschema_go_spark.sources.transcripts import transcript_table_rule

        df = self.spark.read.parquet(self.input)
        self.plan = compile_table(transcript_table_rule(), df.schema)
        self.plan.verdicts(df, "conv_id").count()

    def _drain(self, name, build, mode, i):
        """Drain the input through ``build(stream)`` into a memory sink and
        return the sink's rows (in update mode: every emitted update)."""
        spark = self.spark
        ckpt = os.path.join(self.out_root, f"ckpt_{i}_{name}")
        view = f"perfbench_{name}_{i}"

        def run():
            with self.span(f"stream.{name}"):
                stream = (
                    spark.readStream.schema(self.schema)
                    .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER)
                    .parquet(self.input)
                )
                q = (
                    build(stream).writeStream.format("memory").queryName(view)
                    .outputMode(mode)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                self.progress_log += [(i, name, json.loads(p.json)) for p in q.recentProgress]
                return spark.table(view).collect()

        op, res = timed(f"stream.{name}", run)
        spark.catalog.dropTempView(view)
        shutil.rmtree(ckpt, ignore_errors=True)
        return op, res

    @staticmethod
    def _final(rows, key):
        """Per key, the update with the most rows: ``rows`` only grows as
        batches arrive, and an update that leaves it unchanged repeats the
        previous values."""
        last = {}
        for r in rows:
            if r[key] not in last or r["rows"] >= last[r[key]]["rows"]:
                last[r[key]] = r
        return last

    def iteration(self, i):
        """One operation: the input drained through each of the four
        streaming validators in turn. Its wall is the sum of the drains'
        walls; the checks between drains are not timed."""
        from jsonschema_go_spark.streaming import validate_stream as vs

        plan = self.plan

        def contiguity(res):
            return self._check_contiguity(self._final(res, "conv_id"))

        drains = {
            "violations": (lambda s: vs.violation_stream(plan, s, ["conv_id", "turn_idx"]), "append",
                           lambda res: Counter(tuple(r) for r in res) == self.ref_viol),
            "contiguity_pandas": (vs.stateful_contiguity_stream, "update", contiguity),
            "contiguity_jvm": (vs.contiguity_verdict_stream, "update", contiguity),
            "verdicts": (lambda s: vs.conversation_verdict_stream(plan, s), "update",
                         self._check_verdicts),
        }
        op = Op("stream.validate")
        op.ok = True
        for name, (build, mode, check) in drains.items():
            drain, res = self._drain(name, build, mode, i)
            op.wall += drain.wall
            self.drain_walls.append((i, name, drain.wall))
            if res is None or not check(res):
                op.ok = False
                op.error = op.error or f"{name}: {drain.error or 'output mismatch'}"
        return [op]

    def _check_verdicts(self, res) -> bool:
        got = self._final(res, "conv_id")
        good = sum(1 for k, v in self.ref_verdict.items()
                   if k in got and (got[k]["rows"], got[k]["fail_rows"], got[k]["passed"]) == v)
        self.matched += good
        self.compared += len(self.ref_verdict)
        return good == len(self.ref_verdict) == len(got)

    def _check_contiguity(self, got) -> bool:
        """Streamed ``(rows, min_idx, max_idx, contiguous)`` per conversation
        against batch ``uniqueness.contiguity``. A conversation whose chain is
        broken only by a duplicated turn_idx, which the streamed form reports
        as contiguous, is the known defect C1: it lowers the match ratio but
        does not fail the operation. Any other difference does."""
        if set(got) != set(self.ref_contig):
            return False
        ok = True
        for k, (n_distinct, mn, mx, contiguous, n_rows) in self.ref_contig.items():
            g = got[k]
            self.compared += 1
            if (g["rows"], g["min_idx"], g["max_idx"], g["contiguous"]) == (n_distinct, mn, mx, contiguous):
                self.matched += 1
            elif (n_rows > n_distinct and g["contiguous"] and not contiguous
                  and (g["rows"], g["min_idx"], g["max_idx"]) == (n_distinct, mn, mx)):
                self.known_defect += 1
            else:
                ok = False
        return ok

    def extra(self):
        return {"c1_mismatched_conversations": self.known_defect}


WORKLOADS = {w.name: w for w in (ValidateRun, QualityQueries, StreamValidate)}
