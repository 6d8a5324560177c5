"""The two workloads: ``extract`` and ``operators``.

Each workload sets up once: input staging, then an untimed warm-up whose
output is checked too.  Then it runs warm passes for the run's seconds;
the end-to-end metrics come from those untraced passes.  With tracing
on, a traced pass and one more untraced pass follow, then the noop-sink
and microbench timings of the lazy layers: those give the per-layer
metrics.

Per-layer metrics a workload does not exercise are reported as 0.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time

from spans import Tracer, oracle_microbench

# the repository's sf0.01 test tables, copied unchanged
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

QUERIES = (
    "knn_join",
    "dedup_paragraph",
    "storage_admission",
    "sessionize",
    "regional_revenue",
    "contamination_check",
    "quality_score",
)

LAYERS = {
    **{f"oracle.{f}_us": "us" for f in
       ("html", "pages", "layout", "plain", "tool", "vision", "error")},
    "oracle.cpu_s": "s",
    "htmldom.parse_us": "us",
    "sanitizer.clean_us": "us",
    "domwalk.walk_us": "us",
    "extract.stage_s": "s",
    "extract.boundary_s": "s",
    "extract.arrow_in_bytes_per_turn": "bytes",
    "extract.arrow_out_bytes_per_turn": "bytes",
    "pipeline.repartition_s": "s",
    "pipeline.partition_skew": "ratio",
    "pipeline.lineage_s": "s",
    "checkpoint.append_s": "s",
    "checkpoint.bytes_written_per_turn": "bytes",
    "checkpoint.resume_filter_s": "s",
    "checkpoint.upsert_s": "s",
    "checkpoint.delete_s": "s",
    "checkpoint.results_read_s": "s",
    "edits.apply_s": "s",
    "rollup.rollup_s": "s",
    **{f"queries.{q}_s": "s" for q in QUERIES},
    "scanfan.fan_out_s": "s",
    "session.build_s": "s",
    "input.stage_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
}


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Checks:
    """Output checks of one run: every check counts as attempted, every
    mismatch as failed, and the first few mismatches are kept for the
    report."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.first_failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.first_failures) < 10:
                self.first_failures.append(what)
        return ok


def timed_passes(one_pass, seconds: float, min_passes: int = 2) -> list:
    """Run at least ``min_passes`` warm passes, and more while the last
    pass time says the next one would end within ``seconds``."""
    results = []
    t0 = time.monotonic()
    last = 0.0
    while len(results) < min_passes or time.monotonic() - t0 + last <= seconds:
        t = time.monotonic()
        results.append(one_pass())
        last = time.monotonic() - t
    return results


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


@contextlib.contextmanager
def _step(tracer: Tracer, steps: dict, name: str):
    """Time one step of a pass into ``steps`` and record it as a span."""
    t = time.monotonic()
    with tracer.span(f"step.{name}"):
        yield
    steps[name] = time.monotonic() - t


def tables_digest(sf_dir: str) -> str:
    """sha256 over the table files of ``sf_dir``, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        h.update(name.encode())
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _python_input(df):
    """The frame a ``mapInPandas`` result ``df`` hands its Python function:
    the child of its analyzed plan."""
    from pyspark.sql import DataFrame

    session = df.sparkSession
    child = df._jdf.queryExecution().analyzed().child()
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, child)
    return DataFrame(jdf, session)


def _noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


class Workload:
    def __init__(self, spark, seed: int, run_dir: str, checks: Checks):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.checks = checks

    def run(self, seconds: float, trace: bool, session_s: float):
        t0 = time.monotonic()
        stage_s = self.setup()
        warm = self.warm_up()
        setup_s = session_s + (time.monotonic() - t0)
        passes = timed_passes(lambda: self.one_pass(Tracer()), seconds)
        # each step at its best over the passes: contention from other
        # guests on the host only ever adds time (see the report's
        # steal_frac), and it comes and goes within a run
        best = {k: min(p["steps"][k] for p in passes) for k in passes[0]["steps"]}
        run_s = sum(best.values())
        e2e = {
            "setup_s": setup_s,
            "run_s": run_s,
            "leaf_geomean_s": geomean(best.values()),
            "rows_per_s": self.rows_per_pass / run_s,
            "out_bytes_per_row": median([p["out_bytes"] for p in passes])
            / self.rows_per_pass,
        }
        report = {
            "setup_steps_s": {"stage": round(stage_s, 4),
                              "warmup": {k: round(v, 4) for k, v in warm.items()}},
            "passes": len(passes),
            "pass_s": [round(p["total"], 4) for p in passes],
            "best_steps_s": {k: round(v, 4) for k, v in best.items()},
            **self.describe(),
        }
        layers = {k: 0.0 for k in LAYERS}
        layers["session.build_s"] = session_s
        layers["input.stage_s"] = stage_s
        if trace:
            tracer = Tracer()
            traced = self.one_pass(tracer, patch=True)
            after = self.one_pass(Tracer())
            layers.update(self.layer_metrics(tracer, traced))
            layers["trace.coverage"] = tracer.coverage(0, self.PROGRAM_SPANS)
            # passes still speed up as the JIT warms, so the untraced passes
            # just before and just after the traced one bracket its warmth
            layers["trace.overhead_s"] = (
                traced["total"] - (passes[-1]["total"] + after["total"]) / 2
            )
            report["spans"] = [
                (s.name, round(s.dur, 4), s.parent) for s in tracer.spans
            ]
        return e2e, {k: (v, LAYERS[k]) for k, v in layers.items()}, report


class Extract(Workload):
    """Fresh extraction of an interrupted run's turns, its rollup, then the
    resumed run, an edit batch, a delete and a results read on that store."""

    N_EDITS = 40
    N_SAMPLE = 200
    # calls into the program; the rest of a pass is the benchmark's rollup
    # collect and its final read of the results
    PROGRAM_SPANS = ("pipeline.", "extract.", "rollup.", "checkpoint.", "edits.")

    def setup(self) -> float:
        from inputs import Transcripts

        t = time.monotonic()
        self.tr = tr = Transcripts(self.seed)
        staged = tr.stage(os.path.join(self.run_dir, "input"))
        self.inputs = {
            part: self.spark.read.parquet(d) for part, (d, _) in staged.items()
        }
        self.warm_rows = staged["warm_base"][1]
        stage_s = time.monotonic() - t
        self.rows_per_pass = tr.n_turns

        rng = random.Random(self.seed)
        keys = list(zip(tr.table.column("conv_id").to_pylist(),
                        tr.table.column("turn_idx").to_pylist()))
        self.keys = keys
        whole = [c for pos, c in enumerate(tr.conv_ids) if pos % 10 < 8 and pos > 0]
        self.deleted_conv = rng.choice(whole)
        html = [i for i, k in enumerate(keys)
                if tr.family_of[i] == "html" and tr.base_mask[i]
                and k[0] not in (tr.hot_conv, self.deleted_conv)]
        self.edits = {
            keys[i]: f"<p>edit {n}</p><script>x()</script>"
                     f"<div onclick=\"e()\">kept {keys[i][1]}</div>"
            for n, i in enumerate(sorted(rng.sample(html, self.N_EDITS)))
        }
        self.edits_df = self.spark.createDataFrame(
            [(c, t, v, "HTML", "perfbench") for (c, t), v in self.edits.items()],
            "conv_id string, turn_idx int, edited_content string, "
            "content_format string, edited_by string",
        )
        self.delete_df = self.spark.createDataFrame(
            [(self.deleted_conv, t) for c, t in keys if c == self.deleted_conv],
            "conv_id string, turn_idx int",
        )
        others = [i for i, k in enumerate(keys)
                  if k[0] not in (tr.hot_conv, self.deleted_conv)]
        self.sample = sorted(
            [i for i, k in enumerate(keys) if k[0] == tr.hot_conv]
            + rng.sample(others, self.N_SAMPLE)
        )
        self.expected = None
        self.n_pass = 0
        return stage_s

    def warm_up(self) -> dict:
        """Fresh extraction of a small slice of the input plus its rollup:
        starts the python workers and warms the JIT.  The other steps warm
        up in the first timed pass, which the best-of-passes rule covers."""
        from unraveldocs_spark.checkpoint import DirCheckpointStore
        from unraveldocs_spark.pipeline import run_extraction

        steps = {}
        store = DirCheckpointStore(os.path.join(self.run_dir, "store-warm-up"))
        with _step(Tracer(), steps, "fresh"):
            fresh = run_extraction(self.spark, self.inputs["warm_base"], store=store)
        with _step(Tracer(), steps, "rollup"):
            roll = fresh["rollup"].collect()
        self.checks.check(
            fresh["new_rows"] == self.warm_rows
            and sum(r["total_turns"] for r in roll) == self.warm_rows,
            "warm-up rows",
        )
        return steps

    def describe(self) -> dict:
        tr = self.tr
        return {"input": {
            "digest": tr.digest(), "turns": tr.n_turns, "base_turns": tr.n_base,
            "families": dict(sorted(tr.families.items())),
            "hot_conv": tr.hot_conv, "hot_turns": tr.sizes[0],
            "deleted_conv": self.deleted_conv, "edits": len(self.edits),
        }}

    def one_pass(self, tracer: Tracer, patch: bool = False) -> dict:
        """One pass on a new store.  With ``patch``, the program's public
        functions and the store's methods record spans while it runs."""
        from unraveldocs_spark import checkpoint, edits, pipeline
        from unraveldocs_spark.checkpoint import DirCheckpointStore

        spark = self.spark
        base, full = self.inputs["base"], self.inputs["full"]
        self.n_pass += 1
        root = os.path.join(self.run_dir, f"store-{self.n_pass}")
        store = DirCheckpointStore(root)
        patches = [
            (pipeline, "run_extraction", "pipeline.run_extraction"),
            (pipeline, "salted_repartition", "pipeline.salted_repartition"),
            (pipeline, "extract_stage", "extract.extract_stage"),
            (pipeline, "partition_lineage", "pipeline.partition_lineage"),
            (pipeline, "conversation_rollup", "rollup.conversation_rollup"),
            (checkpoint, "resume_filter", "checkpoint.resume_filter"),
            (edits, "apply_edits", "edits.apply_edits"),
            (store, "append", "checkpoint.append"),
            (store, "upsert", "checkpoint.upsert"),
            (store, "delete", "checkpoint.delete"),
            (store, "results", "checkpoint.results"),
        ]
        steps = {}
        with contextlib.ExitStack() as stack:
            if patch:
                stack.enter_context(tracer.patch(patches))
            with tracer.span("pass"):
                t = time.monotonic()
                with _step(tracer, steps, "fresh"):
                    fresh = pipeline.run_extraction(spark, base, store=store)
                with _step(tracer, steps, "rollup"):
                    roll = fresh["rollup"].collect()
                with _step(tracer, steps, "resume"):
                    resumed = pipeline.run_extraction(spark, full, store=store)
                with _step(tracer, steps, "edit"):
                    updated, _ = edits.apply_edits(store.results(spark), self.edits_df)
                    store.upsert(updated, spark)
                with _step(tracer, steps, "delete"):
                    store.delete(self.delete_df, spark)
                with _step(tracer, steps, "read"):
                    final = store.results(spark).toArrow()
                total = time.monotonic() - t
        self.verify(fresh["new_rows"], roll, resumed["new_rows"], final)
        return {
            "total": total,
            "steps": steps,
            "out_bytes": _dir_bytes(os.path.join(root, "snapshots")),
            "root": root,
        }

    def verify(self, fresh_rows, roll, resumed_rows, final) -> None:
        from unraveldocs_spark.oracle import extract_turn
        from unraveldocs_spark.sanitizer import clean_html

        tr, ck = self.tr, self.checks
        ck.check(fresh_rows == tr.n_base, f"fresh rows {fresh_rows} != {tr.n_base}")
        ck.check(
            len(roll) == tr.n_base_convs
            and sum(r["total_turns"] for r in roll) == tr.n_base,
            "rollup convs/turns",
        )
        ck.check(resumed_rows == tr.n_turns - tr.n_base,
                 f"resumed rows {resumed_rows}")
        got = list(zip(final.column("conv_id").to_pylist(),
                       final.column("turn_idx").to_pylist()))
        want = {k for k in self.keys if k[0] != self.deleted_conv}
        ck.check(len(got) == len(want) and set(got) == want, "final key set")
        at = {k: i for i, k in enumerate(got)}
        if self.expected is None:
            self.expected = {}
            for i in self.sample + [self.keys.index(k) for k in self.edits]:
                role, text, tool = (tr.table.column(c)[i].as_py()
                                    for c in ("role", "text", "tool"))
                self.expected[self.keys[i]] = extract_turn(role, tool, text)
            self.clean_edits = {k: clean_html(v) for k, v in self.edits.items()}
        for i in self.sample:
            k = self.keys[i]
            r, e = self._row(final, at.get(k)), self.expected[k]
            ck.check(
                r is not None
                and r["extracted_text"] == e.extracted_text
                and [tuple(s.values()) for s in r["spans"] or []] == list(e.spans)
                and (r["status"], r["error_message"], r["content_format"], r["rule"])
                == (e.status, e.error_message, e.content_format, e.rule)
                and (r["n_chars"], r["n_words"]) == (e.n_chars, e.n_words),
                f"sample row {k}",
            )
        for k, content in self.clean_edits.items():
            r = self._row(final, at.get(k))
            ck.check(
                r is not None
                and r["edited_content"] == content
                and r["content_format"] == "HTML"
                and r["edited_by"] == "perfbench"
                and r["extracted_text"] == self.expected[k].extracted_text,
                f"edited row {k}",
            )

    @staticmethod
    def _row(table, i):
        return None if i is None else table.slice(i, 1).to_pylist()[0]

    def layer_metrics(self, tracer: Tracer, traced: dict) -> dict:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from unraveldocs_spark.checkpoint import DirCheckpointStore, resume_filter
        from unraveldocs_spark.edits import apply_edits
        from unraveldocs_spark.extract import extract_stage
        from unraveldocs_spark.pipeline import partition_lineage, salted_repartition

        tr, spark = self.tr, self.spark
        n = tr.n_turns
        out = {}
        snaps = os.path.join(traced["root"], "snapshots")
        fresh_snap = os.path.join(snaps, "snap-000001")
        out["extract.arrow_out_bytes_per_turn"] = (
            pq.read_table(os.path.join(fresh_snap, "results")).nbytes / tr.n_base
        )
        out["checkpoint.bytes_written_per_turn"] = sum(
            _dir_bytes(os.path.join(snaps, s)) for s in ("snap-000001", "snap-000002")
        ) / n
        out["checkpoint.append_s"] = tracer.total(
            "checkpoint.append", "pipeline.run_extraction")
        out["checkpoint.upsert_s"] = tracer.total("checkpoint.upsert")
        out["checkpoint.delete_s"] = tracer.total("checkpoint.delete")
        out["checkpoint.results_read_s"] = tracer.total("step.read")
        out["rollup.rollup_s"] = tracer.total("step.rollup")

        # the whole input, partitioned with the arguments run_extraction
        # passed in the traced pass
        full = self.inputs["full"]
        args, kwargs = tracer.calls["pipeline.salted_repartition"]
        staged = salted_repartition(full, *args[1:], **kwargs)
        out["pipeline.repartition_s"] = _noop(staged)
        staged.persist()
        sizes = [r["count"] for r in
                 staged.groupBy(F.spark_partition_id()).count().collect()]
        out["pipeline.partition_skew"] = max(sizes) / median(sizes)
        out["extract.stage_s"] = _noop(extract_stage(staged))
        out["extract.arrow_in_bytes_per_turn"] = (
            _python_input(extract_stage(staged)).toArrow().nbytes / n
        )
        extracted = extract_stage(staged).persist()
        extracted.count()
        out["pipeline.lineage_s"] = _noop(partition_lineage(extracted, "trace", 0))
        extracted.unpersist()
        staged.unpersist()

        # a store holding only the fresh snapshot: the state resume starts from
        one = os.path.join(self.run_dir, "store-fresh-only")
        shutil.copytree(fresh_snap, os.path.join(one, "snapshots", "snap-000001"))
        store = DirCheckpointStore(one)
        out["checkpoint.resume_filter_s"] = _noop(resume_filter(full, store, spark))
        updated, _ = apply_edits(store.results(spark), self.edits_df)
        out["edits.apply_s"] = _noop(updated)

        rows = zip(*(tr.table.column(c).to_pylist() for c in ("role", "text", "tool")))
        out.update(oracle_microbench(rows, tr.family_of))
        slots = spark.sparkContext.defaultParallelism
        out["extract.boundary_s"] = out["extract.stage_s"] - out["oracle.cpu_s"] / slots
        return out


class Operators(Workload):
    """One ``collect()`` of each of seven registry queries per pass, in an
    order the seed permutes, over the sf0.01 tables in ``data/sf0.01``."""

    def setup(self) -> float:
        import pyarrow.parquet as pq

        from unraveldocs_spark.queries import REGISTRY
        from unraveldocs_spark.trainingdata import TRAINING_REGISTRY

        registry = {**REGISTRY, **TRAINING_REGISTRY}
        self.builders = {q: registry[q]["builder"] for q in QUERIES}
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "oracle_values.json")) as f:
            oracle = json.load(f)
        self.expected = oracle["queries"]
        self.order = list(QUERIES)
        random.Random(self.seed).shuffle(self.order)
        t = time.monotonic()
        self.sf_dir = SF_DIR
        self.digest = tables_digest(SF_DIR)
        self.checks.check(self.digest == oracle["tables_digest"],
                          "tables differ from the ones the oracle values are for")
        self.rows_per_pass = sum(
            pq.ParquetFile(os.path.join(SF_DIR, f)).metadata.num_rows
            for f in os.listdir(SF_DIR)
        )
        return time.monotonic() - t

    def warm_up(self) -> dict:
        """Every query once, four at a time: each plan compiles and the JIT
        warms in about half the wall time of a serial pass.  The first
        timed pass still runs 10-45% slower than the second; the
        best-of-passes rule keeps the second."""
        from concurrent.futures import ThreadPoolExecutor

        def one(q):
            t = time.monotonic()
            df = self.builders[q](self.spark, self.sf_dir)
            return df.columns, df.collect(), time.monotonic() - t

        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = {q: pool.submit(one, q) for q in self.order}
            results = {q: f.result() for q, f in futures.items()}
        for q, (cols, rows, _) in results.items():
            self._check(q, cols, rows)
        return {q: secs for q, (_, _, secs) in results.items()}

    def describe(self) -> dict:
        return {"order": self.order, "table_rows": self.rows_per_pass,
                "tables_digest": self.digest}

    def _check(self, q: str, cols, rows) -> int:
        """Check one query's result against the oracle values; returns its
        canonical byte count."""
        from tools.check_correctness import canon_value, frame_hash

        exp = self.expected[q]
        values = [[r[c] for c in cols] for r in rows]
        self.checks.check(
            len(rows) == exp["rows"] and frame_hash(cols, values) == exp["hash"],
            f"{q}: {len(rows)} rows vs {exp['rows']}, or hash mismatch",
        )
        return sum(len(canon_value(v)) for row in values for v in row)

    def one_pass(self, tracer: Tracer, patch: bool = False) -> dict:
        from unraveldocs_spark import scanfan, trainingdata

        patches = [
            (scanfan, "fan_out", "scanfan.fan_out"),
            (trainingdata, "fan_out", "scanfan.fan_out"),
        ]
        steps, results = {}, {}
        with contextlib.ExitStack() as stack:
            if patch:
                stack.enter_context(tracer.patch(patches))
            with tracer.span("pass"):
                t0 = time.monotonic()
                for q in self.order:
                    build = self.builders[q]
                    if patch:
                        build = tracer.wrap(f"queries.{q}.build", build)
                    with _step(tracer, steps, q):
                        df = build(self.spark, self.sf_dir)
                        rows = df.collect()
                    results[q] = (df.columns, rows)
                total = time.monotonic() - t0
        out_bytes = sum(self._check(q, *result) for q, result in results.items())
        return {"total": total, "steps": steps, "out_bytes": out_bytes}

    # calls into the program; the rest of a pass is the benchmark's collects
    PROGRAM_SPANS = ("queries.", "scanfan.")

    def layer_metrics(self, tracer: Tracer, traced: dict) -> dict:
        out = {f"queries.{q}_s": tracer.total(f"step.{q}") for q in QUERIES}
        out["scanfan.fan_out_s"] = tracer.total("scanfan.fan_out")
        return out


WORKLOADS = {"extract": Extract, "operators": Operators}
