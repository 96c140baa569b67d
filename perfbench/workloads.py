"""The benchmark workloads.

Every workload drives the program's public functions from one driver
process in a closed loop (the next pass is submitted only after the
previous one completed) and provides:

- ``modules``: what the Python workers import while warming up;
- ``prepare``: build or reuse the seeded inputs (part of set-up);
- ``warm``: untimed passes, the first of which yields the reference
  outputs;
- ``one_pass``: one timed pass;
- ``check``: correctness of everything the run produced, outside the
  timed region, as ``(attempted, failed, messages)``;
- ``traced``: the per-layer figures, from traced passes run after the
  timed ones, with the checks of those passes.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import inputs
from checks import digest_exprs, frame_mismatches, span_mismatches
from pyspark.sql import Observation
from pyspark.sql import functions as F
from tracing import node_sum, stage_sum

MB = 1024.0**2
# untimed noop passes after the cold one: the first passes after the
# cold one are still slower than the ones that follow them
WARM_PASSES = 2
EXTRACTION_MODULES = (
    "reading_the_unreadable_spark.operators.geometry",
    "reading_the_unreadable_spark.operators.layout",
    "reading_the_unreadable_spark.operators.articles",
)


@dataclass
class Ctx:
    """What a workload needs from the run: the live session, where to
    keep files, and the run's knobs."""

    session: object
    tracer: object
    work: Path
    seed: int
    cores: int

    @property
    def spark(self):
        return self.session.spark

    @property
    def partitions(self) -> int:
        return 2 * self.cores


def _importer(modules: tuple):
    def fn(batches):
        import importlib

        for m in modules:
            importlib.import_module(m)
        yield from batches

    return fn


def warm_workers(ctx: Ctx, modules: tuple) -> None:
    """Start one Python worker per core and import the workload's
    operator modules in each: one concurrent task per core.  A workload
    without Python UDFs names no modules and starts no workers."""
    if not modules:
        return
    ctx.spark.range(ctx.cores, numPartitions=ctx.cores).mapInPandas(_importer(modules), "id long").collect()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed(build, cols: tuple[str, ...], sink=noop) -> dict:
    """Build the plan and run it into ``sink`` (the noop sink by default)
    with a row count and digest computed alongside; returns them with the
    wall time."""
    obs = Observation()
    t0 = time.monotonic()
    sink(build().observe(obs, *digest_exprs(*cols)))
    wall = time.monotonic() - t0
    got = obs.get
    return {"wall_s": wall, "rows": int(got["rows"]), "digest": got["digest"]}


@dataclass
class Extraction:
    """``plans.pipeline.extract_nested`` over a seeded docs table into
    the noop sink; ``xl_every`` sets the share of ``XL`` broadsheets."""

    n_docs: int
    xl_every: int
    modules = EXTRACTION_MODULES
    path: str = ""
    ref: dict = field(default_factory=dict)
    warm_passes: list = field(default_factory=list)
    sample_out: list = field(default_factory=list)

    def prepare(self, ctx: Ctx) -> None:
        from reading_the_unreadable_spark.sources.docs import read_docs

        self.path = str(inputs.docs_table(ctx.spark, ctx.work / "cache", ctx.seed, self.n_docs, self.xl_every, ctx.cores))
        read_docs(ctx.spark, self.path).count()

    def docs(self, ctx: Ctx):
        from reading_the_unreadable_spark.sources.docs import read_docs

        return read_docs(ctx.spark, self.path)

    def pipeline(self, ctx: Ctx):
        from reading_the_unreadable_spark.plans.pipeline import extract_nested

        return extract_nested(self.docs(ctx), num_partitions=ctx.partitions)

    def warm(self, ctx: Ctx) -> None:
        """One full pass into parquet, whose output digest is the
        reference every later pass must hit, and whose output holds the
        sample that is checked against the oracle; then ``WARM_PASSES``
        passes into the noop sink, because the passes after the cold one
        are still slower than the ones that follow them."""
        out = str(ctx.work / "out" / "extract_nested")

        def sink(df):
            df.write.mode("overwrite").parquet(out)

        with ctx.tracer.span("extract_nested"):
            self.ref = _observed(lambda: self.pipeline(ctx), ("doc_id", "spans"), sink)
        self.sample_out = ctx.spark.read.parquet(out).filter(F.col("doc_id").isin(self.sample_ids(ctx))).collect()
        self.warm_passes = [self.one_pass(ctx) for _ in range(WARM_PASSES)]

    def one_pass(self, ctx: Ctx) -> dict:
        with ctx.tracer.span("extract_nested"):
            res = _observed(lambda: self.pipeline(ctx), ("doc_id", "spans"))
        res["docs"] = self.n_docs
        return res

    def sample_ids(self, ctx: Ctx) -> list[str]:
        """The first two docs of the corpus plus its first ``XL`` doc."""
        ids = [inputs.doc_id(ctx.seed, i, self.xl_every) for i in range(2)]
        return ids + [inputs.doc_id(ctx.seed, self.xl_every - 1, self.xl_every)]

    def check(self, ctx: Ctx, passes: list[dict]) -> tuple[int, int, list[str]]:
        """:meth:`check_passes`, and span-sequence equality with the
        oracle on the sample of the full pass of ``warm``, which holds an
        ``XL`` doc."""
        from reading_the_unreadable_spark import oracle

        attempted, failed, msgs = self.check_passes([self.ref, *self.warm_passes, *passes])
        ids = self.sample_ids(ctx)
        want = oracle.extract(self.docs(ctx).filter(F.col("doc_id").isin(ids)).toPandas(), fill_columns=True)
        bad = span_mismatches(self.sample_out, want)
        missing = len(set(ids) - set(want["doc_id"]))
        msgs += bad + ([f"{missing} sample docs missing from the input"] if missing else [])
        return attempted, failed + len(bad) + missing, msgs

    def check_passes(self, passes: list[dict]) -> tuple[int, int, list[str]]:
        """Docs in = docs out, and every pass hits the reference digest."""
        failed, msgs = 0, []
        for p in passes:
            if p["rows"] != self.n_docs:
                failed += abs(self.n_docs - p["rows"])
                msgs.append(f"docs in {self.n_docs} != docs out {p['rows']}")
            if p["digest"] != self.ref["digest"]:
                failed += self.n_docs
                msgs.append("output digest differs between passes")
        return self.n_docs * len(passes), failed, msgs

    def traced(self, ctx: Ctx, pass_s: float) -> tuple[dict, int, int, list[str]]:
        """A traced full pass, after a full GC as every timed pass, whose
        excess over the untraced ``pass_s`` just before it is the tracing
        overhead; the extraction layers;
        the checkpoint layer over the same corpus; then, untraced, the
        one-core passes for the scaling efficiency (last: they restart
        the session)."""
        ctx.session.collect_garbage()
        full = self.one_pass(ctx)
        layers = self.prefix_layers(ctx)
        layers["session.trace_overhead_s"] = full["wall_s"] - pass_s
        layers["trace.pass_s"] = full["wall_s"]
        layers["trace.self_sum_gap_s"] = layers["trace.self_sum_s"] - full["wall_s"]
        ck = Checkpoint(self)
        seq = ck.sequence(ctx)
        layers.update(ck.layers(ctx, seq))
        attempted, failed, msgs = ck.check_sequence(ctx, seq)
        ctx.tracer.enabled = False
        single = self.one_core_passes(ctx)
        # docs/s at ctx.cores / docs/s at one core / ctx.cores
        layers["session.scaling_eff"] = single[-1]["wall_s"] / (pass_s * ctx.cores)
        a, f, m = self.check_passes([full, *single])
        return layers, attempted + a, failed + f, msgs + m

    def one_core_passes(self, ctx: Ctx) -> list[dict]:
        """An untimed warm pass and a timed pass in a session of its own
        on a single core."""
        ctx.tracer.rebind(ctx.session.start(1))
        one = Ctx(ctx.session, ctx.tracer, ctx.work, ctx.seed, 1)
        warm_workers(one, self.modules)
        passes = []
        for _ in range(2):
            ctx.session.collect_garbage()
            passes.append(self.one_pass(one))
        return passes

    def prefix_layers(self, ctx: Ctx) -> dict:
        """Per-layer figures from one traced run of each cumulative
        prefix of the pipeline into the noop sink: read_docs ->
        docs_to_geo_boxes -> layout(post_correct) -> layout_extract_spans
        -> extract_nested.  Self times are differences of the prefix
        walls; ``trace.self_sum_s``, their sum, is the wall of the
        full-pipeline prefix, to be set against the traced full pass."""
        from reading_the_unreadable_spark.operators.geometry import docs_payload, docs_to_geo_boxes
        from reading_the_unreadable_spark.operators.layout import layout, layout_extract_spans

        n = ctx.partitions

        def geo():
            return docs_to_geo_boxes(self.docs(ctx), num_partitions=n)

        prefixes = {
            "scan": lambda: self.docs(ctx),
            "geometry": geo,
            "layout": lambda: layout(geo(), n, payload=docs_payload(self.docs(ctx)), post_correct=True, fill_columns=True),
            "articles": lambda: layout_extract_spans(geo(), n, payload=docs_payload(self.docs(ctx)), fill_columns=True),
            "nest": lambda: self.pipeline(ctx),
        }
        sp = {}
        for name, build in prefixes.items():
            with ctx.tracer.span(f"prefix:{name}") as sp[name]:
                noop(build())

        t = {name: s["wall_s"] for name, s in sp.items()}
        run, written = "time to run Python workers", "shuffle bytes written"
        geo_udf = ("_attach_geo",)
        return {
            "docs.scan_s": t["scan"],
            "docs.scan_rows": node_sum(sp["scan"], "number of output rows", desc=("FileScan",)),
            "geometry.self_s": t["geometry"] - t["scan"],
            "geometry.python_s": node_sum(sp["geometry"], run, desc=geo_udf),
            "geometry.arrow_in_mb": node_sum(sp["geometry"], "data sent to Python workers", desc=geo_udf) / MB,
            "geometry.arrow_out_mb": node_sum(sp["geometry"], "data returned from Python workers", desc=geo_udf) / MB,
            "geometry.rebalance_mb": node_sum(sp["geometry"], written, desc=("RoundRobinPartitioning",)) / MB,
            "layout.self_s": t["layout"] - t["geometry"],
            "layout.sort_s": node_sum(sp["layout"], "sort time", name="Sort"),
            # every MapInPandas but the geometry one is the box merge
            "layout.python_s": node_sum(sp["layout"], run, name="MapInPandas") - node_sum(sp["layout"], run, desc=geo_udf),
            "layout.exchange_mb": node_sum(sp["layout"], written, desc=("hashpartitioning(doc_id", "REPARTITION_BY_NUM")) / MB,
            "layout.payload_join_mb": _payload_join_bytes(sp["layout"]) / MB,
            "layout.spill_mb": stage_sum(sp["layout"], "spill_b") / MB,
            "layout.task_skew": _task_skew(sp["layout"]),
            "articles.spans_s": t["articles"] - t["layout"],
            "articles.nest_s": t["nest"] - t["articles"],
            "articles.nest_shuffle_mb": (
                node_sum(sp["nest"], written, desc=("ENSURE_REQUIREMENTS",))
                - node_sum(sp["articles"], written, desc=("ENSURE_REQUIREMENTS",))
            )
            / MB,
            "trace.self_sum_s": t["nest"],
        }


def _payload_join_bytes(sp: dict) -> float:
    """Bytes the payload side of the layout join moves: a broadcast's
    data size or the shuffle feeding a sort-merge join."""
    return node_sum(sp, "data size", name="BroadcastExchange") + node_sum(
        sp, "shuffle bytes written", desc=("ENSURE_REQUIREMENTS",)
    )


def _task_skew(sp: dict) -> float:
    """max / median task time of the span's busiest stage."""
    stages = sp.get("stages") or []
    if not stages:
        return 0.0
    st = max(stages, key=lambda s: s["run_s"])
    return st["task_max_s"] / st["task_med_s"] if st["task_med_s"] > 0 else 0.0


@dataclass
class Checkpoint:
    """``plans.checkpoint.run_extract_with_checkpoints`` over an
    extraction workload's corpus: a first invocation killed after half
    the buckets, a resume, and a no-op re-run, into a real parquet sink."""

    extraction: Extraction
    buckets: int = 32

    def _invoke(self, ctx: Ctx, name: str, out: Path, **kw) -> dict:
        from reading_the_unreadable_spark.plans.checkpoint import run_extract_with_checkpoints

        with ctx.tracer.span(name) as sp:
            sp["t0_epoch"] = time.time()
            res = run_extract_with_checkpoints(
                ctx.spark, self.extraction.docs(ctx), str(out), n_buckets=self.buckets, num_partitions=ctx.partitions, **kw
            )
            sp["t1_epoch"] = time.time()
        return {**res, "wall_s": sp["wall_s"], "span": sp}

    def sequence(self, ctx: Ctx) -> dict:
        out = ctx.work / "ckpt"
        shutil.rmtree(out, ignore_errors=True)
        with ctx.tracer.span("checkpoint:sequence"):
            return {
                "out": out,
                "kill": self._invoke(ctx, "checkpoint:kill", out, max_buckets=self.buckets // 2),
                "resume": self._invoke(ctx, "checkpoint:resume", out),
                "noop": self._invoke(ctx, "checkpoint:noop", out),
            }

    def check_sequence(self, ctx: Ctx, seq: dict) -> tuple[int, int, list[str]]:
        """32 lineage buckets whose doc counts sum to the docs in, a
        no-op re-run that processed nothing, and an output table whose
        digest equals the noop-path digest; a broken sequence leaves no
        doc of it trustworthy."""
        from reading_the_unreadable_spark.plans.checkpoint import read_checkpoints

        n_docs = self.extraction.n_docs
        lineage = read_checkpoints(ctx.spark, f"{seq['out']}/checkpoints").filter(F.col("stage") == "extract")
        row = lineage.agg(F.count(F.lit(1)).alias("b"), F.sum("doc_count").alias("d")).first()
        out = ctx.spark.read.parquet(str(seq["out"] / "extracted_nested")).agg(*digest_exprs("doc_id", "spans")).first()
        bad = []
        if row["b"] != self.buckets:
            bad.append(f"lineage holds {row['b']} buckets, want {self.buckets}")
        if row["d"] != n_docs:
            bad.append(f"lineage doc_count {row['d']} != docs in {n_docs}")
        if seq["noop"]["buckets_processed"] != 0:
            bad.append(f"no-op re-run processed {seq['noop']['buckets_processed']} buckets")
        if out["rows"] != n_docs:
            bad.append(f"checkpoint output holds {out['rows']} docs, want {n_docs}")
        if out["digest"] != self.extraction.ref["digest"]:
            bad.append("checkpoint output digest differs from the noop path")
        shutil.rmtree(seq["out"], ignore_errors=True)
        return n_docs, n_docs if bad else 0, bad

    def layers(self, ctx: Ctx, seq: dict) -> dict:
        """Where one traced sequence's resumed invocation spends its
        time: planning before the output write, the write, and the
        lineage append and compaction after it."""
        from reading_the_unreadable_spark.plans.checkpoint import read_checkpoints

        resume = seq["resume"]
        sp = resume["span"]
        write = {
            n["execution"]
            for n in sp["nodes"]
            if "InsertIntoHadoopFsRelationCommand" in n["name"] and "extracted_nested" in n["desc"]
        }
        execs = [ex for ex in sp["executions"] if ex["execution"] in write]
        w0, w1 = min(ex["start_s"] for ex in execs), max(ex["end_s"] for ex in execs)
        redone = (
            read_checkpoints(ctx.spark, f"{seq['out']}/checkpoints")
            .filter(F.col("job_id") == resume["job_id"])
            .agg(F.sum("doc_count"))
            .first()[0]
        )
        return {
            "checkpoint.kill_s": seq["kill"]["wall_s"],
            "checkpoint.resume_s": resume["wall_s"],
            "checkpoint.noop_resume_s": seq["noop"]["wall_s"],
            "checkpoint.plan_s": w0 - sp["t0_epoch"],
            "checkpoint.write_s": w1 - w0,
            "checkpoint.lineage_s": sp["t1_epoch"] - w1,
            "checkpoint.docs_redone": float(redone or 0),
            "checkpoint.files_written": float(sum(1 for _ in seq["out"].rglob("*.parquet"))),
        }


CURATION_QUERIES = ("asof_join", "range_join", "gopher_filter", "bigram_logprob", "simhash_pairs", "chrf_eval")


@dataclass
class Curation:
    """The curation operators through their ``queries()`` entries over
    seeded ``documents``/``events``/``orders`` tables; each result of the
    cold pass is compared with its ``oracle_sql()`` entry in DuckDB, and
    every later pass must return as many rows as the oracle."""

    n_docs: int
    n_events: int
    n_orders: int
    # the six plans hold no Python UDF, so there are no workers to warm
    modules = ()
    sf_dir: str = ""
    errors: list = field(default_factory=list)
    oracle_rows: dict = field(default_factory=dict)

    def prepare(self, ctx: Ctx) -> None:
        self.sf_dir = str(inputs.curation_tables(ctx.work / "cache", ctx.seed, self.n_docs, self.n_events, self.n_orders))
        for t in ("documents", "events", "orders"):
            ctx.spark.read.parquet(f"{self.sf_dir}/{t}.parquet").count()

    def warm(self, ctx: Ctx) -> None:
        """Collect every result once and compare it with DuckDB."""
        import duckdb

        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "events", "orders"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in CURATION_QUERIES:
                got = queries[q](ctx.spark, self.sf_dir).toPandas()
                want = con.sql(oracles[q]).df()
                self.errors += [f"{q}: {e}" for e in frame_mismatches(got, want)]
                self.oracle_rows[q] = len(want)
        finally:
            con.close()

    def one_pass(self, ctx: Ctx) -> dict:
        import __spark_entry__ as entry

        queries = entry.queries()
        res = {"docs": self.n_docs, "spans": {}, "rows": {}}
        with ctx.tracer.span("queries") as outer:
            for q in CURATION_QUERIES:
                obs = Observation()
                with ctx.tracer.span(f"query:{q}") as res["spans"][q]:
                    noop(queries[q](ctx.spark, self.sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")))
                res["rows"][q] = obs.get["rows"]
        res["wall_s"] = outer["wall_s"]
        return res

    def check(self, ctx: Ctx, passes: list[dict]) -> tuple[int, int, list[str]]:
        """A query that disagrees with its oracle fails in every pass, as
        does a pass whose row count differs from the oracle's."""
        bad = {m.split(":", 1)[0] for m in self.errors}
        failed, msgs = len(bad) * len(passes), list(self.errors)
        for p in passes:
            for q in sorted(set(CURATION_QUERIES) - bad):
                if p["rows"][q] != self.oracle_rows[q]:
                    failed += 1
                    msgs.append(f"{q}: a pass returned {p['rows'][q]} rows, the oracle {self.oracle_rows[q]}")
        return len(CURATION_QUERIES) * len(passes), failed, msgs

    def traced(self, ctx: Ctx, pass_s: float) -> tuple[dict, int, int, list[str]]:
        ctx.session.collect_garbage()
        run = self.one_pass(ctx)
        out = {}
        for q in CURATION_QUERIES:
            out[f"query.{q}_s"] = run["spans"][q]["wall_s"]
            out[f"query.{q}_shuffle_mb"] = stage_sum(run["spans"][q], "shuffle_write_b") / MB
        out["session.trace_overhead_s"] = run["wall_s"] - pass_s
        return out, *self.check(ctx, [run])
