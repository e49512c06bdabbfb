"""The four workloads, and the mapping from each to the metrics it
reports.

Each workload drives the engine only through its public functions and
has the same shape: ``warm_up`` (part of set-up, repeated for every
set-up), ``run_pass`` (one timed pass), ``check`` (outside the timed
region) and, in the traced run only, ``calibrate`` (the per-layer
calibration passes and in-process kernel timings).
"""

from __future__ import annotations

import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import inputs
import sparkstats
from checks import (check_span_hashes, check_stream_docs, compare_frames,
                    doc_from_strips, duckdb_results, span_hashes)
from harness import Engine, RunDir, cpu_delta
from tracing import Tracer

MB = 2 ** 20

# --------------------------------------------------------------------------
# Metric catalogue
# --------------------------------------------------------------------------

# End-to-end metrics printed (and gated) for every workload.
E2E_UNITS = {
    "setup_s": "s", "job_s": "s", "docs_per_s": "1/s",
    "input_mb_per_s": "MB/s", "cpu_s": "s",
    "latency_p50_s": "s", "latency_tail_s": "s",
}

QUERY_NAMES = ("dedup_jaccard", "dedup_components", "curate_decisions",
               "curate_report", "dedup_keep_best")
# The curation pass: the near-duplicate core every query of the chain
# rebuilds (minhash -> bands -> Jaccard verify -> connected components).
# The other four would triple a pass, and a run must fit its budget.
CURATION_QUERIES = ("dedup_components",)

LAYER_UNITS = {
    "session.start_s": "s", "session.python_boot_s": "s",
    "pipeline.scan_project_s": "s", "pipeline.scan_time_s": "s",
    "pipeline.scan_mb": "MB",
    "pipeline.arrow_roundtrip_s": "s", "pipeline.full_pass_s": "s",
    "pipeline.python_data_sent_mb": "MB",
    "pipeline.python_data_received_mb": "MB",
    "pipeline.python_total_s": "s", "pipeline.python_init_s": "s",
    "pipeline.task_s_p50": "s", "pipeline.task_s_max": "s",
    "pipeline.task_skew": "ratio", "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.chunk_rows_s": "s", "pipeline.chunks": "count",
    "pipeline.halo_frac": "ratio", "pipeline.shuffle_write_mb": "MB",
    "pipeline.shuffle_read_mb": "MB", "pipeline.run_job_s": "s",
    "kernels.process_document_ms": "ms", "kernels.dedisperse_ms": "ms",
    "kernels.sk_ms": "ms", "kernels.mask_clip_ms": "ms",
    "kernels.decimate_ms": "ms", "kernels.dedisperse_adds": "count",
    "plan.build_ms": "ms", "plan.builds_per_pass": "count",
    "spans.build_output_ms": "ms",
    "io.perdm_write_s": "s", "io.written_mb": "MB", "io.files_written": "count",
    "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.state_mb_max": "MB",
    "streaming.state_rows_max": "count",
    **{f"queries.{q}_s": "s" for q in QUERY_NAMES},
    **{f"queries.{q}_stages": "count" for q in QUERY_NAMES},
    "queries.shuffle_mb": "MB",
    "proc.jvm_cpu_s": "s", "proc.python_cpu_s": "s",
    "proc.sys_cpu_frac": "ratio", "proc.jvm_rss_mb": "MB",
    "proc.python_rss_mb": "MB",
    "trace.overhead_s": "s",
}

SHARED_HEADER = ("one shared header: after the first pass the per-worker "
                 "plan cache serves it, and builds are not observable from "
                 "outside the workers")

# Layers a workload does not pass through report 0 and this reason.
NOT_ON_PATH = {
    "flagship": {
        "pipeline.chunk_rows_s": "per-document path: no chunking",
        "pipeline.chunks": "per-document path: no chunking",
        "pipeline.halo_frac": "per-document path: no chunking",
        "pipeline.run_job_s": "no run_job: the pass ends in an aggregate",
        "pipeline.shuffle_read_mb": "no shuffle on the per-document path",
        "kernels.mask_clip_ms": "config has no mask",
        "kernels.decimate_ms": "config has ndec=1",
        "io.": "no sink: the pass ends in an aggregate",
        "streaming.": "batch workload", "queries.": "no relational queries",
    },
    "giant_job": {
        "pipeline.python_": "run_job writes through DataFrameWriter: no "
                            "handle on its executed plan",
        "pipeline.scan_time_s": "run_job writes through DataFrameWriter: "
                                "no handle on its executed plan",
        "pipeline.scan_mb": "run_job writes through DataFrameWriter: no "
                            "handle on its executed plan",
        "kernels.mask_clip_ms": "chunked path requires clip_sigma == 0",
        "plan.builds_per_pass": SHARED_HEADER,
        "spans.build_output_ms": "chunked path builds its own rows",
        "streaming.": "batch workload", "queries.": "no relational queries",
    },
    "curation": {
        "session.python_boot_s": "no Python UDF on this path",
        "pipeline.": "no spectra pipeline on this path",
        "kernels.": "no spectra pipeline on this path",
        "plan.": "no spectra pipeline on this path",
        "spans.": "no spectra pipeline on this path",
        "io.": "no per-DM sink on this path",
        "streaming.": "batch workload",
        "proc.python_cpu_s": "no Python UDF on this path",
        **{f"queries.{q}_": "not in the timed pass, to fit the run "
           "budget; the pass runs the core they share (dedup_components)"
           for q in QUERY_NAMES if q not in CURATION_QUERIES},
    },
    "stream": {
        "pipeline.": "streaming operator, not the batch pipeline",
        "kernels.decimate_ms": "config has ndec=1",
        "plan.builds_per_pass": SHARED_HEADER,
        "spans.build_output_ms": "streaming operator emits raw series",
        "io.": "no per-DM sink on this path",
        "queries.": "no relational queries",
        "trace.overhead_s": "open loop: the schedule sets the pass length",
    },
}


def not_on_path(workload: str, metric: str) -> str | None:
    for prefix, why in NOT_ON_PATH[workload].items():
        if metric == prefix or (prefix.endswith((".", "_"))
                                and metric.startswith(prefix)):
            return why
    return None


# --------------------------------------------------------------------------
# Run context and per-pass records
# --------------------------------------------------------------------------

@dataclass
class Ctx:
    engine: Engine
    run: RunDir
    tracer: Tracer
    seed: int
    inputs: Path
    props: dict


@dataclass
class Pass:
    # The pass's job_s: its wall time (batch) or the engine's busy time
    # while the window streamed (stream).
    wall_s: float
    docs: int
    mb: float
    cpu: dict
    # Batch: every document of a pass is due when the pass starts and
    # done when it ends, so a pass is one latency sample.  Stream: one
    # sample per document, from its last strip's due time to its commit.
    latencies: list[float]
    stages: dict = field(default_factory=dict)
    nodes: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _median_time(fn, n: int = 3) -> float:
    return statistics.median(_timed(fn)[0] for _ in range(n))


# --------------------------------------------------------------------------
# In-process layer timings (kernels / plan / spans), shared by the
# spectra workloads.
# --------------------------------------------------------------------------

def kernel_layers(docs: list[dict], cfg, mask) -> dict:
    import numpy as np

    from dragnet_spark import kernels
    from dragnet_spark.plan import build_plan
    from dragnet_spark.spans import build_output_spans, decode_document

    t: dict[str, list[float]] = {}

    def rec(name, fn):
        dt, out = _timed(fn)
        t.setdefault(name, []).append(dt * 1e3)
        return out

    for doc in docs:
        header, data, media = decode_document(doc["spans"])
        plan = rec("plan.build_ms", lambda: build_plan(header, cfg, mask))
        out, _ = rec("kernels.process_document_ms",
                     lambda: kernels.process_document(data, plan))
        rec("spans.build_output_ms", lambda: build_output_spans(
            out, plan.dmlist, header, nsamp_dec=plan.nsamp_dec,
            tsamp_dec=plan.tsamp_dec, max_delay=plan.max_delay,
            prefix=cfg.prefix, media=media, raw_series=True))
        block = data[:plan.blocksize]
        fbuf = block.astype(np.float32)
        use_mask, _, padvals, mask_args = kernels.block_loop_setup(plan)
        if use_mask:
            rec("kernels.mask_clip_ms", lambda: kernels.apply_mask(
                fbuf.copy(), tsamp=plan.tsamp_dec, nsamples=block.shape[0],
                offset=0, clip_sigma=cfg.clip_sigma, padvals=padvals.copy(),
                mask_args=mask_args, clip_state=kernels.ClipState()))
        if cfg.use_skz:
            rec("kernels.sk_ms", lambda: kernels.compute_sk_mask(
                fbuf.copy(), plan.sk_mint, cfg.mskz, float(cfg.nskz),
                plan.sk_lims[0], plan.sk_lims[1]))
        if cfg.ndec > 1:
            dec = rec("kernels.decimate_ms",
                      lambda: kernels.decimate_timeseries(fbuf, cfg.ndec))
        else:
            dec = fbuf
        rec("kernels.dedisperse_ms", lambda: kernels.dedisperse(
            dec, plan.delays, plan.max_delay))
    return {k: statistics.median(v) for k, v in t.items()}


def dedisperse_adds(headers: list, cfg) -> int:
    """Exact float additions of the dedisperse kernel: every output
    sample of every DM trial sums ``nchan`` channels."""
    from dragnet_spark.plan import build_plan
    memo: dict[str, int] = {}
    total = 0
    for h in headers:
        key = h.to_json()
        if key not in memo:
            p = build_plan(h, cfg)
            memo[key] = len(p.dmlist) * h.nchan * p.nsamp_computed
        total += memo[key]
    return total


def proc_layers(passes: list[Pass], tree_end: dict) -> dict:
    cpu = [p.cpu for p in passes]
    tot = sum(c["cpu_s"] for c in cpu)
    return {
        "proc.jvm_cpu_s": statistics.median(c["jvm_cpu_s"] for c in cpu),
        "proc.python_cpu_s": statistics.median(c["python_cpu_s"] for c in cpu),
        "proc.sys_cpu_frac": (sum(c["sys_cpu_s"] for c in cpu) / tot
                              if tot > 0 else 0.0),
        "proc.jvm_rss_mb": tree_end["jvm_rss_mb"],
        "proc.python_rss_mb": tree_end["py_rss_mb"],
    }


def stage_layers(passes: list[Pass]) -> dict:
    st = [p.stages for p in passes if p.stages]
    if not st:
        return {}

    def med(k):
        return statistics.median(s[k] for s in st)
    return {"pipeline.task_s_p50": med("task_s_p50"),
            "pipeline.task_s_max": med("task_s_max"),
            "pipeline.task_skew": med("task_skew"),
            "pipeline.executor_cpu_s": med("executor_cpu_s"),
            "pipeline.gc_s": med("gc_s"),
            "pipeline.shuffle_write_mb": med("shuffle_write_mb"),
            "pipeline.shuffle_read_mb": med("shuffle_read_mb")}


def python_layers(nodes_per_pass: list[list]) -> dict:
    """MapInPandas / scan SQL metrics, median over traced passes."""
    rows = []
    for nodes in nodes_per_pass:
        py = sparkstats.sum_node_metrics(nodes, "MapInPandas")
        scan = sparkstats.sum_node_metrics(nodes, "Scan parquet")
        rows.append({
            "pipeline.python_data_sent_mb": py.get("pythonDataSent", 0) / MB,
            "pipeline.python_data_received_mb":
                py.get("pythonDataReceived", 0) / MB,
            "pipeline.python_total_s": py.get("pythonTotalTime", 0.0),
            "pipeline.python_init_s": py.get("pythonInitTime", 0.0),
            "pipeline.scan_time_s": scan.get("scanTime", 0.0),
            "pipeline.scan_mb": scan.get("filesSize", 0) / MB})
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} \
        if rows else {}


def scan_arrow_split(docs_df, tracer) -> dict:
    """Calibration passes for the cumulative split: scan + projection
    (``prepare_documents``), then + an identity Arrow round trip through
    Python, each forced by the same JVM-only aggregate over every strip."""
    from pyspark.sql import functions as F

    from dragnet_spark.pipeline import prepare_documents

    def strip_bytes(df):
        return df.agg(F.sum(F.aggregate(
            F.transform("sample_bins", lambda b: F.length(b)),
            F.lit(0), lambda a, b: a + b))).collect()

    def scan_project():
        with tracer.span("pipeline.prepare_documents"):
            strip_bytes(prepare_documents(docs_df()))

    def arrow():
        prepared = prepare_documents(docs_df())

        def identity(batches):
            yield from batches
        with tracer.span("pipeline.arrow_roundtrip"):
            strip_bytes(prepared.mapInPandas(identity, prepared.schema))

    return {"pipeline.scan_project_s": _median_time(scan_project),
            "pipeline.arrow_roundtrip_s": _median_time(arrow)}


class Workload:
    # A listed run must end within 180 s: stop measuring and fail first.
    deadline_s = 140
    # The stream's open loop is one pass per run.
    single_pass = False
    # Fewest timed passes a run makes, whatever its window: two keep a
    # run of every listed workload within the benchmark's time budget.
    min_passes = 2

    def can_pass(self) -> bool:
        return True

    def stop(self) -> None:
        pass

    def layer_counts(self) -> dict:
        return {}


# --------------------------------------------------------------------------
# flagship: per-document fused pipeline, forced by an aggregate.
# --------------------------------------------------------------------------

class Flagship(Workload):
    check_docs = 6
    # Always every shard: a run's median then falls on the same passes of
    # the JIT's settling curve, whatever the pass length.
    min_passes = inputs.FLAGSHIP_SHARDS - 1

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.cfg = inputs.run_config("flagship")
        self.shard0 = ctx.inputs / inputs.shard_file(0)
        self.sample = inputs.pick_sample(inputs.doc_ids(self.shard0),
                                         ctx.seed, self.check_docs)
        self.want_spans = ctx.props["spans"]
        self.n_pass = 0
        self.warming = False

    def docs_df(self, shard: int = 0):
        return self.ctx.engine.spark.read.parquet(
            str(self.ctx.inputs / inputs.shard_file(shard)))

    def can_pass(self) -> bool:
        """Every timed pass needs a shard no earlier pass has read."""
        return self.n_pass + 1 < self.ctx.props["shards"]

    def warm_up(self) -> None:
        """One untimed pass over shard 0: boots the Python workers and
        warms every cache the timed passes use."""
        self.warming = True
        self.run_pass(False)
        self.warming = False

    def run_pass(self, traced: bool) -> Pass:
        from pyspark.sql import functions as F

        from dragnet_spark.pipeline import run_pipeline
        ctx, tree = self.ctx, self.ctx.engine.tree
        if not self.warming:
            self.n_pass += 1
        shard = 0 if self.warming else self.n_pass
        win = sparkstats.StageWindow(ctx.engine.spark)
        with win, ctx.tracer.span("pipeline.run_pipeline", shard=shard) as sp:
            c0 = tree.sample()
            t0 = time.perf_counter()
            rows = run_pipeline(self.docs_df(shard), self.cfg)
            agg = (rows.where(F.col("kind") != "metrics")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.length("text")).alias("chars")))
            n = agg.collect()[0]["n"]
            wall = time.perf_counter() - t0
            c1 = tree.sample()
        p = Pass(wall, ctx.props["docs"], ctx.props["raw_mb"],
                 cpu_delta(c0, c1), [wall])
        if n != self.want_spans:
            p.extra["error"] = f"pass emitted {n} spans, expected " \
                               f"{self.want_spans}"
        if traced:
            p.stages = win.totals()
            p.nodes = sparkstats.plan_nodes(agg)
            sp.attrs.update(stages=p.stages, mapinpandas=sparkstats
                            .sum_node_metrics(p.nodes, "MapInPandas"))
        return p

    def check(self) -> list[str]:
        """The same pipeline over the seeded sample, collected, against
        the oracle."""
        from pyspark.sql import functions as F

        from dragnet_spark.pipeline import run_pipeline
        df = self.docs_df().where(F.col("doc_id").isin(self.sample))
        got = span_hashes(
            [r.asDict() for r in run_pipeline(df, self.cfg)
             .select("doc_id", "seq", "kind", "text", "media_ref").collect()])
        docs = inputs.read_docs(self.shard0, self.sample)
        return check_span_hashes(got, docs, self.cfg)

    def calibrate(self, passes: list[Pass]) -> dict:
        out = scan_arrow_split(self.docs_df, self.ctx.tracer)
        docs = inputs.read_docs(self.shard0, self.sample[:4])
        with self.ctx.tracer.span("kernels.in_process"):
            out.update(kernel_layers(docs, self.cfg, None))
        return out

    def layer_counts(self) -> dict:
        h = inputs.bench_header()
        # Every document of a pass carries a header no earlier pass
        # carried, and the plan cache is keyed by the header: one build
        # per document.
        return {"kernels.dedisperse_adds":
                dedisperse_adds([h] * self.ctx.props["docs"], self.cfg),
                "plan.builds_per_pass": float(self.ctx.props["docs"])}


# --------------------------------------------------------------------------
# giant_job: chunked run_job into a fresh out dir, per-DM sink, pruned
# single-DM read-back.
# --------------------------------------------------------------------------

class GiantJob(Workload):
    check_dm = "12.500"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.cfg = inputs.run_config("giant_job")
        self.path = str(ctx.inputs / "docs.parquet")
        ids = inputs.doc_ids(ctx.inputs / "docs.parquet")
        giants = ctx.props["giant_ids"]
        normal = [d for d in ids if d not in giants]
        self.sample = sorted(inputs.pick_sample(normal, ctx.seed, 3)
                             + inputs.pick_sample(giants, ctx.seed, 1))
        self.n_pass = 0
        self.warming = False
        self.check_rows: list[dict] = []

    def job(self, docs, out: Path) -> tuple[int, dict]:
        """run_job + per-DM sink + pruned read-back; returns the number
        of series in the single-DM partition and each step's seconds."""
        from pyspark.sql import functions as F

        from dragnet_spark.io import write_timeseries_partitioned
        from dragnet_spark.pipeline import run_job
        spark, tr = self.ctx.engine.spark, self.ctx.tracer
        steps = {}
        t0 = time.perf_counter()
        with tr.span("pipeline.run_job"):
            run_job(spark, docs, self.cfg, None, str(out / "job"),
                    run_id="bench", resume=False, chunked=True)
        t1 = time.perf_counter()
        with tr.span("io.write_timeseries_partitioned"):
            write_timeseries_partitioned(
                spark.read.parquet(str(out / "job" / "spans")),
                str(out / "perdm"))
        t2 = time.perf_counter()
        with tr.span("io.read_back"):
            n = (spark.read.parquet(str(out / "perdm"))
                 .where(F.col("dm") == self.check_dm).count())
        steps["pipeline.run_job_s"] = t1 - t0
        steps["io.perdm_write_s"] = t2 - t1
        return n, steps

    def warm_up(self) -> None:
        """One untimed pass into its own out dir."""
        self.warming = True
        self.run_pass(False)
        self.warming = False

    def run_pass(self, traced: bool) -> Pass:
        from pyspark.sql import functions as F
        ctx, tree = self.ctx, self.ctx.engine.tree
        self.n_pass += 1
        out = ctx.run.work / f"giant-{self.n_pass}"
        win = sparkstats.StageWindow(ctx.engine.spark)
        with win, ctx.tracer.span("giant_job.pass") as sp:
            c0 = tree.sample()
            t0 = time.perf_counter()
            n, steps = self.job(self.path, out)
            wall = time.perf_counter() - t0
            c1 = tree.sample()
        p = Pass(wall, ctx.props["docs"], ctx.props["raw_mb"],
                 cpu_delta(c0, c1), [wall])
        if n != ctx.props["docs"]:
            p.extra["error"] = f"DM {self.check_dm} partition holds {n} " \
                               f"series, expected {ctx.props['docs']}"
        if not self.check_rows and not self.warming:
            spans = ctx.engine.spark.read.parquet(str(out / "job" / "spans"))
            self.check_rows = [r.asDict() for r in spans
                               .where(F.col("doc_id").isin(self.sample))
                               .select("doc_id", "seq", "kind", "text",
                                       "media_ref").collect()]
        if traced:
            p.stages = win.totals()
            sp.attrs.update(stages=p.stages)
            files = list((out / "perdm").rglob("*.parquet"))
            p.extra.update(steps)
            p.extra["io.files_written"] = len(files)
            p.extra["io.written_mb"] = sum(f.stat().st_size
                                           for f in files) / MB
        shutil.rmtree(out)
        return p

    def check(self) -> list[str]:
        docs = inputs.read_docs(self.ctx.inputs / "docs.parquet", self.sample)
        return check_span_hashes(span_hashes(self.check_rows), docs,
                                 self.cfg)

    def calibrate(self, passes: list[Pass]) -> dict:
        from pyspark.sql import functions as F

        from dragnet_spark.pipeline import build_chunk_rows, prepare_documents
        spark, tr = self.ctx.engine.spark, self.ctx.tracer
        chunks = build_chunk_rows(prepare_documents(spark.read.parquet(
            self.path)), self.cfg.to_json(), None, 4)
        # Raw bytes per chunk row, grouped: the chunk count, the bytes
        # computed (halo samples count twice) and the distinct lengths.
        by_len = chunks.select(F.aggregate(
            F.transform("strip_bins", lambda b: F.length(b)), F.lit(0),
            lambda a, b: a + b).alias("bytes")).groupBy("bytes").count()

        def build():
            with tr.span("pipeline.build_chunk_rows"):
                return by_len.collect()
        dt = [_timed(build) for _ in range(2)]
        rows = dt[0][1]
        raw = self.ctx.props["raw_mb"] * MB
        out = scan_arrow_split(lambda: spark.read.parquet(self.path), tr)
        out.update({
            "pipeline.chunk_rows_s": statistics.median(d for d, _ in dt),
            "pipeline.chunks": float(sum(r["count"] for r in rows)),
            "pipeline.halo_frac":
                (sum(r["bytes"] * r["count"] for r in rows) - raw) / raw})
        for k in ("io.files_written", "io.written_mb", "io.perdm_write_s",
                  "pipeline.run_job_s"):
            vals = [p.extra[k] for p in passes if k in p.extra]
            if vals:
                out[k] = statistics.median(vals)
        docs = inputs.read_docs(self.ctx.inputs / "docs.parquet",
                                [d for d in self.sample
                                 if d not in self.ctx.props["giant_ids"]][:3])
        with tr.span("kernels.in_process"):
            out.update(kernel_layers(docs, self.cfg, None))
        return out

    def layer_counts(self) -> dict:
        n_giant = len(self.ctx.props["giant_ids"])
        n = self.ctx.props["docs"]
        hs = ([inputs.bench_header()] * (n - n_giant)
              + [inputs.bench_header(nsamp=inputs.NSAMP * inputs.GIANT_FACTOR)]
              * n_giant)
        return {"kernels.dedisperse_adds": dedisperse_adds(hs, self.cfg)}


# --------------------------------------------------------------------------
# curation: the near-duplicate core over a seeded documents table.
# --------------------------------------------------------------------------

class Curation(Workload):
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.dir = str(ctx.inputs)
        self.results: list[dict] = []
        self.stage_counts: dict[str, list[int]] = {}
        self.query_s: dict[str, list[float]] = {}

    @staticmethod
    def registry():
        from dragnet_spark.queries import EXTRA_QUERIES, QUERIES
        q = {**QUERIES, **EXTRA_QUERIES}
        return {n: q[n] for n in CURATION_QUERIES}

    def warm_up(self) -> None:
        spark = self.ctx.engine.spark
        for fn in self.registry().values():
            fn(spark, self.dir).toPandas()

    def run_pass(self, traced: bool) -> Pass:
        ctx, tree = self.ctx, self.ctx.engine.tree
        spark = ctx.engine.spark
        res, stages = {}, []
        c0 = tree.sample()
        t0 = time.perf_counter()
        for name, fn in self.registry().items():
            win = sparkstats.StageWindow(spark)
            with win, ctx.tracer.span(f"queries.{name}") as sp:
                q0 = time.perf_counter()
                res[name] = fn(spark, self.dir).toPandas()
                self.query_s.setdefault(name, []).append(
                    time.perf_counter() - q0)
            if traced:
                st = win.totals()
                sp.attrs.update(stages=st)
                stages.append(st)
                self.stage_counts.setdefault(name, []).append(st["stages"])
        wall = time.perf_counter() - t0
        c1 = tree.sample()
        self.results.append(res)
        p = Pass(wall, ctx.props["docs"], ctx.props["text_mb"],
                 cpu_delta(c0, c1), [wall])
        if traced:
            p.extra["shuffle_mb"] = sum(s["shuffle_write_mb"] for s in stages)
        return p

    def check(self) -> list[str]:
        want = duckdb_results(str(self.ctx.inputs / "documents.parquet"),
                              list(CURATION_QUERIES))
        bad = []
        for res in self.results:
            for name in CURATION_QUERIES:
                bad += compare_frames(name, res[name], want[name])
        return bad

    def calibrate(self, passes: list[Pass]) -> dict:
        out = {f"queries.{n}_s": statistics.median(v)
               for n, v in self.query_s.items()}
        out.update({f"queries.{n}_stages": float(statistics.median(v))
                    for n, v in self.stage_counts.items()})
        vals = [p.extra["shuffle_mb"] for p in passes if "shuffle_mb" in p.extra]
        if vals:
            out["queries.shuffle_mb"] = statistics.median(vals)
        return out


# --------------------------------------------------------------------------
# stream: open-loop strip files -> streaming_dedisperse -> sink.
# --------------------------------------------------------------------------

class Stream(Workload):
    single_pass = True
    check_docs = 4

    def __init__(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq
        self.ctx = ctx
        self.cfg = inputs.run_config("stream")
        self.mask = inputs.stream_mask(ctx.seed)
        self.strips = pq.read_table(ctx.inputs / "strips.parquet")
        ticks = self.strips.column("tick").to_pylist()
        self.n_ticks = max(ticks) + 1
        self.warm_ticks = inputs.STREAM_WARM_DOCS * ctx.props["strips_per_doc"]
        self.by_tick: list[list[int]] = [[] for _ in range(self.n_ticks)]
        for i, t in enumerate(ticks):
            self.by_tick[t].append(i)
        docs = self.strips.column("doc_id").to_pylist()
        self.last_tick: dict[str, int] = {}
        for d, t in zip(docs, ticks):
            self.last_tick[d] = max(t, self.last_tick.get(d, -1))
        self.warm_docs = {d for d, t in self.last_tick.items()
                          if t < self.warm_ticks}
        self.timed_docs = sorted(set(self.last_tick) - self.warm_docs)
        self.n_setup = 0
        self.query = None
        self.lock = threading.Lock()

    # -- one query per set-up ----------------------------------------------
    def _start_query(self) -> None:
        from pyspark.sql import functions as F

        from dragnet_spark.streaming import STRIP_SCHEMA, streaming_dedisperse
        spark = self.ctx.engine.spark
        self.n_setup += 1
        base = self.ctx.run.work / f"stream-{self.n_setup}"
        self.in_dir, self.sink = base / "in", base / "sink"
        self.in_dir.mkdir(parents=True)
        self.done: dict[str, float] = {}
        self.last_batch = -1
        src = spark.readStream.schema(STRIP_SCHEMA).parquet(str(self.in_dir))
        out = streaming_dedisperse(src, self.cfg, self.mask)

        def sink(df, batch_id):
            df.persist()
            df.write.mode("append").parquet(str(self.sink))
            done = [r[0] for r in df.where(F.col("dm_index") == -1)
                    .select("doc_id").collect()]
            df.unpersist()
            now = time.perf_counter()
            with self.lock:
                self.last_batch = batch_id
                for d in done:
                    self.done.setdefault(d, now)

        self.query = (out.writeStream.foreachBatch(sink)
                      .option("checkpointLocation", str(base / "ckpt"))
                      .start())

    def _write_tick(self, k: int) -> None:
        import pyarrow.parquet as pq
        rows = self.strips.take(self.by_tick[k]).drop(["tick"])
        tmp = self.in_dir / f".tick-{k:05d}.parquet"
        pq.write_table(rows, tmp)
        tmp.rename(self.in_dir / f"tick-{k:05d}.parquet")

    def _wait_done(self, docs, timeout: float) -> bool:
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            with self.lock:
                if all(d in self.done for d in docs):
                    return True
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            time.sleep(0.02)
        return False

    def warm_up(self) -> None:
        self._start_query()
        for k in range(self.warm_ticks):
            self._write_tick(k)
        if not self._wait_done(self.warm_docs, 120):
            raise RuntimeError("warm-up documents never completed")

    def run_pass(self, traced: bool) -> Pass:
        """The open loop: one generator thread writes every timed tick
        at its due time, whether or not the query keeps up.  The offered
        rate fixes the window's length, so the pass's job_s is the
        engine's busy time: the summed durations of the window's
        micro-batches."""
        ctx, tree = self.ctx, self.ctx.engine.tree
        tick = inputs.STREAM_TICK_S
        due: dict[int, float] = {}
        lag: list[float] = []
        with self.lock:
            first_batch = self.last_batch + 1
        c0 = tree.sample()
        t0 = time.perf_counter() + 0.05

        def generate():
            for k in range(self.warm_ticks, self.n_ticks):
                at = t0 + (k - self.warm_ticks) * tick
                time.sleep(max(0.0, at - time.perf_counter()))
                due[k] = at
                self._write_tick(k)
                lag.append(time.perf_counter() - at)

        gen = threading.Thread(target=generate, name="perfbench-generator")
        with ctx.tracer.span("streaming.open_loop") as sp:
            gen.start()
            gen.join()
            end_sched = time.perf_counter()
            with self.lock:
                backlog = sum(1 for d in self.timed_docs if d not in self.done)
            drained = self._wait_done(self.timed_docs, 60)
            c1 = tree.sample()
        with self.lock:
            done, last_batch = dict(self.done), self.last_batch
        progress = self._progress(first_batch, last_batch)
        busy = sum(b["durationMs"]["triggerExecution"] for b in progress) / 1e3
        lat = [done[d] - due[self.last_tick[d]]
               for d in self.timed_docs if d in done]
        mb = len(self.timed_docs) * inputs.DOC_MB
        p = Pass(busy, len(self.timed_docs), mb, cpu_delta(c0, c1), lat)
        p.extra.update(backlog=backlog, lag_max=max(lag),
                       lag_p50=statistics.median(lag),
                       sched_s=end_sched - t0, progress=progress,
                       drain_s=max(done[d] for d in self.timed_docs
                                   if d in done) - max(due.values()))
        if not drained:
            p.extra["error"] = (f"{len(self.timed_docs) - len(lat)} streamed "
                                "documents never completed")
        elif len(progress) != last_batch - first_batch + 1:
            p.extra["error"] = (f"progress of {len(progress)} micro-batches, "
                                f"expected {last_batch - first_batch + 1}")
        if sp is not None:
            sp.attrs.update(batches=len(progress), backlog=backlog,
                            lag_max=p.extra["lag_max"])
        return p

    def _progress(self, first: int, last: int, timeout: float = 10.0) -> list:
        """Progress of the executed micro-batches ``first..last``, once
        the last one is reported (it is, just after its sink returns)."""
        end = time.perf_counter() + timeout
        while True:
            got = {b["batchId"]: b for b in self.query.recentProgress
                   if first <= b["batchId"] <= last
                   and "addBatch" in b["durationMs"]}
            if last in got or time.perf_counter() > end:
                return [got[k] for k in sorted(got)]
            time.sleep(0.02)

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        sample = inputs.pick_sample(self.timed_docs, self.ctx.seed,
                                    self.check_docs)
        spark = self.ctx.engine.spark
        rows = [r.asDict() for r in spark.read.parquet(str(self.sink))
                .where(F.col("doc_id").isin(sample)).collect()]
        bad = check_stream_docs(rows, self._docs(sample), self.cfg, self.mask)
        counts = spark.read.parquet(str(self.sink)) \
            .where(F.col("dm_index") == -1).groupBy("doc_id").count().collect()
        seen = {r[0]: r[1] for r in counts}
        for d in self.timed_docs:
            if seen.get(d) != 1:
                bad.append(f"{d}: {seen.get(d, 0)} done rows, expected 1")
        return bad

    def _docs(self, ids: list[str]) -> list[dict]:
        """The streamed documents ``ids`` rebuilt from their strips."""
        from dragnet_spark.params import Header
        per: dict[str, list] = {d: [] for d in ids}
        for r in self.strips.to_pylist():
            if r["doc_id"] in per:
                per[r["doc_id"]].append(r)
        docs = []
        for d, strips in per.items():
            strips.sort(key=lambda r: r["strip_offset"])
            docs.append(doc_from_strips(d, Header.from_json(
                strips[0]["header"]), [r["payload"] for r in strips]))
        return docs

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def calibrate(self, passes: list[Pass]) -> dict:
        prog = [b for p in passes for b in p.extra.get("progress", [])]
        trig = [b["durationMs"].get("triggerExecution", 0) for b in prog]
        addb = [b["durationMs"].get("addBatch", 0) for b in prog]
        state = [b["stateOperators"][0] for b in prog if b["stateOperators"]]
        out = {"streaming.batches": float(len(prog)) / max(1, len(passes)),
               "streaming.trigger_ms_p50": statistics.median(trig) if trig
               else 0.0,
               "streaming.add_batch_ms_p50": statistics.median(addb) if addb
               else 0.0,
               "streaming.state_mb_max": max((s["memoryUsedBytes"] for s in
                                              state), default=0) / MB,
               "streaming.state_rows_max": float(max(
                   (s["numRowsTotal"] for s in state), default=0))}
        with self.ctx.tracer.span("kernels.in_process"):
            out.update(kernel_layers(self._docs(self.timed_docs[:3]),
                                     self.cfg, self.mask))
        return out

    def layer_counts(self) -> dict:
        h = inputs.bench_header()
        return {"kernels.dedisperse_adds":
                dedisperse_adds([h] * len(self.timed_docs), self.cfg),
                "plan.builds_per_pass": 1.0}


WORKLOADS = {"flagship": Flagship, "giant_job": GiantJob,
             "curation": Curation, "stream": Stream}
