"""The benchmark's workloads: inputs, set-up, one closed-loop pass, the
correctness gate and the per-layer breakdown of each.

Every workload runs its operations one at a time from one client
thread; an operation starts only after the previous one has returned.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import math
import os
import shutil
import statistics
from collections import Counter

import numpy as np

import corpus
import host
import lakegen
from spans import Span, StreamProgress, Tracer

#: Batch queries of ``lake_and_stream``: aggregation, the SQL surface
#: over the registered views, and the near-duplicate operators.
LAKE_QUERIES = ("A1_group_agg", "SQL1_tpch_q3", "D3_ngram_jaccard")
#: Streaming queries of ``lake_and_stream``: a session-window state store
#: and watermarked dedup state, both over a file-stream feed.
STREAM_QUERIES = ("M4_session_window", "M14_dedup_within_watermark")
#: Distinct reports in the ``pdf_etl`` corpus.
PDF_DOCS = 200


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _digest(rows: list) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Base: a pass runs every operation in ``ops``; ``run_op`` returns a
    fingerprint of the operation's output."""

    name = ""
    ops: tuple[str, ...] = ()
    #: Untimed passes between the cold pass and the measured ones, enough
    #: for the JIT to have compiled the operations' hot paths.
    warmup_passes = 2

    def __init__(self, root: str, work: str, seed: int, tracer: Tracer) -> None:
        self.root, self.work, self.seed, self.tracer = root, work, seed, tracer
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.setup_samples: dict[str, list[float]] = {"session.start_s": [], "tables.load_s": []}
        self.layers: dict[str, list[float]] = {}  # samples from measured passes
        self.history: list[tuple] = []  # (pass, operation, wall s, CPU s) of every pass
        self.attempted = 0
        self.failures: list[str] = []

    def sample(self, key: str, value: float) -> None:
        self.layers.setdefault(key, []).append(value)

    def reset_samples(self) -> None:
        """Forget the measured passes' samples before another set of them."""
        self.layers = {}

    # --- set-up -----------------------------------------------------------
    def prepare(self) -> dict:
        """Generate the seeded inputs (not part of ``setup_s``)."""
        return {}

    def setup(self, extra_conf: dict[str, str]) -> None:
        from test_dataengineer2026_spark.session import get_session

        with self.tracer.span("session.start") as s:
            self.spark = get_session("perfbench", extra_conf=extra_conf)
        self.setup_samples["session.start_s"].append(s.seconds)
        self.tracer.sc = self.spark.sparkContext
        jvm = host.jvm_pid(self.spark)
        self.tracer.cpu_clock = lambda: host.tree_cpu_s(jvm)
        with self.tracer.span("tables.load") as s:
            self.load_tables()
        self.setup_samples["tables.load_s"].append(s.seconds)

    def load_tables(self) -> None:
        pass

    def teardown(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --- passes -----------------------------------------------------------
    def pass_order(self, n: int) -> list[str]:
        """The cold pass runs the declared order; later passes a seeded
        permutation each."""
        if n == 0:
            return list(self.ops)
        return [self.ops[i] for i in self.rng.permutation(len(self.ops))]

    def run_op(self, op: str, measured: bool) -> tuple[str, Span]:
        """Run ``op`` once; returns a fingerprint of its output and the
        span of the operation itself."""
        raise NotImplementedError

    def check_first(self, op: str) -> str | None:
        """Compare the first pass's output of ``op`` with its reference;
        returns a failure message or None."""
        return None

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def cleanup(self) -> None:
        pass


class PdfEtl(Workload):
    """``run_corpus(..., fmt="parquet")`` over a seeded report corpus.

    Each pass reads its own hard-linked copy of the corpus, so no pass
    can reuse a Spark cache that an earlier pass left behind over the
    same input path."""

    name = "pdf_etl"
    ops = ("run_corpus",)

    def prepare(self) -> dict:
        self.src = os.path.join(self.work, "corpus")
        self.corpus = corpus.write_corpus(self.src, self.seed, PDF_DOCS)
        self.out = os.path.join(self.work, "out")
        self.copies = 0
        self.expected = self.corpus.expected()
        return {"docs": self.corpus.docs, "files": self.corpus.files, "pages": self.corpus.pages}

    def fresh_input(self) -> str:
        self.copies += 1
        d = os.path.join(self.work, f"input-{self.copies}")
        os.makedirs(d)
        for f in os.listdir(self.src):
            os.link(os.path.join(self.src, f), os.path.join(d, f))
        return d

    def read_output(self) -> dict[str, Counter]:
        import pyarrow.parquet as pq

        out = {}
        for t in corpus.TABLES:
            rows = pq.read_table(os.path.join(self.out, t)).to_pylist()
            out[t] = Counter(tuple(r.values()) for r in rows)
        return out

    def run_op(self, op: str, measured: bool) -> tuple[str, Span]:
        from test_dataengineer2026_spark.extraction.pipeline import run_corpus

        src = self.fresh_input()
        with self.tracer.span("extraction.pipeline.run_corpus", jobs=True, cpu=True) as s:
            run_corpus(self.spark, src, self.out, fmt="parquet")
        self.last_jobs = s.jobs
        # run_corpus caches the docs it extracts from and leaves them
        # cached; a fresh job would not have them, so neither does the
        # next pass
        self.spark.catalog.clearCache()
        self.result = self.read_output()
        return _digest(sorted((t, sorted(c.items(), key=repr)) for t, c in self.result.items())), s

    def check_first(self, op: str) -> str | None:
        for t in ("mineral_resources", "mineral_reserves"):
            if not self.result[t]:
                return f"{t} is empty"
        bad = [t for t in corpus.TABLES if self.result[t] != self.expected[t]]
        return f"tables differ from the generator's truth: {bad}" if bad else None

    def layer_metrics(self) -> dict[str, float]:
        """Times each stage of the pipeline over a fresh copy of the
        corpus, outside the timed passes."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from test_dataengineer2026_spark.extraction import extract as X
        from test_dataengineer2026_spark.extraction.pdf import extract_pages
        from test_dataengineer2026_spark.extraction.pipeline import parse_pages, scan_pdfs

        tr, spark, m = self.tracer, self.spark, {}
        src = self.fresh_input()
        with tr.span("sources.binaryfile_scan", jobs=True) as scan:
            scan_pdfs(spark, src).write.format("noop").mode("overwrite").save()
        m["sources.binaryfile_scan_s"] = scan.seconds
        m["sources.scan_tasks"] = tr.job_counts(scan.jobs)["tasks"]

        src = self.fresh_input()
        obs = Observation("pages")
        with tr.span("extraction.pdf.parse", jobs=True) as parse:
            parse_pages(scan_pdfs(spark, src)).observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
        m["extraction.pdf.parse_s"] = parse.seconds - scan.seconds
        m["extraction.pdf.pages"] = obs.get["n"]

        paths = sorted(glob.glob(os.path.join(self.src, "*.pdf")))
        blobs = []
        for i in np.random.default_rng(self.seed).choice(len(paths), min(40, len(paths)), replace=False):
            with open(paths[i], "rb") as f:
                blobs.append(f.read())
        per_doc = []
        for _ in range(3):
            with tr.span("extraction.pdf.serial") as s:
                for b in blobs:
                    extract_pages(b)
            per_doc.append(1000.0 * s.seconds / len(blobs))
        serial = _median(per_doc)
        m["extraction.pdf.serial_ms_per_doc"] = serial
        cores = spark.sparkContext.defaultParallelism
        m["extraction.pdf.boundary_ratio"] = (
            m["extraction.pdf.parse_s"] * cores / (self.corpus.files * serial / 1000.0)
        )

        src = self.fresh_input()
        docs = X.doc_text(parse_pages(scan_pdfs(spark, src))).cache()
        with tr.span("extraction.extract.doc_text", jobs=True) as s:
            docs.count()
        m["extraction.extract.doc_text_s"] = s.seconds - parse.seconds
        res, res_q = X.validate_split(X.extract_resources(docs))
        rsv, rsv_q = X.validate_split(X.extract_reserves(docs))
        frames = {
            "projects": X.extract_metadata(docs),
            "mineral_resources": res,
            "mineral_reserves": rsv,
            "economics": X.extract_economics(docs),
            "quarantine": res_q.unionByName(rsv_q),
        }
        extract_total = 0.0
        for t, df in frames.items():
            with tr.span(f"extraction.extract.{t}", jobs=True) as s:
                df.write.format("noop").mode("overwrite").save()
            m[f"extraction.extract.{t}_s"] = s.seconds
            extract_total += s.seconds
        docs.unpersist()

        run_s = _median(self.layers["op.run_corpus"])
        m["extraction.pipeline.run_corpus_s"] = run_s
        m["extraction.pipeline.sink_s"] = run_s - (
            parse.seconds + m["extraction.extract.doc_text_s"] + extract_total
        )
        for k, v in tr.job_counts(self.last_jobs).items():
            m[f"extraction.pipeline.{k}"] = v
        for t in corpus.TABLES:
            m[f"extraction.pipeline.rows.{t}"] = sum(self.result[t].values())
        reasons = Counter(row[-1] for row in self.result["quarantine"].elements())
        for r in corpus.REJECT_REASONS:
            m[f"extraction.pipeline.quarantine.{r}"] = reasons.get(r, 0)
        return m

    def most_expensive_layer(self, m: dict[str, float]) -> dict:
        stages = {
            "sources": m["sources.binaryfile_scan_s"],
            "extraction.pdf": m["extraction.pdf.parse_s"],
            "extraction.extract": m["extraction.extract.doc_text_s"]
            + sum(m[f"extraction.extract.{t}_s"] for t in corpus.TABLES),
            "extraction.pipeline (sinks)": m["extraction.pipeline.sink_s"],
        }
        return {
            "layer": max(stages, key=stages.get),
            "stage_s": stages,
            "extraction.pdf.boundary_ratio": m["extraction.pdf.boundary_ratio"],
        }


class LakeAndStream(Workload):
    """Registry batch and streaming queries over seeded lake tables. Each
    operation is one query: the query-function call (``build``; a
    streaming query runs its stream to completion inside it) and a
    ``collect()`` of its result (``exec``). A listener records every
    micro-batch of the streaming queries."""

    name = "lake_and_stream"
    ops = LAKE_QUERIES + STREAM_QUERIES
    # short queries: their CPU time per pass keeps falling for four passes
    warmup_passes = 4

    def prepare(self) -> dict:
        from test_dataengineer2026_spark import registry

        self.sf = os.path.join(self.work, "lake")
        rows = lakegen.generate(self.sf, self.seed)
        specs = registry.all_specs()
        self.fns = {q: specs[q].fn for q in self.ops}
        self.oracles = {q: specs[q].oracle for q in self.ops}
        self.first: dict[str, tuple] = {}
        self.last_jobs: dict[str, list[int]] = {}
        self.state: dict[str, tuple[int, int]] = {}
        # where the streaming queries stage their feed; the lake path is
        # new in every run, so no stage of an earlier run can be reused
        self.stage_glob = os.path.join(
            self.root, ".tmp", "stream_stage", self.sf.strip("/").replace("/", "_") + "*"
        )
        return {"rows": rows}

    def load_tables(self) -> None:
        from test_dataengineer2026_spark import tables

        tables.register_views(self.spark, self.sf)

    def setup(self, extra_conf: dict[str, str]) -> None:
        super().setup(extra_conf)
        self.progress = StreamProgress()
        self.progress.attach(self.spark)
        self.streams_done = 0

    def run_op(self, op: str, measured: bool) -> tuple[str, Span]:
        with self.tracer.span(f"queries.{op}", jobs=True, cpu=True) as s:
            with self.tracer.span(f"queries.{op}.build") as b:
                df = self.fns[op](self.spark, self.sf)
            with self.tracer.span(f"queries.{op}.exec") as e:
                rows = df.collect()
            cols = sorted(df.columns)
        if measured:
            self.sample(f"queries.{op}.build_s", b.seconds)
            self.sample(f"queries.{op}.exec_s", e.seconds)
        self.last_jobs[op] = s.jobs
        if op in STREAM_QUERIES:
            self.stream_progress(op, measured)
        norm = sorted((tuple(_norm(r[c]) for c in cols) for r in rows), key=str)
        if op not in self.first:
            self.first[op] = (cols, norm)
        return _digest(norm), s

    def stream_progress(self, op: str, measured: bool) -> None:
        """Attribute the listener's progress events to the stream ``op``
        just ran; its jobs ran under the stream's own run id."""
        self.streams_done += 1
        self.progress.wait_terminated(self.streams_done)
        events = self.progress.take()
        if self.tracer.enabled:
            for run in {str(e.runId) for e in events}:
                self.last_jobs[op] += self.tracer.group_jobs(run)
        if not measured:
            return
        dur = [e.durationMs for e in events]
        for d in dur:
            self.sample("batch_ms", d.get("triggerExecution", 0))
        self.sample(f"streaming.{op}.batches", len(events))
        self.sample(f"streaming.{op}.add_batch_ms", sum(d.get("addBatch", 0) for d in dur))
        self.sample(
            f"streaming.{op}.state_commit_ms",
            sum(s.commitTimeMs for e in events for s in e.stateOperators),
        )
        for key in ("queryPlanning", "walCommit", "latestOffset"):
            self.sample(f"stream.{key}.{op}", sum(d.get(key, 0) for d in dur))
        last = events[-1].stateOperators if events else []
        self.state[op] = (sum(s.numRowsTotal for s in last), sum(s.memoryUsedBytes for s in last))

    def check_first(self, op: str) -> str | None:
        import duckdb

        from test_dataengineer2026_spark import tables

        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.execute(tables.duck_view_sql(t, self.sf))
            res = con.execute(self.oracles[op])
            names = [d[0] for d in res.description]
            order = sorted(range(len(names)), key=lambda i: names[i])
            want = sorted((tuple(_norm(r[i]) for i in order) for r in res.fetchall()), key=str)
        finally:
            con.close()
        cols, got = self.first[op]
        if cols != [names[i] for i in order]:
            return f"{op}: columns {cols} != oracle {sorted(names)}"
        if got != want:
            return f"{op}: {len(got)} rows differ from the DuckDB oracle's {len(want)}"
        return None

    def layer_metrics(self) -> dict[str, float]:
        m = {}
        for q in self.ops:
            m[f"queries.{q}.build_s"] = _median(self.layers[f"queries.{q}.build_s"])
            m[f"queries.{q}.exec_s"] = _median(self.layers[f"queries.{q}.exec_s"])
            m[f"queries.{q}.tasks"] = self.tracer.job_counts(self.last_jobs[q])["tasks"]
        for q in STREAM_QUERIES:
            m[f"streaming.{q}.batches"] = self.layers[f"streaming.{q}.batches"][-1]
            m[f"streaming.{q}.add_batch_ms"] = _median(self.layers[f"streaming.{q}.add_batch_ms"])
            m[f"streaming.{q}.state_commit_ms"] = _median(self.layers[f"streaming.{q}.state_commit_ms"])
        for key, name in (
            ("queryPlanning", "query_planning_ms"),
            ("walCommit", "wal_commit_ms"),
            ("latestOffset", "latest_offset_ms"),
        ):
            m[f"streaming.{name}"] = sum(_median(self.layers[f"stream.{key}.{q}"]) for q in STREAM_QUERIES)
        m["streaming.state_rows"] = sum(r for r, _ in self.state.values())
        m["streaming.state_mem_bytes"] = sum(b for _, b in self.state.values())
        return m

    def batch_latency(self) -> dict:
        """Median and tail of micro-batch ``triggerExecution`` time over
        the measured passes. The tail is the highest percentile that
        leaves at least ten samples above it."""
        xs = sorted(self.layers.get("batch_ms", []))
        n = len(xs)
        out = {"batch_p50_ms": _median(xs), "batches": n}
        if n > 10:
            pct = math.floor(100 * (n - 10) / n)
            out["batch_tail_ms"] = xs[max(0, math.ceil(pct / 100 * n) - 1)]
            out["batch_tail_pct"] = pct
        return out

    def cleanup(self) -> None:
        for d in glob.glob(self.stage_glob):
            shutil.rmtree(d, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PdfEtl, LakeAndStream)}
