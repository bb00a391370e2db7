"""The benchmark's workloads: seeded inputs, one job, its output check,
and one layer-attributed traced iteration.

Every workload is a closed loop with one client: the next job starts
only after the previous one returned. The program sees only the
generated inputs; the seed never reaches it.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from pdf_table_spark import api
from pdf_table_spark.core.export_render import render_table_html
from pdf_table_spark.core.page import (extract_document, extract_pdf_page,
                                       extract_span)
from pdf_table_spark.fixtures import text_gen
from pdf_table_spark.fixtures.generator import gen_doc
from pdf_table_spark.ops import dedup
from pdf_table_spark.ops.prepare import assemble_training_set
from pdf_table_spark.ops.textfilters import corpus_clean, decontaminate
from pdf_table_spark.spark import checkpoint
from pdf_table_spark.spark.pipeline import explode_spans, extract_fragments
from pdf_table_spark.spark.stages import ExtractionMetrics, run_extract_stage

from .sparkstats import MIB

# input sizes: "full" is what the benchmark measures, "tiny" is for the
# benchmark's own self-test
SIZES = {
    "pdf_tables": {
        "full": {"docs": 200, "per_file": 25, "sample": 12, "buckets": 4},
        "tiny": {"docs": 6, "per_file": 3, "sample": 3, "buckets": 2}},
    "text_assembly": {
        "full": {"docs": 2_000, "bench": 1000, "files": 8,
                 "bench_files": 2},
        "tiny": {"docs": 400, "bench": 50, "files": 2, "bench_files": 1}},
}

MIXTURE = {"web": 1.0, "books": 2.0, "code": 0.5, "wiki": 1.5}
MIN_WORDS = 15  # at the CLI default of 50 the Gopher gate drops the corpus
CORE_SAMPLE = 40  # spans per kind timed by the single-process decoder probe
SLEEP_PER_BATCH_S = 0.25  # the calibration stage's per-batch sleep

TABLE_COLS = ("doc_id", "offset", "table_html", "accuracy", "whitespace",
              "n_rows", "n_cols", "csv", "markdown", "json_rows",
              "sqlite_sql", "excel_xml", "html_db")
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())])))])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rows_digest(rows) -> str:
    """Order-insensitive digest of output rows (NaN-safe: JSON text)."""
    lines = sorted(json.dumps(list(r), default=repr) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def compare_rows(got, want) -> str | None:
    """None when the row multisets match, else a short description."""
    if rows_digest(got) == rows_digest(want):
        return None
    g = sorted(json.dumps(list(r), default=repr) for r in got)
    w = sorted(json.dumps(list(r), default=repr) for r in want)
    for a, b in zip(g, w):
        if a != b:
            return f"first differing row: got {a[:200]} want {b[:200]}"
    return f"row counts differ: got {len(g)} want {len(w)}"


def tree_bytes(path: str, pattern: str = "*.parquet") -> tuple[int, int]:
    """(bytes, files) of the matching files below ``path``."""
    files = [f for f in glob.glob(os.path.join(path, "**", pattern),
                                  recursive=True) if os.path.isfile(f)]
    return sum(os.path.getsize(f) for f in files), len(files)


def source_digest(root: str, package: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, package, "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def write_docs(path: str, docs, per_file: int) -> None:
    os.makedirs(path)
    for k in range(0, len(docs), per_file):
        part = docs[k:k + per_file]
        pq.write_table(pa.Table.from_pydict(
            {"doc_id": [d[0] for d in part], "spans": [d[1] for d in part]},
            schema=DOCS_SCHEMA),
            os.path.join(path, f"part-{k // per_file:05d}.parquet"))


def read_docs(path: str, doc_ids) -> dict:
    """doc_id → spans for the given docs, read from the input files."""
    tbl = pq.read_table(path, filters=[("doc_id", "in", list(doc_ids))])
    return {r["doc_id"]: r["spans"] for r in tbl.to_pylist()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Job:
    wall: float
    out: dict = field(default_factory=dict)
    traced: bool = False
    probe_at: int = 0  # index of the host probe just before the job


class Workload:
    """One workload; subclasses fill in the hooks."""

    name = ""
    docs_subdir = ""
    # self-time keys of the traced iteration; their sum is the job wall
    self_keys: tuple = ()
    # log-log slope of the job wall against the host probe (run.py):
    # the share of the job that a faster or slower core stretches
    host_elasticity = 1.0

    def __init__(self, root: str, work: str, seed: int, scale: str):
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.run_dir = os.path.join(work, "run", f"{self.name}-{os.getpid()}")
        self._cache_root = os.path.join(work, "inputs")
        gen = source_digest(root, os.path.join("pdf_table_spark", "fixtures"))
        tag = "-".join(f"{k}{v}" for k, v in sorted(self.size.items()))
        self.cache_dir = os.path.join(
            self._cache_root, f"{self.name}-s{seed}-{tag}-{gen}")
        self.input_dir = os.path.join(self.cache_dir, self.docs_subdir)
        self.meta: dict = {}
        self._n = 0

    # ---- inputs --------------------------------------------------------
    def prepare_inputs(self) -> dict:
        """Generate the seeded inputs once; later runs with the same
        workload, seed, size and generator sources reuse them."""
        meta_path = os.path.join(self.cache_dir, "meta.json")
        if not os.path.exists(meta_path):
            tmp = f"{self.cache_dir}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            meta = self.build_inputs(tmp)
            meta["input_bytes"] = tree_bytes(tmp)[0]
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump(meta, f)
            shutil.rmtree(self.cache_dir, ignore_errors=True)
            os.replace(tmp, self.cache_dir)
            self._evict(keep=6)
        os.utime(self.cache_dir)
        with open(meta_path) as f:
            self.meta = json.load(f)
        return self.meta

    def _evict(self, keep: int) -> None:
        dirs = sorted((d for d in glob.glob(os.path.join(self._cache_root,
                                                         "*"))
                       if ".tmp" not in d),
                      key=os.path.getmtime, reverse=True)
        for d in dirs[keep:]:
            shutil.rmtree(d, ignore_errors=True)

    def build_inputs(self, out_dir: str) -> dict:
        raise NotImplementedError

    def _next_dir(self, what: str) -> str:
        self._n += 1
        return os.path.join(self.run_dir, f"{what}{self._n}")

    # ---- per session ---------------------------------------------------
    def load(self, spark) -> None:
        """Read the inputs into DataFrames for the current session."""

    def warm_workers(self, spark) -> None:
        """Smallest job that starts the session's workers."""

    def prepare_oracle(self) -> None:
        """Single-process expected output for the check (untimed)."""

    def job(self, spark) -> Job:
        raise NotImplementedError

    def check(self, spark, job: Job) -> str | None:
        """None when the job's output is correct, else why not."""
        raise NotImplementedError

    def corrupt(self, spark, job: Job) -> Job:
        """A copy of the job's output with one row changed, for the
        self-test: ``check`` must reject it."""
        raise NotImplementedError

    def finish(self, job: Job) -> None:
        for d in job.out.get("dirs", ()):
            shutil.rmtree(d, ignore_errors=True)

    # ---- traced run ----------------------------------------------------
    def trace_once(self, spark, tracer, store) -> dict:
        """One-time layer probes of the traced run (spans job -1)."""
        return {}

    def prefixes(self, spark, tracer, store, i: int) -> dict:
        """Cumulative prefix walls of the job's layers, in spans."""
        raise NotImplementedError

    def traced_job(self, spark, tracer, store, i: int, v: dict):
        """The job in a span: (its layer values, the job)."""
        raise NotImplementedError

    def close(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def measured(tracer, store, name: str, job: int, fn):
    """Run ``fn`` inside a span; status-store reads stay outside the
    timed interval. Returns (wall, status delta, fn's result)."""
    mark = store.mark()
    with tracer.span(name, job) as sp:
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
    delta = store.since(mark)
    sp.update(wall_s=wall, jobs=delta["jobs"], stages=delta["stages"],
              scan_mb=delta["scan_bytes"] / MIB,
              shuffle_mb=delta["shuffle_write_bytes"] / MIB,
              spill_mb=delta["spill_disk_bytes"] / MIB)
    return wall, delta, out


def release(job: Job) -> Job:
    """After every job: drop the program's persisted intermediates and
    record how many each registry released."""
    job.out["released"] = {"api": api.release_caches(),
                           "dedup": dedup.release_caches()}
    return job


def python_nodes(delta: dict, arrow_input: str):
    """MapInArrow nodes of the executions in ``delta`` whose input chain
    reaches ``arrow_input`` without crossing another MapInArrow."""
    out = []
    for plan in delta["sql"]:
        for node in plan.named("MapInArrow"):
            if plan.reaches(node, arrow_input, stop="MapInArrow"):
                out.append((plan, node))
    return out


def python_metrics(plan, node, tasks: dict) -> dict:
    sid = plan.stage_of(node, "time to run Python workers")
    return {
        "python_s": plan.metric(node, "time to run Python workers"),
        "init_s": plan.metric(node, "time to initialize Python workers"),
        "sent_mb": plan.metric(node, "data sent to Python workers") / MIB,
        "received_mb": plan.metric(
            node, "data returned from Python workers") / MIB,
        "rows": plan.metric(node, "number of output rows"),
        "tasks": tasks.get(sid, 0),
    }


class PdfTables(Workload):
    """Born-digital heavy documents → ``api.extract_tables`` → noop."""

    name = "pdf_tables"
    docs_subdir = "docs"
    self_keys = ("spark.pipeline.scan_s", "spark.pipeline.explode_self_s",
                 "spark.pipeline.stage_self_s",
                 "spark.pipeline.reassemble_s", "ops.export.s")

    def build_inputs(self, out_dir: str) -> dict:
        n = self.size["docs"]
        docs = [gen_doc(i, self.seed, heavy=True)[:2] for i in range(n)]
        write_docs(os.path.join(out_dir, self.docs_subdir), docs,
                   self.size["per_file"])
        ids = [d[0] for d in docs]
        sample = sorted(random.Random(self.seed).sample(
            ids, self.size["sample"]))
        return {"n_docs": n, "sample": sample,
                "pages": sum(len(d[1]) for d in docs)}

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.input_dir)

    def warm_workers(self, spark) -> None:
        # the first span of every doc through the Arrow stage: starts
        # each Python worker and imports the decoders
        noop(run_extract_stage(
            explode_spans(self.docs).filter(F.col("offset") == 0)))

    def prepare_oracle(self) -> None:
        spans = read_docs(self.input_dir, self.meta["sample"])
        self.oracle = [
            (doc_id, o["offset"], o["text"], o["accuracy"], o["whitespace"],
             *render_table_html(o["text"] or ""))
            for doc_id in self.meta["sample"]
            for o in extract_document(spans[doc_id])
            if o["kind"] == "table_html"]

    def _run(self, spark) -> Job:
        self._n += 1
        obs = Observation(f"perfbench_tables_{self._n}")
        sample = self.meta["sample"]
        t0 = time.perf_counter()
        df = api.extract_tables(spark, self.input_dir).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(F.col("doc_id").isin(sample),
                                  F.struct(*TABLE_COLS))).alias("rows"))
        noop(df)
        wall = time.perf_counter() - t0
        got = obs.get
        return Job(wall, {"rows": [tuple(r) for r in got["rows"]],
                          "n": got["n"]})

    def job(self, spark) -> Job:
        return release(self._run(spark))

    def check(self, spark, job: Job) -> str | None:
        if job.out["n"] < 1:
            return "no tables extracted"
        return compare_rows(job.out["rows"], self.oracle)

    def corrupt(self, spark, job: Job) -> Job:
        rows = list(job.out["rows"])
        rows[0] = rows[0][:2] + (rows[0][2] + " ",) + rows[0][3:]
        return Job(job.wall, {**job.out, "rows": rows})

    def trace_once(self, spark, tracer, store) -> dict:
        vals = core_probe(self.input_dir, self.seed)
        vals.update(calibrate(spark, tracer, store, self.docs))
        vals.update(self.checkpoint_probe(spark, tracer, store))
        return vals

    def checkpoint_probe(self, spark, tracer, store) -> dict:
        """The same input through ``run_checkpointed``: a write into a
        fresh directory, then a resume of it."""
        out = self._next_dir("ckpt")
        n_buckets = self.size["buckets"]
        w1, d1, s1 = measured(
            tracer, store, "spark.checkpoint.write", -1,
            lambda: checkpoint.run_checkpointed(spark, self.docs, out,
                                                n_buckets=n_buckets))
        w2, _, s2 = measured(
            tracer, store, "spark.checkpoint.resume", -1,
            lambda: checkpoint.run_checkpointed(spark, self.docs, out,
                                                n_buckets=n_buckets))
        if (s1["failed"] or len(s1["done"]) != n_buckets or s2["done"]
                or s2["failed"]):
            raise RuntimeError(f"checkpoint probe: {s1} then {s2}")
        walls = [m["wall_sec"] for m in checkpoint.read_manifests(out)]
        sink_bytes, sink_files = tree_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        in_bytes = self.meta["input_bytes"]
        return {
            "spark.checkpoint.write_s": w1,
            "spark.checkpoint.resume_s": w2,
            "spark.checkpoint.bucket_s_p50": median(walls),
            "spark.checkpoint.bucket_s_max": max(walls),
            "spark.checkpoint.jobs_per_bucket": d1["jobs"] / n_buckets,
            "spark.checkpoint.scan_amplification":
                d1["scan_bytes"] / in_bytes,
            "spark.checkpoint.buckets_failed": len(s1["failed"]),
            "sink.mb": sink_bytes / MIB,
            "sink.files": sink_files,
            "out_bytes_per_in_byte": sink_bytes / in_bytes,
        }

    def prefixes(self, spark, tracer, store, i: int) -> dict:
        """Cumulative prefix walls of the extraction plan, each run to a
        noop sink: scan, + explode, + Arrow stage, + reassembly."""
        v = {}
        path = self.input_dir
        v["spark.pipeline.scan_s"], _, _ = measured(
            tracer, store, "spark.pipeline.scan", i,
            lambda: noop(spark.read.parquet(path)))
        v["spark.pipeline.explode_s"], _, _ = measured(
            tracer, store, "spark.pipeline.explode", i,
            lambda: noop(explode_spans(spark.read.parquet(path))))
        em = ExtractionMetrics.create(spark)
        v["spark.pipeline.fragments_s"], d, _ = measured(
            tracer, store, "spark.pipeline.fragments", i,
            lambda: noop(extract_fragments(spark.read.parquet(path),
                                           metrics=em)))
        nodes = python_nodes(d, "Generate")
        pm = python_metrics(*nodes[0], d["tasks"]) if nodes else {}
        snap = em.snapshot()
        v.update({
            "spark.stages.python_s": pm.get("python_s", 0.0),
            "spark.stages.init_s": pm.get("init_s", 0.0),
            "spark.stages.decode_s": snap["decode_ms"] / 1000.0,
            "spark.stages.boundary_s":
                pm.get("python_s", 0.0) - snap["decode_ms"] / 1000.0,
            "spark.stages.sent_mb": pm.get("sent_mb", 0.0),
            "spark.stages.received_mb": pm.get("received_mb", 0.0),
            "spark.stages.spans_in": snap["spans_in"],
            "spark.stages.frags_out": snap["frags_out"],
            "spark.stages.tasks": pm.get("tasks", 0),
            "core.quarantined_spans": snap["errors"],
        })
        v["spark.pipeline.documents_s"], d, _ = measured(
            tracer, store, "spark.pipeline.documents", i,
            lambda: noop(api.read_documents_flat(spark, path)))
        fallback = sum(
            plan.metric(n, "number of sort fallback tasks")
            for plan in d["sql"] for n in plan.named("ObjectHashAggregate"))
        v.update({
            "spark.pipeline.shuffle_mb": d["shuffle_write_bytes"] / MIB,
            "spark.pipeline.shuffle_records": d["shuffle_write_records"],
            "spark.pipeline.spill_mb": d["spill_disk_bytes"] / MIB,
            "spark.pipeline.agg_fallback_tasks": fallback,
            "spark.pipeline.jobs": d["jobs"],
            "spark.pipeline.stages": d["stages"],
            "spark.pipeline.explode_self_s":
                v["spark.pipeline.explode_s"] - v["spark.pipeline.scan_s"],
            "spark.pipeline.stage_self_s":
                v["spark.pipeline.fragments_s"]
                - v["spark.pipeline.explode_s"],
            "spark.pipeline.reassemble_s":
                v["spark.pipeline.documents_s"]
                - v["spark.pipeline.fragments_s"],
        })
        return v

    def traced_job(self, spark, tracer, store, i: int, v: dict):
        _, d, job = measured(tracer, store, "api.extract_tables", i,
                             lambda: self._run(spark))
        persisted = store.cached_bytes()
        release(job)
        nodes = python_nodes(d, "InMemoryTableScan")
        pm = python_metrics(*nodes[0], d["tasks"]) if nodes else {}
        return {
            "ops.export.s": job.wall - v["spark.pipeline.documents_s"],
            "ops.export.python_s": pm.get("python_s", 0.0),
            "ops.export.tables": pm.get("rows", 0.0),
            "api.persisted_mb": persisted / MIB,
            "api.released_caches": job.out["released"]["api"],
        }, job


class TextAssembly(Workload):
    """``fixtures.text_gen`` corpus + bench table →
    ``assemble_training_set`` with provenance and assembled frames
    written as ``scripts/run_assemble.py`` writes them."""

    name = "text_assembly"
    # one job is about 85 small Spark jobs, partly waiting on the
    # scheduler: over runs whose median probe spanned 3.1x, the job
    # wall's log-log slope against it was 0.81 (pdf_tables: 0.96)
    host_elasticity = 0.8
    self_keys = ("ops.textfilters.clean_s", "ops.dedup.self_s",
                 "ops.textfilters.decontaminate_self_s",
                 "ops.prepare.mixture_self_s")

    def build_inputs(self, out_dir: str) -> dict:
        n, nb = self.size["docs"], self.size["bench"]
        # text_gen is a pure function of the row index; the seed
        # permutes which file each row lands in, and the row order
        rng = random.Random(self.seed)
        rows = [text_gen.doc_row(i, n, nb) for i in range(n)]
        rng.shuffle(rows)
        bench = [(f"b{b:07d}", text_gen.bench_text(b)) for b in range(nb)]
        rng.shuffle(bench)
        for name, data, cols, files in (
                ("corpus", rows, ("doc_id", "text", "source"),
                 self.size["files"]),
                ("bench", bench, ("doc_id", "text"),
                 self.size["bench_files"])):
            os.makedirs(os.path.join(out_dir, name))
            per = -(-len(data) // files)
            for k in range(files):
                part = data[k * per:(k + 1) * per]
                pq.write_table(
                    pa.table({c: [r[j] for r in part]
                              for j, c in enumerate(cols)}),
                    os.path.join(out_dir, name, f"part-{k:05d}.parquet"))
        return {"n_docs": n}

    def load(self, spark) -> None:
        self.corpus = spark.read.parquet(
            os.path.join(self.input_dir, "corpus"))
        self.bench = spark.read.parquet(os.path.join(self.input_dir, "bench"))

    def warm_workers(self, spark) -> None:
        self.corpus.count()
        self.bench.count()

    def _assemble(self, spark, corpus) -> dict:
        out = assemble_training_set(corpus, benchmark=self.bench,
                                    mixture=MIXTURE, min_words=MIN_WORDS)
        prov, asm = self._next_dir("provenance"), self._next_dir("assembled")
        (out["provenance"].write.mode("overwrite")
         .partitionBy("stage").parquet(prov))
        (out["assembled"].write.mode("overwrite")
         .partitionBy("split").parquet(asm))
        return {"provenance": prov, "assembled": asm, "dirs": [prov, asm]}

    def _run(self, spark) -> Job:
        t0 = time.perf_counter()
        out = self._assemble(spark, self.corpus)
        return Job(time.perf_counter() - t0, out)

    def job(self, spark) -> Job:
        return release(self._run(spark))

    def check(self, spark, job: Job) -> str | None:
        got = {r["stage"]: r["count"] for r in
               spark.read.parquet(job.out["provenance"])
               .groupBy("stage").count().collect()}
        want = {k: v for k, v in
                text_gen.expected_stages(self.meta["n_docs"]).items() if v}
        if got != want:
            return f"stage histogram {got} != expected {want}"
        n_asm = spark.read.parquet(job.out["assembled"]).count()
        if n_asm <= got.get("kept", 0):
            return f"assembled rows {n_asm} <= kept docs {got.get('kept')}"
        return None

    def corrupt(self, spark, job: Job) -> Job:
        prov = spark.read.parquet(job.out["provenance"])
        victim = prov.filter(F.col("stage") == "kept").first()["doc_id"]
        bad = self._next_dir("corrupt")
        (prov.withColumn("stage", F.when(F.col("doc_id") == victim,
                                         F.lit("neardup"))
                         .otherwise(F.col("stage")))
         .write.partitionBy("stage").parquet(bad))
        return Job(job.wall, {**job.out, "provenance": bad,
                              "dirs": [bad]})

    def _clean(self):
        return corpus_clean(self.corpus, min_words=MIN_WORDS)

    def prefixes(self, spark, tracer, store, i: int) -> dict:
        """Cumulative prefix walls of the assembly program, each to a
        noop sink: clean gates, + cluster near-dedup, +
        decontamination. The clean frames are persisted the way
        ``assemble_training_set`` persists them."""
        v = {}
        v["ops.textfilters.clean_s"], _, _ = measured(
            tracer, store, "ops.textfilters.clean", i,
            lambda: noop(self._clean()))
        for name, bench in (("ops.dedup.clusters", None),
                            ("ops.textfilters.decontaminate", self.bench)):
            cc = self._clean().persist()
            survivors = self.corpus.join(
                cc.filter("kept").select("doc_id"), "doc_id").persist()

            def run(bench=bench, survivors=survivors):
                cl = dedup.dedup_corpus_clusters(survivors)
                dropped = (cl["components"]
                           .filter(F.col("doc_id") != F.col("component"))
                           .select("doc_id"))
                if bench is None:
                    noop(dropped)
                else:
                    after = survivors.join(dropped, "doc_id", "left_anti")
                    noop(decontaminate(after, bench, hash_fn="xxhash64")
                         ["contaminated"])
                return cl

            try:
                v[f"{name}_s"], _, cl = measured(tracer, store, name, i, run)
                if bench is None:
                    v["ops.dedup.verified_pairs"] = cl["pairs"].count()
            finally:
                dedup.release_caches()
                cc.unpersist(blocking=True)
                survivors.unpersist(blocking=True)
        return v

    def traced_job(self, spark, tracer, store, i: int, v: dict):
        _, d, job = measured(tracer, store, "ops.prepare.assemble", i,
                             lambda: self._run(spark))
        release(job)
        sink_bytes = sum(tree_bytes(p)[0] for p in job.out["dirs"])
        return {
            "ops.prepare.assemble_s": job.wall,
            "ops.dedup.self_s": v["ops.dedup.clusters_s"]
            - v["ops.textfilters.clean_s"],
            "ops.textfilters.decontaminate_self_s":
                v["ops.textfilters.decontaminate_s"]
                - v["ops.dedup.clusters_s"],
            "ops.prepare.mixture_self_s":
                job.wall - v["ops.textfilters.decontaminate_s"],
            "ops.shuffle_mb": d["shuffle_write_bytes"] / MIB,
            "ops.spill_mb": d["spill_disk_bytes"] / MIB,
            "ops.jobs": d["jobs"],
            "ops.dedup.released_caches": job.out["released"]["dedup"],
            "out_bytes_per_in_byte": sink_bytes / self.meta["input_bytes"],
        }, job


def core_probe(path: str, seed: int) -> dict:
    """Mean ms per span of single-process decoder calls over a seeded
    sample of the workload's own spans (outside Spark)."""
    by_kind: dict[str, list] = {}
    for r in pq.read_table(path, columns=["spans"]).to_pylist():
        for s in r["spans"]:
            by_kind.setdefault(s["kind"], []).append(
                (s["text"] or "", s["media_ref"] or ""))
    rng = random.Random(seed)
    sample = {k: rng.sample(v, min(CORE_SAMPLE, len(v)))
              for k, v in sorted(by_kind.items())}

    def ms_per(spans, fn) -> float:
        if not spans:
            return 0.0
        t0 = time.perf_counter()
        for text, ref in spans:
            fn(text, ref)
        return (time.perf_counter() - t0) * 1000.0 / len(spans)

    def flavored(flavor):
        def call(text, ref):
            try:
                extract_pdf_page(text, ref, flavor)
            except Exception:  # noqa: BLE001 — poison pages, as in Spark
                pass
        return call

    out = {f"core.{k}_ms": ms_per(sample.get(k, []),
                                  lambda t, r, k=k: extract_span(k, t, r))
           for k in ("pdf_page", "ocr_page", "html_page", "html_table")}
    out["core.lattice_ms"] = ms_per(sample.get("pdf_page", []),
                                    flavored("lattice"))
    out["core.stream_ms"] = ms_per(sample.get("pdf_page", []),
                                   flavored("stream"))
    return out


def calibrate(spark, tracer, store, docs) -> dict:
    """What the MapInArrow SQL metrics cover: the same span rows through
    an identity Arrow stage and through a stage that only sleeps."""
    slept = spark.sparkContext.accumulator(0.0)
    pause = SLEEP_PER_BATCH_S

    def identity(batches):
        yield from batches

    def sleeper(batches):
        for _ in batches:
            time.sleep(pause)
            slept.add(pause)
        return iter(())

    spans = explode_spans(docs)
    out = {}
    for name, fn in (("identity", identity), ("sleep", sleeper)):
        _, d, _ = measured(tracer, store, f"spark.stages.calib_{name}", -1,
                           lambda fn=fn: noop(spans.mapInArrow(fn,
                                                               spans.schema)))
        nodes = python_nodes(d, "Generate")
        pm = python_metrics(*nodes[0], d["tasks"]) if nodes else {}
        out[f"spark.stages.calib_{name}_python_s"] = pm.get("python_s", 0.0)
        out[f"spark.stages.calib_{name}_init_s"] = pm.get("init_s", 0.0)
    out["spark.stages.calib_slept_s"] = slept.value
    return out


WORKLOADS = {w.name: w for w in (PdfTables, TextAssembly)}


def make(name: str, root: str, work: str, seed: int, scale: str = "full"):
    if name not in WORKLOADS:
        sys.exit(f"unknown workload {name!r}; one of {sorted(WORKLOADS)}")
    return WORKLOADS[name](root, work, seed, scale)
