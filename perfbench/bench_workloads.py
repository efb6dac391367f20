"""The two workloads. Each runs its set-up, times its job for the run's
seconds, checks the outputs, and — traced — fills the per-layer metrics.

extract_cc     full overwrite ``run_extraction`` over a heaviness-4 pages
               table (every format, corrupt, empty and scan rows).
recrawl_merge  ``run_extraction(mode="merge")`` of a later crawl over a
               committed warehouse restored from a pristine copy before
               every timed job. Its traced run also drives the consumers
               of the merged warehouse: curation, embedding + ANN build
               and the search API.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time

import numpy as np

import bench_checks as bc
import bench_inputs as bi
from bench_metrics import (LAYER_NAMES, extraction_ledger, subtract_len,
                           tail_percentile)
from bench_spark import (dir_files, fresh_dir, start_session, tree_cpu_s,
                         written_since)
from bench_trace import EventLog, Tracer, window_stats, wrap_attr, wrap_modules

HEAVINESS = 4
BUCKETS = 16
EXTRACT_DOCS = 1500
MERGE_BASE_DOCS = 600
WARM_DOCS = 256
SETUP_PASSES = 3
MIN_JOBS = 3
QUERIES = 24
TOP_K = 5


class Ctx:
    """One benchmark run: its session, scratch dir, counters and traces."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str,
                 log_dir: str | None, cores: int):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work, self.log_dir, self.cores = work, log_dir, cores
        self.spark = None
        self.session_s = 0.0
        self.tracer = Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []
        self.layer = {name: 0 for name in LAYER_NAMES}

    def start(self, cores: int | None = None) -> None:
        t0 = time.perf_counter()
        self.spark = start_session(cores or self.cores)
        self.session_s = time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str):
        return (self.tracer.span(name) if self.tracer
                else contextlib.nullcontext({}))

    def call(self, name: str, fn, *args, **kw):
        """Time one program call; a raising call counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(name) as sp:
                out = fn(*args, **kw)
        except Exception as exc:  # counted, reported, run marked incorrect
            self.failed += 1
            self.problems.append(f"{name}: {type(exc).__name__}: {exc}")
            return None, time.perf_counter() - t0, None
        return out, time.perf_counter() - t0, sp

    def check(self, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.failed += 1
            self.problems.extend(failures[:20])

    def setup(self, one_pass) -> float:
        """Session start plus the median of the set-up passes (one pass
        when traced: traced runs report per-layer metrics only)."""
        walls = []
        for r in range(1 if self.trace else SETUP_PASSES):
            t0 = time.perf_counter()
            one_pass(r)
            walls.append(time.perf_counter() - t0)
        return self.session_s + statistics.median(walls)

    def timed_jobs(self, body) -> list[dict]:
        """Run ``body(i)`` until the run's seconds are spent (at least
        MIN_JOBS times); stop at the first failure."""
        out = []
        deadline = time.perf_counter() + self.seconds
        while len(out) < MIN_JOBS or time.perf_counter() < deadline:
            res = body(len(out))
            if res is None:
                break
            out.append(res)
        return out

    def event_log(self) -> EventLog:
        self.stop()
        return EventLog.read_dir(self.log_dir)


def _io_modules():
    from docling_rag_spark.io import snapshots, warehouse
    return {"warehouse": warehouse, "snapshots": snapshots}


def _slice_pages(src: str, dst: str, n: int) -> str:
    import pyarrow.parquet as pq
    pq.write_table(pq.read_table(src).slice(0, n), dst, compression="zstd")
    return dst


def _read_pages(path: str):
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pandas()


def _udf_stage_s(ctx: Ctx, pages_path: str) -> float:
    """The job's mapInPandas stage alone, routed exactly as the job routes
    a full bucket batch, into the noop sink (median of two)."""
    from pyspark.sql import functions as F

    from docling_rag_spark.functions.partitioning import bucket_route
    from docling_rag_spark.operators.pipeline import extract_documents
    from docling_rag_spark.plans.job import bucket_of

    sub = ctx.spark.read.parquet(pages_path).withColumn(
        "bucket", bucket_of(F.col("url"), BUCKETS))
    sub = sub.repartition(BUCKETS, bucket_route(
        F.col("bucket"), list(range(BUCKETS)), BUCKETS))
    sink = extract_documents(sub, salt_partitions=None).write.format(
        "noop").mode("overwrite")
    walls = []
    for _ in range(2):
        _, wall, _ = ctx.call("pipeline.noop_stage", sink.save)
        walls.append(wall)
    return statistics.median(walls)


def _job_body(ctx: Ctx, out_dir: str, n_input: int, prepare, **job_kw):
    """One timed ``run_extraction`` into ``out_dir`` (prepared outside
    the clock by ``prepare``); records what it wrote."""
    from docling_rag_spark.plans.job import run_extraction

    def body(i: int):
        prepare()
        before = dir_files(out_dir) if os.path.isdir(out_dir) else {}
        cpu0 = tree_cpu_s()
        rep, wall, sp = ctx.call("job.run_extraction", run_extraction,
                                 ctx.spark, out_dir=out_dir,
                                 num_buckets=BUCKETS,
                                 salt_partitions=ctx.cores, **job_kw)
        cpu1 = tree_cpu_s()
        jit = cpu1[1] - cpu0[1]
        cpu = cpu1[0] - cpu0[0] - jit
        if rep is None:
            return None
        nbytes, nfiles, dirs = written_since(before, dir_files(out_dir))
        return {"wall": wall, "docs_per_s": n_input / wall, "cpu": cpu,
                "jit": jit,
                "docs_per_cpu_s": n_input / cpu, "report": rep,
                "bytes": nbytes, "files": nfiles,
                "buckets": sum(1 for d in dirs if "/bucket=" in d
                               and d.split("/")[0] in ("chunks",
                                                       "extracted")),
                "span": sp}
    return body


def _traced_jobs(ctx: Ctx, body) -> list[dict]:
    with wrap_modules(ctx.tracer, _io_modules()):
        return ctx.timed_jobs(body)


def _job_layers(ctx: Ctx, log: EventLog, jobs: list[dict], core_s: float,
                udf_s: float) -> None:
    """job.* / warehouse.* / pipeline.* rows from the median traced job,
    plus the ledger whose rows sum to its wall."""
    lay = ctx.layer
    mid = sorted(jobs, key=lambda j: j["wall"])[len(jobs) // 2]
    sp = mid["span"]
    stats = window_stats(log, sp["start"], sp["end"])
    io_spans = [s for s in ctx.tracer.find("warehouse.", sp)
                + ctx.tracer.find("snapshots.", sp)]
    commit_s = subtract_len([(s["start"], s["end"]) for s in io_spans],
                            stats["job_intervals"])
    wall = sp["end"] - sp["start"]
    ledger = extraction_ledger(wall, core_s, ctx.cores, udf_s,
                               stats["spark_s"], commit_s)
    lay.update(ledger)
    lay.update({
        "job.wall_s": wall,
        "job.cpu_s": mid["cpu"],
        "job.jit_cpu_s": mid["jit"],
        "job.spark_s": stats["spark_s"],
        "job.unattributed_share": ledger["job.unattributed_s"] / wall,
        "job.spark_jobs": stats["spark_jobs"],
        "job.tasks": stats["tasks"],
        "job.udf_task_skew": stats["udf_task_skew"],
        "job.shuffle_bytes": stats["shuffle_bytes"],
        "job.spill_bytes": stats["spill_bytes"],
        "job.gc_s": stats["gc_s"],
        "pipeline.udf_stage_s": udf_s,
        "pipeline.python_bytes_sent": stats["python_bytes_sent"],
        "pipeline.python_bytes_received": stats["python_bytes_received"],
        "trace.docs_per_s": statistics.median(j["docs_per_s"] for j in jobs),
        "trace.docs_per_cpu_s": statistics.median(j["docs_per_cpu_s"]
                                                  for j in jobs),
        "warehouse.lock_wait_s": sum(
            s["end"] - s["start"] for s in io_spans
            if s["name"].endswith(".commit_lock.wait")),
        "warehouse.calls": sum(1 for s in io_spans
                               if ".commit_lock." not in s["name"]),
        "warehouse.bytes_written": mid["bytes"],
        "warehouse.files_written": mid["files"],
        "warehouse.buckets_rewritten": mid["buckets"],
    })


def _operator_layers(ctx: Ctx, layer: dict) -> None:
    ctx.layer.update({k: v for k, v in layer.items()
                      if not k.startswith("_")})


def _e2e(ctx: Ctx, jobs: list[dict], in_bytes: int, setup_s: float
         ) -> dict:
    ctx.notes.append("job walls (s): " + " ".join(
        f"{j['wall']:.2f}" for j in jobs))
    ctx.notes.append("job cpu, JIT excluded (s): " + " ".join(
        f"{j['cpu']:.2f}" for j in jobs))
    ctx.notes.append("job JIT compiler cpu (s): " + " ".join(
        f"{j['jit']:.2f}" for j in jobs))
    ctx.notes.append("wall docs/s (not bounded): {:.6g}".format(
        statistics.median(j["docs_per_s"] for j in jobs)))
    return {
        "docs_per_cpu_s": statistics.median(j["docs_per_cpu_s"]
                                            for j in jobs),
        "warehouse_bytes_per_input_byte":
            statistics.median(j["bytes"] for j in jobs) / in_bytes,
        "setup_s": setup_s,
    }


# --------------------------------------------------------------------------


def extract_cc(ctx: Ctx) -> dict:
    from docling_rag_spark.plans.job import run_extraction
    from docling_rag_spark.sources.pages import write_pages_parquet

    pages = ctx.path("pages.parquet")

    def setup_pass(r: int) -> None:
        # the warm-up job runs on the full input, like run_extract.py
        # --warmup: JVM-side paths warm by volume, not by a code touch
        write_pages_parquet(pages, EXTRACT_DOCS, seed=ctx.seed,
                            heaviness=HEAVINESS)
        run_extraction(ctx.spark, pages, fresh_dir(ctx.path("warm_wh")),
                       num_buckets=BUCKETS, salt_partitions=ctx.cores)

    setup_s = ctx.setup(setup_pass)
    out = ctx.path("wh")
    body = _job_body(ctx, out, EXTRACT_DOCS,
                     lambda: shutil.rmtree(out, ignore_errors=True),
                     pages_path=pages)
    jobs = _traced_jobs(ctx, body) if ctx.trace else ctx.timed_jobs(body)

    # checks: every url against the pure function, chunk rows for the
    # fixtures and a seeded sample
    from docling_rag_spark.sources.pages import FIXTURE_ROWS
    df = _read_pages(pages)
    expected, op_layer = bc.pure_pass(df)
    if jobs:
        rng = random.Random(ctx.seed)
        sample = ([u for u, *_ in FIXTURE_ROWS]
                  + rng.sample(sorted(expected), 48))
        bad = bc.check_extraction(out, expected, sample_chunks=sample)
        rep = jobs[-1]["report"]
        got = (rep.doc_count, rep.chunk_count, rep.failure_count)
        want = (len(expected),
                sum(len(e["chunks"]) for e in expected.values()),
                sum(1 for e in expected.values() if e["status"] == "error"))
        if got != want:
            bad.append(f"report (docs, chunks, failures) {got} != {want}")
        ctx.check(bad)

    if ctx.trace and jobs:
        _operator_layers(ctx, op_layer)
        udf_s = _udf_stage_s(ctx, pages)
        # local[1] pass on the same input, same process
        ctx.stop()
        ctx.start(cores=1)
        warm = _slice_pages(pages, ctx.path("warm.parquet"), WARM_DOCS)
        ctx.call("job.warm_1core", run_extraction, ctx.spark, warm,
                 fresh_dir(ctx.path("warm_wh")), num_buckets=BUCKETS,
                 salt_partitions=1)
        one = ctx.path("wh1")
        _, wall1, _ = ctx.call("job.run_extraction_1core", run_extraction,
                               ctx.spark, pages, one, num_buckets=BUCKETS,
                               salt_partitions=1)
        log = ctx.event_log()
        _job_layers(ctx, log, jobs, op_layer["_core_s"], udf_s)
        ctx.layer["job.docs_per_s_1core"] = EXTRACT_DOCS / wall1
        ctx.layer["job.scaling_eff_1v4"] = (
            ctx.layer["trace.docs_per_s"]
            / (ctx.cores * ctx.layer["job.docs_per_s_1core"]))
    return _e2e(ctx, jobs, os.path.getsize(pages), setup_s) if jobs else {}


def recrawl_merge(ctx: Ctx) -> dict:
    from docling_rag_spark.plans.job import run_extraction
    from docling_rag_spark.sources.pages import generate_pages

    base_path = ctx.path("base.parquet")
    rc_path = ctx.path("recrawl.parquet")
    pristine = ctx.path("pristine")
    state = {}

    def setup_pass(r: int) -> None:
        base = generate_pages(MERGE_BASE_DOCS, seed=ctx.seed,
                              heaviness=HEAVINESS)
        bi.write_pages(base_path, base)
        rc, plan = bi.recrawl_pages(base, ctx.seed, HEAVINESS)
        bi.write_pages(rc_path, rc)
        run_extraction(ctx.spark, base_path, fresh_dir(pristine),
                       snapshot_id="base", num_buckets=BUCKETS,
                       salt_partitions=ctx.cores)
        state.update(rc=rc, plan=plan)
        if r == 0:
            # the cold pass also warms the merge path once: the first
            # merge of a fresh session runs about 25 % slower
            warm = ctx.path("warm_wh")
            shutil.rmtree(warm, ignore_errors=True)
            shutil.copytree(pristine, warm)
            run_extraction(ctx.spark, rc_path, warm, snapshot_id="recrawl",
                           mode="merge", salt_partitions=ctx.cores)

    setup_s = ctx.setup(setup_pass)
    cur = ctx.path("wh")

    def restore():
        shutil.rmtree(cur, ignore_errors=True)
        shutil.copytree(pristine, cur)

    body = _job_body(ctx, cur, len(state["rc"]), restore,
                     pages_path=rc_path, snapshot_id="recrawl", mode="merge")
    jobs = _traced_jobs(ctx, body) if ctx.trace else ctx.timed_jobs(body)

    expected, op_layer = bc.pure_pass(state["rc"])
    if jobs:
        ctx.check(bc.check_merge(pristine, cur, state["plan"], expected,
                                 jobs[-1]["report"]))

    if ctx.trace and jobs:
        _operator_layers(ctx, op_layer)
        udf_s = _udf_stage_s(ctx, rc_path)
        _consumers(ctx, cur, state["plan"])
        log = ctx.event_log()
        _job_layers(ctx, log, jobs, op_layer["_core_s"], udf_s)
        _query_layers(ctx, log)
    return _e2e(ctx, jobs, os.path.getsize(rc_path), setup_s) if jobs else {}


# --------------------------------------------------------------------------
# consumers of the merged warehouse (recrawl_merge, traced)


def _consumers(ctx: Ctx, wh_dir: str, plan: dict) -> None:
    _curation(ctx, wh_dir, plan)
    _search(ctx, wh_dir)


def _curation(ctx: Ctx, wh_dir: str, plan: dict) -> None:
    """``run_curation`` over the merged warehouse. Its pair step
    (``_cc_labels``, looked up in ``plans.curate`` at call time) is
    wrapped: it materializes the MinHash-LSH candidate pairs (recomputing
    their lazy inputs) and links them into components, and its span is
    ``dedup.pairs_s``. Pair and pass counts come from
    ``queries.dedup.CC_STATS``."""
    from docling_rag_spark.plans import curate
    from docling_rag_spark.queries import dedup

    dest = fresh_dir(ctx.path("curated"))
    with wrap_attr(ctx.tracer, curate, "_cc_labels", "dedup.cc_labels"):
        report, wall, sp = ctx.call("curate.run_curation",
                                    curate.run_curation, ctx.spark, wh_dir,
                                    dest, require_stopwords=False)
    if report is None:
        return
    pairs_s = sum(s["end"] - s["start"]
                  for s in ctx.tracer.find("dedup.cc_labels", sp))
    corpus = bc.read_table(dest, "corpus", ["url"]).column("url").to_pylist()
    ctx.check(bc.check_curation(report, set(corpus), plan))
    edges = dedup.CC_STATS.get("edges") or 0
    ctx.layer.update({
        "curate.wall_s": wall,
        "curate.docs_per_s": report["n_input"] / wall,
        "dedup.pairs_s": pairs_s,
        "dedup.cc_passes": dedup.CC_STATS.get("passes") or 0,
        "dedup.candidate_pairs": edges,
        # useful outcomes per attempt: the planted near-copy pairs (the
        # curation check holds the removals to exactly those) per
        # candidate pair the LSH banding produced
        "dedup.pair_yield": (len(plan["mirrors"]["near"]) / edges
                             if edges else 0.0),
    })


def _search(ctx: Ctx, wh_dir: str) -> None:
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    from docling_rag_spark.api.service import search_warehouse
    from docling_rag_spark.operators import embed as E
    from docling_rag_spark.operators import search as S
    from docling_rag_spark.plans import ann_index as AI
    from docling_rag_spark.plans.job import bucket_of, read_chunks

    emb_dir = os.path.join(wh_dir, "embeddings")
    ctx.call(
        "embed.embed_chunks",
        lambda: (E.embed_chunks(read_chunks(ctx.spark, wh_dir))
                 .withColumn("bucket", bucket_of(F.col("url"), BUCKETS))
                 .write.partitionBy("bucket").mode("overwrite")
                 .parquet(emb_dir)))
    _, ann_s, _ = ctx.call("ann.build_ann_index", AI.build_ann_index,
                           ctx.spark,
                           ctx.spark.read.parquet(emb_dir),
                           os.path.join(wh_dir, "ann"),
                           id_cols=("url", "chunk_id"))
    ctx.layer["ann.build_s"] = ann_s

    chunks = bc.read_table(wh_dir, "chunks",
                           ["url", "chunk_id", "context_text"]).to_pandas()
    queries = bi.search_queries(chunks, ctx.seed, QUERIES)
    emb = bc.read_table(wh_dir, "embeddings",
                        ["url", "chunk_id", "embedding"]).to_pylist()
    vectors = {(r["url"], r["chunk_id"]): np.asarray(r["embedding"],
                                                     dtype=np.float32)
               for r in emb}
    lsh = ds.dataset(os.path.join(wh_dir, "ann", "lsh"), format="parquet",
                     partitioning="hive")
    lat, cands = [], []
    with wrap_attr(ctx.tracer, E, "embed_texts", "api.embed_texts"), \
            wrap_attr(ctx.tracer, S, "embed_texts", "api.embed_texts"):
        for q in queries:
            rows, wall, _ = ctx.call("api.search_warehouse",
                                     search_warehouse, ctx.spark, wh_dir,
                                     q["query"], top_k=TOP_K,
                                     url_prefix=q["url_prefix"])
            if rows is None:
                continue
            lat.append(wall * 1000.0)
            q_vec = E.embed_texts([q["query"]])[0]
            ctx.check(bc.check_search(rows, q, q_vec, vectors, TOP_K))
            probes = AI.multiprobe_buckets(AI.py_bucket(
                [float(v) for v in q_vec]))
            cands.append(lsh.count_rows(
                filter=ds.field("bucket").isin(probes)))
    if lat:
        tail = tail_percentile(lat) or (0, 0.0)
        ctx.layer.update({
            "api.search_p50_ms": statistics.median(lat),
            "api.search_tail_pct": tail[0],
            "api.search_tail_ms": tail[1],
            "search.candidates": statistics.mean(cands),
        })


def _query_layers(ctx: Ctx, log: EventLog) -> None:
    spans = ctx.tracer.find("api.search_warehouse")
    if not spans:
        return
    jobs = [len(log.jobs_in(s["start"], s["end"])) for s in spans]
    embed = [sum(e["end"] - e["start"]
                 for e in ctx.tracer.find("api.embed_texts", s))
             for s in spans]
    ctx.layer["api.spark_jobs_per_query"] = statistics.mean(jobs)
    ctx.layer["api.embed_s"] = statistics.mean(embed)


WORKLOADS = {"extract_cc": extract_cc, "recrawl_merge": recrawl_merge}
