"""Metric registry and the arithmetic the benchmark reports with.

Everything here is pure Python (no Spark, no package import), so the
benchmark's own tests exercise it directly:

* ``END_TO_END`` / ``PER_LAYER``: every metric the benchmark prints, with
  its unit, direction and — for per-layer metrics — the end-to-end metric
  it should move and the workload it is measured on. ``BENCHMARK.json``
  mirrors these lists (a test keeps them in step).
* ``tail_percentile``: the reporting rule for tails — the highest
  percentile that still has at least ten samples beyond it.
* ``interval_union`` / ``extraction_ledger``: the outside-in ledger whose
  rows sum to the job wall by construction, with the unattributed rest
  as an explicit row.
"""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# (name, unit, better, bound). Every workload reports every one of these;
# each is a positive number on a healthy run.
END_TO_END = [
    # pages the workload's job turns into committed warehouse rows per
    # CPU-second its process tree (this interpreter, the driver JVM, the
    # Python workers) ran during the job, the JVM's JIT compiler threads
    # left out: extraction on extract_cc, merge on recrawl_merge (median
    # over the timed jobs). CPU time rather than wall: on a shared host
    # the wall of the same job swings by half with what the host's other
    # guests run, its CPU time far less. The JIT's share is warm-up that
    # still runs 0-6 CPU-s a job after the set-up jobs; it is traced as
    # job.jit_cpu_s. Wall throughput is printed beside it and traced as
    # trace.docs_per_s.
    ("docs_per_cpu_s", "docs/cpu-s", "higher", 0.25),
    # write amplification: bytes the job wrote into the warehouse per byte
    # of its input pages table
    ("warehouse_bytes_per_input_byte", "B/B", "lower", 0.2),
    # peak resident memory (PSS) of the whole process tree: this
    # interpreter, the driver JVM and its Python workers, from /proc
    ("peak_rss_mb", "MB", "lower", 0.1),
    # session start plus the median of three set-up passes
    ("setup_s", "s", "lower", 0.25),
]

# (name, unit, better, moves, workloads). "moves" names the end-to-end
# metric a change to this layer should move; None for a count of work
# and for the warehouse consumers no kept workload's end-to-end metric
# covers. "workloads" says where it is measured (other workloads report
# 0 for a layer they do not run).
EXTRACTION = ("extract_cc", "recrawl_merge")
FORMATS = ("html", "markdown", "pdf", "docx", "text", "other")
PER_LAYER = [
    *[(f"operators.parse_s.{f}", "s", "lower", "docs_per_cpu_s",
       EXTRACTION) for f in FORMATS],
    ("operators.charset_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("operators.chunk_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("operators.per_core_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("operators.docs", "count", "higher", None, EXTRACTION),
    ("operators.blocks", "count", "higher", None, EXTRACTION),
    ("operators.chunks", "count", "higher", None, EXTRACTION),
    ("operators.input_bytes", "B", "higher", None, EXTRACTION),
    ("pipeline.udf_stage_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("pipeline.boundary_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("pipeline.python_bytes_sent", "B", "lower", "docs_per_cpu_s",
     EXTRACTION),
    ("pipeline.python_bytes_received", "B", "lower", "docs_per_cpu_s",
     EXTRACTION),
    ("job.wall_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.cpu_s", "cpu-s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.jit_cpu_s", "cpu-s", "lower", None, EXTRACTION),
    ("job.spark_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.post_udf_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.unattributed_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.unattributed_share", "ratio", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.spark_jobs", "count", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.tasks", "count", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.udf_task_skew", "ratio", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.shuffle_bytes", "B", "lower", "docs_per_cpu_s", EXTRACTION),
    ("job.spill_bytes", "B", "lower", "peak_rss_mb", EXTRACTION),
    ("job.gc_s", "s", "lower", "peak_rss_mb", EXTRACTION),
    ("job.docs_per_s_1core", "docs/s", "higher", "docs_per_cpu_s",
     ("extract_cc",)),
    ("job.scaling_eff_1v4", "ratio", "higher", "docs_per_cpu_s",
     ("extract_cc",)),
    ("trace.docs_per_s", "docs/s", "higher", None, EXTRACTION),
    ("trace.docs_per_cpu_s", "docs/cpu-s", "higher", None, EXTRACTION),
    ("warehouse.commit_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("warehouse.lock_wait_s", "s", "lower", "docs_per_cpu_s", EXTRACTION),
    ("warehouse.calls", "count", "lower", "docs_per_cpu_s", EXTRACTION),
    ("warehouse.bytes_written", "B", "lower",
     "warehouse_bytes_per_input_byte", EXTRACTION),
    ("warehouse.files_written", "count", "lower",
     "warehouse_bytes_per_input_byte", EXTRACTION),
    ("warehouse.buckets_rewritten", "count", "lower",
     "warehouse_bytes_per_input_byte", EXTRACTION),
    # consumers of the merged warehouse, run in recrawl_merge's traced run
    # only: curation (with planted duplicates), embedding + ANN build and
    # the search API
    ("curate.wall_s", "s", "lower", None, ("recrawl_merge",)),
    ("curate.docs_per_s", "docs/s", "higher", None,
     ("recrawl_merge",)),
    ("dedup.pairs_s", "s", "lower", None, ("recrawl_merge",)),
    ("dedup.candidate_pairs", "count", "lower", None,
     ("recrawl_merge",)),
    ("dedup.pair_yield", "ratio", "higher", None, ("recrawl_merge",)),
    ("dedup.cc_passes", "count", "lower", None, ("recrawl_merge",)),
    ("ann.build_s", "s", "lower", None, ("recrawl_merge",)),
    ("api.search_p50_ms", "ms", "lower", None, ("recrawl_merge",)),
    ("api.search_tail_ms", "ms", "lower", None, ("recrawl_merge",)),
    ("api.search_tail_pct", "pct", "higher", None, ("recrawl_merge",)),
    ("api.spark_jobs_per_query", "count", "lower", None,
     ("recrawl_merge",)),
    ("api.embed_s", "s", "lower", None, ("recrawl_merge",)),
    ("search.candidates", "count", "lower", None, ("recrawl_merge",)),
]

E2E_NAMES = [m[0] for m in END_TO_END]
LAYER_NAMES = [m[0] for m in PER_LAYER]
UNITS = {m[0]: m[1] for m in END_TO_END + [p[:3] for p in PER_LAYER]}


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def tail_percentile(samples, beyond: int = 10) -> tuple[int, float] | None:
    """(percentile, value): the highest whole percentile p whose
    nearest-rank value still has at least ``beyond`` samples above its
    rank, i.e. ``ceil(p * n / 100) <= n - beyond``. None when fewer than
    ``beyond + 1`` samples exist (no percentile qualifies)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    while p > 0 and math.ceil(p * n / 100) > n - beyond:
        p -= 1
    if p <= 0:
        return None
    rank = math.ceil(p * n / 100)
    return p, xs[rank - 1]


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def subtract_len(a, b) -> float:
    """Length of union(a) not covered by union(b)."""
    return interval_union(list(a) + list(b)) - interval_union(b)


def extraction_ledger(wall_s: float, operators_core_s: float, cores: int,
                      udf_stage_s: float, spark_s: float,
                      commit_s: float) -> dict[str, float]:
    """Rows of one extraction job's wall, outside-in:

    * ``operators.per_core_s``: parse + chunk core-seconds of the pure
      function over the same input, spread over the cores;
    * ``pipeline.boundary_s``: the mapInPandas stage alone (noop sink)
      minus that — Arrow conversion, Python workers, scan and shuffle;
    * ``job.post_udf_s``: time inside the job's Spark jobs beyond the UDF
      stage — staged write, derivations, stats;
    * ``warehouse.commit_s``: io.warehouse / io.snapshots calls outside
      Spark jobs;
    * ``job.unattributed_s``: the rest of the wall (driver planning,
      listing, gaps between jobs).

    The rows sum to ``wall_s`` exactly; a large unattributed row, or a
    negative boundary / post-UDF row, says the attribution is off."""
    per_core = operators_core_s / cores
    rows = {
        "operators.per_core_s": per_core,
        "pipeline.boundary_s": udf_stage_s - per_core,
        "job.post_udf_s": spark_s - udf_stage_s,
        "warehouse.commit_s": commit_s,
    }
    rows["job.unattributed_s"] = wall_s - spark_s - commit_s
    return rows


LEDGER_ROWS = ("operators.per_core_s", "pipeline.boundary_s",
               "job.post_udf_s", "warehouse.commit_s", "job.unattributed_s")
