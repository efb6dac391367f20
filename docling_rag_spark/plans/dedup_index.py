"""Materialized MinHash-LSH band index: incremental near-dup detection.

The batch path (``queries/dedup.py::minhash_pairs_for``) recomputes every
signature per run — correct for a one-shot corpus job, wrong for the
production cadence where a daily crawl delta (10^8 pages) lands next to a
10^12-page corpus. Reference parity: the reference reindexes one document
at a time against its stored vectors (core/indexer.py:76-116 upserts per
file); this is the corpus-scale analog for near-dup state.

This module materializes the (doc_id, band, band_sig) table once as a
BUCKETED external parquet table — ``CLUSTERED BY (band, band_sig) INTO 32
BUCKETS`` — so joins keyed on (band, band_sig) read the corpus side
pre-partitioned: the scan reports HashPartitioning and EnsureRequirements
inserts NO Exchange above it, at any delta size. A delta then joins the
index WITHOUT touching the corpus text again:

* delta signatures: one pass over ONLY the new docs (the same
  ``band_sigs_for`` lineage the batch path and the oracle pin);
* delta-vs-corpus bucket membership: the delta's distinct band keys
  semi-join the index — BROADCAST below ``_BCAST_MAX_ROWS`` delta band
  rows (map-side hash join, zero shuffle anywhere), else the bucket-
  aligned sort-merge join where ONLY the key side exchanges (the r4
  unconditional broadcast was a guaranteed driver OOM at the 10^8-page
  delta this module advertises: 10^8 x 16 band rows is tens of GB);
* pair emission: the same group-cap + star-edge semantics as the batch
  path (``functions/capped.py``), computed over touched buckets only —
  bucket size and min-id rep are exact because the semi-join returns
  EVERY corpus member of a touched bucket;
* append: the delta's band rows land through the same bucketed writer,
  so tomorrow's delta sees today's without a rebuild.

Equivalence contract (pytest-pinned on BOTH join modes and with the cap
both inert and firing): incremental pairs over old ∪ delta ==
``minhash_pairs_for(old ∪ delta)`` restricted to pairs touching the
delta — exactly, because a doc's signature depends only on its own text
and a touched bucket's full membership is visible to the delta join.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import functions as F

from docling_rag_spark.functions import capped
from docling_rag_spark.queries.dedup import (
    _BAND_SIZE, _NUM_PERMS, _SHINGLE_K, band_sigs_for,
)

BANDS_SUBDIR = "minhash_bands"

_N_BUCKETS = 32
# Delta band rows above this fall back to the bucket-aligned shuffle join.
# 4M rows x ~44 bytes ≈ 180 MB serialized — near the practical ceiling for
# a broadcast table; a 10^8-page delta (1.6e9 band rows) goes nowhere near
# a driver.
_BCAST_MAX_ROWS = 4_000_000

# portable corpus split for the incremental diagnostic: md5 of the doc_id
# DECIMAL STRING, so Spark and DuckDB derive the identical bucket
SPLIT_PCT = 90


def split_bucket_col(doc_id_col):
    """0..99 bucket from md5(doc_id-as-string) — engine-portable (DuckDB
    twin: ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100)."""
    return (F.conv(F.substring(F.md5(doc_id_col.cast("string")), 1, 15),
                   16, 10).cast("bigint") % 100)


def _index_path(index_dir: str) -> str:
    return os.path.join(index_dir, BANDS_SUBDIR)


def _table_name(path: str) -> str:
    return ("minhash_band_idx_"
            + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12])


def _register_index(spark, path: str) -> str:
    """(Re-)register the bucketed external table over ``path``. The DDL
    carries the bucket spec; the files already encode bucket ids in their
    names (written by the bucketed writer), so the scan reads them
    pre-partitioned in any later session."""
    name = _table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (doc_id BIGINT, band INT, band_sig STRING) "
        f"USING PARQUET "
        f"CLUSTERED BY (band, band_sig) SORTED BY (band, band_sig) "
        f"INTO {_N_BUCKETS} BUCKETS LOCATION '{path}'")
    return name


def _bucketed_write(df, mode: str, table: str, path: str | None = None):
    w = (df.select("doc_id", "band", "band_sig")
         .write.bucketBy(_N_BUCKETS, "band", "band_sig")
         .sortBy("band", "band_sig")
         .mode(mode).format("parquet"))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def build_band_index(spark, docs, index_dir: str) -> str:
    """Materialize the band-signature table for ``docs`` (doc_id, text)
    as a bucketed external table. Overwrites any existing index."""
    path = _index_path(index_dir)
    tmp_table = f"minhash_band_build_{uuid.uuid4().hex[:12]}"
    _bucketed_write(band_sigs_for(docs), "overwrite", tmp_table, path)
    # external table: dropping unregisters the build alias, files remain
    spark.sql(f"DROP TABLE {tmp_table}")
    _register_index(spark, path)
    return path


def append_band_delta(spark, delta_docs, index_dir: str) -> None:
    """Append the delta's band signatures through the same bucketed
    writer — new files carry bucket ids, so the table stays shuffle-free
    for future joins."""
    path = _index_path(index_dir)
    _bucketed_write(band_sigs_for(delta_docs), "append",
                    _register_index(spark, path))


def _read_index(spark, index_dir: str):
    path = _index_path(index_dir)
    name = _table_name(path)
    if not spark.catalog.tableExists(name):
        _register_index(spark, path)
    return spark.table(name)


def _touched_members(idx, dkeys, broadcast: bool):
    """Index rows whose (band, band_sig) bucket the delta touches. The
    corpus-sized index side NEVER shuffles in either mode: broadcast mode
    is a map-side hash semi-join; fallback mode leans on the table's
    bucketed layout so EnsureRequirements exchanges only the key side
    (plan-pinned in tests/test_dedup_index.py)."""
    keys = F.broadcast(dkeys) if broadcast else dkeys
    return idx.join(keys, ["band", "band_sig"], "left_semi")


def incremental_minhash_pairs(spark, delta_docs, index_dir: str,
                              group_cap: int | None = capped.GROUP_CAP,
                              broadcast_max_rows: int = _BCAST_MAX_ROWS):
    """LSH candidate pairs involving at least one delta doc, against the
    materialized index — identical rows to the batch job's capped pairs
    touching the delta, at delta-sized cost.

    Cap semantics mirror ``banded_pairs_for`` exactly: a touched bucket's
    size/rep are computed over its FULL membership (all corpus members
    come back from the semi-join, all delta members from the delta), so
    in-cap buckets expand to pairs with ≥1 delta side and over-cap
    buckets emit (rep, member) star edges — restricted to edges touching
    the delta: the member is new, or the rep itself is new (a new doc
    with the bucket's minimum id re-points every member's star edge)."""
    from pyspark import StorageLevel

    idx = _read_index(spark, index_dir)
    delta = (band_sigs_for(delta_docs)
             .persist(StorageLevel.MEMORY_AND_DISK))
    n_delta = delta.count()
    dkeys = delta.select("band", "band_sig").distinct()
    touched = _touched_members(idx, dkeys,
                               broadcast=n_delta <= broadcast_max_rows)

    keys = ["band", "band_sig"]
    mem = capped.sized(touched.withColumn("is_new", F.lit(False))
                       .unionByName(delta.withColumn("is_new", F.lit(True))),
                       keys, "doc_id")
    small, star = capped.split(mem, keys, "doc_id", group_cap,
                               payload=["is_new"])
    a, b = small.alias("a"), small.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_sig") == F.col("b.band_sig"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .filter(F.col("a.is_new") | F.col("b.is_new"))
             .select(F.col("a.doc_id").cast("bigint").alias("doc_a"),
                     F.col("b.doc_id").cast("bigint").alias("doc_b"))
             .union(star.filter(F.col("pivot_is_new")
                                | F.col("member_is_new"))
                    .select(F.col("pivot_id").cast("bigint").alias("doc_a"),
                            F.col("member_id").cast("bigint")
                            .alias("doc_b"))))
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("bigint").alias("n_shared_bands")))


def ensure_band_index(spark, sf_dir: str, hi_pct: int = SPLIT_PCT) -> str:
    """Build-once cache of the band index over the md5-bucket < ``hi_pct``
    slice of ``documents`` — same (path, mtime, size)-keyed atomic-rename
    protocol as plans/ann_index.ensure_index."""
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    path_key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    # The signature shape is part of the key: a cached index built under a
    # different (shingle_k, perms, band_size) is silently incompatible with
    # fresh probe signatures (zero candidate pairs, no error) — exactly the
    # failure a versioned index layout must make impossible. v2: bucketed
    # table layout (v1 was band-dir partitioned parquet, not bucketed).
    sig_shape = f"k{_SHINGLE_K}p{_NUM_PERMS}b{_BAND_SIZE}"
    state_key = hashlib.md5(
        f"{st.st_mtime_ns}|{st.st_size}|{hi_pct}|{sig_shape}|v2"
        .encode()).hexdigest()[:12]
    root = os.environ.get("SPARK_GRAFT_DEDUP_DIR",
                          os.path.join(tempfile.gettempdir(),
                                       "spark_graft_dedup"))
    final = os.path.join(root, f"{path_key}-{state_key}")
    if os.path.isdir(os.path.join(final, BANDS_SUBDIR)):
        return final
    os.makedirs(root, exist_ok=True)
    docs = (spark.read.parquet(src)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
            .filter(split_bucket_col(F.col("doc_id")) < hi_pct))
    tmp = os.path.join(root, f".build-{uuid.uuid4().hex[:12]}")
    build_band_index(spark, docs, tmp)
    import shutil
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    # the build registered a table keyed by the tmp path — now stale
    spark.sql(f"DROP TABLE IF EXISTS {_table_name(_index_path(tmp))}")
    return final


def dedup_incremental_pairs(spark, sf_dir):
    """Diagnostic entry: the md5-bucket >= SPLIT_PCT slice of ``documents``
    is 'today's crawl delta'; pairs come from the size-gated join against
    the materialized index of the other 90% — NOT from re-signing the
    corpus. The DuckDB twin recomputes the batch (capped) pairs and
    restricts to pairs touching the delta: equality proves the incremental
    derivation exactly (a doc's signature depends only on its own text)."""
    idx = ensure_band_index(spark, sf_dir)
    delta = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
             .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
             .filter(split_bucket_col(F.col("doc_id")) >= SPLIT_PCT))
    return incremental_minhash_pairs(spark, delta, idx)
