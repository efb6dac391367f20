#!/usr/bin/env python
"""Template-mass cap cost/benefit evidence (round-5 scale-edge fixes).

The round-5 caps (MinHash band buckets, simhash-style; LSH near-dup
buckets; SemDeDup clusters) defend against ONE structure: a mass of
near-identical documents/embeddings that lands in a single bucket or
cluster and turns a "per-key quadratic" into the whole job. The caps are
inert on the benchmark corpora (telemetry in BASELINE.md), so their value
is invisible in BENCH_DETAIL — this script makes it a measured number:
build a synthetic corpus whose dominant feature is an m-member identical
mass, run each capped operator WITH and WITHOUT its cap, and report wall
time, output rows, and the member-set equivalence that proves the capped
answer still reaches every mass member (star edges / pivots are
component-equivalent).

The uncapped mass size is kept small enough to finish (m=4000 → 8.0M
pairs per band for minhash/neardup, 16M gram cells for semdedup); the
capped path's cost at the SAME m is the point of comparison — its curve
is linear, so the ratio grows with m.

Prints ONE JSON line. Usage:
    python scripts/bench_cap_rescue.py [--mass 4000] [--spread 50]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write_embeddings(path, mass, spread, dim=64):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    base = rng.normal(size=dim)
    base /= np.linalg.norm(base)
    m = base[None, :] + rng.normal(scale=0.001, size=(mass, dim))
    s = np.eye(dim)[:spread] * 3.0
    vecs = np.vstack([m, s])
    n = len(vecs)
    pq.write_table(
        pa.table({"vec_id": np.arange(n),
                  "label": np.zeros(n, dtype=np.int32),
                  "embedding": list(vecs.astype(float))}),
        os.path.join(path, "embeddings.parquet"))


def _write_documents(path, mass, spread):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # identical text → identical shingle set → identical minhash band
    # signatures for every mass member (all 16 bands collide)
    mass_text = ("the quick brown fox jumps over the lazy dog again and "
                 "again because template farms repeat one page forever")
    texts = [mass_text] * mass + [
        f"unique document {i} with its own words token{i} filler{i} "
        f"content{i} body{i} tail{i} end{i}" for i in range(spread)]
    pq.write_table(
        pa.table({"doc_id": list(range(mass + spread)), "text": texts}),
        os.path.join(path, "documents.parquet"))


def _timed(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 2), out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mass", type=int, default=4000)
    ap.add_argument("--spread", type=int, default=50)
    args = ap.parse_args()

    from docling_rag_spark.queries.clustering import vec_semdedup_drop
    from docling_rag_spark.queries.dedup import minhash_pairs_for
    from docling_rag_spark.queries.vectors import vec_neardup_lsh
    from docling_rag_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-cap-rescue")
    report: dict = {"mass": args.mass, "spread": args.spread, "ops": {}}
    with tempfile.TemporaryDirectory() as d:
        _write_embeddings(d, args.mass, args.spread)
        _write_documents(d, args.mass, args.spread)
        docs = spark.read.parquet(os.path.join(d, "documents.parquet")) \
            .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")

        def members(df, a, b):
            rows = df.select(F.collect_set(a), F.collect_set(b)).first()
            return set(rows[0]) | set(rows[1])

        # minhash LSH pairs (cap: capped.GROUP_CAP=1000)
        w_cap, got = _timed(lambda: minhash_pairs_for(docs))
        n_cap = got.count()
        m_cap = members(got, "doc_a", "doc_b")
        w_un, got_un = _timed(lambda: minhash_pairs_for(docs, None))
        n_un = got_un.count()
        m_un = members(got_un, "doc_a", "doc_b")
        report["ops"]["minhash_pairs"] = {
            "capped_sec": w_cap, "uncapped_sec": w_un,
            "capped_rows": n_cap, "uncapped_rows": n_un,
            "member_set_equal": m_cap == m_un}

        # LSH near-dup (cap: capped.GROUP_CAP=1000)
        w_cap, got = _timed(lambda: vec_neardup_lsh(spark, d))
        n_cap = got.count()
        m_cap = members(got, "vec_a", "vec_b")
        w_un, got_un = _timed(lambda: vec_neardup_lsh(spark, d,
                                                      group_cap=None))
        n_un = got_un.count()
        m_un = members(got_un, "vec_a", "vec_b")
        report["ops"]["neardup_lsh"] = {
            "capped_sec": w_cap, "uncapped_sec": w_un,
            "capped_rows": n_cap, "uncapped_rows": n_un,
            "member_set_equal": m_cap == m_un}

        # SemDeDup (cap: capped.GROUP_CAP=1000; compare drop sets)
        w_cap, got = _timed(lambda: vec_semdedup_drop(spark, d))
        cap_drops = {(r["cluster"], r["drop_id"], r["kept_by"])
                     for r in got.collect()}
        w_un, got_un = _timed(lambda: vec_semdedup_drop(spark, d,
                                                        cluster_cap=None))
        un_drops = {(r["cluster"], r["drop_id"], r["kept_by"])
                    for r in got_un.collect()}
        report["ops"]["semdedup_drop"] = {
            "capped_sec": w_cap, "uncapped_sec": w_un,
            "capped_drops": len(cap_drops), "uncapped_drops": len(un_drops),
            "drop_set_equal": cap_drops == un_drops}

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
