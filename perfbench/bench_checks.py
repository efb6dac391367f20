"""Output checks, read back without Spark (pyarrow over the warehouse
files), against the package's pure functions run in this process.

Each check returns a list of failure strings; an empty list passes.
"""

from __future__ import annotations

import collections
import os
import time

import numpy as np
import pyarrow.dataset as ds

from bench_metrics import FORMATS


def read_table(warehouse: str, table: str, columns=None):
    path = os.path.join(warehouse, table)
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)


def format_key(fmt: str, html) -> str:
    """Parse-time bucket of a row: WET text-only rows are ``text``,
    empty and unsupported rows ``other``."""
    if fmt == "markdown" and html is None:
        return "text"
    return fmt if fmt in FORMATS else "other"


def pure_pass(pages, max_tokens: int | None = None) -> tuple[dict, dict]:
    """Run the package's pure parse + chunk over every row of a pages
    frame. Returns (url -> expected row, layer timings and counts)."""
    from docling_rag_spark.config import CHUNK_MAX_TOKENS
    from docling_rag_spark.operators import dispatch
    from docling_rag_spark.operators.blocks import chunk_blocks

    max_tokens = max_tokens or CHUNK_MAX_TOKENS
    parse_s = collections.Counter()
    charset = [0.0]
    decode = dispatch.detect_decode

    def timed_decode(data):
        t0 = time.perf_counter()
        try:
            return decode(data)
        finally:
            charset[0] += time.perf_counter() - t0

    expected = {}
    chunk_s = 0.0
    n_blocks = n_chunks = in_bytes = 0
    dispatch.detect_decode = timed_decode
    try:
        for url, html, text in zip(pages["url"], pages["html"],
                                   pages["text"]):
            html = html if isinstance(html, (bytes, bytearray)) else None
            text = text if isinstance(text, str) else None
            in_bytes += len(html or b"") + len((text or "").encode())
            t0 = time.perf_counter()
            fmt, blocks, status, _err, _enc = dispatch.parse_document_ex(
                html, text)
            t1 = time.perf_counter()
            extracted, chunks = chunk_blocks(blocks, max_tokens=max_tokens)
            t2 = time.perf_counter()
            parse_s[format_key(fmt, html)] += t1 - t0
            chunk_s += t2 - t1
            n_blocks += len(blocks)
            n_chunks += len(chunks)
            expected[url] = {
                "format": fmt, "status": status, "extracted_text": extracted,
                "n_blocks": len(blocks),
                "chunks": [(c.chunk_id, c.text, c.span[0], c.span[1])
                           for c in chunks],
            }
    finally:
        dispatch.detect_decode = decode
    layer = {f"operators.parse_s.{f}": parse_s.get(f, 0.0) for f in FORMATS}
    layer.update({
        "operators.charset_s": charset[0],
        "operators.chunk_s": chunk_s,
        "operators.docs": len(expected),
        "operators.blocks": n_blocks,
        "operators.chunks": n_chunks,
        "operators.input_bytes": in_bytes,
    })
    layer["_core_s"] = sum(parse_s.values()) + chunk_s
    return expected, layer


def check_extraction(warehouse: str, expected: dict, urls=None,
                     sample_chunks=None) -> list[str]:
    """Warehouse rows of ``urls`` (default: all expected) equal the pure
    function: format, status, extracted_text, n_blocks, chunk count, and
    for ``sample_chunks`` urls every chunk's text and byte span."""
    bad = []
    urls = set(expected) if urls is None else set(urls)
    ext = read_table(warehouse, "extracted",
                     ["url", "format", "status", "extracted_text",
                      "n_blocks", "n_chunks"]).to_pylist()
    seen = collections.Counter(r["url"] for r in ext)
    dups = [u for u, c in seen.items() if c > 1]
    if dups:
        bad.append(f"extracted: {len(dups)} urls stored more than once")
    rows = {r["url"]: r for r in ext}
    for u in sorted(urls):
        r, e = rows.get(u), expected[u]
        if r is None:
            bad.append(f"extracted: missing {u}")
            continue
        for k in ("format", "status", "extracted_text", "n_blocks"):
            if r[k] != e[k]:
                bad.append(f"extracted: {u} {k} differs")
        if r["n_chunks"] != len(e["chunks"]):
            bad.append(f"extracted: {u} n_chunks {r['n_chunks']} != "
                       f"{len(e['chunks'])}")
    chunks = read_table(warehouse, "chunks",
                        ["url", "chunk_id", "text", "span"]).to_pylist()
    per_url = collections.defaultdict(list)
    for c in chunks:
        per_url[c["url"]].append(c)
    for u in sorted(urls):
        if len(per_url.get(u, ())) != len(expected[u]["chunks"]):
            bad.append(f"chunks: {u} has {len(per_url.get(u, ()))} rows, "
                       f"expected {len(expected[u]['chunks'])}")
    for u in sorted(set(sample_chunks or ()) & urls):
        got = sorted((c["chunk_id"], c["text"], c["span"]["start"],
                      c["span"]["end"]) for c in per_url.get(u, ()))
        if got != expected[u]["chunks"]:
            bad.append(f"chunks: {u} chunk rows differ from the pure "
                       "function")
    return bad


def check_merge(pristine: str, merged: str, plan: dict,
                expected_changed: dict, report) -> list[str]:
    """The merged warehouse holds base ∪ new urls exactly once; rows of
    urls the recrawl did not change are identical to the pristine copy;
    changed urls match the pure function on their new bytes."""
    bad = []
    mirror_urls = {m for pairs in plan["mirrors"].values() for _s, m in pairs}
    changed = plan["refetch"] | plan["new"] | mirror_urls
    for table, key in (("extracted", lambda r: r["url"]),
                       ("chunks", lambda r: (r["url"], r["chunk_id"]))):
        before = read_table(pristine, table).to_pylist()
        after = read_table(merged, table).to_pylist()
        ka = collections.Counter(key(r) for r in after)
        if any(c > 1 for c in ka.values()):
            bad.append(f"{table}: duplicate keys after merge")
        urls_b = {r["url"] for r in before}
        urls_a = {r["url"] for r in after}
        if table == "extracted" and urls_a != urls_b | plan["new"] \
                | mirror_urls:
            bad.append("extracted: url set != base ∪ new urls")
        old = {key(r): r for r in before if r["url"] not in changed}
        new = {key(r): r for r in after if r["url"] not in changed}
        if old != new:
            diff = sum(1 for k in old.keys() | new.keys()
                       if old.get(k) != new.get(k))
            bad.append(f"{table}: {diff} untouched rows differ from the "
                       "pristine warehouse")
    bad += check_extraction(merged, expected_changed,
                            urls=changed, sample_chunks=sorted(changed)[:16])
    if report.docs_unchanged != len(plan["unchanged"]):
        bad.append(f"merge: docs_unchanged {report.docs_unchanged} != "
                   f"{len(plan['unchanged'])}")
    return bad


def check_curation(report: dict, corpus_urls: set, plan: dict) -> list[str]:
    bad = []
    mirrors = plan["mirrors"]
    for kind, key in (("exact", "n_exact_dups_removed"),
                      ("near", "n_near_dups_removed")):
        if report[key] != len(mirrors[kind]):
            bad.append(f"curation: {key} {report[key]} != planted "
                       f"{len(mirrors[kind])}")
        for src, mirror in mirrors[kind]:
            kept = (src in corpus_urls) + (mirror in corpus_urls)
            if kept != 1:
                bad.append(f"curation: {kind} pair {src} kept {kept} copies")
    return bad


def check_search(rows: list[dict], q: dict, q_vec: np.ndarray,
                 vectors: dict, top_k: int) -> list[str]:
    """Scores equal a numpy cosine over the stored vectors, results are
    ordered (score desc, url, chunk_id), the url filter holds, and the
    queried chunk retrieves itself at the top score."""
    bad = []
    if not rows or len(rows) > top_k:
        return [f"search: {len(rows)} results for top_k={top_k}"]
    for r in rows:
        v = vectors.get((r["url"], r["chunk_id"]))
        if v is None:
            bad.append(f"search: result {r['url']}#{r['chunk_id']} has no "
                       "stored vector")
            continue
        score = float(np.dot(v.astype(np.float64), q_vec.astype(np.float64)))
        if abs(round(score, 4) - r["score"]) > 1.5e-4:
            bad.append(f"search: score {r['score']} != cosine {score:.6f}")
        if q["url_prefix"] and not r["url"].startswith(q["url_prefix"]):
            bad.append(f"search: {r['url']} outside {q['url_prefix']}")
    order = [(-r["score"], r["url"], r["chunk_id"]) for r in rows]
    if order != sorted(order):
        bad.append("search: results not ordered")
    top = rows[0]["score"]
    if not any(r["url"] == q["url"] and r["chunk_id"] == q["chunk_id"]
               and r["score"] == top for r in rows):
        bad.append(f"search: {q['url']}#{q['chunk_id']} did not retrieve "
                   "itself")
    return bad
