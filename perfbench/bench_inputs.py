"""Seeded input builders. The same seed gives byte-identical inputs.

The pages themselves come from the package's ``sources.pages`` generator
(every format, corrupt, empty and scan rows included); this module only
derives the benchmark's own variants from it:

* ``recrawl_pages``: a later crawl of a committed base — re-fetched urls
  (one page of each format class) with a newer ``warc_ts`` and new
  bytes, a few unchanged re-fetches, brand-new urls, and mirror urls
  that are planted exact or near copies of base pages (the curation pass
  must remove exactly those).
* ``search_queries``: chunk texts sampled from a warehouse, a quarter of
  them restricted to their own host by ``url_prefix``.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# re-fetches are one block of 100 consecutive generated doc ids: the
# generator's format class is doc_id % 100, so every seed re-fetches
# exactly one page of each class and the recrawl's byte mix (hence the
# write-amplification ratio) does not swing with the seed
REFETCH_BLOCK = 100
UNCHANGED_SHARE = 0.02
NEW_SHARE = 0.03
MIRROR_SHARE = 0.01          # each of exact and near copies
NEAR_WORD = "zeppelin"       # outside the generator's vocabulary


def write_pages(path: str, df: pd.DataFrame) -> int:
    from docling_rag_spark.sources.pages import PAGES_ARROW_SCHEMA

    table = pa.Table.from_pandas(df, schema=PAGES_ARROW_SCHEMA,
                                 preserve_index=False)
    pq.write_table(table, path, row_group_size=2000, compression="zstd")
    return len(df)


def _near_copy(payload: bytes) -> bytes:
    """Replace the middle lowercase vocabulary word of a markdown page —
    one token changed, so the word-5-shingle Jaccard stays above 0.95 on
    pages of a few hundred words."""
    words = payload.decode().split(" ")
    mid = len(words) // 2
    for off in range(len(words)):
        for i in (mid + off, mid - off):
            if 0 <= i < len(words) and words[i].isalpha() \
                    and words[i].islower() and words[i].isascii():
                words[i] = NEAR_WORD
                return " ".join(words).encode()
    raise ValueError("no word to replace")


def recrawl_pages(base: pd.DataFrame, seed: int, heaviness: int
                  ) -> tuple[pd.DataFrame, dict]:
    """(recrawl pages, plan). ``base`` is ``generate_pages`` output with
    its fixture rows first. The plan lists the url sets the checks
    need."""
    from docling_rag_spark.sources.pages import (FIXTURE_ROWS,
                                                 generate_pages)

    n_fix = len(FIXTURE_ROWS)
    n = len(base)
    rng = random.Random(seed * 7919 + 17)
    start = n_fix + rng.randrange(n - n_fix - REFETCH_BLOCK + 1)
    refetch = list(range(start, start + REFETCH_BLOCK))
    rest = [i for i in range(n_fix, n)
            if not start <= i < start + REFETCH_BLOCK]
    rng.shuffle(rest)
    n_same = int(n * UNCHANGED_SHARE)
    n_mirror = max(2, int(n * MIRROR_SHARE))
    unchanged = sorted(rest[:n_same])
    rest = rest[n_same:]
    # mirror sources: long markdown pages nobody re-fetches
    md = sorted(i for i in rest if "/doc/" in base.at[i, "url"])
    sources = rng.sample(md, 2 * n_mirror)
    exact_src, near_src = sorted(sources[:n_mirror]), sorted(sources[n_mirror:])

    later = dt.timedelta(days=30)
    rows = []
    # re-fetched: same url, same format class (same doc id), new bytes
    alt = generate_pages(n - n_fix, seed=seed * 31 + 5,
                         include_fixtures=False, heaviness=heaviness)
    for i in refetch:
        a = alt.iloc[i - n_fix]
        rows.append((base.at[i, "url"], base.at[i, "warc_ts"] + later,
                     a["html"], a["text"], base.at[i, "lang"]))
    for i in unchanged:
        rows.append(tuple(base.loc[i, ["url", "warc_ts", "html", "text",
                                       "lang"]]))
    n_new = max(1, int(n * NEW_SHARE))
    grown = generate_pages(n + n_new, seed=seed, heaviness=heaviness)
    new_rows = grown.iloc[n:]
    for _, r in new_rows.iterrows():
        rows.append((r["url"], r["warc_ts"] + later, r["html"], r["text"],
                     r["lang"]))
    mirrors = {"exact": [], "near": []}
    for kind, srcs in (("exact", exact_src), ("near", near_src)):
        for k, i in enumerate(srcs):
            src_url = base.at[i, "url"]
            url = src_url.replace("://", f"://mirror-{kind}{k}.", 1)
            html = base.at[i, "html"]
            if kind == "near":
                html = _near_copy(html)
            rows.append((url, base.at[i, "warc_ts"] + later, html, None,
                         base.at[i, "lang"]))
            mirrors[kind].append((src_url, url))
    urls, ts, htmls, texts, langs = zip(*rows)
    recrawl = pd.DataFrame({"url": urls, "warc_ts": ts, "html": htmls,
                            "text": texts, "lang": langs})
    recrawl = recrawl.sample(frac=1.0, random_state=seed).reset_index(
        drop=True)
    plan = {
        "refetch": {base.at[i, "url"] for i in refetch},
        "unchanged": {base.at[i, "url"] for i in unchanged},
        "new": set(new_rows["url"]),
        "mirrors": mirrors,
    }
    return recrawl, plan


def search_queries(chunks: pd.DataFrame, seed: int, n: int
                   ) -> list[dict]:
    """``chunks``: (url, chunk_id, context_text). One query per sampled
    url (its chunk text verbatim, so self-retrieval is checkable); every
    fourth query carries its own host as ``url_prefix``."""
    rng = random.Random(seed * 104729 + 3)
    ok = chunks[chunks["context_text"].str.split().str.len() >= 8]
    by_url = ok.groupby("url").head(1).sort_values(["url", "chunk_id"])
    picks = rng.sample(range(len(by_url)), min(n, len(by_url)))
    out = []
    for k, i in enumerate(picks):
        r = by_url.iloc[i]
        prefix = None
        if k % 4 == 3:
            prefix = r["url"].split("/", 3)[:3]
            prefix = "/".join(prefix) + "/"
        out.append({"query": r["context_text"], "url": r["url"],
                    "chunk_id": int(r["chunk_id"]), "url_prefix": prefix})
    return out
