"""functions/capped.py: the cap-and-pivot split shared by the dedup pair
paths, its stats row, and their DuckDB twins.

One small frame with one over-cap group, one in-cap group and a
singleton. For one pivot and for three, Spark must equal the DuckDB twin
row for row; at one pivot the edges must be exactly the star through the
group's minimum id, with or without payload; the stats row must match the
saved-rows formula n(n−1)/2 − (p·n − p(p+1)/2).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from docling_rag_spark.functions import capped

CAP = 4
BIG = [3, 5, 8, 9, 11, 12, 20]   # 7 members: over the cap
ROWS = ([("big", i, 10 * i) for i in BIG]
        + [("mid", i, 10 * i) for i in (1, 2, 30)]
        + [("one", 40, 400)])
EDGE_COLS = ["k", "pivot_id", "member_id", "pivot_w", "member_w"]


def _rows(df, cols):
    return sorted(tuple(r) for r in df[cols].itertuples(index=False,
                                                         name=None))


@pytest.mark.parametrize("pivots", [1, 3])
def test_split_and_stats_match_duckdb_and_formula(spark, pivots):
    sized = capped.sized(
        spark.createDataFrame(ROWS, "k string, id bigint, w bigint"),
        ["k"], "id", pivots)
    small, edges = capped.split(sized, ["k"], "id", CAP, pivots, ["w"])
    keep = capped.in_cap_or_pivot(sized, "id", CAP, pivots)
    sizes = sized.groupBy("k").agg(F.count("*").cast("bigint").alias("n"))
    got_stats = capped.stats(sizes, CAP, pivots).toPandas()

    con = duckdb.connect()
    con.register("raw", pd.DataFrame(ROWS, columns=["k", "id", "w"]))
    con.execute("CREATE VIEW sized AS "
                + capped.sized_sql("raw", ["k"], "id", pivots))
    small_sql, edges_sql = capped.split_sql("sized", ["k"], "id", CAP,
                                            pivots, ["w"])
    con.execute("CREATE VIEW g AS SELECT k, count(*)::BIGINT AS n "
                "FROM raw GROUP BY k")

    want_edges = [("big", p, m, 10 * p, 10 * m)
                  for p in BIG[:pivots] for m in BIG if m > p]
    assert _rows(edges.toPandas(), EDGE_COLS) == sorted(want_edges)
    assert _rows(con.execute(edges_sql).df(), EDGE_COLS) == sorted(want_edges)

    want_small = sorted(r for r in ROWS if r[0] != "big")
    assert _rows(small.toPandas(), ["k", "id", "w"]) == want_small
    assert _rows(con.execute(small_sql).df(), ["k", "id", "w"]) == want_small

    want_keep = sorted(want_small + [r for r in ROWS
                                     if r[0] == "big"
                                     and r[1] in BIG[:pivots]])
    assert _rows(keep.toPandas(), ["k", "id", "w"]) == want_keep
    assert _rows(con.execute(capped.in_cap_or_pivot_sql(
        "sized", "id", CAP, pivots)).df(), ["k", "id", "w"]) == want_keep

    n, p = len(BIG), pivots
    saved = n * (n - 1) // 2 - (p * n - p * (p + 1) // 2)
    assert saved == n * (n - 1) // 2 - len(want_edges)
    want_stats = [(3, 1, n, saved)]
    stat_cols = ["n_groups", "n_over_cap", "max_group", "n_pair_rows_saved"]
    assert _rows(got_stats, stat_cols) == want_stats
    assert _rows(con.execute(capped.stats_sql("g", CAP, pivots)).df(),
                 stat_cols) == want_stats


def test_one_pivot_star_without_payload(spark):
    """With one pivot and no payload the split skips the pivot join; the
    edges are still the (rep, member) star, on both engines."""
    sized = capped.sized(
        spark.createDataFrame(ROWS, "k string, id bigint, w bigint"),
        ["k"], "id")
    _, star = capped.split(sized, ["k"], "id", CAP)
    want = [("big", BIG[0], m) for m in BIG[1:]]
    cols = ["k", "pivot_id", "member_id"]
    assert _rows(star.toPandas(), cols) == want

    con = duckdb.connect()
    con.register("raw", pd.DataFrame(ROWS, columns=["k", "id", "w"]))
    con.execute("CREATE VIEW sized AS "
                + capped.sized_sql("raw", ["k"], "id"))
    _, star_sql = capped.split_sql("sized", ["k"], "id", CAP)
    assert _rows(con.execute(star_sql).df(), cols) == want

