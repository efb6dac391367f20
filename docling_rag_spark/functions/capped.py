"""Capped groups: the one skew policy shared by every dedup pair path.

Each near-duplicate pair path groups members by a blocking key — MinHash
band bucket, SimHash fingerprint, embedding LSH bucket, SemDeDup cluster —
and pairs the members inside each group. A template farm puts an unbounded
mass of near-identical members into ONE group, so the full per-group
expansion is quadratic in the largest group (*Rock you like a hurricane:
taming skew*, EuroSys'18). The policy lives here and nowhere else:

- a group of at most ``cap`` members expands to all its pairs — each caller
  keeps its own in-cap expansion (array HOF, self-join, gram);
- a group over the cap emits only ``(pivot, member)`` edges from its
  ``pivots`` smallest-id members to every larger-id member:
  p·n − p(p+1)/2 rows instead of n(n−1)/2. With one pivot that is the star
  through the group's minimum-id member ``rep``, which keeps every member
  in the rep's connected component.

Members are first *sized*: ``n`` (group size), ``rep`` (minimum id) and,
only when ``pivots > 1``, ``rk`` (id rank in the group). ``split`` divides
sized members into in-cap rows and over-cap edges; ``stats`` reports how
often the cap fired. Every function has a DuckDB text twin (``*_sql``)
with identical semantics, which the oracle twins of the callers embed.

Edge frames carry ``keys``, ``pivot_id``, ``member_id`` (``pivot_id <
member_id``) and, for each caller payload column ``c``, ``pivot_c`` and
``member_c``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

# Members per group before the pivot fallback, for every capped path: a
# cap² in-cap expansion stays cheap (10⁶ pair rows, or an 8 MB gram).
GROUP_CAP = 1000


def sized(members, keys, id_col, pivots=1):
    """``members`` plus ``n``, ``rep`` and (``pivots > 1``) ``rk``."""
    w = Window.partitionBy(*keys)
    cols = [F.count("*").over(w).alias("n"),
            F.min(id_col).over(w).alias("rep")]
    if pivots > 1:
        cols.append(F.row_number().over(w.orderBy(id_col)).alias("rk"))
    return members.select("*", *cols)


def _is_pivot(id_col, pivots, q=""):
    """SQL predicate, shared by both engines, on a row qualified by
    ``q``."""
    if pivots == 1:
        return f"{q}{id_col} = {q}rep"
    return f"{q}rk <= {pivots}"


def split(sized_df, keys, id_col, cap=GROUP_CAP, pivots=1, payload=()):
    """(in-cap rows, over-cap pivot edges) of a sized frame. ``cap=None``
    keeps every row in cap and yields no edges."""
    in_cap = sized_df if cap is None else sized_df.filter(F.col("n") <= cap)
    over = sized_df.filter(F.lit(False) if cap is None
                           else F.col("n") > cap)
    if pivots == 1 and not payload:
        # the star needs nothing of the rep but its id: no join
        return in_cap, over.filter(F.col(id_col) != F.col("rep")).select(
            *keys, F.col("rep").alias("pivot_id"),
            F.col(id_col).alias("member_id"))

    def side(df, tag):
        return df.select(*keys, *[F.col(c).alias(f"{tag}_{c}")
                                  for c in payload],
                         F.col(id_col).alias(f"{tag}_id"))

    piv = side(over.filter(F.expr(_is_pivot(id_col, pivots))), "pivot")
    edges = (piv.join(side(over, "member"), list(keys))
             .filter(F.col("pivot_id") < F.col("member_id")))
    return in_cap, edges


def in_cap_or_pivot(sized_df, id_col, cap=GROUP_CAP, pivots=1):
    """Rows that still stand for their group: every member of an in-cap
    group, only the pivots of an over-cap one."""
    if cap is None:
        return sized_df
    return sized_df.filter((F.col("n") <= cap)
                           | F.expr(_is_pivot(id_col, pivots)))


def _saved(div, pivots):
    """Pair rows the pivot fallback avoids in a group of ``n`` — written
    once for both engines (``div``: Spark ``DIV`` / DuckDB ``//``). The
    pivot count is clamped at ``n``: a group smaller than ``pivots`` is
    all pivots and saves nothing."""
    p = f"least({pivots}, n)"
    return f"n * (n - 1) {div} 2 - ({p} * n - {p} * ({p} + 1) {div} 2)"


def stats(sizes, cap=GROUP_CAP, pivots=1):
    """One row ``(n_groups, n_over_cap, max_group, n_pair_rows_saved)``
    over a one-row-per-group frame with size column ``n``."""
    over = F.lit(False) if cap is None else F.col("n") > cap
    return sizes.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(over.cast("bigint")).cast("bigint").alias("n_over_cap"),
        F.max("n").cast("bigint").alias("max_group"),
        F.sum(F.when(over, F.expr(_saved("DIV", pivots))).otherwise(0))
        .cast("bigint").alias("n_pair_rows_saved"))


# --- DuckDB twins ------------------------------------------------------------

def sized_sql(rel, keys, id_col, pivots=1):
    """SELECT twin of ``sized`` over relation ``rel``."""
    w = "PARTITION BY " + ", ".join(keys)
    rk = ("" if pivots == 1 else
          f",\n         row_number() OVER ({w} ORDER BY {id_col}) AS rk")
    return f"""SELECT *, count(*) OVER ({w}) AS n,
         min({id_col}) OVER ({w}) AS rep{rk}
  FROM {rel}"""


def split_sql(rel, keys, id_col, cap=GROUP_CAP, pivots=1, payload=()):
    """(in-cap SELECT, edge SELECT) twin of ``split`` over the sized
    relation ``rel``."""
    in_cap = f"SELECT * FROM {rel}" + (
        "" if cap is None else f" WHERE n <= {cap}")
    over = "FALSE" if cap is None else f"a.n > {cap}"
    if pivots == 1 and not payload:
        return in_cap, f"""SELECT {', '.join(f'a.{k}' for k in keys)},
         a.rep AS pivot_id, a.{id_col} AS member_id
  FROM {rel} a WHERE {over} AND a.{id_col} <> a.rep"""
    on = " AND ".join(f"a.{k} = b.{k}" for k in keys)
    cols = ", ".join([f"a.{k}" for k in keys]
                     + [f"a.{c} AS pivot_{c}, b.{c} AS member_{c}"
                        for c in payload])
    return in_cap, f"""SELECT {cols},
         a.{id_col} AS pivot_id, b.{id_col} AS member_id
  FROM {rel} a JOIN {rel} b ON {on} AND a.{id_col} < b.{id_col}
  WHERE {over} AND {_is_pivot(id_col, pivots, "a.")}"""


def in_cap_or_pivot_sql(rel, id_col, cap=GROUP_CAP, pivots=1):
    """SELECT twin of ``in_cap_or_pivot``."""
    if cap is None:
        return f"SELECT * FROM {rel}"
    return (f"SELECT * FROM {rel} "
            f"WHERE n <= {cap} OR {_is_pivot(id_col, pivots)}")


def stats_sql(rel, cap=GROUP_CAP, pivots=1):
    """SELECT twin of ``stats`` over the per-group relation ``rel``."""
    over = "FALSE" if cap is None else f"n > {cap}"
    return f"""SELECT count(*)::BIGINT AS n_groups,
       sum(CASE WHEN {over} THEN 1 ELSE 0 END)::BIGINT AS n_over_cap,
       max(n)::BIGINT AS max_group,
       sum(CASE WHEN {over} THEN {_saved('//', pivots)} ELSE 0 END)::BIGINT
         AS n_pair_rows_saved
FROM {rel}"""
