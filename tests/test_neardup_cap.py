"""vec_neardup_lsh bucket cap + star-edge fallback.

An 8-hyperplane sign-LSH bucket holds an unbounded mass of identical
embeddings (template farm → one bucket), so the uncapped bucket
self-join enumerates m²/2 pairs from a single key. Pins the same
contract as the minhash band cap (tests/test_dedup_ops.py) and the
SemDeDup cluster cap (tests/test_semdedup_cap.py): linear output from
an over-cap bucket, star edges through the bucket's minimum id, exact
cosine still confirming every edge, Spark ≡ DuckDB with the cap firing.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from test_oracle_parity import SF_DIR

from docling_rag_spark.functions.capped import GROUP_CAP
from docling_rag_spark.queries.vectors import (
    _bucket,
    neardup_bucket_stats_sql,
    neardup_lsh_sql,
    vec_neardup_bucket_stats,
    vec_neardup_lsh,
)

DIM = 64
N_MASS = 1200
N_SPREAD = 50
CAP = 100


@pytest.fixture(scope="module")
def mega_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("neardup_mega")
    rng = np.random.default_rng(23)
    base = rng.normal(size=DIM)
    base /= np.linalg.norm(base)
    mass = base[None, :] + rng.normal(scale=0.001, size=(N_MASS, DIM))
    spread = np.eye(DIM)[:N_SPREAD] * 3.0
    vecs = np.vstack([mass, spread])
    n = len(vecs)
    pq.write_table(
        pa.table({"vec_id": np.arange(n),
                  "label": np.zeros(n, dtype=np.int32),
                  "embedding": list(vecs.astype(float))}),
        str(d / "embeddings.parquet"))
    return str(d)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))


def test_capped_matches_duckdb_when_firing(spark, mega_dir):
    got = vec_neardup_lsh(spark, mega_dir, group_cap=CAP).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{mega_dir}/embeddings.parquet')")
    want = con.execute(neardup_lsh_sql(CAP)).df()
    assert _canon(got) == _canon(want)


def test_over_cap_bucket_emits_linear_star_edges(spark, mega_dir):
    got = vec_neardup_lsh(spark, mega_dir, group_cap=CAP).toPandas()
    sizes = got.groupby("bucket").size()
    mass_bucket = sizes.idxmax()
    mass = got[got.bucket == mass_bucket]
    # linear, not quadratic: every edge hangs off the bucket's min id
    assert len(mass) == N_MASS - 1
    assert set(mass.vec_a) == {mass.vec_a.min()}
    assert set(mass.vec_b) == set(range(1, N_MASS))
    # exact cosine still confirmed on the star edges
    assert (mass.score_e6 >= 350000).all()


def test_capped_component_equivalent_to_uncapped(spark, mega_dir):
    """The near-identical mass forms one connected component either way:
    the star edges reach every member the full expansion reached."""
    capped = vec_neardup_lsh(spark, mega_dir, group_cap=CAP).toPandas()
    full = vec_neardup_lsh(spark, mega_dir, group_cap=None).toPandas()
    def members(df):
        return set(df.vec_a) | set(df.vec_b)
    assert members(capped) == members(full)
    # and the uncapped path really was quadratic where the cap is linear
    assert len(full) == N_MASS * (N_MASS - 1) // 2
    assert len(capped) < len(full)


def _bucket_sizes(spark, d):
    return (spark.read.parquet(f"{d}/embeddings.parquet")
            .groupBy(_bucket(F.col("embedding")).alias("bucket")).count()
            .toPandas()["count"])


def _duck_stats(d):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{d}/embeddings.parquet')")
    return con.execute(neardup_bucket_stats_sql()).df()


def test_bucket_stats_fire_on_mass(spark, mega_dir):
    got = vec_neardup_bucket_stats(spark, mega_dir).toPandas()
    s = got.iloc[0]
    over = [int(n) for n in _bucket_sizes(spark, mega_dir) if n > GROUP_CAP]
    assert int(s.n_over_cap) == len(over) >= 1
    assert int(s.n_pair_rows_saved) == sum(
        n * (n - 1) // 2 - (n - 1) for n in over)
    assert _canon(got) == _canon(_duck_stats(mega_dir))


def test_bucket_stats_inert_on_testdata(spark):
    s = vec_neardup_bucket_stats(spark, SF_DIR).toPandas().iloc[0]
    assert int(s.n_over_cap) == 0
    assert int(s.n_pair_rows_saved) == 0
    assert 0 < int(s.max_group) <= GROUP_CAP
