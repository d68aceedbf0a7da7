"""The exact cosine kernel of ``functions/similarity.py``.

* Golden pins: sha256 digests of ``repr`` rows from ``lsh_neardup_pairs``,
  ``semdedup_verdicts`` and ``mine_hard_negatives(method="exact")`` over
  the sf0.001 / sf0.01 embeddings and planted clusters, recorded from the
  Catalyst-expression faces (left-associated ``zip_with`` + ``aggregate``
  folds) before the dims-major NumPy kernel replaced them.
* Bit-exact driver oracles: ``lsh_neardup``, ``semdedup`` and
  ``ann_indexed_topk`` against their DuckDB SQL with ``repr`` doubles
  (``tools/check_oracles.py`` rounds to 12 digits and cannot see bits).
* Zero-norm vectors: the cosine is NULL, as in the oracle SQL.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from __spark_entry__ import SF0001
from edspdf_spark.functions.similarity import (
    _dims_major,
    _dot,
    ivf_serve_topk,
    lsh_neardup_pairs,
    mine_hard_negatives,
    semdedup_verdicts,
)

SF = {"sf0.001": SF0001, "sf0.01": os.path.join(os.path.dirname(SF0001), "sf0.01")}


def _digest(rows) -> tuple:
    rows = sorted(tuple(r) for r in rows)
    return len(rows), hashlib.sha256("\n".join(map(repr, rows)).encode()).hexdigest()


def _planted(spark):
    """Six 16-dim clusters: four tight near-duplicates and two outliers each."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((6, 16))
    rows, vid = [], 0
    for c in range(6):
        for j in range(6):
            v = base[c] + rng.standard_normal(16) * (0.01 if j < 4 else 1.5)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(6)],
        "cid int, c_emb array<double>",
    )
    return df, cent


def _codebook16(emb):
    """The driver's deterministic codebook: the 16 lowest-vec_id vectors."""
    return emb.orderBy("vec_id").limit(16).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("embedding").alias("c_emb")
    )


def _toy(spark, n, seed):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def lsh_cases(spark):
    for name, path in SF.items():
        emb = spark.read.parquet(f"{path}/embeddings.parquet")
        yield name, emb, dict(threshold=0.4, n_bits=6, n_tables=2, seed=42)
    df, _ = _planted(spark)
    yield "planted", df, dict(threshold=0.8, n_bits=4, n_tables=3, seed=11)


def semdedup_cases(spark):
    for name, path in SF.items():
        emb = spark.read.parquet(f"{path}/embeddings.parquet")
        yield name, emb, _codebook16(emb), 0.6
    df, cent = _planted(spark)
    yield "planted", df, cent, 0.08


def hardneg_cases(spark):
    for name, path in SF.items():
        emb = spark.read.parquet(f"{path}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") % 31 == 0)
        pos = q.select(
            F.col("vec_id").alias("query_id"), (F.col("vec_id") + 1).alias("pos_id")
        )
        yield name, emb, q, pos, 3
    toy = _toy(spark, 60, 11)
    pos = spark.createDataFrame(
        [(0, 5), (13, 14), (13, 15), (26, 2), (39, 40), (52, 53)],
        "query_id long, pos_id long",
    )
    yield "toy60", toy, toy.filter("vec_id % 13 = 0"), pos, 4
    toy = _toy(spark, 40, 7)
    pos = spark.createDataFrame(
        [(q, q + 1) for q in (0, 10, 20, 30)], "query_id long, pos_id long"
    )
    yield "toy40", toy, toy.filter("vec_id % 10 = 0"), pos, 3


LSH_NEARDUP_PIN = {
    "sf0.001": (
        12,
        "b83a1506c8a9a25f7f1addbbd0929229ebe8a1484aece79969e570f31ec9644b",
    ),
    "sf0.01": (
        8,
        "619ae50716826ee18ab5f20cf5fd28d922f2fed3bad36ebfdc40470ddcd67b3f",
    ),
    "planted": (
        36,
        "63201997c84519b18b603065702b500ca93e1a44b747b260d19c1e9ca7f5fed1",
    ),
}
SEMDEDUP_PIN = {
    "sf0.001": (
        500,
        "29dcfdf204bef3cf6a2bd1d333179aa90607684cb956fe2b4e380c3588d440b9",
    ),
    "sf0.01": (
        500,
        "aa4dcf8c01d6a9d3037efd2eccfa84f58f39645584b4b85c21f9b9841032082a",
    ),
    "planted": (
        36,
        "06b7f8752a4e3da22cf4a464deed37cf3f93c7e157111e03daf3e783cbf2e7f8",
    ),
}
HARDNEG_PIN = {
    "sf0.001": (
        51,
        "ba2b8d1c3b5fbb0d69fd497edae275dc6d49abafed9a36ebaf8e3b578946f841",
    ),
    "sf0.01": (
        51,
        "089563577a567733b84edbe73cc212fc47fdaff1b2777efcd6abf726e87ea23a",
    ),
    "toy60": (
        20,
        "7bbf6f0d3293401b89f39e2565d6ff4d222474aa3d08a45a2cd5af8bb415a43f",
    ),
    "toy40": (
        12,
        "8ce372122b4a5c96fc7edf6e3e3759b9fa5593119254409bcdef5045b2a43854",
    ),
}


def test_lsh_neardup_golden_pin(spark):
    got = {
        name: _digest(lsh_neardup_pairs(df, **kw).collect())
        for name, df, kw in lsh_cases(spark)
    }
    assert got == LSH_NEARDUP_PIN


def test_semdedup_golden_pin(spark):
    got = {
        name: _digest(semdedup_verdicts(df, cent, eps=eps).collect())
        for name, df, cent, eps in semdedup_cases(spark)
    }
    assert got == SEMDEDUP_PIN


def test_hardneg_golden_pin(spark):
    got = {
        name: _digest(mine_hard_negatives(corpus, q, pos, k=k).collect())
        for name, corpus, q, pos, k in hardneg_cases(spark)
    }
    assert got == HARDNEG_PIN


def _duck(path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    return con


def _same_rows(sdf, con, sql):
    spark_rows = sorted(tuple(r) for r in sdf.collect())
    duck_rows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert list(map(repr, spark_rows)) == list(map(repr, duck_rows))
    return spark_rows


@pytest.mark.parametrize("name", ["lsh_neardup", "semdedup", "ann_indexed_topk"])
def test_driver_oracles_bit_exact(spark, name):
    sf = SF["sf0.001"]
    rows = _same_rows(
        entry_mod.queries()[name](spark, sf),
        _duck(f"{sf}/embeddings.parquet"),
        entry_mod.oracle_sql()[name],
    )
    assert rows


def test_zero_norm_vectors_match_oracle(spark, tmp_path):
    """All-zero embeddings (one of them a codebook centroid) get a NULL
    cosine, as the oracle's SQL division does; they neither pair nor
    prune, and the query never fails."""
    t = pq.read_table(f"{SF['sf0.001']}/embeddings.parquet")
    vecs = t.column("embedding").to_pylist()
    dim = len(vecs[0])
    ids = t.column("vec_id").to_pylist()
    for vid in (5, 300):
        vecs[ids.index(vid)] = [0.0] * dim
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        t.set_column(1, "embedding", pa.array(vecs, pa.list_(pa.float32()))), path
    )
    emb = spark.read.parquet(path)
    con = _duck(path)
    _same_rows(
        lsh_neardup_pairs(emb, threshold=0.4, n_bits=6, n_tables=2, seed=42),
        con,
        entry_mod._lsh_neardup_oracle(dim=dim),
    )
    rows = _same_rows(
        semdedup_verdicts(emb, _codebook16(emb), eps=0.6),
        con,
        entry_mod._semdedup_oracle(dim=dim, eps=0.6),
    )
    zero = {r[0]: r for r in rows if r[0] in (5, 300)}
    assert set(zero) == {5, 300}
    assert all(r[2] is None and r[3] for r in zero.values())


def test_ivf_serve_topk_empty_corpus_keeps_schema(spark):
    """An empty corpus (and query side) gives an empty frame with the
    non-empty path's schema; no driver job reads a first row."""
    empty = spark.createDataFrame([], "vec_id string, embedding array<float>")
    cent = spark.createDataFrame([(0, [1.0, 0.0])], "cid int, c_emb array<double>")
    out = ivf_serve_topk(empty, cent, empty, k=2, nprobe=1)
    assert out.dtypes == [("query_id", "string"), ("rank", "int"), ("vec_id", "string")]
    assert out.count() == 0


def test_dot_adds_left_to_right():
    """The kernel adds ``((0.0 + a0*b0) + a1*b1) + …``: a sum that a
    pairwise or BLAS reduction rounds differently stays in fold order."""
    a = pa.array([[1e16, 1.0, -1e16, 1.0]], pa.list_(pa.float64()))
    m = _dims_major(a)
    ones = np.ones_like(m)
    assert m.shape == (4, 1)
    assert _dot(m, ones)[0] == ((((0.0 + 1e16) + 1.0) - 1e16) + 1.0)
    assert _dot(m, ones)[0] == 1.0
