"""Similarity search over embedding columns (``array<float>``).

Three paths:

* ``cosine_topk`` — brute-force exact top-k. The query side is collected to
  a (small) matrix and closed over by an Arrow-batched ``mapInArrow``
  stage that scores each batch, keeps a PARTITION-LOCAL top-k, and only
  then shuffles k rows per (query × partition) for the global top-k.
  Driver never sees the corpus.
* ``lsh_ann_topk`` — random-hyperplane LSH: bucket by sign bits, search only
  within the query's bucket (+ optional multi-probe). The scale path: the
  candidate set per query is corpus/2^bits on average.
* ``ivf_ann_topk`` — IVF (inverted-file) ANN: a seeded NumPy k-means coarse
  quantizer trained on a driver-side sample assigns every vector to its
  nearest centroid cell; each query searches only its ``nprobe`` nearest
  cells. The cell id is the shuffle/partition key — at 10^12 vectors each
  cell is an independently scannable slice, and recall/cost trades off via
  ``nprobe``.

Every cosine and sign bit that an exact operator emits, thresholds or
ranks (``cosine_topk``, ``cosine_neardup_pairs``, ``lsh_neardup_pairs``,
``lsh_ann_topk``, ``ivf_serve_topk``, ``semdedup_verdicts``) comes from one
kernel: :func:`_dims_major` turns an Arrow list column into a dims-major
float64 matrix and :func:`_dot` adds ``a[j]*b[j]`` left to right from 0.0,
vectorized across rows. ``cos = dot / (sqrt(na) * sqrt(nb))`` and a sign
bit is ``dot(x, h) > 0`` — the operation order of the DuckDB oracles, so
their doubles match bit for bit. A zero-norm vector's cosine is NULL, as
the oracles' SQL division gives. The trained ANN paths (``ivf_ann_topk``,
``ivfpq_ann_topk``) keep BLAS scoring; their recall is tested instead.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _dims_major(col: pa.Array) -> np.ndarray:
    """A ``list<float|double>`` Arrow column as a C-contiguous dims-major
    ``(dim, n)`` float64 matrix (float32 widens exactly). Row ``j`` holds
    every vector's ``j``-th component, so :func:`_dot` runs one vector op
    per dimension instead of a strided column walk."""
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(flat.astype(np.float64).reshape(len(col), -1).T)


def _dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``((0.0 + a[0]*b[0]) + a[1]*b[1]) + …`` over the leading (dims)
    axis, the other axes broadcast: the left-to-right order of a SQL
    ``0.0 + x1*y1 + …`` fold. BLAS and a pairwise ``sum`` along a
    vector's own (contiguous) axis add in other orders."""
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    term = np.empty_like(acc)
    for aj, bj in zip(a, b, strict=True):
        acc += np.multiply(aj, bj, out=term)
    return acc


def _cosine(dot: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """``dot / (sqrt(na) * sqrt(nb))``; NaN, the oracle's NULL, where a
    norm is zero. ``pa.array(..., from_pandas=True)`` emits it as NULL."""
    den = np.sqrt(na) * np.sqrt(nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, np.nan, dot / den)


def _desc_nulls_last(cos: np.ndarray) -> np.ndarray:
    """Stable ascending-sort key for ``ORDER BY cos DESC NULLS LAST``."""
    return np.where(np.isnan(cos), np.inf, -cos)


def _pair_cosines(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    keep: list,
    out: str,
    above: float = None,
) -> DataFrame:
    """``keep`` columns plus ``out``, the exact cosine of each row's
    ``a_col`` and ``b_col`` vectors, in one ``mapInArrow`` stage. With
    ``above``, only rows whose cosine is greater than it."""
    names = [*keep, out]
    schema = T.StructType(
        [pairs.schema[c] for c in keep] + [T.StructField(out, T.DoubleType())]
    )

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            a = _dims_major(rb.column(a_col))
            b = _dims_major(rb.column(b_col))
            cos = _cosine(_dot(a, b), _dot(a, a), _dot(b, b))
            cols = [rb.column(c) for c in keep] + [pa.array(cos, from_pandas=True)]
            rb = pa.RecordBatch.from_arrays(cols, names=names)
            yield rb if above is None else rb.filter(pa.array(cos > above))

    return pairs.select(*keep, a_col, b_col).mapInArrow(score, schema)


def _sign_buckets(
    df: DataFrame, vec_col: str, n_bits: int, n_tables: int, seed: int, keep: list
) -> DataFrame:
    """``keep`` columns plus ``table`` and ``bucket``: one row per (vector,
    table), the bucket packing the signs of ``n_bits`` exact dots with
    :func:`hyperplanes` ``(dim, n_bits, seed + table)`` — bit ``b`` is
    ``dot(x, H[b]) > 0``. The planes are drawn in the worker from the
    batch's own dim, so no driver job reads a row first."""
    schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField("table", T.IntegerType()), T.StructField("bucket", T.LongType())]
    )
    shifts = np.arange(n_bits, dtype=np.int64)[:, None]

    def tag(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = {}
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            m = _dims_major(rb.column(vec_col))
            dim = len(m)
            if dim not in planes:
                H = np.stack([hyperplanes(dim, n_bits, seed + t) for t in range(n_tables)])
                planes[dim] = np.ascontiguousarray(np.moveaxis(H, -1, 0)[..., None])
            bits = _dot(planes[dim], m[:, None, None, :]) > 0  # (tables, bits, n)
            bucket = (bits.astype(np.int64) << shifts).sum(axis=1)  # (tables, n)
            rows = pa.array(np.tile(np.arange(n), n_tables))
            yield pa.RecordBatch.from_arrays(
                [rb.column(c).take(rows) for c in keep]
                + [
                    pa.array(np.repeat(np.arange(n_tables, dtype=np.int32), n)),
                    pa.array(bucket.ravel()),
                ],
                names=[*keep, "table", "bucket"],
            )

    return df.select(*dict.fromkeys([*keep, vec_col])).mapInArrow(tag, schema)


def _codebook(centroids: DataFrame) -> tuple:
    """``(cids, C)`` of a ``(cid, c_emb)`` codebook frame: cids ascending
    (int32) and ``C`` dims-major, so a first-max argmax is lowest-cid."""
    tbl = centroids.select("cid", "c_emb").toArrow()
    if not tbl.num_rows:
        return np.empty(0, dtype=np.int32), np.empty((0, 0))
    tbl = tbl.take(pc.sort_indices(tbl, [("cid", "ascending")])).combine_chunks()
    cids = tbl.column("cid").to_numpy().astype(np.int32)
    return cids, _dims_major(tbl.column("c_emb").chunk(0))


def _nearest_cells(
    df: DataFrame, vec_col: str, codebook: tuple, nprobe: int = 1, sim_col: str = None
) -> DataFrame:
    """``df`` plus ``cell``: one row per (vector, cell) for the vector's
    ``nprobe`` most cosine-similar codebook cells, in the oracles' order
    (cosine DESC NULLS LAST, then lowest cid). ``sim_col`` carries that
    cosine. An empty codebook gives no rows."""
    cids, C = codebook
    nc = _dot(C, C)
    fields = [*df.schema.fields, T.StructField("cell", T.IntegerType())]
    if sim_col:
        fields.append(T.StructField(sim_col, T.DoubleType()))

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows or not len(cids):
                continue
            m = _dims_major(rb.column(vec_col))
            sims = _cosine(
                _dot(m[:, :, None], C[:, None, :]), _dot(m, m)[:, None], nc[None, :]
            )
            top = np.argsort(_desc_nulls_last(sims), axis=1, kind="stable")[:, :nprobe]
            rows = np.repeat(np.arange(rb.num_rows), top.shape[1])
            cols = [c.take(pa.array(rows)) for c in rb.columns]
            cols.append(pa.array(cids[top.ravel()]))
            if sim_col:
                cols.append(pa.array(sims[rows, top.ravel()], from_pandas=True))
            yield pa.RecordBatch.from_arrays(cols, names=[f.name for f in fields])

    return df.mapInArrow(assign, T.StructType(fields))


#: Hard cap on query vectors collected to the driver by :func:`cosine_topk`.
#: The corpus side never touches the driver; the query side must stay a
#: broadcast-sized matrix (dim 64 × 1e5 ≈ 50 MB float64).
MAX_QUERY_ROWS = 100_000

#: Cosines per exact-kernel block in :func:`cosine_topk` (8 MB of float64).
_SCORE_BLOCK = 1 << 20


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    max_queries: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus, ranked
    by cosine DESC NULLS LAST then lowest ``vec_id``.

    The query side is collected to the driver with a hard ``max_queries``
    bound (raises rather than silently OOM-ing at scale); for huge query
    sets, chunk the queries or use :func:`lsh_ann_topk`/:func:`ivf_ann_topk`.
    Each corpus batch is scored with the exact kernel in query blocks of
    at most ``_SCORE_BLOCK`` cosines, and keeps its own top-k under the
    same order, so a tie at the cut cannot evict a lower id.
    """
    q_tbl = (
        queries.select(query_id_col, query_vec_col)
        .limit(max_queries + 1)
        .toArrow()
        .combine_chunks()
    )
    if q_tbl.num_rows > max_queries:
        raise ValueError(
            f"cosine_topk collects the query side to the driver; got more than "
            f"{max_queries} query rows — chunk the queries or use the ANN paths"
        )
    # id columns keep their native Spark type (long OR string — _id_type
    # discipline): coercing to int64 crashed on string document keys
    topk_schema = (
        f"query_id {_id_type(queries, query_id_col)},"
        f" vec_id {_id_type(corpus, id_col)}, cosine double"
    )
    if not q_tbl.num_rows:
        return corpus.sparkSession.createDataFrame(
            [],
            f"query_id {_id_type(queries, query_id_col)}, rank int,"
            f" vec_id {_id_type(corpus, id_col)}, cosine double",
        )
    q_ids = q_tbl.column(query_id_col).chunk(0)
    Q = _dims_major(q_tbl.column(query_vec_col).chunk(0))
    nq = _dot(Q, Q)

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            # id order first, so the stable sort breaks cosine ties by id
            by_id = pc.sort_indices(rb.column(id_col)).to_numpy()
            ids = rb.column(id_col).take(pa.array(by_id))
            m = _dims_major(rb.column(vec_col))[:, by_id]
            nm = _dot(m, m)
            kk = min(k, n)
            step = max(1, _SCORE_BLOCK // n)
            for q0 in range(0, len(nq), step):
                qs = slice(q0, q0 + step)
                cos = _cosine(
                    _dot(Q[:, qs, None], m[:, None, :]), nq[qs, None], nm[None, :]
                )
                top = np.argsort(_desc_nulls_last(cos), axis=1, kind="stable")[:, :kk]
                qi = np.repeat(np.arange(q0, q0 + len(cos)), kk)
                yield pa.RecordBatch.from_arrays(
                    [
                        q_ids.take(pa.array(qi)),
                        ids.take(pa.array(top.ravel())),
                        pa.array(
                            np.take_along_axis(cos, top, axis=1).ravel(),
                            from_pandas=True,
                        ),
                    ],
                    names=["query_id", "vec_id", "cosine"],
                )

    partial = corpus.select(id_col, vec_col).mapInArrow(score, topk_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with
    ``cos(a, b) > threshold`` and ``id_a < id_b``.

    The exact kernel over a broadcast cross join — this is the EXACTNESS
    BASELINE, O(n²) by definition: ``max_rows`` hard-caps the input and
    RAISES on overflow (the same contract as ``cosine_topk.max_queries``)
    so it can never be pointed at a real corpus by accident. The
    production near-dup path is :func:`lsh_neardup_pairs`, which
    generates candidates within LSH sign buckets and rescores only those
    with this same exact kernel.
    """
    n = corpus.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_neardup_pairs is the O(n²) exactness baseline and got "
            f"{n} rows (max_rows={max_rows}); use lsh_neardup_pairs for "
            "corpus-scale near-dup detection"
        )
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("emb_a"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("emb_b"))
    joined = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    return _pair_cosines(
        joined, "emb_a", "emb_b", ["id_a", "id_b"], "cos", above=float(threshold)
    )


def kmeans_fit(
    sample: np.ndarray, n_cells: int, n_iter: int = 10, seed: int = 42
) -> np.ndarray:
    """Seeded Lloyd k-means on L2-normalized vectors (spherical-ish) —
    the IVF coarse quantizer. Deterministic; pure NumPy."""
    rng = np.random.default_rng(seed)
    sample = _normalize(np.asarray(sample, dtype=np.float64))
    idx = rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
    centroids = sample[idx].copy()
    for _ in range(n_iter):
        assign = (sample @ centroids.T).argmax(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = _normalize(centroids)
    return centroids


def _assign_cells(df: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str):
    """vec → nearest-centroid cell id, Arrow-batched matmul."""
    schema = f"vid {_id_type(df, id_col)}, cell int"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _normalize(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            )
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].to_numpy(),
                    "cell": (mat @ centroids.T).argmax(axis=1).astype(np.int32),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    sample_fraction: float = 1.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample_rows: int = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF index built on the fly.

    Train: k-means on a BOUNDED driver-side sample — ``sample_fraction``
    thins first, then ``max_sample_rows`` (default ``max(n_cells * 256,
    20_000)``) hard-caps the collected rows, so at 10^12 vectors the
    quantizer still trains on tens of thousands of rows, never the corpus.
    Serve: corpus vectors tagged with their cell; each query expands to its
    ``nprobe`` nearest cells and joins corpus rows on the cell id, exact
    cosine within the candidate set, window top-k. Higher ``nprobe`` →
    higher recall.
    """
    if max_sample_rows is None:
        max_sample_rows = max(n_cells * 256, 20_000)
    samp = corpus.select(id_col, vec_col)
    if sample_fraction < 1.0:
        samp = samp.sample(fraction=sample_fraction, seed=seed)
    # ordered limit (distributed top-k, not a full sort) — a bare limit
    # takes whichever partitions answer first, making the trained quantizer
    # (and thus every cell assignment) vary run to run
    sample = np.array(
        [
            np.asarray(r[1], dtype=np.float64)
            for r in samp.orderBy(id_col).limit(int(max_sample_rows)).collect()
        ]
    )
    if not len(sample):
        return corpus.sparkSession.createDataFrame(
            [],
            f"query_id {_id_type(queries, id_col)}, rank int,"
            f" vec_id {_id_type(corpus, id_col)}, cosine double",
        )
    centroids = kmeans_fit(sample, n_cells, seed=seed)

    c_cells = _assign_cells(corpus, centroids, id_col, vec_col)
    c = corpus.join(c_cells, F.col(id_col) == F.col("vid")).drop("vid").alias("c")

    # query side: nprobe nearest cells per query → explode
    probe_schema = f"query_id {_id_type(queries, id_col)}, cell int"

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _normalize(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            )
            sims = mat @ centroids.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, top.shape[1]),
                    "cell": top.ravel().astype(np.int32),
                }
            )

    q_probes = queries.select(id_col, vec_col).mapInPandas(probe, schema=probe_schema)
    q = (
        queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("q_emb")
        )
        .join(q_probes, F.col("qid") == F.col("query_id"))
        .select("query_id", "q_emb", "cell")
        .alias("q")
    )

    cand = q.join(c, on="cell")
    score_schema = (
        f"query_id {_id_type(queries, id_col)},"
        f" vec_id {_id_type(corpus, id_col)}, cosine double"
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            qm = _normalize(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf["q_emb"]])
            )
            cm = _normalize(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "vec_id": pdf[id_col].to_numpy(),
                    "cosine": (qm * cm).sum(axis=1),
                }
            )

    scored = cand.select("query_id", "q_emb", id_col, vec_col).mapInPandas(
        score, schema=score_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def ivf_serve_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF serve half with a GIVEN coarse quantizer.

    ``centroids``: small DataFrame ``(cid int, c_emb array)`` — e.g. the
    output of :func:`kmeans_fit` registered as a DataFrame, or any
    deterministic codebook. It is collected once and closed over. Serve
    plan:

    * cell assignment — one ``mapInArrow`` stage scores each corpus batch
      against the codebook with the exact kernel and keeps the argmax
      (ties → lowest ``cid``); no exchange;
    * query probes — the same stage keeps each query's top-``nprobe``
      cells;
    * candidates — probe⨝cell equi-join, exact in-cell cosine, window
      top-``k``.

    The trained twin (:func:`ivf_ann_topk`) swaps in k-means centroids +
    BLAS scoring. An empty corpus or query side gives an empty frame.
    """
    book = _codebook(centroids)
    cells = _nearest_cells(corpus.select(id_col, vec_col), vec_col, book)
    probes = _nearest_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")),
        "q_emb",
        book,
        nprobe=nprobe,
    )
    cand = probes.join(cells, on="cell").filter(F.col("query_id") != F.col(id_col))
    scored = _pair_cosines(cand, "q_emb", vec_col, ["query_id", id_col], "cosine")
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col)
    )


def hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_bits, dim))


def _id_type(df: DataFrame, id_col: str) -> str:
    """The id column's Spark type — empty-result schemas must match the
    non-empty path, not assume ``long``."""
    return dict(df.dtypes)[id_col]


def lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_bits: int = 6,
    n_tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs AT SCALE: candidates from
    random-hyperplane sign buckets (``n_tables`` independent tables boost
    recall), then exact cosine rescoring — the same kernel as
    :func:`cosine_neardup_pairs` — within candidates only. Sign bits and
    cosines both come from the exact kernel, so the DuckDB oracle sees
    the same buckets and the same doubles.

    This replaces the O(n²) cross join of the exact baseline: candidate
    volume is Σ_buckets |bucket|²/2 per table, i.e. ~n²/2^bits on a
    balanced table — the bucket id is the shuffle key, so at 10^12 vectors
    each bucket is an independent slice. A true near-dup pair is missed
    only if it disagrees on ≥1 bit in EVERY table; misses decay
    exponentially with ``n_tables``.
    """
    tagged = _sign_buckets(corpus, vec_col, n_bits, n_tables, seed, [id_col])

    # ONE scan + ONE bucket-keyed shuffle: collect each bucket's sorted id
    # list and expand pairs with array HOFs (a bucket SELF-JOIN would run
    # the tagging stage twice — Catalyst does not reuse the exchange
    # across self-join sides, measured on the minhash path).
    # Buckets above max_bucket_size are dropped like lsh_candidate_pairs'
    # hot-bucket cap — a degenerate bucket cannot go quadratic.
    bucketed = tagged.groupBy("table", "bucket").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
    )
    bucketed = bucketed.filter(
        (F.size("_ids") >= 2) & (F.size("_ids") <= int(max_bucket_size))
    )
    pair_arrays = F.filter(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ids"), i + F.lit(2), F.size(F.col("_ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    cand = (
        bucketed.select(F.explode(pair_arrays).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .distinct()
    )

    ea = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("emb_a"))
    eb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("emb_b"))
    scored = cand.join(ea, "id_a").join(eb, "id_b")
    return _pair_cosines(
        scored, "emb_a", "emb_b", ["id_a", "id_b"], "cos", above=float(threshold)
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign bucket, exact search within
    the bucket. Recall grows with fewer bits / multi-probe; this is the
    pattern that scales to 10^12 vectors (bucket = shuffle key)."""
    c = _sign_buckets(corpus, vec_col, n_bits, 1, seed, [id_col, vec_col])
    q = _sign_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")),
        "q_emb", n_bits, 1, seed, ["query_id", "q_emb"],
    )
    scored = _pair_cosines(
        q.join(c, ["table", "bucket"]), vec_col, "q_emb", ["query_id", id_col], "cosine"
    ).withColumnRenamed(id_col, "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def semdedup_verdicts(
    corpus: DataFrame,
    centroids: DataFrame,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) keep/drop verdicts
    with a GIVEN codebook — the semantic near-duplicate pruner used on
    LAION/C4-scale corpora.

    Semantics (the paper's released triangular implementation, not
    connected components): every vector is assigned to its nearest
    centroid cell (argmax cosine, ties -> lowest ``cid``); within a cell,
    vectors are ranked by *retention priority* — ascending similarity to
    the cell centroid (the paper keeps the example FARTHEST from the
    centroid), ties -> lowest id. A vector is DROPPED iff some
    higher-priority vector in the same cell has cosine ``>= 1 - eps``
    with it. A zero-norm vector has a NULL ``cent_sim`` and is kept.

    Plan shape: the codebook is collected once and closed over;

    * assign — one ``mapInArrow`` stage, exact cosine against every
      centroid, argmax cell and its ``cent_sim``;
    * prune — ``repartition(cell) → sortWithinPartitions(cell, cent_sim,
      id)`` so each cell arrives contiguous and in retention-priority
      order (one cell-keyed exchange), then a per-cell triangular scan:
      row i drops iff some row j < i has exact cosine ``>= 1 - eps``.

    Per-task memory is the vectors of the cells in one Arrow batch (a
    cell that spans batches is held whole) plus a ``cell_rows × 512``
    cosine block — the reason ``n_cells`` must grow with the corpus (as in
    the paper's ~50k-cluster LAION runs).

    ``centroids``: small DataFrame ``(cid int, c_emb array)`` — e.g.
    :func:`kmeans_fit` output or any deterministic codebook.
    Returns ``(vec_id, cell, cent_sim, keep)`` for every corpus row.
    """
    from edspdf_spark.operators.grouped import group_bounds

    thr = 1.0 - float(eps)
    assigned = _nearest_cells(
        corpus.select(id_col, vec_col), vec_col, _codebook(centroids), sim_col="cent_sim"
    )
    out_names = [id_col, "cell", "cent_sim", "keep"]
    out_schema = T.StructType(
        [corpus.schema[id_col]]
        + [
            T.StructField("cell", T.IntegerType()),
            T.StructField("cent_sim", T.DoubleType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def verdicts(rbs: list) -> pa.RecordBatch:
        rb = pa.Table.from_batches(rbs).combine_chunks().to_batches()[0]
        cent_sim = rb.column("cent_sim").to_numpy(zero_copy_only=False)
        m = _dims_major(rb.column(vec_col))
        keep = np.ones(rb.num_rows, dtype=bool)
        for s, e in zip(*group_bounds(rb.column("cell").to_numpy())):
            # a NULL cent_sim has no priority, so it never pairs (the oracle's
            # comparisons with NULL are false); Spark sorts it first
            rows = s + np.flatnonzero(~np.isnan(cent_sim[s:e]))
            keep[rows] = _triangular_keep(m[:, rows], thr)
        return pa.RecordBatch.from_arrays(
            [rb.column(id_col), rb.column("cell"), rb.column("cent_sim"), pa.array(keep)],
            names=out_names,
        )

    def prune(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # a cell may span batches: hold back the last cell of each batch
        open_cell = []
        for rb in batches:
            if not rb.num_rows:
                continue
            cells = rb.column("cell").to_numpy()
            cut = int(np.argmax(cells == cells[-1]))
            if cut:
                yield verdicts(open_cell + [rb.slice(0, cut)])
                open_cell = []
            open_cell.append(rb.slice(cut))
        if open_cell:
            yield verdicts(open_cell)

    part = assigned.repartition("cell").sortWithinPartitions("cell", "cent_sim", id_col)
    return part.mapInArrow(prune, out_schema)


def _triangular_keep(m: np.ndarray, thr: float) -> np.ndarray:
    """Keep mask of dims-major vectors in priority order: row i survives
    iff no row j < i has exact cosine ``>= thr`` with it. Column blocks
    bound the cosine matrix to ``n × 512`` and skip the lower half."""
    n, block = m.shape[1], 512
    norms = _dot(m, m)
    keep = np.ones(n, dtype=bool)
    for b0 in range(0, n, block):
        b1 = min(b0 + block, n)
        cos = _cosine(
            _dot(m[:, :b1, None], m[:, None, b0:b1]), norms[:b1, None], norms[None, b0:b1]
        )
        earlier = np.arange(b1)[:, None] < np.arange(b0, b1)[None, :]
        keep[b0:b1] = ~((cos >= thr) & earlier).any(axis=0)
    return keep


def semdedup(
    corpus: DataFrame,
    n_cells: int = 16,
    eps: float = 0.05,
    seed: int = 42,
    sample_fraction: float = 1.0,
    max_sample_rows: int = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained twin of :func:`semdedup_verdicts`: fit the codebook with
    seeded k-means on a BOUNDED driver-side sample (same guard rails as
    :func:`ivf_ann_topk` — ``sample_fraction`` thins, ``max_sample_rows``
    hard-caps, ordered limit for run-to-run determinism), then prune.
    Returns the same ``(vec_id, cell, cent_sim, keep)`` verdict frame."""
    if max_sample_rows is None:
        max_sample_rows = max(n_cells * 256, 20_000)
    samp = corpus.select(id_col, vec_col)
    if sample_fraction < 1.0:
        samp = samp.sample(fraction=sample_fraction, seed=seed)
    sample = np.array(
        [
            np.asarray(r[1], dtype=np.float64)
            for r in samp.orderBy(id_col).limit(int(max_sample_rows)).collect()
        ]
    )
    if not len(sample):
        return corpus.sparkSession.createDataFrame(
            [],
            f"{id_col} {_id_type(corpus, id_col)}, cell int,"
            " cent_sim double, keep boolean",
        )
    centroids = kmeans_fit(sample, n_cells, seed=seed)
    cent_df = corpus.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, c_emb array<double>",
    )
    return semdedup_verdicts(corpus, cent_df, eps=eps, id_col=id_col, vec_col=vec_col)


# --------------------------------------------------------------------------
# Product quantization (PQ) — the memory half of the FAISS-style IVF-PQ
# architecture for 10^12-vector ANN: vectors compress to m code bytes
# (64-dim float64 = 512 B → m=8 codes = 8 B, 64×), and queries score
# against codes via an ADC lookup table instead of touching raw vectors.
# Encode/score semantics are MIPS-style (dot product): a sub-vector's code
# is argmax_c (dot(x_s, C_sc) - ||C_sc||²/2) — the L2-argmin rewritten so
# every quantity is a dot product the DuckDB oracle replays bit-for-bit.
# --------------------------------------------------------------------------


def pq_fit(
    sample: np.ndarray, m: int = 8, k: int = 16, n_iter: int = 10, seed: int = 42
) -> np.ndarray:
    """Per-subspace seeded Lloyd k-means (plain L2, unnormalized — PQ
    quantizes raw sub-vectors). Returns codebooks shaped ``(m, k, d/m)``."""
    sample = np.asarray(sample, dtype=np.float64)
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m} subspaces"
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, min(k, len(sample)), dsub))
    for s in range(m):
        sub = sample[:, s * dsub : (s + 1) * dsub]
        idx = rng.choice(len(sub), size=min(k, len(sub)), replace=False)
        cent = sub[idx].copy()
        for _ in range(n_iter):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s] = cent
    return books


def pq_codebooks_df(spark, codebooks: np.ndarray) -> DataFrame:
    """``(s, c, c_emb)`` rows from a ``(m, k, dsub)`` codebook tensor —
    the broadcastable relational form every PQ stage joins against."""
    m, k, dsub = codebooks.shape
    rows = [
        (int(s), int(c), [float(x) for x in codebooks[s, c]])
        for s in range(m)
        for c in range(k)
    ]
    return spark.createDataFrame(rows, "s int, c int, c_emb array<double>")


def _sub_dot(vec_col, s_col, dsub: int, book_col: str):
    """dot(x_s, C_sc) with the subspace offset as a COLUMN — identical
    left-assoc term order in Spark and the SQL oracle."""
    acc = F.lit(0.0)
    for j in range(dsub):
        acc = acc + F.element_at(
            F.col(vec_col), (s_col * dsub + j + 1).cast("int")
        ).cast("double") * F.element_at(F.col(book_col), j + 1).cast("double")
    return acc


def _book_half_norm(book_col: str, dsub: int):
    acc = F.lit(0.0)
    for j in range(dsub):
        e = F.element_at(F.col(book_col), j + 1).cast("double")
        acc = acc + e * e
    return acc / F.lit(2.0)


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Relational PQ encode: one row per ``(id, s)`` with the argmax code.

    Plan: posexplode the subspace index (an 8-element literal array — no
    data motion), broadcast-join the ``m·k``-row codebook, score with a
    ``dsub``-term expression dot (small — never trips the janino method
    limit the full-dim cosine does), argmax via partial-aggregatable
    ``max_by``. One corpus-keyed exchange for the final groupBy; at
    10^12 rows the ``n·m·k`` intermediate never materializes (pipelined
    through the broadcast join). Ties → lowest code, np.argmax-style.
    """
    subs = corpus.select(
        id_col, vec_col, F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s")
    )
    scored = subs.join(F.broadcast(codebooks), on="s").withColumn(
        "score",
        _sub_dot(vec_col, F.col("s"), dsub, "c_emb")
        - _book_half_norm("c_emb", dsub),
    )
    return scored.groupBy(id_col, "s").agg(
        F.max_by("c", F.struct(F.col("score"), -F.col("c"))).alias("code")
    )


def pq_adc_topk(
    corpus: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame = None,
) -> DataFrame:
    """Exact-ADC top-k over PQ codes, fully relational (the ORACLE twin —
    production serving is :func:`ivfpq_ann_topk`).

    ADC: per query build the ``m·k``-entry lookup table LUT[s,c] =
    dot(q_s, C_sc) (a small explode × broadcast-codebook join — no
    corpus involved), then join corpus CODES on ``(s, c)`` and SUM the m
    looked-up dots per (query, vec). The approximate score
    ``Σ_s dot(q_s, C_s,code_s)`` never touches raw corpus vectors —
    that's the point of PQ: the serve working set is the 8-byte codes.

    Pass a precomputed ``codes`` frame (``(id, s, code)`` — the
    :func:`pq_encode` output, i.e. the persisted index-build artifact at
    10^12 vectors) to serve WITHOUT rescanning raw vectors at all; the
    ``corpus`` argument is then ignored.
    """
    if codes is None:
        codes = pq_encode(
            corpus, codebooks, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col
        )
    lut = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_emb"),
            F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s"),
        )
        .join(F.broadcast(codebooks), on="s")
        .select(
            "query_id",
            "s",
            F.col("c").alias("code"),
            _sub_dot("q_emb", F.col("s"), dsub, "c_emb").alias("dot"),
        )
    )
    # per-subspace conditional sums folded in FIXED s order — a bare
    # SUM(dot) adds the m addends in partition order, which float-drifts
    # vs a sequential oracle; each conditional sum has exactly one
    # non-null addend so the fold below is the only addition sequence
    # the LUT is nq·m·k rows (queries are the small side by contract) —
    # broadcast it so the corpus codes never shuffle on (s, code)
    per_s = codes.join(F.broadcast(lut), on=["s", "code"]).groupBy(
        "query_id", id_col
    ).agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("dot"))).alias(f"_d{s}")
            for s in range(m)
        ]
    )
    acc = F.lit(0.0)
    for s in range(m):
        acc = acc + F.col(f"_d{s}")
    scored = per_s.withColumn("adc_score", acc).filter(
        F.col("query_id") != F.col(id_col)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col)
    )


def ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    sample_fraction: float = 1.0,
    max_sample_rows: int = None,
    max_queries: int = MAX_QUERY_ROWS,
    refine_factor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production IVF-PQ-R serving (the FAISS architecture at 10^12
    vectors): an IVF coarse quantizer restricts each query to ``nprobe``
    cells; candidates are SHORTLISTED by Arrow/NumPy ADC over their PQ
    codes (a table-gather — the serve working set is the m-byte codes);
    the top ``refine_factor·k`` of the shortlist are re-scored with the
    exact cosine (FAISS's refine stage — it touches raw vectors for only
    ``O(refine_factor·k)`` rows per query per batch). All vectors are
    L2-normalized before quantization so ADC-dot approximates COSINE —
    without this, PQ ranks by raw dot and recall vs a cosine ground
    truth collapses on mixed-norm corpora.

    Train side: both quantizers fit on one BOUNDED driver sample (same
    guard rails as :func:`ivf_ann_topk`); query side: collected with the
    same hard ``max_queries`` bound as :func:`cosine_topk`.

    Returns ``(query_id, rank, vec_id, cosine)``. Recall vs exact
    cosine top-k is asserted in tests (raise ``nprobe``/``m``/
    ``refine_factor`` for recall, lower for speed — the standard dials).
    """
    if max_sample_rows is None:
        max_sample_rows = max(n_cells * 256, 20_000)
    samp = corpus.select(id_col, vec_col)
    if sample_fraction < 1.0:
        samp = samp.sample(fraction=sample_fraction, seed=seed)
    sample = np.array(
        [
            np.asarray(r[1], dtype=np.float64)
            for r in samp.orderBy(id_col).limit(int(max_sample_rows)).collect()
        ]
    )
    if not len(sample):
        return corpus.sparkSession.createDataFrame(
            [],
            f"query_id {_id_type(queries, id_col)}, rank int,"
            f" vec_id {_id_type(corpus, id_col)}, cosine double",
        )
    sample = _normalize(sample)
    dim = sample.shape[1]
    dsub = dim // m
    centroids = kmeans_fit(sample, n_cells, seed=seed)  # spherical coarse
    books = pq_fit(sample, m=m, k=k_codes, seed=seed)  # on NORMALIZED vecs

    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivfpq_ann_topk collects the query side; got more than "
            f"{max_queries} rows — chunk the queries"
        )
    q_ids = np.array([r[0] for r in q_rows])
    qn = _normalize(np.array([r[1] for r in q_rows], dtype=np.float64))
    # per-query LUTs: (nq, m, k_codes) — dot(qn_s, C_sc); Σ_s ≈ cosine
    luts = np.einsum("qsd,scd->qsc", qn.reshape(len(qn), m, dsub), books)
    # per-query probe cells: (nq, nprobe)
    probes = np.argsort(-(qn @ centroids.T), axis=1)[:, :nprobe]
    shortlist = max(int(refine_factor) * k, k)

    out_schema = (
        f"query_id {_id_type(queries, id_col)},"
        f" vec_id {_id_type(corpus, id_col)}, cosine double"
    )

    def serve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _normalize(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            )
            ids = pdf[id_col].to_numpy()
            cells = (mat @ centroids.T).argmax(axis=1)
            # encode batch: (n, m) codes via per-subspace L2 argmin
            sub = mat.reshape(len(mat), m, dsub)
            scores = np.einsum("nsd,scd->nsc", sub, books) - 0.5 * (
                books**2
            ).sum(axis=2)[None, :, :]
            codes = scores.argmax(axis=2)  # (n, m)
            qs_out, vs_out, sc_out = [], [], []
            for qi in range(len(q_ids)):
                # self excluded HERE, not post-hoc: filtered after the
                # per-batch top-k it would evict a true neighbor from the
                # k slots of the batch that contains the query itself
                mask = np.isin(cells, probes[qi]) & (ids != q_ids[qi])
                if not mask.any():
                    continue
                cand = np.nonzero(mask)[0]
                adc = luts[qi][np.arange(m)[None, :], codes[cand]].sum(axis=1)
                ns = min(shortlist, len(cand))
                short = cand[np.argpartition(-adc, ns - 1)[:ns]]
                # refine: exact cosine on the ADC shortlist only
                exact = mat[short] @ qn[qi]
                kk = min(k, ns)
                top = np.argpartition(-exact, kk - 1)[:kk]
                qs_out.append(np.full(kk, q_ids[qi]))
                vs_out.append(ids[short[top]])
                sc_out.append(exact[top])
            if not qs_out:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qs_out),
                    "vec_id": np.concatenate(vs_out),
                    "cosine": np.concatenate(sc_out),
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(serve, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q", scale_col: str = "q_scale"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the storage-side
    companion to PQ (8× smaller than float64 columns with near-lossless
    cosine; PQ compresses further but lossier). Appends ``q``
    (array<int> in [-127, 127]) and ``q_scale`` (double): ``v_j ≈ q_j ·
    q_scale`` with ``q_scale = max|v| / 127``.

    Pure expressions, zero shuffle. Rounding is ``floor(x + 0.5)``
    (half-up — identical in Spark and DuckDB, unlike banker's
    ``round``); an all-zero vector gets scale 0 and all-zero codes.
    """
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(127.0)
    q = F.when(scale > 0, F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
    )).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0)))
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def dequantize_embeddings_int8(
    df: DataFrame, q_col: str = "q", scale_col: str = "q_scale", out_col: str = "embedding"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings_int8` (lossy within
    ``q_scale / 2`` per element)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    pos_query_col: str = "query_id",
    pos_id_col: str = "pos_id",
    exclude_self: bool = True,
    method: str = "exact",
    n_bits: int = 8,
    seed: int = 42,
    max_queries: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: per query,
    the top-``k`` most-similar corpus vectors that are NOT known
    positives (and not the query itself) — the standard negatives source
    for DPR/sentence-transformers-style contrastive training (Karpukhin
    et al. 2020 §3.2 "hard negatives from BM25/dense retrieval", public).

    ``positives`` carries the labeled pairs ``(pos_query_col,
    pos_id_col)``; they (plus the query's own id when ``exclude_self``)
    are removed from the candidate ranking, so the survivors are exactly
    the near-misses the training loss wants.

    Methods:

    * ``"exact"`` — brute force with the exact kernel
      (:func:`cosine_topk`): one corpus scan, partition-local top-k, one
      k-rows-per-partition shuffle; the ranking is bit-identical to a
      sequential-SQL oracle.
    * ``"lsh"`` — :func:`lsh_ann_topk` sign-bucket candidates. The
      10^12-corpus path: candidates per query ~ corpus / 2^n_bits and the
      bucket is the shuffle key.

    Overfetch: candidates are retrieved at ``k + max positives per query
    (+1 for self)`` so the post-exclusion ranking still yields k rows —
    the max-per-query count is one tiny aggregate, never a collect of the
    pairs themselves.
    """
    if method not in ("exact", "lsh"):
        raise ValueError(f"unknown method {method!r}")
    max_pos_row = (
        positives.groupBy(pos_query_col).count().agg(F.max("count")).first()[0]
    )
    fetch = k + int(max_pos_row or 0) + (1 if exclude_self else 0)

    if method == "exact":
        cand = cosine_topk(
            corpus,
            queries,
            k=fetch,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            max_queries=max_queries,
        )
    else:
        # the query frame must use the same id/vec column names as the
        # corpus — lsh_ann_topk reads both sides by id_col/vec_col, so
        # aliasing to a hardcoded "vec_id" breaks any non-default id_col
        q = queries.select(
            F.col(query_id_col).alias(id_col),
            F.col(query_vec_col).alias(vec_col),
        )
        cand = lsh_ann_topk(
            corpus, q, k=fetch, n_bits=n_bits, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )

    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("vec_id"))
    pos = positives.select(
        F.col(pos_query_col).alias("query_id"), F.col(pos_id_col).alias("vec_id")
    )
    # positives are per-query labels — bounded by the query batch, so the
    # anti-join broadcasts on the exact path; the LSH path leaves the
    # strategy to AQE (query set may be corpus-sized there).
    if method == "exact":
        pos = F.broadcast(pos)
    cand = cand.join(pos, ["query_id", "vec_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )
