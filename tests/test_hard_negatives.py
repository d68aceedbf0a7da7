"""Hard-negative mining (functions/similarity.mine_hard_negatives):
exclusion semantics, numpy ground truth and LSH-path plumbing. The exact
path's bits are pinned in tests/test_similarity_kernel.py."""

import numpy as np
import pytest

from edspdf_spark.functions.similarity import mine_hard_negatives


def _toy(spark, n=40, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float64)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, vecs


def _brute_topk_excluding(vecs, qid, excluded, k):
    q = vecs[qid] / np.linalg.norm(vecs[qid])
    m = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = m @ q
    order = sorted(range(len(vecs)), key=lambda i: (-sims[i], i))
    return [i for i in order if i not in excluded][:k]


@pytest.mark.parametrize("method", ["exact"])
def test_hardneg_matches_numpy_ground_truth(spark, method):
    corpus, vecs = _toy(spark)
    queries = corpus.filter("vec_id % 10 = 0")  # 0,10,20,30
    # positive for query q is vec q+1
    positives = spark.createDataFrame(
        [(q, q + 1) for q in (0, 10, 20, 30)], "query_id long, pos_id long"
    )
    got = (
        mine_hard_negatives(corpus, queries, positives, k=3, method=method)
        .orderBy("query_id", "rank")
        .collect()
    )
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert set(by_q) == {0, 10, 20, 30}
    for q in (0, 10, 20, 30):
        want = _brute_topk_excluding(vecs, q, {q, q + 1}, 3)
        assert by_q[q] == want, f"query {q}"
        # the excluded ids really are gone
        assert q not in by_q[q] and (q + 1) not in by_q[q]


def test_hardneg_lsh_path_excludes_and_ranks(spark):
    corpus, _ = _toy(spark, n=50, seed=3)
    queries = corpus.filter("vec_id IN (1, 2)").selectExpr(
        "vec_id", "embedding"
    )
    positives = spark.createDataFrame(
        [(1, 7), (2, 9)], "query_id long, pos_id long"
    )
    got = mine_hard_negatives(
        corpus, queries, positives, k=5, method="lsh", n_bits=2
    ).collect()
    for r in got:
        assert r.vec_id != r.query_id
        assert (r.query_id, r.vec_id) not in {(1, 7), (2, 9)}
    # ranks are 1..n contiguous per query
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_hardneg_keeps_k_despite_many_positives(spark):
    corpus, vecs = _toy(spark, n=30, seed=5)
    queries = corpus.filter("vec_id = 0")
    # 6 positives for one query — overfetch must still yield k rows
    top = _brute_topk_excluding(vecs, 0, {0}, 6)
    positives = spark.createDataFrame(
        [(0, int(t)) for t in top], "query_id long, pos_id long"
    )
    got = mine_hard_negatives(corpus, queries, positives, k=4).collect()
    assert len(got) == 4
    want = _brute_topk_excluding(vecs, 0, {0, *top}, 4)
    assert [r.vec_id for r in sorted(got, key=lambda r: r.rank)] == want


def test_hardneg_bad_method_raises(spark):
    corpus, _ = _toy(spark, n=5)
    positives = spark.createDataFrame([(0, 1)], "query_id long, pos_id long")
    with pytest.raises(ValueError):
        mine_hard_negatives(corpus, corpus, positives, method="nope")


def test_hardneg_lsh_custom_id_col(spark):
    """The LSH path must honor non-default id/vec column names (it used
    to hardcode the query id alias to vec_id and crash at plan time)."""
    import numpy as np

    from edspdf_spark.functions.similarity import mine_hard_negatives

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((30, 8))
    rows = [(f"d{i}", [float(x) for x in vecs[i]]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "doc_id string, emb array<float>")
    queries = corpus.limit(3)
    positives = spark.createDataFrame(
        [("d0", "d1")], "query_id string, pos_id string"
    )
    out = mine_hard_negatives(
        corpus,
        queries,
        positives,
        k=2,
        id_col="doc_id",
        vec_col="emb",
        query_id_col="doc_id",
        query_vec_col="emb",
        method="lsh",
        n_bits=2,
    ).collect()
    assert out, "lsh path returned no rows"
    got = {(r.query_id, r.vec_id) for r in out}
    assert ("d0", "d1") not in got  # positive excluded
    assert all(r.query_id != r.vec_id for r in out)  # self excluded
