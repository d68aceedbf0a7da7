"""Scale-safety contracts added in round 2:

* LSH hot-bucket cap: a degenerate bucket of n identical documents must
  emit O(n) (here: zero, the bucket is dropped) candidate pairs, not n²/2.
* ``merge_boxes`` runs on the streaming sorted-partition plan, not
  per-group pandas (no FlatMapGroupsInPandas).
* ``lsh_neardup_pairs`` ⊆ exact ``cosine_neardup_pairs`` (same scores on
  the candidates it keeps, high recall on this corpus).
* bounded-collect guards: ``cosine_topk`` rejects oversized query sides;
  ``ivf_ann_topk`` trains on a capped sample; empty-corpus guards return
  empty frames instead of TypeError.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from edspdf_spark.functions.dedup import (
    lsh_candidate_pairs,
    lsh_dropped_buckets,
    minhash_signatures,
)
from edspdf_spark.functions.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    ivf_ann_topk,
    lsh_ann_topk,
    lsh_neardup_pairs,
)


@pytest.fixture(scope="module")
def identical_docs(spark):
    rows = [(i, "the same boilerplate cookie banner text appears everywhere") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_bucket_cap_drops_degenerate_buckets(spark, identical_docs):
    sig = minhash_signatures(identical_docs, k=5, n_hashes=8)
    uncapped = lsh_candidate_pairs(sig, rows_per_band=2, n_hashes=8, max_bucket_size=None)
    assert uncapped.count() == 40 * 39 // 2  # n²/2 blowup without the cap
    capped = lsh_candidate_pairs(sig, rows_per_band=2, n_hashes=8, max_bucket_size=10)
    assert capped.count() == 0  # degenerate bucket dropped entirely
    dropped = lsh_dropped_buckets(sig, rows_per_band=2, n_hashes=8, max_bucket_size=10)
    d = dropped.collect()
    assert len(d) == 4  # one hot bucket per band, each holding all 40 docs
    assert all(r["n_docs"] == 40 for r in d)


def test_cap_keeps_normal_buckets(spark):
    rows = [(i, f"document number {i} with distinct words {i * 7} and {i * 13}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(docs, k=5, n_hashes=8)
    a = lsh_candidate_pairs(sig, rows_per_band=2, n_hashes=8, max_bucket_size=None)
    b = lsh_candidate_pairs(sig, rows_per_band=2, n_hashes=8)  # default cap
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_no_per_group_pandas_in_merge(spark, single_page_blocs):
    from edspdf_spark.operators.merge import merge_boxes

    plan = merge_boxes(single_page_blocs.withColumn("label", F.lit("x")))._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan
    assert "Sort" in plan  # JVM-side sortWithinPartitions


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((12, 16))
    rows = []
    vid = 0
    for b in base:
        for _ in range(4):  # 4 near-dups per cluster
            v = b + 0.05 * rng.standard_normal(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_lsh_neardup_subset_of_exact_with_high_recall(spark, embeddings):
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_neardup_pairs(embeddings, threshold=0.8).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_neardup_pairs(
            embeddings, threshold=0.8, n_bits=4, n_tables=3, seed=11
        ).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():  # identical exact rescoring within buckets
        assert abs(v - exact[k]) < 1e-12
    assert len(approx) >= 0.8 * len(exact), (len(approx), len(exact))


def test_bounded_collect_guards(spark, embeddings):
    with pytest.raises(ValueError, match="query rows"):
        cosine_topk(embeddings, embeddings, k=2, max_queries=5)
    out = ivf_ann_topk(
        embeddings, embeddings.limit(3), k=2, n_cells=4, max_sample_rows=10
    )
    assert out.count() == 6  # trains on a 10-row sample, still serves

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_neardup_pairs(empty).count() == 0
    assert lsh_neardup_pairs(empty).count() == 0
    assert lsh_ann_topk(empty, empty).count() == 0
    assert ivf_ann_topk(empty, empty).count() == 0
    assert cosine_topk(empty, empty).count() == 0


def test_dedup_components_warns_without_convergence(spark):
    import warnings

    from edspdf_spark.functions.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup_components(chain, max_iter=2).collect()
        assert any("max_iter" in str(x.message) for x in w)
    # converged run: one component labeled by the min id
    out = dedup_components(chain, max_iter=50).collect()
    assert {r["component_id"] for r in out} == {0}


def test_lsh_pairs_no_self_pairs_on_duplicate_ids(spark):
    """A signature frame carrying the same id twice (e.g. one doc ingested
    from two drops) must not emit id_a == id_b candidate pairs."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumped")],
        "doc_id bigint, text string",
    )
    sig = minhash_signatures(docs)
    dup = sig.unionByName(sig)  # every id appears twice
    pairs = lsh_candidate_pairs(dup, rows_per_band=2, n_hashes=8).collect()
    assert all(r.id_a != r.id_b for r in pairs)
    assert all(r.id_a < r.id_b for r in pairs)


def test_lsh_neardup_empty_corpus_keeps_id_type(spark):
    """The empty-corpus guard must return the SAME schema the non-empty
    path would — string ids must not degrade to long on an empty day."""
    from edspdf_spark.functions.similarity import lsh_neardup_pairs

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = lsh_neardup_pairs(empty)
    assert dict(out.dtypes) == {"id_a": "string", "id_b": "string", "cos": "double"}
    assert out.count() == 0


def _blocs_with_error_row(spark):
    """Four good blocs of one page plus one error-sentinel bloc (``u2``)."""
    from edspdf_spark.schemas import BLOC_SCHEMA

    rows = [
        ("u1", 0, i, 0.1, 0.1 * i + 0.1, 0.9, 0.1 * i + 0.15, f"t{i}", [], "body", False)
        for i in range(4)
    ]
    blocs = spark.createDataFrame(rows, BLOC_SCHEMA)
    err_row = [("u2", None, None, None, None, None, None, None, [], None, True)]
    return blocs, blocs.unionByName(spark.createDataFrame(err_row, BLOC_SCHEMA))


def test_begin_last_error_blocs_stay_none(spark):
    """Error blocs must keep is_begin/is_last = NULL (unknown), not a
    confident False."""
    from edspdf_spark.ml.compiled import classify_begin_last_compiled, compile_class_forest
    from edspdf_spark.ml.forest import train_begin_last

    blocs, mixed = _blocs_with_error_row(spark)
    truth = blocs.withColumn("is_begin", F.col("bloc_ord") == 0).withColumn(
        "is_last", F.col("bloc_ord") == 3
    )
    models = train_begin_last(truth, n_trees=4, max_depth=4)
    compiled = {name: compile_class_forest(rf) for name, rf in models.items()}
    out = classify_begin_last_compiled(mixed, compiled).collect()
    err = [r for r in out if r.url == "u2"]
    assert len(err) == 1
    assert err[0].is_begin is None and err[0].is_last is None
    ok = [r for r in out if r.url != "u2"]
    assert len(ok) == 4 and all(r.is_begin is not None for r in ok)


def test_forest_and_rank_error_blocs_stay_none(spark):
    """The class and rank heads give an error bloc a NULL prediction too
    (its NULL geometry would otherwise route right to some leaf)."""
    from edspdf_spark.ml.compiled import (
        classify_forest_compiled,
        compile_class_forest,
        compile_reg_forest,
        score_order_rank_compiled,
    )
    from edspdf_spark.ml.forest import train_forest_on_masks
    from edspdf_spark.operators.order import train_order_rank

    blocs, mixed = _blocs_with_error_row(spark)
    labeled = blocs.withColumn(
        "label", F.when(F.col("bloc_ord") < 2, "top").otherwise("bottom")
    )
    cf = compile_class_forest(train_forest_on_masks(labeled, n_trees=2, max_depth=3, min_leaf=1))
    rank = compile_reg_forest(train_order_rank(blocs, n_trees=2, max_depth=3, min_leaf=1))
    for out, col in (
        (classify_forest_compiled(mixed, cf), "label"),
        (score_order_rank_compiled(mixed, rank), "rank_micro"),
    ):
        rows = {r.url + str(r.bloc_ord): r[col] for r in out.collect()}
        assert len(rows) == 5, col
        assert rows["u2None"] is None, col
        assert all(v is not None for k, v in rows.items() if k != "u2None"), col
