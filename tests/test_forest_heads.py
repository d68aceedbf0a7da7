"""P9 (begin/last 2-output head) and P12 (node-type forest) — the trainable
variants of the fork's classifiers, re-expressed as NumPy forests over the
E1 layout features (reference ``pipes/classifiers/trainable_multi_label.py:
103-110`` and ``trainable_type.py:22-288``).

Like the reference's training smoke test (``tests/recipes/test_train.py``),
the assertion is an agreement metric against the distant-supervision truth:
the layout features fully determine the truth labels here (both derive from
the bloc geometry), so a working forest must reach high train-set agreement.
Each head is served the production way: ``train_*`` → ``compile_*`` →
``*_compiled``. The lineitem blocs have NULL ``text``, so ``f_n_chars`` is
NULL on every row — the compiled serve must route it as the float forest
does.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edspdf_spark.entry_queries import _ALIGN_THRESHOLD, blocs_from_lineitem, src_boxes_for
from edspdf_spark.ml.compiled import (
    classify_begin_last_compiled,
    classify_forest_compiled,
    compile_class_forest,
)
from edspdf_spark.ml.forest import (
    TRAIN_MAX_ROWS,
    _feature_matrix,
    train_begin_last,
    train_forest_on_types,
)
from edspdf_spark.operators.align import align_bioul, align_plain
from edspdf_spark.operators.features import FEATURE_COLS, with_layout_features

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def blocs(spark):
    return blocs_from_lineitem(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def src(spark, blocs):
    return src_boxes_for(spark, blocs)


def test_type_forest_agreement(spark, blocs, src):
    truth = align_plain(blocs, src, threshold=_ALIGN_THRESHOLD, pollution_label="pollution")
    model = train_forest_on_types(truth, seed=42, n_trees=8, max_depth=8)
    pred = classify_forest_compiled(blocs, compile_class_forest(model))
    t = truth.select("url", "page_num", "bloc_ord", F.col("label").alias("t_label"))
    joined = pred.join(t, ["url", "page_num", "bloc_ord"]).cache()
    n = joined.count()
    agree = joined.filter(F.col("label") == F.col("t_label")).count()
    assert n > 0
    # geometry fully determines the type label; the forest must learn it
    assert agree / n > 0.9, f"type-forest agreement {agree}/{n}"
    # the predicted label set is the truth vocabulary
    pred_labels = {r[0] for r in joined.select("label").distinct().collect()}
    assert pred_labels <= {"title", "text", "table", "list", "pollution"}


@pytest.fixture(scope="module")
def begin_last(spark, blocs, src):
    truth = align_bioul(blocs, src, threshold=_ALIGN_THRESHOLD)
    return truth, train_begin_last(truth, seed=42, n_trees=8, max_depth=8)


def test_begin_last_forest_agreement(spark, blocs, begin_last):
    truth, models = begin_last
    assert set(models) == {"is_begin", "is_last"}
    compiled = {name: compile_class_forest(rf) for name, rf in models.items()}
    pred = classify_begin_last_compiled(blocs, compiled)
    t = truth.select(
        "url",
        "page_num",
        "bloc_ord",
        F.col("is_begin").alias("t_begin"),
        F.col("is_last").alias("t_last"),
    )
    joined = pred.join(t, ["url", "page_num", "bloc_ord"]).cache()
    n = joined.count()
    agree_b = joined.filter(F.col("is_begin") == F.col("t_begin")).count()
    agree_l = joined.filter(F.col("is_last") == F.col("t_last")).count()
    assert n > 0
    # begin/last depend on neighbor geometry the per-bloc features only
    # partially encode — require clearly-better-than-chance agreement
    base_b = max(
        joined.filter(F.col("t_begin")).count(), joined.filter(~F.col("t_begin")).count()
    )
    assert agree_b >= base_b, f"is_begin agreement {agree_b}/{n} vs baseline {base_b}"
    assert agree_l / n > 0.5


def test_begin_last_compiled_tracks_float_on_null_features(spark, blocs, begin_last):
    """Every bloc here has a NULL ``f_n_chars``, and the forests learned
    NaN thresholds from it. The float forest sends a NaN feature right and
    every row at a NaN-threshold node right; the compiled serve must do
    the same, so the two agree except where hard vote and soft vote
    differ."""
    _, models = begin_last
    compiled = {name: compile_class_forest(rf) for name, rf in models.items()}
    feat = with_layout_features(blocs).select("url", "page_num", "bloc_ord", *FEATURE_COLS)
    pdf = feat.toPandas().sort_values(["url", "page_num", "bloc_ord"], ignore_index=True)
    assert pdf["f_n_chars"].isna().all()
    pred = (
        classify_begin_last_compiled(blocs, compiled)
        .toPandas()
        .sort_values(["url", "page_num", "bloc_ord"], ignore_index=True)
    )
    assert len(pred) == len(pdf)
    X = _feature_matrix(pdf)
    for name, rf in models.items():
        floats = rf.predict(X) == "True"
        agree = (pred[name].to_numpy(dtype=bool) == floats).mean()
        assert agree >= 0.95, f"{name}: compiled/float agreement {agree:.3f}"


def test_training_sample_is_bounded(spark, blocs, src):
    """No default code path collects O(corpus) rows to the driver."""
    truth = align_plain(blocs, src, threshold=_ALIGN_THRESHOLD, pollution_label="p")
    # cap far below the corpus size: training must still succeed
    model = train_forest_on_types(truth, seed=1, n_trees=2, max_depth=4, max_rows=500)
    assert model.trees
    assert TRAIN_MAX_ROWS <= 1_000_000
