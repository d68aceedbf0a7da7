"""P10/P11 pairwise-feature skeleton and the X8 config round-trip."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from edspdf_spark.operators.order import ORDER_FEATURE_COLS, pairwise_order_features


def _ref_pair_features(bi, bj):
    """Independent transcription of the reference feature math
    (trainable_order_ba.py:165-221), quirks included (min-union,
    half-extent 'centres')."""

    def delta(a, b):
        ax0, ay0, ax1, ay1 = a
        bx0, by0, bx1, by1 = b
        axc, ayc = (ax1 - ax0) / 2, (ay1 - ay0) / 2
        aw, ah = ax1 - ax0, ay1 - ay0
        bxc, byc = (bx1 - bx0) / 2, (by1 - by0) / 2
        bw, bh = bx1 - bx0, by1 - by0
        return [
            (axc - bxc) / aw,
            (ayc - byc) / ah,
            math.log(aw / bw),
            math.log(ah / bh),
            (bxc - axc) / bw,
            (byc - ayc) / bh,
        ]

    u = (
        min(bi[0], bj[0]),
        min(bi[1], bj[1]),
        min(bi[2], bj[2]),
        min(bi[3], bj[3]),
    )
    return delta(bi, bj) + delta(bi, u) + delta(bj, u)


def test_pairwise_order_features_match_reference_math(spark):
    from edspdf_spark.schemas import BLOC_SCHEMA

    boxes = {
        0: (0.1, 0.1, 0.9, 0.2),
        1: (0.1, 0.3, 0.45, 0.42),
        2: (0.55, 0.3, 0.9, 0.45),
    }
    rows = [
        ("d", 0, i, x0, y0, x1, y1, f"t{i}", [], None, False)
        for i, (x0, y0, x1, y1) in boxes.items()
    ]
    blocs = spark.createDataFrame(rows, BLOC_SCHEMA)
    out = pairwise_order_features(blocs)
    got = {(r["ord_i"], r["ord_j"]): [r[c] for c in ORDER_FEATURE_COLS] for r in out.collect()}
    assert len(got) == 6  # 3 blocs → 6 ordered pairs
    for (i, j), vals in got.items():
        exp = _ref_pair_features(boxes[i], boxes[j])
        assert vals == pytest.approx(exp, rel=1e-12), (i, j)


def test_pairwise_order_scorer_hook(spark):
    from edspdf_spark.schemas import BLOC_SCHEMA

    rows = [
        ("d", 0, i, 0.1, 0.1 * (i + 1), 0.9, 0.1 * (i + 1) + 0.05, f"t{i}", [], None, False)
        for i in range(3)
    ]
    blocs = spark.createDataFrame(rows, BLOC_SCHEMA)

    def scorer(df):
        # stand-in for the broadcast pairwise model (a Pandas UDF in prod):
        # any deterministic function of the feature columns
        return df.withColumn("score", -F.abs(F.col("dij_log_h")) - F.col("ord_j"))

    out = pairwise_order_features(blocs, scorer=scorer)
    assert "score" in out.columns
    from pyspark.sql import Window

    best = (
        out.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("url", "page_num", "ord_i")
                .orderBy(F.col("score").desc(), F.col("ord_j"))
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    follows = {r["ord_i"]: r["ord_j"] for r in best}
    # equal heights → log_h term is 0 for every pair; -ord_j decides
    assert follows == {0: 1, 1: 0, 2: 0}


def test_pipeline_config_roundtrip(spark, tmp_path):
    from edspdf_spark.fixtures import build_pages_df
    from edspdf_spark.plans import Pipeline, load

    config = {
        "pipeline": ["extractor", "classifier", "aggregator"],
        "components": {
            "extractor": {"@factory": "extractor", "extract_style": True},
            "classifier": {
                "@factory": "mask-classifier",
                "x0": 0.0, "y0": 0.0, "x1": 1.0, "y1": 0.6, "threshold": 0.1,
            },
            "aggregator": {"@factory": "simple-aggregator"},
        },
    }
    pipe = Pipeline.from_config(config)
    assert pipe.to_config() == config  # exact inverse

    art = str(tmp_path / "model")
    pipe.to_disk(art)
    reloaded = load(art)
    assert reloaded.to_config() == config

    pages = build_pages_df(spark, 12, partitions=2)
    a = sorted((r["url"], r["label"], r["text"]) for r in pipe(pages).collect())
    b = sorted((r["url"], r["label"], r["text"]) for r in reloaded(pages).collect())
    assert a == b and len(a) > 0


def test_load_rejects_unknown_factory():
    from edspdf_spark.plans import Pipeline

    with pytest.raises(KeyError, match="unknown factory"):
        Pipeline.from_config(
            {"pipeline": ["x"], "components": {"x": {"@factory": "nope"}}}
        )


def test_embedding_pipeline_from_config(spark, tmp_path):
    """X8 × E-stack: an extract → E2 embed → E6 contextualize pipeline
    assembled purely from a JSON config round-trips and runs."""
    from edspdf_spark.fixtures import build_pages_df
    from edspdf_spark.plans import Pipeline, load

    config = {
        "pipeline": ["extractor", "embedding", "transformer"],
        "components": {
            "extractor": {"@factory": "extractor", "extract_style": False},
            "embedding": {"@factory": "box-layout-embedding", "size": 24, "seed": 7},
            "transformer": {"@factory": "box-transformer", "dim": 24, "n_heads": 4},
        },
    }
    pipe = Pipeline.from_config(config)
    art = str(tmp_path / "emb_model")
    pipe.to_disk(art)
    reloaded = load(art)
    assert reloaded.to_config() == config

    pages = build_pages_df(spark, 6, partitions=2)
    out = reloaded(pages).collect()
    assert len(out) > 0
    assert all(len(r.emb) == 24 for r in out)


def test_corpus_recipe_pipeline_from_config(spark, tmp_path):
    """The corpus-build stages as a pure JSON config: recrawl dedup →
    badword gate → temperature mix, round-tripped and run."""
    from pyspark.sql import functions as F

    from edspdf_spark.plans import Pipeline, load

    config = {
        "pipeline": ["revise", "gate", "mix"],
        "components": {
            "revise": {"@factory": "latest-revision"},
            "gate": {"@factory": "blocklist-gate", "words": ["casino"]},
            "mix": {
                "@factory": "temperature-mix",
                "target_tokens": 40,
                "alpha": 0.3,
                "max_epochs": 2.0,
            },
        },
    }
    pipe = Pipeline.from_config(config)
    assert pipe.to_config() == config
    art = str(tmp_path / "recipe")
    pipe.to_disk(art)
    reloaded = load(art)
    assert reloaded.to_config() == config

    rows = [
        # u/a fetched twice: doc 1 older, doc 2 newer
        (1, "u/a", 10, "en", 5, "old words here"),
        (2, "u/a", 20, "en", 5, "new words here"),
        (3, "u/b", 10, "en", 5, "casino words here"),   # blocklisted
        (4, "u/c", 10, "yo", 5, "rare lang words"),
        (5, "u/d", 10, "en", 5, "plain words again"),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id int, url string, warc_ts long, lang string, "
        "n_tokens int, text string",
    )
    out = reloaded(df).collect()
    ids = {r.doc_id for r in out}
    assert 1 not in ids          # older revision dropped
    assert 3 not in ids          # blocklisted page dropped
    assert ids <= {2, 4, 5}
    assert all(r.epoch >= 1 for r in out)


# ---------------------------------------------------------------------------
# P10/P11 trainable heads
# ---------------------------------------------------------------------------


def _stacked_corpus(spark, n_docs=12, n_pages=2, n_lines=8):
    """Deterministic multi-page corpus of vertically stacked lines whose
    width/height VARY with the line rank. The size variation is load-
    bearing: the reference's 18 pairwise features use half-extent
    "centres" and a min-corner union, so for equal-size boxes every
    feature is exactly 0 (position-blind — see
    ``operators/order.py`` faithfulness notes); sizes encoding rank makes
    the following link / rank targets geometrically learnable, as they
    are on real pages where line extents vary."""
    from edspdf_spark.schemas import BLOC_SCHEMA

    rows = []
    for d in range(n_docs):
        for p in range(n_pages):
            y0 = 0.05
            for i in range(n_lines):
                w = 0.35 + 0.045 * i + 0.002 * (d % 4)
                h = 0.05 + 0.006 * ((i * 3) % 7)
                x0 = 0.08 + 0.01 * (d % 5)
                rows.append(
                    (f"doc{d}", p, i, x0, y0, x0 + w, y0 + h,
                     f"line{i}", [], None, False)
                )
                y0 += h + 0.02
    return spark.createDataFrame(rows, BLOC_SCHEMA)


def test_order_following_recovers_reading_order(spark):
    from edspdf_spark.ml.compiled import compile_proba_forest, order_followings_compiled
    from edspdf_spark.operators.order import train_order_following

    blocs = _stacked_corpus(spark)
    model = train_order_following(blocs, seed=42, n_trees=4, max_depth=6)
    out = order_followings_compiled(blocs, compile_proba_forest(model, "F")).collect()
    assert out, "no following predictions"
    scored = [r for r in out if r["ord_i"] < 7]  # last line's true follower
    hits = sum(1 for r in scored if r["follow_ord"] == r["ord_i"] + 1)
    assert hits / len(scored) >= 0.8, f"follow agreement {hits}/{len(scored)}"


def test_order_following_tie_breaks_to_smallest_j(spark):
    """Constant scorer → argmax must pick the smallest ord_j (torch argmax
    returns the first maximal index, trainable_order_ba.py:434-443)."""
    from edspdf_spark.ml.compiled import CompiledForest, CompiledTree, order_followings_compiled

    one_leaf = np.array([-1])
    flat = CompiledForest(
        trees=[CompiledTree(one_leaf, np.array([0]), one_leaf, one_leaf, np.array([500_000]))],
        classes=None,
    )
    blocs = _stacked_corpus(spark, n_docs=2, n_pages=1, n_lines=4)
    out = order_followings_compiled(blocs, flat).collect()
    for r in out:
        expect = 0 if r["ord_i"] != 0 else 1  # smallest j != i
        assert r["follow_ord"] == expect


def test_append_following_to_labels(spark):
    from edspdf_spark.ml.compiled import compile_proba_forest, order_followings_compiled
    from edspdf_spark.operators.order import (
        append_following_to_labels,
        train_order_following,
    )
    from pyspark.sql import functions as F

    blocs = _stacked_corpus(spark, n_docs=4)
    model = train_order_following(blocs, seed=42, n_trees=2, max_depth=5)
    composite = blocs.withColumn(
        "label", F.concat_ws("|", F.lit("body"), F.lit("0"), F.col("bloc_ord"))
    )
    follows = order_followings_compiled(blocs, compile_proba_forest(model, "F"))
    out = append_following_to_labels(composite, follows)
    labels = [r["label"] for r in out.collect()]
    assert all(len(l.split("|")) == 4 for l in labels)
    assert all(l.split("|")[3].lstrip("-").isdigit() for l in labels)


def test_order_rank_regression_recovers_order(spark):
    from pyspark.sql import Window

    from edspdf_spark.ml.compiled import compile_reg_forest, score_order_rank_compiled
    from edspdf_spark.operators.order import train_order_rank

    blocs = _stacked_corpus(spark)
    model = train_order_rank(blocs, seed=42, n_trees=4, max_depth=6)
    scored = score_order_rank_compiled(blocs, compile_reg_forest(model))
    w = Window.partitionBy("url", "page_num").orderBy(
        F.col("rank_micro").asc_nulls_last(), F.col("bloc_ord").asc()
    )
    out = scored.withColumn("pred_rank", F.row_number().over(w) - F.lit(1)).collect()
    assert out
    assert all(r["rank_micro"] is not None for r in out)
    hits = sum(1 for r in out if r["pred_rank"] == r["bloc_ord"])
    assert hits / len(out) >= 0.8, f"rank agreement {hits}/{len(out)}"


def test_order_serving_plans_are_vectorized(spark):
    """Neither head may fall back to per-group pandas: following = join +
    mapInPandas + max_by agg; rank = mapInPandas."""
    from edspdf_spark.ml.compiled import (
        compile_proba_forest,
        compile_reg_forest,
        order_followings_compiled,
        score_order_rank_compiled,
    )
    from edspdf_spark.operators.order import train_order_following, train_order_rank

    blocs = _stacked_corpus(spark, n_docs=3)
    follow = train_order_following(blocs, seed=1, n_trees=2, max_depth=4)
    f_plan = order_followings_compiled(
        blocs, compile_proba_forest(follow, "F")
    )._jdf.queryExecution().executedPlan().toString()
    r_plan = score_order_rank_compiled(
        blocs, compile_reg_forest(train_order_rank(blocs, seed=1, n_trees=2, max_depth=4))
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in f_plan
    assert "FlatMapGroupsInPandas" not in r_plan


def test_regression_forest_numpy_contract():
    import numpy as np

    from edspdf_spark.ml.forest import RegressionForest

    rng = np.random.default_rng(0)
    X = rng.uniform(0, 1, size=(600, 3))
    y = 2.0 * X[:, 0] + 0.1 * X[:, 2]
    model = RegressionForest(seed=3, n_trees=6, max_depth=8).fit(X, y)
    pred = model.predict(X)
    assert pred.shape == (600,)
    mse = float(((pred - y) ** 2).mean())
    assert mse < 0.05, mse  # var(y) ≈ 0.34 — the fit explains >85% of it
    # determinism: same seed, same fit, identical predictions
    pred2 = RegressionForest(seed=3, n_trees=6, max_depth=8).fit(X, y).predict(X)
    assert np.array_equal(pred, pred2)
