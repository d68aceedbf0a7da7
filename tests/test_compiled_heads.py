"""Quantized compiled serve path (ml/compiled.py): determinism,
float↔int consistency, DuckDB CASE-tree parity (NULL routing included),
hash-draw P5."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from edspdf_spark.ml import compiled as C


def test_quantize_is_round_half_up():
    x = np.array([0.0, 1.5e-6, -1.5e-6, 0.4999995e-6, 0.5e-6, -0.5e-6, 2.0])
    assert C.quantize(x).tolist() == [0, 2, -1, 0, 1, 0, 2_000_000]


def test_fixture_forests_are_deterministic_constants():
    cf1 = C.fixture_forest_masks()
    C.fixture_blocs.cache_clear()
    C.fixture_forest_masks.cache_clear()
    cf2 = C.fixture_forest_masks()
    assert cf1.classes == cf2.classes
    for t1, t2 in zip(cf1.trees, cf2.trees):
        for a in ("feature", "thr", "left", "right", "leaf"):
            assert np.array_equal(getattr(t1, a), getattr(t2, a))


def test_hard_vote_matches_per_tree_argmax():
    """predict_label == majority over per-tree leaf classes, ties to the
    first class — verified against a hand-rolled vote on the fixture."""
    cf = C.fixture_forest_types()
    df = C.fixture_blocs()
    Xm = C.quantize(C._fixture_features(df))
    per_tree = np.stack([C._traverse(t, Xm) for t in cf.trees])
    votes = np.zeros((Xm.shape[0], len(cf.classes)), dtype=int)
    for row in per_tree:
        votes[np.arange(len(row)), row] += 1
    expected = np.array(cf.classes, dtype=object)[votes.argmax(axis=1)]
    assert (C.predict_label(cf, Xm) == expected).all()


def test_compiled_tracks_float_forest_closely():
    """Quantization may flip boundary rows only: compiled hard vote agrees
    with the float forest's soft argmax on ≥95% of the fixture corpus."""
    from edspdf_spark.ml.forest import RandomForest

    df = C.fixture_blocs()
    X = C._fixture_features(df)
    rf = RandomForest(seed=42, n_trees=4, max_depth=6).fit(X, C._mask_labels(df))
    soft = rf.predict(X)
    hard = C.predict_label(C.compile_class_forest(rf), C.quantize(X))
    assert (soft == hard).mean() >= 0.95


def _null_trained(fit):
    """Fit on the fixture with ``f_n_chars`` NULL on every row (as on
    blocs with NULL text): NaN never equals NaN, yet no split point may
    come from it, so no node learns a NaN threshold."""
    df = C.fixture_blocs()
    X = C._fixture_features(df)
    X[:, 9] = np.nan
    model = fit(df, X)
    assert not any(np.isnan(t["threshold"][t["feature"] >= 0]).any() for t in model.trees)
    return model


def null_trained_types():
    from edspdf_spark.ml.forest import RandomForest

    return C.compile_class_forest(
        _null_trained(
            lambda df, X: RandomForest(seed=42, n_trees=4, max_depth=6).fit(X, C._type_labels(df))
        )
    )


def null_trained_rank():
    from edspdf_spark.ml.forest import RegressionForest

    def fit(df, X):
        n_page = df.groupby(["url", "page_num"])["bloc_ord"].transform("count")
        target = df["bloc_ord"].to_numpy(np.float64) / n_page.to_numpy(np.float64)
        return RegressionForest(seed=42, n_trees=4, max_depth=6).fit(X, target)

    return C.compile_reg_forest(_null_trained(fit))


@pytest.mark.parametrize(
    "factory,kind",
    [
        (C.fixture_forest_masks, "class"),
        (C.fixture_forest_types, "class"),
        (C.fixture_forest_following, "value"),
        (C.fixture_forest_rank, "value"),
        (null_trained_types, "class"),
        (null_trained_rank, "value"),
    ],
)
def test_duckdb_case_tree_parity(factory, kind):
    """The SQL compilation of each forest reproduces the NumPy serve
    exactly on a synthetic feature frame (engine-level parity without
    Spark; the Spark side is driver-oracle-checked). Both sides quantize
    the float features themselves — the serve with :func:`C.quantize`,
    DuckDB with ``micro_sql`` — and the frame carries NULL features
    (NaN in pandas, NULL once scanned by DuckDB): both must route them
    right. The ``null_trained_*`` forests were fit with a NULL column."""
    cf = factory()
    n_feat = int(max(t.feature.max() for t in cf.trees)) + 1
    rng = np.random.default_rng(7)
    # span the thresholds' range so both branches of most nodes are hit
    thr_all = np.concatenate([t.thr[t.feature >= 0] for t in cf.trees])
    lo, hi = int(thr_all.min()) - 5, int(thr_all.max()) + 5
    width = max(n_feat, 1)
    X = rng.integers(lo, hi, size=(700, width), dtype=np.int64) / C.MICRO
    # rows 500+: NULL features, from one NULL cell per row to all-NULL rows
    null = rng.uniform(size=(200, width)) < np.linspace(0.0, 1.0, 200)[:, None]
    null[np.arange(200), np.arange(200) % width] = True
    X[500:][null] = np.nan
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(width)})
    con = duckdb.connect()
    con.register("fx", pdf)
    feat = [f"m{i}" for i in range(width)]
    ms = ", ".join(f"{C.micro_sql(f'f{i}')} AS m{i}" for i in range(width))
    fm = f"(SELECT {ms} FROM fx)"
    Xm = C.quantize(X)
    if kind == "class":
        ts = ", ".join(f"{C.tree_sql(t, feat)} AS t{k}" for k, t in enumerate(cf.trees))
        vote = C.vote_label_sql(cf, [f"t{k}" for k in range(len(cf.trees))])
        got = con.execute(f"SELECT {vote} AS r FROM (SELECT {ts} FROM {fm}) tv").df()["r"]
        want = C.predict_label(cf, Xm)
    else:
        got = con.execute(
            f"SELECT CAST({C.value_sum_sql(cf, feat)} AS BIGINT) AS r FROM {fm}"
        ).df()["r"]
        want = C.predict_value_sum(cf, Xm)
    assert (got.to_numpy() == want).all()
    # the finite rows round-trip the quantizer onto their micro ints
    assert (Xm[:500] == np.rint(X[:500] * C.MICRO)).all()


def test_begin_last_majority_rule_sql_parity():
    models = C.fixture_forest_begin_last()
    df = C.fixture_blocs()
    Xm = C.quantize(C._fixture_features(df))
    for name, cf in models.items():
        n = len(cf.trees)
        true_idx = cf.classes.index("True")
        votes = sum((C._traverse(t, Xm) == true_idx).astype(int) for t in cf.trees)
        # SQL rule: votes*2 > n_trees  <=>  strict majority, tie -> False
        assert (
            (votes * 2 > n) == (C.predict_label(cf, Xm) == "True")
        ).all(), name


def test_classify_random_hash_marginals_and_stability(spark):
    from edspdf_spark.operators.classify import classify_random_hash
    from edspdf_spark.schemas import BLOC_SCHEMA

    rows = [
        (f"u{i}", p, o, 0.1, 0.1, 0.9, 0.2, "x", [], None, False)
        for i in range(40)
        for p in range(2)
        for o in range(5)
    ]
    blocs = spark.createDataFrame(rows, schema=BLOC_SCHEMA)
    out1 = classify_random_hash(blocs, {"a": 0.75, "b": 0.25}, salt=3)
    dist = dict(
        (r["label"], r["count"]) for r in out1.groupBy("label").count().collect()
    )
    n = sum(dist.values())
    assert n == 400
    assert abs(dist.get("a", 0) / n - 0.75) < 0.08
    # partitioning-independence: same labels after a repartition
    out2 = classify_random_hash(
        blocs.repartition(7), {"a": 0.75, "b": 0.25}, salt=3
    )
    key = ["url", "page_num", "bloc_ord"]
    a = {tuple(r[k] for k in key): r["label"] for r in out1.select(*key, "label").collect()}
    b = {tuple(r[k] for k in key): r["label"] for r in out2.select(*key, "label").collect()}
    assert a == b


def test_classify_random_hash_error_rows_keep_label(spark):
    from pyspark.sql import functions as F

    from edspdf_spark.operators.classify import classify_random_hash
    from edspdf_spark.schemas import BLOC_SCHEMA

    rows = [("u", 0, 0, 0.0, 0.0, 1.0, 1.0, None, [], "err-label", True)]
    blocs = spark.createDataFrame(rows, schema=BLOC_SCHEMA)
    out = classify_random_hash(blocs, ["a", "b"], salt=1)
    assert out.select("label").first()[0] == "err-label"
    # and the plan stays expression-only (no Python eval nodes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Eval" not in plan and "Arrow" not in plan

def test_quantize_matches_duckdb_floor_on_adversarial_doubles():
    """The micro-grid round-half-up must agree with the oracle's
    CAST(FLOOR(x*1000000.0 + 0.5) AS BIGINT) bit-for-bit — including
    negatives, exact .5 boundaries, subnormal-ish tinies and log-range
    magnitudes (the P10 features contain ln ratios)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()

    @settings(max_examples=300, deadline=None)
    @given(
        st.floats(
            min_value=-9e6, max_value=9e6, allow_nan=False, allow_infinity=False
        )
    )
    def check(x):
        want = int(C.quantize(np.array([x]))[0])
        got = con.execute(
            "SELECT CAST(FLOOR(? * 1000000.0 + 0.5) AS BIGINT)", [x]
        ).fetchone()[0]
        assert got == want, (x, got, want)

    check()
    # pinned exact boundaries (float literals representable in binary)
    for x in (0.5e-6, -0.5e-6, 1.5e-6, -1.5e-6, 2.0**-21, -(2.0**-21)):
        want = int(C.quantize(np.array([x]))[0])
        got = con.execute(
            "SELECT CAST(FLOOR(? * 1000000.0 + 0.5) AS BIGINT)", [x]
        ).fetchone()[0]
        assert got == want


def test_vote_label_sql_single_class_degenerate():
    """A forest whose training labels collapse to one class must compile to
    a constant, not an armless CASE (invalid SQL)."""
    from edspdf_spark.ml.forest import RandomForest

    df = C.fixture_blocs()
    rf = RandomForest(seed=1, n_trees=2, max_depth=3).fit(
        C._fixture_features(df), ["only"] * len(df)
    )
    cf = C.compile_class_forest(rf)
    sql = C.vote_label_sql(cf, ["t0", "t1"])
    assert sql == "'only'"
    assert duckdb.connect().execute(f"SELECT {sql}").fetchone()[0] == "only"
