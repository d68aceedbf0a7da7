"""P8 — trainable classifier as a NumPy random forest.

The north-star mandates "a re-trained sklearn random-forest on the same
bbox/layout features" (BASELINE.json). sklearn is not installed here, so
this is a small, self-contained NumPy CART ensemble with the same
contract: fit on the E1 feature matrix
(xmin/ymin/xmax/ymax/width/height/first_page/last_page/page_num/n_chars —
reference ``edspdf/pipes/embeddings/box_layout_preprocessor.py:25-95``),
predict argmax class per bloc. Deterministic (seeded bootstrap + feature
subsampling). A NULL (NaN) feature goes right at every node
(``NaN <= t`` is False): split points lie between distinct non-NaN
values only, and NaNs sort last, so training counts them on the right.

This module trains; it does not serve. A fitted forest is served on
Spark through :mod:`edspdf_spark.ml.compiled`: ``train_*`` →
``compile_class_forest`` / ``compile_proba_forest`` /
``compile_reg_forest`` → the ``*_compiled`` operators. ``predict`` /
``predict_proba`` stay as the float reference the compiled form is
tested against. Replaces the reference torch path
(``pipes/classifiers/trainable.py:176-201``) per SURVEY.md P8.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd


def _split_points(xs, min_leaf):
    """Left sizes ``i`` of the candidate splits of a sorted column: between
    distinct consecutive non-NaN values (NaN sorts last and never equals
    itself, so it must not make a candidate), ``min_leaf`` on each side."""
    n = len(xs)
    splits = np.nonzero((xs[1:] != xs[:-1]) & ~np.isnan(xs[1:]))[0] + 1
    return splits[(splits >= min_leaf) & (n - splits >= min_leaf)]


def _gini_split(x_col, y, classes, min_leaf):
    """Best threshold on one feature column by Gini impurity.

    Fully vectorized over the candidate split points (midpoints between
    distinct consecutive sorted values) — ``np.argmin`` picks the first
    minimal impurity exactly like the scalar loop it replaced, so seeded
    forests are bit-identical across the rewrite."""
    order = np.argsort(x_col, kind="stable")
    xs, ys = x_col[order], y[order]
    n = len(ys)
    counts = np.zeros((n + 1, len(classes)), dtype=np.int64)
    for ci, c in enumerate(classes):
        counts[1:, ci] = np.cumsum(ys == c)
    total = counts[-1]
    splits = _split_points(xs, min_leaf)
    if not len(splits):
        return (None, np.inf)
    lc = counts[splits].astype(np.float64)
    rc = (total - counts[splits]).astype(np.float64)
    nl = splits.astype(np.float64)
    nr = n - nl
    gl = 1.0 - ((lc / nl[:, None]) ** 2).sum(axis=1)
    gr = 1.0 - ((rc / nr[:, None]) ** 2).sum(axis=1)
    g = (nl * gl + nr * gr) / n
    k = int(np.argmin(g))
    i = splits[k]
    return ((xs[i - 1] + xs[i]) / 2.0, float(g[k]))


def _leaf_nodes(tree, X):
    """Vectorized array traversal: leaf node index per row of ``X``."""
    n = len(X)
    node = np.zeros(n, dtype=np.int64)
    active = np.ones(n, dtype=bool)
    while active.any():
        f = tree["feature"][node]
        leaf = f < 0
        active &= ~leaf
        if not active.any():
            break
        idx = np.nonzero(active)[0]
        go_left = X[idx, f[idx]] <= tree["threshold"][node[idx]]
        node[idx] = np.where(go_left, tree["left"][node[idx]], tree["right"][node[idx]])
    return node


def _mse_split(x_col, y, min_leaf):
    """Best threshold on one feature column by SSE reduction (vectorized:
    prefix sums over the sorted column, no per-candidate Python loop)."""
    order = np.argsort(x_col, kind="stable")
    xs, ys = x_col[order], y[order]
    n = len(ys)
    cum = np.cumsum(ys)
    cum2 = np.cumsum(ys * ys)
    splits = _split_points(xs, min_leaf)  # left size i
    if not len(splits):
        return (None, np.inf)
    sl, s2l = cum[splits - 1], cum2[splits - 1]
    sr, s2r = cum[-1] - sl, cum2[-1] - s2l
    sse = (s2l - sl * sl / splits) + (s2r - sr * sr / (n - splits))
    k = int(np.argmin(sse))
    i = splits[k]
    return ((xs[i - 1] + xs[i]) / 2.0, float(sse[k]))


class RandomForest:
    """Seeded CART ensemble; fit(X, y) / predict(X) with string labels."""

    def __init__(
        self,
        n_trees: int = 8,
        max_depth: int = 8,
        min_leaf: int = 5,
        max_features: Optional[int] = None,
        seed: int = 42,
    ):
        self.n_trees = n_trees
        self.max_depth = max_depth
        self.min_leaf = min_leaf
        self.max_features = max_features
        self.seed = seed
        self.classes_: List[str] = []
        self.trees: List[dict] = []

    def _build(self, X, y, rng, depth, nodes):
        node_id = len(nodes)
        counts = np.array([(y == c).sum() for c in range(len(self.classes_))])
        nodes.append({"feature": -1, "threshold": 0.0, "left": -1, "right": -1, "counts": counts})
        if depth >= self.max_depth or len(y) < 2 * self.min_leaf or len(np.unique(y)) == 1:
            return node_id
        n_feat = X.shape[1]
        k = self.max_features or max(1, int(np.sqrt(n_feat)))
        feats = rng.choice(n_feat, size=min(k, n_feat), replace=False)
        best = (None, None, np.inf)
        for f in feats:
            thr, g = _gini_split(X[:, f], y, range(len(self.classes_)), self.min_leaf)
            if thr is not None and g < best[2]:
                best = (f, thr, g)
        if best[0] is None:
            return node_id
        f, thr, _ = best
        mask = X[:, f] <= thr
        nodes[node_id]["feature"] = int(f)
        nodes[node_id]["threshold"] = float(thr)
        nodes[node_id]["left"] = self._build(X[mask], y[mask], rng, depth + 1, nodes)
        nodes[node_id]["right"] = self._build(X[~mask], y[~mask], rng, depth + 1, nodes)
        return node_id

    def fit(self, X: np.ndarray, y_labels) -> "RandomForest":
        X = np.asarray(X, dtype=np.float64)
        self.classes_ = sorted(set(map(str, y_labels)))
        idx = {c: i for i, c in enumerate(self.classes_)}
        y = np.array([idx[str(v)] for v in y_labels], dtype=np.int64)
        self.trees = []
        for t in range(self.n_trees):
            rng = np.random.default_rng(self.seed + t)
            boot = rng.integers(0, len(y), size=len(y))
            nodes: list = []
            self._build(X[boot], y[boot], rng, 0, nodes)
            self.trees.append(
                {
                    "feature": np.array([n["feature"] for n in nodes]),
                    "threshold": np.array([n["threshold"] for n in nodes]),
                    "left": np.array([n["left"] for n in nodes]),
                    "right": np.array([n["right"] for n in nodes]),
                    "counts": np.stack([n["counts"] for n in nodes]).astype(np.float64),
                }
            )
        return self

    def _tree_proba(self, tree, X):
        c = tree["counts"][_leaf_nodes(tree, X)]
        s = c.sum(axis=1, keepdims=True)
        s[s == 0] = 1
        return c / s

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        p = np.zeros((len(X), len(self.classes_)))
        for tree in self.trees:
            p += self._tree_proba(tree, X)
        return p / len(self.trees)

    def predict(self, X: np.ndarray) -> np.ndarray:
        p = self.predict_proba(X)
        return np.array(self.classes_, dtype=object)[p.argmax(axis=1)]


class RegressionForest:
    """Seeded CART *regression* ensemble (variance-reduction splits, leaf =
    mean, prediction = tree average) — the P11 ``order-num`` head's scorer
    (reference ``pipes/classifiers/trainable_order_num.py:289-307``: a
    sigmoid MLP regressing a normalized per-line order score; re-expressed
    as a forest since torch/sklearn are absent). Same flat-array tree
    layout and vectorized traversal as :class:`RandomForest`."""

    def __init__(
        self,
        n_trees: int = 8,
        max_depth: int = 8,
        min_leaf: int = 5,
        max_features: Optional[int] = None,
        seed: int = 42,
    ):
        self.n_trees = n_trees
        self.max_depth = max_depth
        self.min_leaf = min_leaf
        self.max_features = max_features
        self.seed = seed
        self.trees: List[dict] = []

    def _build(self, X, y, rng, depth, nodes):
        node_id = len(nodes)
        nodes.append(
            {"feature": -1, "threshold": 0.0, "left": -1, "right": -1,
             "mean": float(y.mean()) if len(y) else 0.0}
        )
        if depth >= self.max_depth or len(y) < 2 * self.min_leaf or np.ptp(y) == 0.0:
            return node_id
        n_feat = X.shape[1]
        k = self.max_features or max(1, int(np.sqrt(n_feat)))
        feats = rng.choice(n_feat, size=min(k, n_feat), replace=False)
        best = (None, None, np.inf)
        for f in feats:
            thr, sse = _mse_split(X[:, f], y, self.min_leaf)
            if thr is not None and sse < best[2]:
                best = (f, thr, sse)
        if best[0] is None:
            return node_id
        f, thr, _ = best
        mask = X[:, f] <= thr
        nodes[node_id]["feature"] = int(f)
        nodes[node_id]["threshold"] = float(thr)
        nodes[node_id]["left"] = self._build(X[mask], y[mask], rng, depth + 1, nodes)
        nodes[node_id]["right"] = self._build(X[~mask], y[~mask], rng, depth + 1, nodes)
        return node_id

    def fit(self, X: np.ndarray, y) -> "RegressionForest":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        self.trees = []
        for t in range(self.n_trees):
            rng = np.random.default_rng(self.seed + t)
            boot = rng.integers(0, len(y), size=len(y))
            nodes: list = []
            self._build(X[boot], y[boot], rng, 0, nodes)
            self.trees.append(
                {
                    "feature": np.array([n["feature"] for n in nodes]),
                    "threshold": np.array([n["threshold"] for n in nodes]),
                    "left": np.array([n["left"] for n in nodes]),
                    "right": np.array([n["right"] for n in nodes]),
                    "mean": np.array([n["mean"] for n in nodes]),
                }
            )
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        out = np.zeros(len(X))
        for tree in self.trees:
            out += tree["mean"][_leaf_nodes(tree, X)]
        return out / len(self.trees)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

from edspdf_spark.operators.features import FEATURE_COLS  # noqa: E402


def _feature_matrix(pdf: pd.DataFrame) -> np.ndarray:
    return pdf[FEATURE_COLS].to_numpy(dtype=np.float64)


#: Hard cap on rows collected to the driver for training. Training is
#: legitimately driver-side (the fitted model is then broadcast), but at
#: 10^12 blocs an uncapped ``toPandas()`` kills the driver — the cap makes
#: the default safe at any corpus size.
TRAIN_MAX_ROWS = 200_000


def _bounded_training_pdf(feat, columns, sample_fraction, seed, max_rows, order_cols=None):
    """Collect a bounded, deterministic training sample to the driver.

    ``sample_fraction`` < 1 takes a Bernoulli sample first; the cap is
    applied as ``orderBy(url, page_num, bloc_ord).limit(n)`` — a bare
    ``limit`` picks whichever partitions answer first, so two runs could
    fit on different subsets despite the fixed seed.  The ordered limit
    plans as a distributed per-partition top-k (TakeOrderedAndProject),
    NOT a full sort — no default code path collects O(corpus) rows."""
    if sample_fraction < 1.0:
        feat = feat.sample(fraction=sample_fraction, seed=seed)
    if max_rows is not None:
        order = order_cols or [
            c for c in ("url", "page_num", "bloc_ord") if c in feat.columns
        ]
        feat = feat.orderBy(*order).limit(int(max_rows))
    return feat.select(*columns).toPandas()


def train_forest_on_masks(
    labeled_blocs,
    sample_fraction: float = 1.0,
    seed: int = 42,
    max_rows: int = TRAIN_MAX_ROWS,
    **forest_kw,
) -> RandomForest:
    """P8/P12: train on distant-supervision labels (mask-classifier output,
    or any labeled blocs — node types for P12): features = E1 layout
    columns, labels = the ``label`` column. The training sample is
    collected to the driver bounded by ``sample_fraction`` AND ``max_rows``;
    serving (``compile_class_forest`` → ``classify_forest_compiled``) is
    distributed."""
    from edspdf_spark.operators.features import with_layout_features
    from pyspark.sql import functions as F

    feat = with_layout_features(labeled_blocs.filter(~F.col("error")))
    pdf = _bounded_training_pdf(
        feat, [*FEATURE_COLS, "label"], sample_fraction, seed, max_rows
    )
    model = RandomForest(seed=seed, **forest_kw)
    model.fit(_feature_matrix(pdf), pdf["label"].tolist())
    return model


#: P12 ``type-trainable-classifier`` (reference
#: ``pipes/classifiers/trainable_type.py:22-288``): the same skeleton as P8
#: with a node-type label set — the forest is label-set agnostic, so the
#: factory IS the P8 trainer fed type-labeled blocs (e.g. from
#: ``operators.align.align_plain`` over node-type annotation boxes).
train_forest_on_types = train_forest_on_masks


def train_begin_last(
    tagged_blocs,
    sample_fraction: float = 1.0,
    seed: int = 42,
    max_rows: int = TRAIN_MAX_ROWS,
    **forest_kw,
):
    """P9 ``bl-trainable-classifier`` (reference
    ``pipes/classifiers/trainable_multi_label.py:103-110``): a 2-output
    head predicting ``(is_begin, is_last)`` per line. Re-expressed as two
    binary forests over the E1 features, trained on ``align_bioul``-derived
    ``is_begin`` / ``is_last`` truth columns. Returns ``{"is_begin": rf,
    "is_last": rf}``; serve it with ``classify_begin_last_compiled`` after
    ``compile_class_forest`` on each forest."""
    from edspdf_spark.operators.features import with_layout_features
    from pyspark.sql import functions as F

    feat = with_layout_features(tagged_blocs.filter(~F.col("error")))
    pdf = _bounded_training_pdf(
        feat, [*FEATURE_COLS, "is_begin", "is_last"], sample_fraction, seed, max_rows
    )
    X = _feature_matrix(pdf)
    models = {}
    for out_col in ("is_begin", "is_last"):
        rf = RandomForest(seed=seed, **forest_kw)
        rf.fit(X, [str(bool(v)) for v in pdf[out_col]])
        models[out_col] = rf
    return models
