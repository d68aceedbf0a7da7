"""Quantized, SQL-compilable serve path of the trainable forest heads.

Train → compile → serve
-----------------------
A forest head is fitted by a ``train_*`` function
(:mod:`edspdf_spark.ml.forest`, :mod:`edspdf_spark.operators.order`),
compiled once on the driver, and served on Spark by one operator:

* P8/P12 class labels: ``train_forest_on_masks`` / ``train_forest_on_types``
  → :func:`compile_class_forest` → :func:`classify_forest_compiled`;
* P9 begin/last: ``train_begin_last`` → :func:`compile_class_forest` on
  each of its two forests → :func:`classify_begin_last_compiled`;
* P10 following links: ``train_order_following`` →
  :func:`compile_proba_forest` (``pos_class="F"``) →
  :func:`order_followings_compiled`;
* P11 order rank: ``train_order_rank`` → :func:`compile_reg_forest` →
  :func:`score_order_rank_compiled`.

The float forests are deterministic (seeded NumPy CART), but float
inference is not cross-engine reproducible at the bit level, so the serve
path is integer:

* thresholds, leaf payloads and serve-time features are quantized to an
  integer **micro grid** (``floor(x * 1e6 + 0.5)`` — round-half-up, an
  exact IEEE754 sequence in both engines), so tree traversal, voting and
  argmax are pure int64 arithmetic with zero float-comparison ambiguity;
* class forests serve by **hard majority vote** (per-tree argmax of the
  integer leaf counts, forest argmax of the integer vote counts, ties to
  the lexicographically-first class) — the classic RF voting rule, fully
  integer; value forests (P10 follow score, P11 rank regression) inline
  each leaf's payload as a micro int and serve the **sum over trees**;
* NULLs route as in the float forest and in SQL ``CASE WHEN NULL <= t``:
  a NULL/NaN feature goes right at every node (it quantizes to
  :data:`NULL_MICRO`, above every threshold; training learns only finite
  thresholds);
* an ``error`` bloc gets a NULL prediction.

The driver oracle checks each ``*_compiled`` operator against DuckDB SQL
that inlines the same compiled trees as nested CASE expressions
(:func:`tree_sql`), on a model trained once on a **fixed, seeded,
sf-independent fixture corpus** (generated in-code, below). Training
(bounded distributed sampling, Gini/SSE splits) is covered by pytest in
``tests/test_forest_heads.py`` and ``tests/test_order_and_config.py``.

Reference parity: serve semantics mirror
``edspdf/pipes/classifiers/trainable.py:176-201`` (argmax class per line),
``trainable_multi_label.py:103-110`` (begin/last 2-output head),
``trainable_order_ba.py:348-384,434-443`` (pairwise score → argmax-j
following link, ties to the first maximal j) and
``trainable_order_num.py:289-307`` (per-line order score).

Scale: serving is a vectorized ``mapInPandas`` traversal per Arrow batch
(int64 array ops, no per-row Python); the compiled model is a few hundred
ints riding the closure — broadcast once per executor. No shuffle is added
beyond what the feature plan already has.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd

MICRO = 1_000_000

#: Quantized NULL/NaN feature: above every finite threshold, so
#: ``x <= thr`` is False and the row goes right. Built in int64 —
#: ``float(2**63)`` cast to int64 wraps to INT64_MIN.
NULL_MICRO = np.iinfo(np.int64).max


def quantize(x: np.ndarray) -> np.ndarray:
    """Round-half-up to the micro grid — matches SQL
    ``CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)`` bit-for-bit (multiply,
    add and floor are all exactly-rounded IEEE754 ops). NaN maps to
    :data:`NULL_MICRO`, where SQL has NULL."""
    x = np.asarray(x, dtype=np.float64)
    null = np.isnan(x)
    q = np.floor(np.where(null, 0.0, x) * MICRO + 0.5).astype(np.int64)
    return np.where(null, NULL_MICRO, q)


@dataclass
class CompiledTree:
    feature: np.ndarray  # int64, -1 = leaf
    thr: np.ndarray  # int64 micro thresholds
    left: np.ndarray  # int64 child ids
    right: np.ndarray
    leaf: np.ndarray  # int64 payload (class index or micro value)


@dataclass
class CompiledForest:
    trees: List[CompiledTree]
    classes: Optional[List[str]]  # None for value forests


def _compile_tree(t: dict, leaf: np.ndarray) -> CompiledTree:
    """One flat float tree → int64 form with ``leaf`` as the payload."""
    return CompiledTree(
        feature=t["feature"].astype(np.int64),
        thr=quantize(t["threshold"]),
        left=t["left"].astype(np.int64),
        right=t["right"].astype(np.int64),
        leaf=np.asarray(leaf, dtype=np.int64),
    )


def compile_class_forest(rf) -> CompiledForest:
    """RandomForest → hard-vote compiled form: leaf payload = argmax of the
    integer class counts (np.argmax tie rule: lowest index = first class in
    the sorted class list)."""
    trees = [_compile_tree(t, t["counts"].argmax(axis=1)) for t in rf.trees]
    return CompiledForest(trees=trees, classes=list(rf.classes_))


def compile_proba_forest(rf, pos_class: str) -> CompiledForest:
    """RandomForest → value form: leaf payload = micro-quantized
    P(pos_class) at the leaf (counts are ints; the ratio is quantized once
    at compile time, so serve-side sums are exact int64)."""
    ci = rf.classes_.index(pos_class)
    trees = []
    for t in rf.trees:
        c = t["counts"]
        s = c.sum(axis=1)
        trees.append(_compile_tree(t, quantize(c[:, ci] / np.where(s == 0, 1, s))))
    return CompiledForest(trees=trees, classes=None)


def compile_reg_forest(rf) -> CompiledForest:
    """RegressionForest → value form: leaf payload = micro-quantized mean."""
    return CompiledForest(
        trees=[_compile_tree(t, quantize(t["mean"])) for t in rf.trees], classes=None
    )


def _traverse(tree: CompiledTree, Xm: np.ndarray) -> np.ndarray:
    """Vectorized int64 traversal → leaf payload per row of ``Xm``."""
    node = np.zeros(len(Xm), dtype=np.int64)
    while True:
        f = tree.feature[node]
        active = np.nonzero(f >= 0)[0]
        if not len(active):
            break
        go_left = Xm[active, f[active]] <= tree.thr[node[active]]
        node[active] = np.where(
            go_left, tree.left[node[active]], tree.right[node[active]]
        )
    return tree.leaf[node]


def predict_label(cf: CompiledForest, Xm: np.ndarray) -> np.ndarray:
    """Hard majority vote; ties break to the lowest class index."""
    votes = np.zeros((len(Xm), len(cf.classes)), dtype=np.int64)
    for tree in cf.trees:
        votes[np.arange(len(Xm)), _traverse(tree, Xm)] += 1
    return np.array(cf.classes, dtype=object)[votes.argmax(axis=1)]


def predict_value_sum(cf: CompiledForest, Xm: np.ndarray) -> np.ndarray:
    """Sum of per-tree micro leaf payloads (int64-exact; ``n_trees ×`` the
    forest-average in micro units)."""
    out = np.zeros(len(Xm), dtype=np.int64)
    for tree in cf.trees:
        out += _traverse(tree, Xm)
    return out


# ---------------------------------------------------------------------------
# SQL compilation (DuckDB oracle side)
# ---------------------------------------------------------------------------


def micro_sql(expr: str) -> str:
    return f"CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS BIGINT)"


def tree_sql(tree: CompiledTree, feat_cols: List[str], node: int = 0) -> str:
    """Nested ``CASE WHEN m_f <= thr THEN … ELSE … END`` over pre-quantized
    BIGINT feature columns; leaves inline their int payload. A NULL feature
    falls to ELSE (right child), as :data:`NULL_MICRO` does in
    :func:`_traverse` and NaN does in the float forest."""
    f = int(tree.feature[node])
    if f < 0:
        return str(int(tree.leaf[node]))
    return (
        f"CASE WHEN {feat_cols[f]} <= {int(tree.thr[node])} "
        f"THEN {tree_sql(tree, feat_cols, int(tree.left[node]))} "
        f"ELSE {tree_sql(tree, feat_cols, int(tree.right[node]))} END"
    )


def vote_label_sql(cf: CompiledForest, tree_cols: List[str]) -> str:
    """Hard-vote argmax over class indices with ties to the lowest index:
    the first class whose vote count is >= every LATER class's count is
    exactly the lowest argmax (earlier classes already failed, so the max
    lives at or after this index)."""
    k = len(cf.classes)
    if k == 1:  # degenerate single-class forest: no CASE arms to emit
        return f"'{cf.classes[0]}'"
    votes = [
        "(" + " + ".join(f"CASE WHEN {t} = {c} THEN 1 ELSE 0 END" for t in tree_cols) + ")"
        for c in range(k)
    ]
    parts = []
    for c in range(k - 1):
        cond = " AND ".join(f"{votes[c]} >= {votes[j]}" for j in range(c + 1, k))
        parts.append(f"WHEN {cond} THEN '{cf.classes[c]}'")
    return "CASE " + " ".join(parts) + f" ELSE '{cf.classes[k - 1]}' END"


def value_sum_sql(cf: CompiledForest, feat_cols: List[str]) -> str:
    return "(" + " + ".join(tree_sql(t, feat_cols) for t in cf.trees) + ")"


# ---------------------------------------------------------------------------
# Fixed seeded fixture corpus (sf-independent training input)
# ---------------------------------------------------------------------------

#: E1 feature order — must match operators.features.FEATURE_COLS.
_FEATURES = [
    "f_xmin", "f_ymin", "f_xmax", "f_ymax", "f_width", "f_height",
    "f_first_page", "f_last_page", "f_page_num", "f_n_chars",
]

_FIXTURE_SEED = 20260818


@lru_cache(maxsize=1)
def fixture_blocs() -> pd.DataFrame:
    """A deterministic synthetic page corpus: 80 urls × 1–3 pages × 6–14
    lines, geometry drawn from a seeded Philox stream with extent trends
    tied to line rank (the P10 pairwise features are position-blind — they
    read only box extents, see operators/order.py — so rank must show up
    in widths/heights for the following-head to have signal)."""
    rng = np.random.default_rng(_FIXTURE_SEED)
    rows = []
    for u in range(80):
        n_pages = 1 + u % 3
        for p in range(n_pages):
            n_lines = 6 + int(rng.integers(0, 9))
            y = 0.05 + rng.uniform(0.0, 0.02)
            for i in range(n_lines):
                w = 0.85 * (0.96 ** i) + rng.uniform(-0.02, 0.02)
                h = 0.018 * (1.04 ** i) + rng.uniform(-0.001, 0.001)
                x0 = 0.06 + rng.uniform(0.0, 0.04)
                rows.append(
                    {
                        "url": f"fix-{u}",
                        "page_num": p,
                        "bloc_ord": i,
                        "x0": x0,
                        "y0": y,
                        "x1": x0 + max(w, 0.05),
                        "y1": y + max(h, 0.004),
                        "n_chars": int(10 + (w * 80) + rng.integers(0, 12)),
                    }
                )
                y += max(h, 0.004) + rng.uniform(0.02, 0.05)
    return pd.DataFrame(rows)


def _fixture_features(df: pd.DataFrame) -> np.ndarray:
    """E1 layout features of the fixture corpus (NumPy replica of
    operators.features.with_layout_features, same column order)."""
    g = df.groupby("url")["page_num"]
    first = df["page_num"].eq(g.transform("min")).astype(np.float64)
    last = df["page_num"].eq(g.transform("max")).astype(np.float64)
    return np.column_stack(
        [
            df["x0"], df["y0"], df["x1"], df["y1"],
            df["x1"] - df["x0"], df["y1"] - df["y0"],
            first, last,
            df["page_num"].astype(np.float64),
            df["n_chars"].astype(np.float64),
        ]
    ).astype(np.float64)


def _mask_labels(df: pd.DataFrame) -> list:
    """Distant-supervision labels: the P3 mask rule (masks=[('body', 0, 0,
    1, 0.6)], threshold 0.1, pollution catch-all — see classify_mask) has
    the closed form body ⇔ overlap(bloc, body-mask)/area(bloc) ≥ 0.1."""
    oy = np.minimum(df["y1"], 0.6) - np.maximum(df["y0"], 0.0)
    ox = np.minimum(df["x1"], 1.0) - np.maximum(df["x0"], 0.0)
    overlap = np.maximum(ox, 0.0) * np.maximum(oy, 0.0)
    area = (df["x1"] - df["x0"]) * (df["y1"] - df["y0"])
    frac = overlap / np.where(area == 0, 1.0, area)
    return np.where(frac >= 0.1, "body", "pollution").tolist()


def _type_labels(df: pd.DataFrame) -> list:
    """P12 node-type labels: y-banded title/text/table bands + a width rule
    for list lines — a deterministic geometry→type rule standing in for
    align_plain truth (the align-fed training path is pytest-covered)."""
    y0 = df["y0"].to_numpy()
    w = (df["x1"] - df["x0"]).to_numpy()
    out = np.where(
        y0 < 0.12, "title", np.where(y0 > 0.75, "table", np.where(w < 0.55, "list", "text"))
    )
    return out.tolist()


@lru_cache(maxsize=1)
def fixture_forest_masks() -> CompiledForest:
    """P8 constant: forest distant-supervised by the mask rule on the
    fixture corpus, compiled to hard-vote int form."""
    from edspdf_spark.ml.forest import RandomForest

    df = fixture_blocs()
    rf = RandomForest(seed=42, n_trees=4, max_depth=6).fit(
        _fixture_features(df), _mask_labels(df)
    )
    return compile_class_forest(rf)


@lru_cache(maxsize=1)
def fixture_forest_types() -> CompiledForest:
    """P12 constant: same skeleton, node-type label set."""
    from edspdf_spark.ml.forest import RandomForest

    df = fixture_blocs()
    rf = RandomForest(seed=42, n_trees=4, max_depth=6).fit(
        _fixture_features(df), _type_labels(df)
    )
    return compile_class_forest(rf)


@lru_cache(maxsize=1)
def fixture_forest_begin_last() -> dict:
    """P9 constants: two binary forests on (is first line of page, is last
    line of page) truth — the BIOUL begin/last semantics of align_bioul on
    a one-group-per-page corpus."""
    from edspdf_spark.ml.forest import RandomForest

    df = fixture_blocs()
    X = _fixture_features(df)
    g = df.groupby(["url", "page_num"])["bloc_ord"]
    models = {}
    for name, truth in (
        ("is_begin", df["bloc_ord"].eq(g.transform("min"))),
        ("is_last", df["bloc_ord"].eq(g.transform("max"))),
    ):
        rf = RandomForest(seed=42, n_trees=4, max_depth=6).fit(
            X, [str(bool(v)) for v in truth]
        )
        models[name] = compile_class_forest(rf)
    return models


def _pair_delta(a, b) -> list:
    """NumPy replica of operators.order._delta (reference
    trainable_order_ba.py:206-219 — half-extent 'centres', verbatim)."""
    ax0, ay0, ax1, ay1 = a
    bx0, by0, bx1, by1 = b
    a_xc, a_yc = (ax1 - ax0) / 2.0, (ay1 - ay0) / 2.0
    b_xc, b_yc = (bx1 - bx0) / 2.0, (by1 - by0) / 2.0
    aw, ah = ax1 - ax0, ay1 - ay0
    bw, bh = bx1 - bx0, by1 - by0
    return [
        (a_xc - b_xc) / aw, (a_yc - b_yc) / ah,
        np.log(aw / bw), np.log(ah / bh),
        (b_xc - a_xc) / bw, (b_yc - a_yc) / bh,
    ]


@lru_cache(maxsize=1)
def fixture_forest_following() -> CompiledForest:
    """P10 constant: binary forest on the 18 pairwise geometry deltas,
    truth = 'is j the next line after i' (ord_j == ord_i + 1), compiled to
    micro P(follow) leaves so serve-side pair scores are exact ints."""
    from edspdf_spark.ml.forest import RandomForest

    df = fixture_blocs()
    Xs, ys = [], []
    for (_, _), page in df.groupby(["url", "page_num"]):
        page = page.sort_values("bloc_ord")
        boxes = page[["x0", "y0", "x1", "y1"]].to_numpy()
        ords = page["bloc_ord"].to_numpy()
        n = len(page)
        ii, jj = np.nonzero(~np.eye(n, dtype=bool))
        bi = tuple(boxes[ii, k] for k in range(4))
        bj = tuple(boxes[jj, k] for k in range(4))
        bu = (
            np.minimum(bi[0], bj[0]), np.minimum(bi[1], bj[1]),
            np.minimum(bi[2], bj[2]), np.minimum(bi[3], bj[3]),
        )
        feats = _pair_delta(bi, bj) + _pair_delta(bi, bu) + _pair_delta(bj, bu)
        Xs.append(np.column_stack(feats))
        ys.append(np.where(ords[jj] == ords[ii] + 1, "F", "O"))
    X = np.vstack(Xs)
    y = np.concatenate(ys).tolist()
    rf = RandomForest(seed=42, n_trees=4, max_depth=6).fit(X, y)
    return compile_proba_forest(rf, pos_class="F")


@lru_cache(maxsize=1)
def fixture_forest_rank() -> CompiledForest:
    """P11 constant: regression forest on E1 features, target = the
    normalized per-page order fraction (trainable_order_num.py:248-260),
    compiled to micro-mean leaves."""
    from edspdf_spark.ml.forest import RegressionForest

    df = fixture_blocs()
    n_page = df.groupby(["url", "page_num"])["bloc_ord"].transform("count")
    target = df["bloc_ord"].to_numpy(dtype=np.float64) / n_page.to_numpy(np.float64)
    rf = RegressionForest(seed=42, n_trees=4, max_depth=6).fit(
        _fixture_features(df), target
    )
    return compile_reg_forest(rf)


# ---------------------------------------------------------------------------
# Spark serve operators
# ---------------------------------------------------------------------------

_KEYS = ["url", "page_num", "bloc_ord"]


def _serve_layout(blocs, schema_ddl: str, predict_head):
    """Shared E1-feature serve stage: ``predict_head(Xm)`` maps the micro
    feature matrix of a batch to ``{column: values}`` for the schema's
    columns after the bloc key; an ``error`` bloc gets NULL in each."""
    import pyspark.sql.types as T

    from edspdf_spark.operators.features import with_layout_features

    feat = with_layout_features(blocs)
    schema = T.StructType.fromDDL(schema_ddl)
    head_cols = schema.fieldNames()[len(_KEYS):]

    def predict(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[_KEYS]
            if not len(pdf):
                yield out.assign(**{c: pd.Series(dtype=object) for c in head_cols})
                continue
            err = pdf["error"].to_numpy(dtype=bool)
            heads = predict_head(quantize(pdf[_FEATURES].to_numpy(dtype=np.float64)))
            yield out.assign(
                **{c: pd.Series(v, dtype=object).mask(err, None) for c, v in heads.items()}
            )

    return feat.select(*_KEYS, "error", *_FEATURES).mapInPandas(predict, schema=schema)


def classify_forest_compiled(blocs, cf: CompiledForest):
    """P8/P12 quantized serve: (url, page_num, bloc_ord, label) by hard
    vote — vectorized int64 traversal per Arrow batch, model in closure."""
    return _serve_layout(
        blocs,
        "url string, page_num int, bloc_ord int, label string",
        lambda Xm: {"label": predict_label(cf, Xm)},
    )


def classify_begin_last_compiled(blocs, models: dict):
    """P9 quantized serve: boolean is_begin/is_last per line (majority of
    the two-class votes; a 2–2 tie is False, the first sorted class)."""
    return _serve_layout(
        blocs,
        "url string, page_num int, bloc_ord int, is_begin boolean, is_last boolean",
        lambda Xm: {name: predict_label(m, Xm) == "True" for name, m in models.items()},
    )


def order_followings_compiled(blocs, cf: CompiledForest):
    """P10 quantized serve: per line i, follow_ord = argmax_j of the exact
    int pair score (sum of micro P(follow) leaves over trees), ties to the
    smallest ord_j — the torch argmax rule. One co-partitioned self-join,
    one vectorized scoring stage, one max_by agg. Error blocs never enter
    the pair join, so they get no row."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from edspdf_spark.operators.order import ORDER_FEATURE_COLS, pairwise_order_features

    feats = pairwise_order_features(blocs)
    schema = T.StructType.fromDDL(
        "url string, page_num int, ord_i int, ord_j int, score_micro bigint"
    )
    keys = ["url", "page_num", "ord_i", "ord_j"]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pdf.reindex(columns=keys).assign(
                    score_micro=pd.Series(dtype="int64")
                )
                continue
            Xm = quantize(pdf[ORDER_FEATURE_COLS].to_numpy(dtype=np.float64))
            yield pdf[keys].assign(score_micro=predict_value_sum(cf, Xm))

    scored = feats.select(*keys, *ORDER_FEATURE_COLS).mapInPandas(score, schema=schema)
    return scored.groupBy("url", "page_num", "ord_i").agg(
        F.max_by(
            "ord_j", F.struct(F.col("score_micro"), (-F.col("ord_j")).alias("nj"))
        ).alias("follow_ord"),
        F.max("score_micro").alias("follow_score_micro"),
    )


def score_order_rank_compiled(blocs, cf: CompiledForest):
    """P11 quantized serve: rank_micro = exact int sum of micro leaf means
    over trees (n_trees × the forest average, in micro units)."""
    return _serve_layout(
        blocs,
        "url string, page_num int, bloc_ord int, rank_micro bigint",
        lambda Xm: {"rank_micro": predict_value_sum(cf, Xm)},
    )
