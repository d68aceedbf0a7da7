"""P10/P11 — pairwise reading-order scorer skeleton.

The reference's ``order-ba`` / ``order-num`` trainable classifiers score
every line pair (i, j) per page with ``einsum(fc_i(e_i), fc_j(e_j)) +
MLP(Δgeometry)`` where Δgeometry is an 18-value vector
(``/root/reference/edspdf/pipes/classifiers/trainable_order_ba.py:165-221``):
``delta(b_i, b_j) + delta(b_i, union(b_i,b_j)) + delta(b_j, union(b_i,b_j))``,
each ``delta`` = ``[d_x_ctr, d_y_ctr, log(w_a/w_b), log(h_a/h_b),
rev_x_ctr, rev_y_ctr]``.

The deep model is out of relational scope (SURVEY §7.3 — the reading-order
CONTRACT is covered deterministically by the ``Box.__lt__`` sort in P1);
this module claims the relational half: the pairwise feature generation as
a pure DataFrame plan — a self-join on (url, page_num) plus 18 codegen'd
column expressions, no UDF — with a pluggable ``scorer`` hook where a
broadcast model (Pandas UDF) would slot in. The P10/P11 heads train here
(``train_order_following``, ``train_order_rank``) and serve through
:mod:`edspdf_spark.ml.compiled` (``compile_proba_forest`` →
``order_followings_compiled``, ``compile_reg_forest`` →
``score_order_rank_compiled``).

Faithfulness notes (semantics mirrored verbatim, quirks included):

* the reference's ``union_bounding_box`` takes ``min`` for x1/y1 — NOT a
  true union (``trainable_order_ba.py:197-204``); reproduced as-is since
  it is what the trained model consumes;
* ``delta``'s "centre" terms are half-extents ``(x1-x0)/2``, not midpoints
  (``:206-219``); reproduced as-is. A measurable consequence of the two
  quirks combined: for EQUAL-SIZE boxes all 18 features are exactly zero
  regardless of position — the geometry encoder is position-blind and
  reads only box extents (plus the min-corner union's mixed extents when
  positions make different boxes supply the min corners). The trainable
  heads below therefore learn order from extent variation across lines,
  which real pages have and uniform synthetic grids do not.

At 10^12 docs the join key (url, page_num) keeps the O(lines²) blowup
strictly per-page (~40 lines → ~1.6k pairs), and the equi-join shuffles
both sides by the same key — one shuffle, co-partitioned.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _delta(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> list:
    """Reference ``delta(bi, bj)`` (trainable_order_ba.py:206-219)."""
    a_xc = (ax1 - ax0) / F.lit(2.0)
    a_yc = (ay1 - ay0) / F.lit(2.0)
    aw = ax1 - ax0
    ah = ay1 - ay0
    b_xc = (bx1 - bx0) / F.lit(2.0)
    b_yc = (by1 - by0) / F.lit(2.0)
    bw = bx1 - bx0
    bh = by1 - by0
    return [
        (a_xc - b_xc) / aw,
        (a_yc - b_yc) / ah,
        F.log(aw / bw),
        F.log(ah / bh),
        (b_xc - a_xc) / bw,
        (b_yc - a_yc) / bh,
    ]


#: Column names of the 18 pairwise features, in reference order
#: (r_bi_bj = delta(i,j) + delta(i,union) + delta(j,union)).
ORDER_FEATURE_COLS = [
    f"{pair}_{part}"
    for pair in ("dij", "diu", "dju")
    for part in ("x_ctr", "y_ctr", "log_w", "log_h", "rev_x_ctr", "rev_y_ctr")
]


def pairwise_order_features(
    blocs: DataFrame,
    scorer: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> DataFrame:
    """All ordered line pairs (i, j), i ≠ j, per (url, page) with the 18
    reference geometry features as columns. ``scorer`` (optional) maps the
    feature DataFrame to one with a ``score`` column — the slot where the
    reference's pairwise model would run as a broadcast Pandas UDF."""
    cols = ["url", "page_num", "bloc_ord", "x0", "y0", "x1", "y1"]
    # degenerate (zero-extent) boxes are dropped up front: the reference's
    # torch path would emit inf/nan features for them (division by the
    # extent, log of the ratio) while Spark SQL division-by-zero yields
    # NULL — silently different semantics feeding forest training. Real
    # extractor output always has positive extents (fold drops empty
    # lines), so the filter is a no-op on the production path.
    base = blocs.filter(
        ~F.col("error") & (F.col("x1") > F.col("x0")) & (F.col("y1") > F.col("y0"))
    ).select(*cols)
    i = base.select(
        "url", "page_num", F.col("bloc_ord").alias("ord_i"),
        F.col("x0").alias("ix0"), F.col("y0").alias("iy0"),
        F.col("x1").alias("ix1"), F.col("y1").alias("iy1"),
    )
    j = base.select(
        "url", "page_num", F.col("bloc_ord").alias("ord_j"),
        F.col("x0").alias("jx0"), F.col("y0").alias("jy0"),
        F.col("x1").alias("jx1"), F.col("y1").alias("jy1"),
    )
    pairs = i.join(j, on=["url", "page_num"]).filter(F.col("ord_i") != F.col("ord_j"))

    ix0, iy0, ix1, iy1 = F.col("ix0"), F.col("iy0"), F.col("ix1"), F.col("iy1")
    jx0, jy0, jx1, jy1 = F.col("jx0"), F.col("jy0"), F.col("jx1"), F.col("jy1")
    # reference union_bounding_box — x1/y1 via min, verbatim (:197-204)
    ux0 = F.least(ix0, jx0)
    uy0 = F.least(iy0, jy0)
    ux1 = F.least(ix1, jx1)
    uy1 = F.least(iy1, jy1)

    feats = (
        _delta(ix0, iy0, ix1, iy1, jx0, jy0, jx1, jy1)
        + _delta(ix0, iy0, ix1, iy1, ux0, uy0, ux1, uy1)
        + _delta(jx0, jy0, jx1, jy1, ux0, uy0, ux1, uy1)
    )
    out = pairs.select(
        "url",
        "page_num",
        "ord_i",
        "ord_j",
        *[c.alias(name) for c, name in zip(feats, ORDER_FEATURE_COLS)],
    )
    return scorer(out) if scorer is not None else out


# ---------------------------------------------------------------------------
# P10/P11 trainable heads — forests over the relational feature plans
# ---------------------------------------------------------------------------

#: Binary labels for the P10 following classifier.
_FOLLOW, _OTHER = "F", "O"


def train_order_following(
    blocs: DataFrame,
    sample_fraction: float = 1.0,
    seed: int = 42,
    max_rows: Optional[int] = None,
    **forest_kw,
):
    """P10 ``order-ba``: train the pairwise "is line j right after line i"
    scorer (reference ``trainable_order_ba.py:348-384``: einsum(fc_i, fc_j)
    + MLP(18 geometry deltas), softmax over j). Re-expressed as a binary
    forest on the same 18 geometry features — torch is absent, and the
    geometry MLP input is exactly :data:`ORDER_FEATURE_COLS`.

    Truth comes from P1's deterministic reading order: ``bloc_ord`` is the
    per-page rank, so ``ord_j == ord_i + 1`` IS the reference's ``'F'``
    cell in ``encode_followings`` (``:222-296``) for the uniform-node-type
    case (the node-type masking rows 'M' require composite node labels the
    synthetic truth does not carry; the last-line-follows-itself
    special-case is likewise out of the pairwise feature domain and
    documented as a deviation).

    Training collects a driver-side sample bounded by ``sample_fraction``
    AND ``max_rows`` (deterministic ordered limit — plans as distributed
    TakeOrdered, never a full collect); serving is distributed."""
    from edspdf_spark.ml.forest import (
        TRAIN_MAX_ROWS,
        RandomForest,
        _bounded_training_pdf,
    )

    feats = pairwise_order_features(blocs).withColumn(
        "y",
        F.when(F.col("ord_j") == F.col("ord_i") + 1, F.lit(_FOLLOW)).otherwise(
            F.lit(_OTHER)
        ),
    )
    pdf = _bounded_training_pdf(
        feats,
        [*ORDER_FEATURE_COLS, "y"],
        sample_fraction,
        seed,
        TRAIN_MAX_ROWS if max_rows is None else max_rows,
        order_cols=["url", "page_num", "ord_i", "ord_j"],
    )
    model = RandomForest(seed=seed, **forest_kw)
    model.fit(pdf[ORDER_FEATURE_COLS].to_numpy(dtype="float64"), pdf["y"].tolist())
    return model


def append_following_to_labels(composite_blocs: DataFrame, follows: DataFrame) -> DataFrame:
    """Reference ``postprocess`` parity (``trainable_order_ba.py:443-466``):
    extend the ``label|node|rank`` composite (A4) with ``|follow_ord``,
    ``-1`` when no prediction exists. ``follows`` is
    ``order_followings_compiled``'s ``(url, page_num, ord_i, follow_ord)``.
    One co-partitioned left join."""
    f = follows.select(
        "url", "page_num", F.col("ord_i").alias("bloc_ord"), "follow_ord"
    )
    joined = composite_blocs.join(f, on=["url", "page_num", "bloc_ord"], how="left")
    return joined.withColumn(
        "label",
        F.concat_ws(
            "|",
            F.col("label"),
            F.coalesce(F.col("follow_ord").cast("string"), F.lit("-1")),
        ),
    ).drop("follow_ord")


def train_order_rank(
    blocs: DataFrame,
    sample_fraction: float = 1.0,
    seed: int = 42,
    max_rows: Optional[int] = None,
    **forest_kw,
):
    """P11 ``order-num``: train the per-line normalized-order regressor
    (reference ``trainable_order_num.py:248-260``: target =
    ``count('A') / (len - count('M'))`` — the fraction of comparable lines
    on the page that come BEFORE the line, which for the uniform-node-type
    case equals ``bloc_ord / n_page_lines``; ``:289-307``: a sigmoid MLP
    regresses it). Re-expressed as a :class:`RegressionForest` on the E1
    layout features. Same bounded-driver-sample training contract as P10."""
    from edspdf_spark.ml.forest import (
        TRAIN_MAX_ROWS,
        RegressionForest,
        _bounded_training_pdf,
    )
    from edspdf_spark.operators.features import FEATURE_COLS, with_layout_features
    from pyspark.sql import Window

    n_page = Window.partitionBy("url", "page_num")
    feat = with_layout_features(blocs.filter(~F.col("error"))).withColumn(
        "rank_frac",
        F.col("bloc_ord").cast("double") / F.count(F.lit(1)).over(n_page),
    )
    pdf = _bounded_training_pdf(
        feat,
        [*FEATURE_COLS, "rank_frac"],
        sample_fraction,
        seed,
        TRAIN_MAX_ROWS if max_rows is None else max_rows,
    )
    model = RegressionForest(seed=seed, **forest_kw)
    model.fit(pdf[FEATURE_COLS].to_numpy(dtype="float64"), pdf["rank_frac"])
    return model
