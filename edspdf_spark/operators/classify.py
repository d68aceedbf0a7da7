"""Bloc classifiers P3 (mask), P4 (dummy), P5 (random).

The mask classifier / label alignment (reference
``edspdf/pipes/classifiers/mask.py:182-224`` over the NumPy kernel
``edspdf/utils/alignment.py:14-112``) takes a literal mask list and is
re-expressed as ONE Project of column expressions — no UDF, no join, no
shuffle: per-mask overlap scores, ``greatest(...)`` for the max, and a
first-match when-chain for the label. ``np.argmax`` picks the FIRST
maximal index (alignment.py:55-56), so the chain runs in insertion order;
the pollution catch-all ranks after the user masks (mask.py:204-212).
Per-page annotation boxes are aligned by ``operators/align.py`` instead.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple, Union

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from edspdf_spark.schemas import BLOC_SCHEMA

ALIGN_INF = 100000.0  # reference utils/alignment.py:9
MASK_INF = 10000.0  # reference pipes/classifiers/mask.py:205-211

Mask = Tuple[Optional[str], float, float, float, float]


def _align_labels_expr(blocs: DataFrame, stack: List[Mask], threshold: float) -> DataFrame:
    """A1 alignment for a LITERAL mask stack as pure column expressions.

    The masks are known driver-side (a handful of rectangles), so the
    argmax is one Project: per-mask scores, ``greatest(...)`` for the max,
    and a first-match when-chain ``score_i == max`` for the label —
    exactly ``np.argmax`` first-wins (alignment.py:55-56). ZERO shuffles,
    no union for the error rows, every expression codegen'd, and each
    score subexpression appears a constant number of times. (Two earlier
    formulations were ~10× slower on 600k blocs: a struct-array
    ``array_min`` evaluates interpreted, and an iterative
    ``when(score > best_score)`` fold re-inlines the whole accumulated
    tree per step — exponential expression size.)

    ``stack`` entries: (label, x0, y0, x1, y1), in rank order.
    """
    dst_raw = (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))
    dst_area = F.when(dst_raw == 0.0, F.lit(1.0)).otherwise(dst_raw)

    scores = []
    for label, mx0, my0, mx1, my1 in stack:
        dx = F.least(F.lit(float(mx1)), F.col("x1")) - F.greatest(
            F.lit(float(mx0)), F.col("x0")
        )
        dy = F.least(F.lit(float(my1)), F.col("y1")) - F.greatest(
            F.lit(float(my0)), F.col("y0")
        )
        overlap = F.greatest(dx, F.lit(0.0)) * F.greatest(dy, F.lit(0.0))
        src_area_raw = (mx1 - mx0) * (my1 - my0)
        src_area = 1.0 if src_area_raw == 0.0 else src_area_raw
        score = F.when(
            overlap / dst_area < F.lit(float(threshold)), F.lit(0.0)
        ).otherwise(overlap / F.lit(float(src_area)))
        scores.append((score, label))

    mx = F.greatest(*[s for s, _ in scores])
    best_label = F.lit(None).cast("string")
    for score, label in reversed(scores):
        best_label = F.when(score == mx, F.lit(label).cast("string")).otherwise(best_label)

    out_cols = [f.name for f in BLOC_SCHEMA.fields]
    return blocs.withColumn(
        "label", F.when(F.col("error"), F.col("label")).otherwise(best_label)
    ).select(*out_cols)


def classify_mask(blocs: DataFrame, masks: Sequence[Mask], threshold: float = 1.0) -> DataFrame:
    """P3 MaskClassifier (mask.py:182-224): user masks + a ``pollution``
    catch-all box (±1e4) appended last, then A1 alignment (whose own ±1e5
    null-label catch-all ranks after pollution, exactly as in the
    reference's double-catch-all stack). Error-sentinel rows keep their
    label."""
    stack = [
        *masks,
        ("pollution", -MASK_INF, -MASK_INF, MASK_INF, MASK_INF),
        (None, -ALIGN_INF, -ALIGN_INF, ALIGN_INF, ALIGN_INF),
    ]
    return _align_labels_expr(blocs, stack, threshold)


def simple_mask_classifier(
    blocs: DataFrame, x0: float, y0: float, x1: float, y1: float, threshold: float = 1.0
) -> DataFrame:
    """Single-mask factory — the mask is labeled ``body`` (mask.py:69-82)."""
    return classify_mask(blocs, [("body", x0, y0, x1, y1)], threshold=threshold)


def classify_dummy(blocs: DataFrame, label: str) -> DataFrame:
    """P4 DummyClassifier (dummy.py:6-34): constant projection."""
    return blocs.withColumn(
        "label", F.when(F.col("error"), F.col("label")).otherwise(F.lit(label))
    )


def classify_random_hash(
    blocs: DataFrame,
    labels: Union[List[str], Dict[str, float]],
    salt: int = 0,
) -> DataFrame:
    """P5 RandomClassifier (random.py:8-51 semantics: one categorical
    draw per line from the label distribution).

    The reference draws from ONE stateful generator across documents in
    iteration order — meaningless under distribution. Here the draw is
    ``md5(url:page:ord:salt)``'s first 32 bits mapped through the
    cumulative distribution — a counter-based RNG in the Philox spirit
    but built from engine built-ins only. Unlike a stateful generator it
    is **stable under retries, partitioning and speculative execution**
    (the draw depends only on the row key), which is the property that
    actually matters at 10^12 docs; it is also expression-only (zero
    Python, whole-stage codegen) and ANSI-SQL-expressible, so the driver
    can value-check it cross-engine. Same label marginals as the
    reference's ``rng.choice``.
    """
    if isinstance(labels, list):
        labels = {c: 1.0 for c in labels}
    total = float(sum(labels.values()))
    names = list(labels.keys())
    # integer cumulative thresholds on the u32 lattice (exactly the SQL's)
    cum, thresholds = 0.0, []
    for name in names[:-1]:
        cum += labels[name] / total
        thresholds.append(int(np.floor(cum * 4294967296.0)))
    key = F.concat_ws(
        ":",
        F.col("url"),
        F.col("page_num").cast("string"),
        F.col("bloc_ord").cast("string"),
        F.lit(f"s{salt}"),
    )
    u32 = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    drawn = F.lit(names[-1])
    for name, thr in reversed(list(zip(names[:-1], thresholds))):
        drawn = F.when(u32 < F.lit(thr), F.lit(name)).otherwise(drawn)
    return blocs.withColumn(
        "label", F.when(F.col("error"), F.col("label")).otherwise(drawn)
    )
