"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each query exercises one operator family from SURVEY.md §2 over the driver's
testdata tables, with an ANSI-SQL oracle producing identical values (column
names aligned, deterministic arithmetic only — float expressions use the
same operation order in both engines).

The synthetic "blocs" used by the spatial-operator queries are derived from
lineitem with exact integer→double arithmetic so Spark and DuckDB compute
bit-identical coordinates:

    url      = l_orderkey
    page_num = l_linenumber % 3
    bloc_ord = l_linenumber
    x0 = (l_partkey % 40) / 100.0          x1 = x0 + 0.3 + (l_suppkey % 7) / 20.0
    y0 = (l_partkey % 53) / 80.0           y1 = y0 + 0.012 + (l_suppkey % 11) / 400.0
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edspdf_spark.schemas import BLOC_SCHEMA


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# synthetic blocs from lineitem (shared by the spatial queries)
# ---------------------------------------------------------------------------

# NOTES for engine portability:
# * STRING is accepted by both Spark SQL and DuckDB (alias of VARCHAR);
# * numerators are CAST AS DOUBLE because Spark parses bare `100.0` as
#   DECIMAL while DuckDB parses it as DOUBLE — double/decimal → double in
#   both, with bit-identical results;
# * (l_orderkey, l_linenumber) is NOT unique in the driver's synthetic
#   lineitem, so bloc_ord packs (linenumber, partkey, suppkey) — and the
#   projection is DISTINCT because even that key has a duplicate FULL row
#   at sf0.001 (verified; sf0.01/sf0.1 are clean), which would make window
#   partitions/orders non-deterministic across engines.
_BLOC_SQL_EXPRS = {
    "url": "CAST(l_orderkey AS STRING)",
    "page_num": "CAST(l_linenumber % 3 AS INT)",
    "bloc_ord": "CAST(l_linenumber * 1000000 + l_partkey * 100 + l_suppkey AS INT)",
    "x0": "CAST(l_partkey % 40 AS DOUBLE) / 100.0",
    "x1": "CAST(l_partkey % 40 AS DOUBLE) / 100.0 + 0.3 + CAST(l_suppkey % 7 AS DOUBLE) / 20.0",
    "y0": "CAST(l_partkey % 53 AS DOUBLE) / 80.0",
    "y1": "CAST(l_partkey % 53 AS DOUBLE) / 80.0 + 0.012 + CAST(l_suppkey % 11 AS DOUBLE) / 400.0",
}

BLOCS_FROM_LINEITEM_SQL = (
    "SELECT DISTINCT "
    + ", ".join(f"{expr} AS {name}" for name, expr in _BLOC_SQL_EXPRS.items())
    + ", CAST(NULL AS STRING) AS text, NULL AS props,"
    " CAST(NULL AS STRING) AS label, FALSE AS error FROM lineitem"
)


def blocs_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    df = li.selectExpr(
        *[f"{expr} AS {name}" for name, expr in _BLOC_SQL_EXPRS.items()],
        "CAST(NULL AS STRING) AS text",
        "CAST(array() AS array<struct<italic:boolean,bold:boolean,begin:int,end:int,fontname:string>>) AS props",
        "CAST(NULL AS STRING) AS label",
        "CAST(FALSE AS BOOLEAN) AS error",
    )
    return df.distinct()


# masks used by the mask-argmax query (same literals in Spark and SQL)
Q_MASKS = [
    ("header", 0.0, 0.0, 1.0, 0.15),
    ("body", 0.05, 0.2, 0.95, 0.85),
    ("footer", 0.0, 0.9, 1.0, 1.0),
]
Q_THRESHOLD = 0.1


def mask_sql_rows() -> str:
    """VALUES list replicating classify_mask's full catch-all stack:
    user masks (rank=insertion), pollution ±1e4 (rank=n), align catch-all
    ±1e5 with NULL label (rank=n+1)."""
    rows = [
        f"('{label}', {x0}, {y0}, {x1}, {y1}, {rank})"
        for rank, (label, x0, y0, x1, y1) in enumerate(Q_MASKS)
    ]
    n = len(Q_MASKS)
    rows.append(f"('pollution', -10000.0, -10000.0, 10000.0, 10000.0, {n})")
    rows.append(f"(CAST(NULL AS STRING), -100000.0, -100000.0, 100000.0, 100000.0, {n + 1})")
    return ", ".join(rows)


def q_mask_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/A1 — literal-mask overlap argmax (one Project) via the REAL operator."""
    from edspdf_spark.operators.classify import classify_mask

    blocs = blocs_from_lineitem(spark, sf_dir)
    out = classify_mask(blocs, Q_MASKS, threshold=Q_THRESHOLD)
    return out.select(
        "url", "page_num", "bloc_ord", F.col("label").alias("mask_label")
    )


MASK_ARGMAX_ORACLE = f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL}),
masks(m_label, m_x0, m_y0, m_x1, m_y1, m_rank) AS (VALUES {{mask_rows}}),
scored AS (
  SELECT b.url, b.page_num, b.bloc_ord, m.m_label, m.m_rank,
    CASE WHEN
      (GREATEST(LEAST(m.m_x1, b.x1) - GREATEST(m.m_x0, b.x0), 0)
       * GREATEST(LEAST(m.m_y1, b.y1) - GREATEST(m.m_y0, b.y0), 0))
      / (CASE WHEN (b.x1-b.x0)*(b.y1-b.y0) = 0 THEN 1.0 ELSE (b.x1-b.x0)*(b.y1-b.y0) END)
      < {Q_THRESHOLD} THEN 0.0
    ELSE
      (GREATEST(LEAST(m.m_x1, b.x1) - GREATEST(m.m_x0, b.x0), 0)
       * GREATEST(LEAST(m.m_y1, b.y1) - GREATEST(m.m_y0, b.y0), 0))
      / (CASE WHEN (m.m_x1-m.m_x0)*(m.m_y1-m.m_y0) = 0 THEN 1.0 ELSE (m.m_x1-m.m_x0)*(m.m_y1-m.m_y0) END)
    END AS score
  FROM blocs b CROSS JOIN masks m
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY url, page_num, bloc_ord ORDER BY score DESC, m_rank ASC
  ) AS rn FROM scored
)
SELECT url, page_num, bloc_ord, m_label AS mask_label FROM ranked WHERE rn = 1
"""


def mask_argmax_oracle() -> str:
    return MASK_ARGMAX_ORACLE.replace("{mask_rows}", mask_sql_rows())


def q_layout_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — box layout features as pure projections + per-url window."""
    from edspdf_spark.operators.features import with_layout_features

    blocs = blocs_from_lineitem(spark, sf_dir)
    out = with_layout_features(blocs)
    return out.select(
        "url",
        "page_num",
        "bloc_ord",
        F.col("f_width").alias("width"),
        F.col("f_height").alias("height"),
        F.col("f_first_page").alias("first_page"),
        F.col("f_last_page").alias("last_page"),
    )


LAYOUT_FEATURES_ORACLE = f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL})
SELECT url, page_num, bloc_ord,
  x1 - x0 AS width,
  y1 - y0 AS height,
  CAST(page_num = MIN(page_num) OVER (PARTITION BY url) AS DOUBLE) AS first_page,
  CAST(page_num = MAX(page_num) OVER (PARTITION BY url) AS DOUBLE) AS last_page
FROM blocs
"""


def q_bioul_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (tagging half) — B/I/L/U by position within an ordered group."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type")
    ordered = w.orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(ordered))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn(
            "bioul",
            F.when(F.col("cnt") == 1, F.lit("U"))
            .when(F.col("rn") == 1, F.lit("B"))
            .when(F.col("rn") == F.col("cnt"), F.lit("L"))
            .otherwise(F.lit("I")),
        )
        .select("event_id", "user_id", "event_type", "bioul")
    )


BIOUL_ORACLE = """
SELECT event_id, user_id, event_type,
  CASE WHEN cnt = 1 THEN 'U' WHEN rn = 1 THEN 'B'
       WHEN rn = cnt THEN 'L' ELSE 'I' END AS bioul
FROM (
  SELECT event_id, user_id, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY user_id, event_type) AS cnt
  FROM events
) t
"""


def q_group_concat_separators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6's SQL-expressible core — ordered concat with dy/median separator
    rules (newline vs paragraph thresholds), per url."""
    blocs = blocs_from_lineitem(spark, sf_dir).withColumn(
        "text", F.concat(F.lit("L"), F.col("bloc_ord").cast("string"))
    )
    w = Window.partitionBy("url")
    wo = w.orderBy("page_num", "bloc_ord")
    df = (
        blocs.withColumn("next_y1", F.lead("y1").over(wo))
        .withColumn("next_page", F.lead("page_num").over(wo))
        .withColumn("med_h", F.expr("percentile(y1 - y0, 0.5)").over(w))
        .withColumn(
            "sep",
            F.when(F.col("next_page").isNull(), F.lit(""))
            .when(F.col("next_page") != F.col("page_num"), F.lit("\n\n"))
            .when((F.col("next_y1") - F.col("y1")) / F.col("med_h") > 1.5, F.lit("\n\n"))
            .when((F.col("next_y1") - F.col("y1")) / F.col("med_h") > 0.2, F.lit("\n"))
            .otherwise(F.lit(" ")),
        )
        .withColumn("piece", F.concat("text", "sep"))
    )
    return (
        df.groupBy("url")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("page_num", "bloc_ord", "piece"))
                    ),
                    lambda s: s["piece"],
                ),
            ).alias("doc_text")
        )
        .select("url", "doc_text")
    )


GROUP_CONCAT_ORACLE = f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL}),
t AS (
  SELECT url, page_num, bloc_ord, 'L' || CAST(bloc_ord AS VARCHAR) AS text, y0, y1,
    LEAD(y1) OVER (PARTITION BY url ORDER BY page_num, bloc_ord) AS next_y1,
    LEAD(page_num) OVER (PARTITION BY url ORDER BY page_num, bloc_ord) AS next_page,
    MEDIAN(y1 - y0) OVER (PARTITION BY url) AS med_h
  FROM blocs
),
p AS (
  SELECT url, page_num, bloc_ord, text ||
    CASE WHEN next_page IS NULL THEN ''
         WHEN next_page != page_num THEN chr(10) || chr(10)
         WHEN (next_y1 - y1) / med_h > 1.5 THEN chr(10) || chr(10)
         WHEN (next_y1 - y1) / med_h > 0.2 THEN chr(10)
         ELSE ' ' END AS piece
  FROM t
)
SELECT url, STRING_AGG(piece, '' ORDER BY page_num, bloc_ord) AS doc_text
FROM p GROUP BY url
"""


def q_label_factorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """list_factorize (utils/collections.py:279-297): first-seen-order
    integer codes for a label vocabulary."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("event_type").agg(F.min("event_id").alias("first_id"))
    w = Window.orderBy("first_id")
    return first_seen.select(
        "event_type", (F.row_number().over(w) - 1).alias("code")
    )


LABEL_FACTORIZE_ORACLE = """
SELECT event_type,
  CAST(ROW_NUMBER() OVER (ORDER BY first_id) - 1 AS INT) AS code
FROM (SELECT event_type, MIN(event_id) AS first_id FROM events GROUP BY event_type) t
"""


# ---------------------------------------------------------------------------
# A3/A4/A5 — per-document src annotation boxes (the fork's alignment family)
# ---------------------------------------------------------------------------
#
# Four page-agnostic horizontal bands per url; the synthetic blocs span
# y ∈ [0, 0.69], so every band (incl. "list") wins the argmax for some blocs.
# node_num/rank feed A4's composite label (reference utils/alignment.py:455-478).

_SRC_ROWS = [
    ("title", 0.0, 0.0, 1.0, 0.25, 10, 0, 0),
    ("text", 0.0, 0.25, 1.0, 0.45, 11, 1, 1),
    ("table", 0.0, 0.45, 1.0, 0.6, 12, 2, 2),
    ("list", 0.0, 0.6, 1.0, 1.0, 13, 3, 3),
]
_ALIGN_THRESHOLD = 0.1


def src_boxes_for(spark: SparkSession, blocs: DataFrame) -> DataFrame:
    lit = spark.createDataFrame(
        _SRC_ROWS,
        "label string, x0 double, y0 double, x1 double, y1 double,"
        " node_num int, rank int, src_ord int",
    )
    return (
        blocs.select("url")
        .distinct()
        .crossJoin(F.broadcast(lit))
        .withColumn("page_num", F.lit(None).cast("int"))
    )


# Shared oracle CTE replicating operators/align.py:_match_src exactly
# (pair gate on covered-dst ratio, score = covered-src ratio, argmax with
# first-src-wins ties, catch-all ±1e5 plane score = dst area / (2e5)^2).
def _matched_cte() -> str:
    src_values = ", ".join(
        f"('{lab}', {x0}, {y0}, {x1}, {y1}, {node}, {rank}, {ord_})"
        for lab, x0, y0, x1, y1, node, rank, ord_ in _SRC_ROWS
    )
    t = _ALIGN_THRESHOLD
    ov = (
        "(GREATEST(LEAST(s.s_x1, b.x1) - GREATEST(s.s_x0, b.x0), 0)"
        " * GREATEST(LEAST(s.s_y1, b.y1) - GREATEST(s.s_y0, b.y0), 0))"
    )
    dst = (
        "(CASE WHEN (b.x1-b.x0)*(b.y1-b.y0) = 0 THEN 1.0"
        " ELSE (b.x1-b.x0)*(b.y1-b.y0) END)"
    )
    sarea = (
        "(CASE WHEN (s.s_x1-s.s_x0)*(s.s_y1-s.s_y0) = 0 THEN 1.0"
        " ELSE (s.s_x1-s.s_x0)*(s.s_y1-s.s_y0) END)"
    )
    cov = "(GREATEST(b.x1-b.x0, 0) * GREATEST(b.y1-b.y0, 0))"
    return f"""
blocs AS ({BLOCS_FROM_LINEITEM_SQL}),
urls AS (SELECT DISTINCT url FROM blocs),
srcrows(s_label, s_x0, s_y0, s_x1, s_y1, s_node, s_rankv, s_ord) AS
  (VALUES {src_values}),
src AS (SELECT u.url AS s_url, s.* FROM urls u CROSS JOIN srcrows s),
scored AS (
  SELECT b.url, b.page_num, b.bloc_ord,
         'L' || CAST(b.bloc_ord AS VARCHAR) AS text,
         s.s_label, s.s_node, s.s_rankv, s.s_ord,
    CASE WHEN {ov} / {dst} < {t} THEN 0.0 ELSE {ov} / {sarea} END AS pair_score,
    CASE WHEN {cov} / {dst} < {t} THEN 0.0
         ELSE {cov} / 40000000000.0 END AS catch_score
  FROM blocs b JOIN src s ON b.url = s.s_url
),
matched AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY url, page_num, bloc_ord
                                 ORDER BY pair_score DESC, s_ord ASC) AS rn
    FROM scored) t
  WHERE rn = 1
)"""


def q_align_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + A4 in one frame: vocabulary label and composite
    ``{label}|{node_num}|{rank}`` label per bloc, joined on the bloc key
    (both run the real operators; previously two driver slots)."""
    from edspdf_spark.operators.align import align_composite, align_plain

    blocs = blocs_from_lineitem(spark, sf_dir)
    src = src_boxes_for(spark, blocs)
    vocab = align_plain(
        blocs, src, threshold=_ALIGN_THRESHOLD, pollution_label="pollution"
    ).select("url", "page_num", "bloc_ord", F.col("label").alias("vocab_label"))
    comp = align_composite(blocs, src, threshold=_ALIGN_THRESHOLD).select(
        "url", "page_num", "bloc_ord", F.col("label").alias("composite_label")
    )
    return vocab.join(comp, on=["url", "page_num", "bloc_ord"])


def align_variants_oracle() -> str:
    return f"""
WITH {_matched_cte()}
SELECT url, page_num, bloc_ord,
  CASE WHEN catch_score > pair_score THEN 'pollution' ELSE s_label END AS vocab_label,
  CASE WHEN catch_score > pair_score THEN 'pollution|-1|-1'
       ELSE s_label || '|' || CAST(s_node AS VARCHAR) || '|' || CAST(s_rankv AS VARCHAR)
  END AS composite_label
FROM matched
"""


def q_partition_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per matched src box, assemble the block text with the
    label-dependent templates (reference utils/lines_partition.py:88-107);
    complements ``group_concat_separators`` which covers the separator core."""
    from edspdf_spark.operators.align import partition_lines

    blocs = blocs_from_lineitem(spark, sf_dir).withColumn(
        "text", F.concat(F.lit("L"), F.col("bloc_ord").cast("string"))
    )
    out = partition_lines(
        blocs, src_boxes_for(spark, blocs), threshold=_ALIGN_THRESHOLD
    )
    return out.select("url", "page_num", "src_ord", "label", "n_lines", "text")


def partition_templates_oracle() -> str:
    return f"""
WITH {_matched_cte()},
g AS (
  SELECT url, page_num,
    CASE WHEN catch_score > pair_score THEN -1 ELSE s_ord END AS src_ord,
    CASE WHEN catch_score > pair_score THEN 'pollution' ELSE s_label END AS label,
    bloc_ord, text
  FROM matched
)
SELECT url, page_num, CAST(src_ord AS INT) AS src_ord, label,
  COUNT(*) AS n_lines,
  CASE WHEN label IN ('text', 'title', 'pollution')
         THEN label || '@@:' || chr(10) || STRING_AGG(text, ' ' ORDER BY bloc_ord)
       WHEN label = 'table'
         THEN label || ':' || chr(10) || STRING_AGG(text, ' ' ORDER BY bloc_ord)
       WHEN label = 'list'
         THEN label || ':' || chr(10) || STRING_AGG('--> ' || text, chr(10) ORDER BY bloc_ord)
       ELSE NULL END AS text
FROM g GROUP BY url, page_num, src_ord, label
"""


def q_pairwise_order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P11 relational half — all per-page ordered line pairs with the
    18 reference geometry deltas as codegen'd columns (the pluggable-model
    slot stays empty here; reference trainable_order_ba.py:165-221)."""
    from edspdf_spark.operators.order import pairwise_order_features

    blocs = blocs_from_lineitem(spark, sf_dir)
    return pairwise_order_features(blocs)


def pairwise_order_oracle() -> str:
    def delta_sql(a: str, b: str) -> list:
        # mirror operators/order.py:_delta operation order exactly
        axc = f"(({a}x1 - {a}x0) / 2.0)"
        ayc = f"(({a}y1 - {a}y0) / 2.0)"
        bxc = f"(({b}x1 - {b}x0) / 2.0)"
        byc = f"(({b}y1 - {b}y0) / 2.0)"
        aw, ah = f"({a}x1 - {a}x0)", f"({a}y1 - {a}y0)"
        bw, bh = f"({b}x1 - {b}x0)", f"({b}y1 - {b}y0)"
        return [
            f"({axc} - {bxc}) / {aw}",
            f"({ayc} - {byc}) / {ah}",
            f"ln({aw} / {bw})",
            f"ln({ah} / {bh})",
            f"({bxc} - {axc}) / {bw}",
            f"({byc} - {ayc}) / {bh}",
        ]

    from edspdf_spark.operators.order import ORDER_FEATURE_COLS

    exprs = delta_sql("i", "j") + delta_sql("i", "u") + delta_sql("j", "u")
    cols = ", ".join(f"{e} AS {n}" for e, n in zip(exprs, ORDER_FEATURE_COLS))
    return f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL}),
pairs AS (
  SELECT i.url, i.page_num,
    i.bloc_ord AS ord_i, j.bloc_ord AS ord_j,
    i.x0 AS ix0, i.y0 AS iy0, i.x1 AS ix1, i.y1 AS iy1,
    j.x0 AS jx0, j.y0 AS jy0, j.x1 AS jx1, j.y1 AS jy1,
    LEAST(i.x0, j.x0) AS ux0, LEAST(i.y0, j.y0) AS uy0,
    LEAST(i.x1, j.x1) AS ux1, LEAST(i.y1, j.y1) AS uy1
  FROM blocs i JOIN blocs j
    ON i.url = j.url AND i.page_num = j.page_num AND i.bloc_ord != j.bloc_ord
  WHERE i.x1 > i.x0 AND i.y1 > i.y0 AND j.x1 > j.x0 AND j.y1 > j.y0
)
SELECT url, page_num, ord_i, ord_j, {cols} FROM pairs
"""


def q_dummy_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 DummyClassifier — constant projection (dummy.py:6-34)."""
    from edspdf_spark.operators.classify import classify_dummy

    out = classify_dummy(blocs_from_lineitem(spark, sf_dir), "body")
    return out.select("url", "page_num", "bloc_ord", "label")


DUMMY_CLASSIFIER_ORACLE = f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL})
SELECT url, page_num, bloc_ord, 'body' AS label FROM blocs
"""


def q_annotation_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visualization data half — first-occurrence label→CATEGORY20 color
    assignment + pixel-space outline/text coordinates (reference
    ``visualization/annotations.py:62-85``)."""
    from edspdf_spark.operators.visualize import annotation_overlay

    blocs = blocs_from_lineitem(spark, sf_dir).withColumn(
        "label",
        F.when(F.col("y0") < 0.15, "header")
        .when(F.col("y0") > 0.5, "footer")
        .otherwise("body"),
    )
    out = annotation_overlay(blocs, page_width=612.0, page_height=792.0)
    return out.select(
        "url", "page_num", "bloc_ord", "label", "color",
        "rect_x0", "rect_y0", "rect_x1", "rect_y1", "text_x", "text_y",
    )


def annotation_overlay_oracle() -> str:
    from edspdf_spark.operators.visualize import CATEGORY20

    palette = ", ".join(f"'{c}'" for c in CATEGORY20)
    return f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL}),
labeled AS (
  SELECT url, page_num, bloc_ord, x0, y0, x1, y1,
    CASE WHEN y0 < 0.15 THEN 'header' WHEN y0 > 0.5 THEN 'footer' ELSE 'body' END AS label
  FROM blocs
),
seen AS (
  SELECT *,
    MIN(CAST(page_num AS BIGINT) * {1 << 31} + bloc_ord)
      OVER (PARTITION BY url, label) AS first_seen
  FROM labeled
),
ranked AS (
  SELECT *, DENSE_RANK() OVER (PARTITION BY url ORDER BY first_seen) AS lbl_rank
  FROM seen
)
SELECT url, page_num, bloc_ord, label,
  CASE WHEN lbl_rank <= {len(CATEGORY20)}
       THEN ([{palette}])[lbl_rank] END AS color,
  x0 * 612.0 - 2.0 AS rect_x0, y0 * 792.0 AS rect_y0,
  x1 * 612.0 + 2.0 AS rect_x1, y1 * 792.0 AS rect_y1,
  -10.0 + x0 * 612.0 AS text_x, y0 * 792.0 AS text_y
FROM ranked
"""


def q_merged_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6's relational tail — per-(url,label) bounding-box aggregation."""
    blocs = blocs_from_lineitem(spark, sf_dir).withColumn(
        "label",
        F.when(F.col("page_num") == 0, "header")
        .when(F.col("page_num") == 1, "body")
        .otherwise("footer"),
    )
    return blocs.groupBy("url", "label").agg(
        F.min("x0").alias("bx0"),
        F.min("y0").alias("by0"),
        F.max("x1").alias("bx1"),
        F.max("y1").alias("by1"),
        F.count(F.lit(1)).alias("n_boxes"),
    )


MERGED_BBOX_ORACLE = f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL}),
lab AS (
  SELECT *, CASE WHEN page_num = 0 THEN 'header'
                 WHEN page_num = 1 THEN 'body' ELSE 'footer' END AS label2
  FROM blocs
)
SELECT url, label2 AS label, MIN(x0) AS bx0, MIN(y0) AS by0,
       MAX(x1) AS bx1, MAX(y1) AS by1, COUNT(*) AS n_boxes
FROM lab GROUP BY url, label2
"""


# ---------------------------------------------------------------------------
# P5 / P8–P12 — value-checkable serve paths of the trainable heads
# ---------------------------------------------------------------------------
# Float inference is not cross-engine bit-reproducible, so these queries
# bind the heads' one serve path, the quantized operators of
# ml/compiled.py: the model is a deterministic constant (trained on the
# fixed seeded fixture corpus), thresholds / leaves / serve features live
# on an int64 micro grid, and the oracle SQL inlines the same constant as
# nested CASE trees — so traversal, voting and argmax-j are exact in both
# engines. Training-path coverage stays in pytest
# (tests/test_forest_heads.py), like the IVF serve/train split.

#: E1 feature expressions over a blocs CTE named `b2`, in FEATURE_COLS order.
_E1_SQL_EXPRS = [
    "x0",
    "y0",
    "x1",
    "y1",
    "x1 - x0",
    "y1 - y0",
    "CAST(page_num = MIN(page_num) OVER (PARTITION BY url) AS DOUBLE)",
    "CAST(page_num = MAX(page_num) OVER (PARTITION BY url) AS DOUBLE)",
    "CAST(page_num AS DOUBLE)",
    "CAST(LENGTH(text) AS DOUBLE)",
]


def blocs_with_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem blocs + deterministic text so f_n_chars is non-null."""
    return blocs_from_lineitem(spark, sf_dir).withColumn(
        "text", F.concat(F.lit("L"), F.col("bloc_ord").cast("string"))
    )


_BLOCS_TEXT_SQL = (
    f"SELECT url, page_num, bloc_ord, x0, y0, x1, y1, error, "
    f"'L' || CAST(bloc_ord AS VARCHAR) AS text FROM ({BLOCS_FROM_LINEITEM_SQL}) b0"
)


def _e1_micro_cte() -> str:
    """CTE chain blocs→fm: the 10 E1 features micro-quantized as m0..m9."""
    from edspdf_spark.ml.compiled import micro_sql

    ms = ", ".join(f"{micro_sql(e)} AS m{i}" for i, e in enumerate(_E1_SQL_EXPRS))
    return (
        f"b2 AS ({_BLOCS_TEXT_SQL}),\n"
        f"fm AS (SELECT url, page_num, bloc_ord, {ms} FROM b2)"
    )


def q_forest_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 trainable classifier, quantized serve (reference
    trainable.py:176-201 argmax class per line; hard-vote compiled form)."""
    from edspdf_spark.ml.compiled import classify_forest_compiled, fixture_forest_masks

    return classify_forest_compiled(blocs_with_text(spark, sf_dir), fixture_forest_masks())


def forest_classifier_oracle() -> str:
    from edspdf_spark.ml.compiled import fixture_forest_masks, tree_sql, vote_label_sql

    cf = fixture_forest_masks()
    feat = [f"m{i}" for i in range(10)]
    ts = ", ".join(f"{tree_sql(t, feat)} AS t{k}" for k, t in enumerate(cf.trees))
    vote = vote_label_sql(cf, [f"t{k}" for k in range(len(cf.trees))])
    return f"""
WITH {_e1_micro_cte()},
tv AS (SELECT url, page_num, bloc_ord, {ts} FROM fm)
SELECT url, page_num, bloc_ord, {vote} AS label FROM tv
"""


def q_type_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 type classifier — same compiled skeleton, node-type label set
    (reference trainable_type.py:22-288)."""
    from edspdf_spark.ml.compiled import classify_forest_compiled, fixture_forest_types

    return classify_forest_compiled(blocs_with_text(spark, sf_dir), fixture_forest_types())


def type_classifier_oracle() -> str:
    from edspdf_spark.ml.compiled import fixture_forest_types, tree_sql, vote_label_sql

    cf = fixture_forest_types()
    feat = [f"m{i}" for i in range(10)]
    ts = ", ".join(f"{tree_sql(t, feat)} AS t{k}" for k, t in enumerate(cf.trees))
    vote = vote_label_sql(cf, [f"t{k}" for k in range(len(cf.trees))])
    return f"""
WITH {_e1_micro_cte()},
tv AS (SELECT url, page_num, bloc_ord, {ts} FROM fm)
SELECT url, page_num, bloc_ord, {vote} AS label FROM tv
"""


def q_begin_last_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 begin/last 2-output head, quantized serve (reference
    trainable_multi_label.py:103-110)."""
    from edspdf_spark.ml.compiled import (
        classify_begin_last_compiled,
        fixture_forest_begin_last,
    )

    return classify_begin_last_compiled(
        blocs_with_text(spark, sf_dir), fixture_forest_begin_last()
    )


def begin_last_oracle() -> str:
    from edspdf_spark.ml.compiled import fixture_forest_begin_last, tree_sql

    models = fixture_forest_begin_last()
    feat = [f"m{i}" for i in range(10)]
    cols = []
    for name, cf in models.items():
        # classes are ['False', 'True']; majority vote, 2–2 tie -> False
        true_idx = cf.classes.index("True")
        votes = " + ".join(
            f"CASE WHEN {tree_sql(t, feat)} = {true_idx} THEN 1 ELSE 0 END"
            for t in cf.trees
        )
        n = len(cf.trees)
        cols.append(f"(({votes}) * 2 > {n}) AS {name}")
    return f"""
WITH {_e1_micro_cte()}
SELECT url, page_num, bloc_ord, {", ".join(cols)} FROM fm
"""


def q_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 order-num head, quantized serve (reference
    trainable_order_num.py:289-307) — rank_micro is the exact int sum of
    micro leaf means over trees."""
    from edspdf_spark.ml.compiled import fixture_forest_rank, score_order_rank_compiled

    return score_order_rank_compiled(blocs_with_text(spark, sf_dir), fixture_forest_rank())


def order_rank_oracle() -> str:
    from edspdf_spark.ml.compiled import fixture_forest_rank, value_sum_sql

    cf = fixture_forest_rank()
    feat = [f"m{i}" for i in range(10)]
    return f"""
WITH {_e1_micro_cte()}
SELECT url, page_num, bloc_ord,
  CAST({value_sum_sql(cf, feat)} AS BIGINT) AS rank_micro
FROM fm
"""


def q_order_following(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 order-ba head, quantized serve (reference
    trainable_order_ba.py:348-384 forward, :434-443 argmax-j postprocess;
    ties to the smallest ord_j like torch argmax)."""
    from edspdf_spark.ml.compiled import fixture_forest_following, order_followings_compiled

    return order_followings_compiled(
        blocs_from_lineitem(spark, sf_dir), fixture_forest_following()
    )


def order_following_oracle() -> str:
    from edspdf_spark.ml.compiled import fixture_forest_following, micro_sql, value_sum_sql
    from edspdf_spark.operators.order import ORDER_FEATURE_COLS

    cf = fixture_forest_following()
    ms = ", ".join(
        f"{micro_sql(c)} AS m{i}" for i, c in enumerate(ORDER_FEATURE_COLS)
    )
    feat = [f"m{i}" for i in range(len(ORDER_FEATURE_COLS))]
    return f"""
WITH pf AS ({pairwise_order_oracle()}),
fm AS (SELECT url, page_num, ord_i, ord_j, {ms} FROM pf),
sc AS (SELECT url, page_num, ord_i, ord_j,
       CAST({value_sum_sql(cf, feat)} AS BIGINT) AS score_micro FROM fm),
r AS (SELECT *,
      ROW_NUMBER() OVER (PARTITION BY url, page_num, ord_i
                         ORDER BY score_micro DESC, ord_j ASC) AS rn,
      MAX(score_micro) OVER (PARTITION BY url, page_num, ord_i) AS mx
      FROM sc)
SELECT url, page_num, ord_i, ord_j AS follow_ord, mx AS follow_score_micro
FROM r WHERE rn = 1
"""


# P5 — hash-draw random classifier (operators/classify.classify_random_hash)

_RC_LABELS = {"body": 0.7, "pollution": 0.3}
_RC_SALT = 7


def q_random_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 RandomClassifier, counter-based hash draw — expression-only,
    retry/partitioning-stable, SQL-expressible (random.py:8-51 marginals)."""
    from edspdf_spark.operators.classify import classify_random_hash

    out = classify_random_hash(blocs_from_lineitem(spark, sf_dir), _RC_LABELS, salt=_RC_SALT)
    return out.select("url", "page_num", "bloc_ord", "label")


def random_classifier_oracle() -> str:
    # u32 = first 8 hex chars of md5(key); DuckDB has no hex->int cast, so
    # unroll the base-16 polynomial over strpos of each character.
    import numpy as np

    key = (
        "url || ':' || CAST(page_num AS VARCHAR) || ':' || "
        f"CAST(bloc_ord AS VARCHAR) || ':s{_RC_SALT}'"
    )
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    total = float(sum(_RC_LABELS.values()))
    names = list(_RC_LABELS.keys())
    cum, whens = 0.0, []
    for name in names[:-1]:
        cum += _RC_LABELS[name] / total
        thr = int(np.floor(cum * 4294967296.0))
        whens.append(f"WHEN u32 < {thr} THEN '{name}'")
    return f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL}),
k AS (SELECT url, page_num, bloc_ord, substr(md5({key}), 1, 8) AS h FROM blocs),
u AS (SELECT url, page_num, bloc_ord, CAST({terms} AS BIGINT) AS u32 FROM k)
SELECT url, page_num, bloc_ord,
  CASE {" ".join(whens)} ELSE '{names[-1]}' END AS label
FROM u
"""
