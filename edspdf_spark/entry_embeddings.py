"""Driver queries + DuckDB oracles for the E2-E7 embedding stack.

Every deterministic closed-form component gets a VALUE-LEVEL oracle; the
two NumPy matmul stages (E4 CNN pooler, E6 box transformer) are
deterministic but not SQL-expressible — they ship as rows-only driver
entries with pytest agreement tests instead.

Float-compare strategy: embedding channels are compared as MICRO-UNIT
BIGINTs (``CAST(ROUND(x * 1e6) AS BIGINT)``) concatenated into one string
per row — integer/string equality, no float-hash canonicalization risk.
Both engines use libm sin/cos on identical double inputs (args < 64 here),
which agree far beyond 1e-6.  Literals are emitted with ``repr()`` so both
parsers reconstruct bit-identical doubles; every arithmetic expression is
written with the SAME operation order in Spark and SQL.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edspdf_spark.entry_queries import BLOCS_FROM_LINEITEM_SQL, blocs_from_lineitem
from edspdf_spark.ml.embeddings import (
    MERSENNE,
    WORD_PATTERN,
    _emb_params,
    box_layout_embedding,
    box_transformer_embedding,
    build_vocab,
    cnn_pool_embeddings,
    combine_embeddings,
    page_vectors,
    rescale_bboxes,
    simple_text_embedding,
    simple_text_features,
    sinusoidal_div_terms,
    strided_windows,
)

# shared shapes (small enough that the generated SQL stays readable)
E2_N_POSITIONS = 64
E2_SIZE = 24
E3_EMB_SIZE = 8
HF_WINDOW = 64
HF_STRIDE = 32


def _docs(spark: SparkSession, sf_dir: str, modulo: int) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.filter(F.col("doc_id") % modulo == 0)


def _micro(col):
    return F.round(col * F.lit(1000000.0)).cast("long").cast("string")


def _micro_sql(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * 1000000.0) AS BIGINT)"


# ---------------------------------------------------------------------------
# E2 — box layout embedding
# ---------------------------------------------------------------------------


def _e2_channel_sqls(seed: int, size: int = E2_SIZE, n: int = E2_N_POSITIONS) -> List[str]:
    """The ``size`` channel expressions of the E2 embedding in DuckDB SQL,
    mirroring ml/embeddings.box_layout_embedding term by term."""
    d = size // 6
    feats = ["x0", "y0", "x1", "y1", "(x1 - x0)", "((y1 - y0) * 5.0)"]
    first_vec, last_vec = page_vectors(size, seed)
    fp = "(CASE WHEN page_num = 0 THEN 1.0 ELSE 0.0 END)"
    lp = "(CASE WHEN page_num = MAX(page_num) OVER (PARTITION BY url) THEN 1.0 ELSE 0.0 END)"
    out: List[str] = []
    for feat in feats:
        idx = (
            f"GREATEST(LEAST(CAST(TRUNC(({feat}) * {float(n)!r}) AS BIGINT), {n - 1}), 0)"
        )
        for div in sinusoidal_div_terms(d):
            for fn in ("SIN", "COS"):
                ch = len(out)
                out.append(
                    f"{fn}(CAST({idx} AS DOUBLE) * {div!r})"
                    f" + {first_vec[ch]!r} * {fp} + {last_vec[ch]!r} * {lp}"
                )
    return out


def q_box_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — sinusoidal box-layout embedding as pure column expressions."""
    blocs = blocs_from_lineitem(spark, sf_dir)
    out = box_layout_embedding(blocs, E2_N_POSITIONS, E2_SIZE, seed=7)
    sig = F.concat_ws(",", *[_micro(F.col("emb")[i]) for i in range(E2_SIZE)])
    return out.select("url", "page_num", "bloc_ord", sig.alias("emb_sig"))


def box_embedding_oracle() -> str:
    chans = ", ".join(_micro_sql(c) for c in _e2_channel_sqls(seed=7))
    return f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL})
SELECT url, page_num, bloc_ord,
       array_to_string([{chans}], ',') AS emb_sig
FROM blocs
"""


# ---------------------------------------------------------------------------
# E5 — embedding combiner (sum + cat of two E2 embeddings)
# ---------------------------------------------------------------------------


def q_embedding_combiner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — sum and cat of two E2 embeddings (different page-vector seeds),
    via the real ``combine_embeddings`` (zip_with / concat)."""
    blocs = blocs_from_lineitem(spark, sf_dir)
    a = box_layout_embedding(blocs, E2_N_POSITIONS, E2_SIZE, seed=7, out_col="ea")
    b = box_layout_embedding(a, E2_N_POSITIONS, E2_SIZE, seed=21, out_col="eb")
    summed = combine_embeddings([F.col("ea"), F.col("eb")], "sum")
    catted = combine_embeddings([F.col("ea"), F.col("eb")], "cat")
    out = b.withColumn("es", summed).withColumn("ec", catted)
    sum_sig = F.concat_ws(",", *[_micro(F.col("es")[i]) for i in range(E2_SIZE)])
    cat_sig = F.concat_ws(",", *[_micro(F.col("ec")[i]) for i in range(2 * E2_SIZE)])
    return out.select(
        "url", "page_num", "bloc_ord", sum_sig.alias("sum_sig"), cat_sig.alias("cat_sig")
    )


def embedding_combiner_oracle() -> str:
    a = _e2_channel_sqls(seed=7)
    b = _e2_channel_sqls(seed=21)
    sum_chans = ", ".join(_micro_sql(f"({x}) + ({y})") for x, y in zip(a, b))
    cat_chans = ", ".join(_micro_sql(c) for c in [*a, *b])
    return f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL})
SELECT url, page_num, bloc_ord,
       array_to_string([{sum_chans}], ',') AS sum_sig,
       array_to_string([{cat_chans}], ',') AS cat_sig
FROM blocs
"""


# ---------------------------------------------------------------------------
# E3 — text features / vocab / hash embedding
# ---------------------------------------------------------------------------

_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, i - 1 AS tok_idx, tk[i] AS tok, cnt
  FROM (
    SELECT doc_id, regexp_extract_all(text, '{WORD_PATTERN}') AS tk,
           len(regexp_extract_all(text, '{WORD_PATTERN}')) AS cnt
    FROM documents WHERE doc_id % {{modulo}} = 0
  ), UNNEST(generate_series(1, cnt)) AS t(i)
)"""

_SHAPE_SQL = (
    "CASE WHEN length(tok) >= 100 THEN 'LONG' ELSE "
    "regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace("
    "tok, '[a-z]', 'x', 'g'), '[A-Z]', 'X', 'g'), '[0-9]', 'd', 'g'),"
    " 'x{5,}', 'xxxx', 'g'), 'X{5,}', 'XXXX', 'g'), 'd{5,}', 'dddd', 'g') END"
)


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 vocabulary — distributed sorted-distinct ids ('__unk__' = 0)."""
    docs = _docs(spark, sf_dir, 10).select("doc_id", "text")
    feats = simple_text_features(docs, "text", keep_cols=("doc_id",))
    return build_vocab(feats, "norm")


def text_vocab_oracle() -> str:
    cte = _TOKS_CTE.replace("{modulo}", "10")
    return f"""
WITH {cte}
SELECT '__unk__' AS value, 0 AS id
UNION ALL
SELECT value, CAST(DENSE_RANK() OVER (ORDER BY value) AS INT) AS id
FROM (SELECT DISTINCT lower(tok) AS value FROM toks)
"""


_HASH_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_filter(string_split({s}, ''), c -> c != ''), "
    "c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % {m})"
)


def _hash_vec_sqls(feature_sql: str, salt: int) -> List[str]:
    h = _HASH_FOLD.format(s=feature_sql, m=MERSENNE)
    out = []
    for a, b in _emb_params(E3_EMB_SIZE, salt):
        out.append(
            f"CAST((({h}) * {a} + {b}) % {MERSENNE} AS DOUBLE)"
            f" / {float(MERSENNE)!r} * 2.0 - 1.0"
        )
    return out


# ---------------------------------------------------------------------------
# E7 — strided windows + LayoutLM bbox rescale
# ---------------------------------------------------------------------------


def q_hf_windowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 windowing — strided token windows, best occurrence per token by
    contextualization score (ties → later window)."""
    docs = _docs(spark, sf_dir, 20).select("doc_id", "text")
    toks = simple_text_features(docs, "text", keep_cols=("doc_id",)).select(
        "doc_id", "tok_idx"
    )
    return strided_windows(
        toks, page_cols=("doc_id",), window=HF_WINDOW, stride=HF_STRIDE
    )


def hf_windowing_oracle() -> str:
    W, S = HF_WINDOW, HF_STRIDE
    cte = _TOKS_CTE.replace("{modulo}", "20")
    return f"""
WITH {cte},
base AS (
  SELECT doc_id, tok_idx, cnt AS n_int,
         1 + GREATEST(0, CAST(CEIL(CAST(cnt - {W} AS DOUBLE) / {float(S)!r}) AS INT)) AS n_win
  FROM toks
),
cand AS (
  SELECT b.doc_id, b.tok_idx, b.n_int, u.win
  FROM base b, UNNEST(generate_series(
    GREATEST(CAST(0 AS BIGINT), CAST(CEIL(CAST(b.tok_idx - {W} + 1 AS DOUBLE) / {float(S)!r}) AS BIGINT)),
    LEAST(CAST(FLOOR(b.tok_idx / {float(S)!r}) AS BIGINT), CAST(b.n_win - 1 AS BIGINT))
  )) AS u(win)
),
scored AS (
  SELECT doc_id, tok_idx, win,
    GREATEST(LEAST(tok_idx - win * {S} + 1,
                   (2 + LEAST({W}, n_int - win * {S})) - 1 - (tok_idx - win * {S} + 1)),
             0) AS score
  FROM cand
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id, tok_idx ORDER BY score DESC, win DESC) AS rn
  FROM scored
)
SELECT doc_id, tok_idx, CAST(win AS INT) AS best_window, CAST(score AS INT) AS score
FROM ranked WHERE rn = 1
"""


def q_layoutlm_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 bbox plumbing — sequential 1000-unit page rescale + integer
    (truncating) bbox quantization."""
    blocs = blocs_from_lineitem(spark, sf_dir)
    dims = blocs.withColumn(
        "page_width", F.lit(400.0) + (F.col("bloc_ord") % 50) * F.lit(20.0)
    ).withColumn(
        "page_height", F.lit(300.0) + (F.col("bloc_ord") % 61) * F.lit(15.0)
    )
    out = rescale_bboxes(dims)
    return out.select("url", "page_num", "bloc_ord", "bb_x0", "bb_y0", "bb_x1", "bb_y1")


def layoutlm_bbox_oracle() -> str:
    ratio = "((400.0 + (bloc_ord % 50) * 20.0) / (300.0 + (bloc_ord % 61) * 15.0))"
    w0 = "(400.0 + (bloc_ord % 50) * 20.0)"
    h0 = "(300.0 + (bloc_ord % 61) * 15.0)"
    w1 = f"(CASE WHEN {w0} > 1000 THEN 1000.0 ELSE {w0} END)"
    h1 = f"(CASE WHEN {w0} > 1000 THEN 1000.0 / {ratio} ELSE {h0} END)"
    w2 = f"(CASE WHEN {h1} > 1000 THEN 1000.0 * {ratio} ELSE {w1} END)"
    h2 = f"(CASE WHEN {h1} > 1000 THEN 1000.0 ELSE {h1} END)"
    return f"""
WITH blocs AS ({BLOCS_FROM_LINEITEM_SQL})
SELECT url, page_num, bloc_ord,
       CAST(TRUNC(x0 * {w2}) AS BIGINT) AS bb_x0,
       CAST(TRUNC(y0 * {h2}) AS BIGINT) AS bb_y0,
       CAST(TRUNC(x1 * {w2}) AS BIGINT) AS bb_x1,
       CAST(TRUNC(y1 * {h2}) AS BIGINT) AS bb_y1
FROM blocs
"""


# ---------------------------------------------------------------------------
# E4 / E6 — deterministic NumPy stages (rows-only driver checks)
# ---------------------------------------------------------------------------


def q_line_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 line pooling — max over each doc's token embeddings (max is
    order-independent, so the oracle compare is float-order-proof)."""
    from edspdf_spark.ml.embeddings import pool_line_embeddings

    docs = _docs(spark, sf_dir, 50).select("doc_id", "text")
    feats = simple_text_features(docs, "text", keep_cols=("doc_id",))
    emb = simple_text_embedding(feats, size=E3_EMB_SIZE)
    pooled = pool_line_embeddings(emb, line_cols=("doc_id",), mode="max")
    sig = F.concat_ws(",", *[_micro(F.col("emb")[i]) for i in range(E3_EMB_SIZE)])
    return pooled.select("doc_id", sig.alias("emb_sig"))


def line_pooling_oracle() -> str:
    cte = _TOKS_CTE.replace("{modulo}", "50")
    shape_v = _hash_vec_sqls(_SHAPE_SQL, salt=1)
    prefix_v = _hash_vec_sqls("substring(lower(tok), 1, 3)", salt=2)
    suffix_v = _hash_vec_sqls("right(lower(tok), 3)", salt=3)
    maxes = ", ".join(
        _micro_sql(f"MAX(({s}) + ({p}) + ({u}))")
        for s, p, u in zip(shape_v, prefix_v, suffix_v)
    )
    return f"""
WITH {cte}
SELECT doc_id, array_to_string([{maxes}], ',') AS emb_sig
FROM toks GROUP BY doc_id
"""


def q_text_features_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 composite — tokenizer/word-shape/affix features AND the
    shape+prefix+suffix hash-embedding signature per token in one frame
    (one scan through the real operators; previously two driver slots)."""
    docs = _docs(spark, sf_dir, 20).select("doc_id", "text")
    feats = simple_text_features(docs, "text", keep_cols=("doc_id",))
    emb = simple_text_embedding(feats, size=E3_EMB_SIZE)
    sig = F.concat_ws(",", *[_micro(F.col("emb")[i]) for i in range(E3_EMB_SIZE)])
    return emb.select(
        "doc_id", "tok_idx", "tok", "shape", "prefix", "suffix", "norm",
        sig.alias("emb_sig"),
    )


def text_features_embedding_oracle() -> str:
    cte = _TOKS_CTE.replace("{modulo}", "20")
    shape_v = _hash_vec_sqls(_SHAPE_SQL, salt=1)
    prefix_v = _hash_vec_sqls("substring(lower(tok), 1, 3)", salt=2)
    suffix_v = _hash_vec_sqls("right(lower(tok), 3)", salt=3)
    chans = ", ".join(
        _micro_sql(f"({s}) + ({p}) + ({u})")
        for s, p, u in zip(shape_v, prefix_v, suffix_v)
    )
    return f"""
WITH {cte}
SELECT doc_id, tok_idx, tok, {_SHAPE_SQL} AS shape,
       substring(lower(tok), 1, 3) AS prefix,
       right(lower(tok), 3) AS suffix,
       lower(tok) AS norm,
       array_to_string([{chans}], ',') AS emb_sig
FROM toks
"""


def q_layoutlm_line_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 composite — LayoutLM bbox rescale rows + per-line max-pooled
    embedding rows, union-tagged (previously two driver slots)."""
    bbox = q_layoutlm_bbox(spark, sf_dir).select(
        F.lit("bbox").alias("probe"),
        F.col("url"),
        "page_num",
        "bloc_ord",
        F.concat_ws(",", "bb_x0", "bb_y0", "bb_x1", "bb_y1").alias("sig"),
    )
    pool = q_line_pooling(spark, sf_dir).select(
        F.lit("pool").alias("probe"),
        F.col("doc_id").cast("string").alias("url"),
        F.lit(-1).alias("page_num"),
        F.lit(-1).alias("bloc_ord"),
        F.col("emb_sig").alias("sig"),
    )
    return bbox.unionAll(pool)


def layoutlm_line_pooling_oracle() -> str:
    return f"""
SELECT 'bbox' AS probe, url, page_num, bloc_ord,
       bb_x0 || ',' || bb_y0 || ',' || bb_x1 || ',' || bb_y1 AS sig
FROM ({layoutlm_bbox_oracle()})
UNION ALL
SELECT 'pool', CAST(doc_id AS VARCHAR), -1, -1, emb_sig
FROM ({line_pooling_oracle()})
"""


# E4 oracle shape: small enough that the weight literals stay readable,
# structurally identical to the production default (multi-kernel same-pad
# conv → relu → channel concat → max-pool → linear).
E4_OC = 4
E4_KS = (2, 3)
E4_OUT = 8


def _dec4(x: float) -> str:
    """4-decimal literal — parses to the identical double in Python (via
    N/10000 correct rounding) and DuckDB (decimal → double conversion)."""
    return f"{float(x):.4f}"


def _m4(col):
    """1e-4-quantum integer signature (coarser than micro-units: E4/E6
    accumulate sums in different orders across engines, so leave headroom
    above the ~1e-13 float noise)."""
    return F.round(col * F.lit(10000.0)).cast("long").cast("string")


def _m4_sql(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * 10000.0) AS BIGINT)"


def _e4_weights():
    """Seeded CNN weights quantized to 4 decimals — the SAME doubles are
    reconstructed from the SQL literals, so Spark and DuckDB run the exact
    arithmetic (only accumulation order differs)."""
    import numpy as np

    from edspdf_spark.ml.embeddings import _cnn_weights

    convs, lin_w, lin_b = _cnn_weights(E3_EMB_SIZE, E4_OC, E4_KS, E4_OUT, seed=11)
    q = lambda a: np.round(a * 10000.0) / 10000.0  # noqa: E731
    return [(q(w), b * 0.0) for w, b in convs], q(lin_w), lin_b * 0.0


def q_cnn_pooled_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — hash token embeddings pooled per doc through the quantized
    multi-kernel CNN (conv → relu → concat → max-pool → linear), via the
    production streaming sorted-partition mapInPandas plan."""
    docs = _docs(spark, sf_dir, 10).select("doc_id", "text")
    feats = simple_text_features(docs, "text", keep_cols=("doc_id",))
    emb = simple_text_embedding(feats, size=E3_EMB_SIZE)
    pooled = cnn_pool_embeddings(
        emb,
        group_cols=("doc_id",),
        in_dim=E3_EMB_SIZE,
        out_channels=E4_OC,
        kernel_sizes=E4_KS,
        output_size=E4_OUT,
        weights=_e4_weights(),
    )
    sig = F.concat_ws(",", *[_m4(F.col("emb")[i]) for i in range(E4_OUT)])
    return pooled.select("doc_id", sig.alias("emb_sig"))


def cnn_pooled_embedding_oracle() -> str:
    """Relational formulation of the E4 kernel: conv as a position-shift
    join (out[t] += emb[t + j - pad] · w[·,·,j]), relu+max-pool as
    GREATEST/MAX, linear head as a second weighted-sum join."""
    convs, lin_w, _ = _e4_weights()
    wrows = []
    ch0 = 0
    for (w, _b), k in zip(convs, E4_KS):
        pad = k // 2
        for oc in range(E4_OC):
            for c in range(E3_EMB_SIZE):
                for j in range(k):
                    v = w[oc, c, j]
                    if v != 0.0:
                        wrows.append(f"({ch0 + oc},{c},{j},{pad},{_dec4(v)})")
        ch0 += E4_OC
    lrows = [
        f"({o},{ch},{_dec4(lin_w[o, ch])})"
        for o in range(E4_OUT)
        for ch in range(E4_OC * len(E4_KS))
        if lin_w[o, ch] != 0.0
    ]
    cte = _TOKS_CTE.replace("{modulo}", "10")
    shape_v = _hash_vec_sqls(_SHAPE_SQL, salt=1)
    prefix_v = _hash_vec_sqls("substring(lower(tok), 1, 3)", salt=2)
    suffix_v = _hash_vec_sqls("right(lower(tok), 3)", salt=3)
    chans = ", ".join(
        f"({s}) + ({p}) + ({u})" for s, p, u in zip(shape_v, prefix_v, suffix_v)
    )
    return f"""
WITH {cte},
ev AS (
  SELECT doc_id, tok_idx, cnt, [{chans}] AS e FROM toks
),
emb AS (
  SELECT doc_id, tok_idx, cnt, i - 1 AS c, e[i] AS v
  FROM ev, UNNEST(generate_series(1, {E3_EMB_SIZE})) AS t(i)
),
w AS (
  SELECT * FROM (VALUES {",".join(wrows)}) AS t(ch, c, j, pad, v)
),
lw AS (
  SELECT * FROM (VALUES {",".join(lrows)}) AS t(o, ch, v)
),
doclen AS (SELECT doc_id, MAX(cnt) AS n FROM toks GROUP BY doc_id),
conv AS (
  SELECT e.doc_id, e.tok_idx - w.j + w.pad AS t, w.ch,
         SUM(e.v * CAST(w.v AS DOUBLE)) AS s
  FROM emb e JOIN w ON w.c = e.c
  GROUP BY 1, 2, 3
),
pooled AS (
  SELECT c.doc_id, c.ch, MAX(GREATEST(c.s, 0.0)) AS p
  FROM conv c JOIN doclen d ON d.doc_id = c.doc_id
  WHERE c.t >= 0 AND c.t < d.n
  GROUP BY 1, 2
),
outv AS (
  SELECT p.doc_id, l.o, SUM(p.p * CAST(l.v AS DOUBLE)) AS val
  FROM pooled p JOIN lw l ON l.ch = p.ch
  GROUP BY 1, 2
)
SELECT doc_id,
       string_agg({_m4_sql("val")}, ',' ORDER BY o) AS emb_sig
FROM outv GROUP BY doc_id
"""


# E6 oracle shape: dim 12 (divisible by 6 for the E2 input), 2 heads, one
# layer — structurally identical to the production default, small enough
# that the weight literals stay readable.
E6_DIM = 12
E6_HEADS = 2
E6_DH = E6_DIM // E6_HEADS
E6_URL_MOD = 37


def _e6_weights():
    """Seeded transformer weights quantized to 4 decimals (same doubles
    reconstructed from the SQL literals)."""
    import numpy as np

    from edspdf_spark.ml.embeddings import _transformer_weights

    w = _transformer_weights(E6_DIM, E6_HEADS, seed=13)
    return {k: np.round(v * 10000.0) / 10000.0 for k, v in w.items()}


def q_box_transformer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — per-page relative-attention contextualization of the E2
    embeddings (multi-head content attention + 32-bucket relative x/y
    bias, softmax, residual + layernorm, FFN, layernorm), quantized
    weights, via the production streaming sorted-partition plan."""
    blocs = blocs_from_lineitem(spark, sf_dir).filter(
        F.col("url").cast("long") % E6_URL_MOD == 0
    )
    withemb = box_layout_embedding(blocs, E2_N_POSITIONS, E6_DIM, seed=7)
    out = box_transformer_embedding(
        withemb, dim=E6_DIM, n_heads=E6_HEADS, n_layers=1, weights=[_e6_weights()]
    )
    sig = F.concat_ws(",", *[_m4(F.col("emb")[i]) for i in range(E6_DIM)])
    return out.select("url", "page_num", "bloc_ord", sig.alias("emb_sig"))


def _mat_values(m, transpose: bool = False) -> str:
    """(row, col, value) VALUES rows for a 2-D weight matrix."""
    rows = []
    for r in range(m.shape[0]):
        for c in range(m.shape[1]):
            v = m[r, c]
            rows.append(f"({r},{c},{_dec4(v)})")
    return ",".join(rows)


def box_transformer_oracle() -> str:
    """Relational formulation of one E6 attention layer. Dense pair/channel
    grids guard against dropped zero-contribution rows; softmax via
    MAX-shift + EXP/SUM; layernorm as the numpy two-pass mean/var."""
    w = _e6_weights()
    pos_rows = ",".join(
        f"({axis},{b},{h},{_dec4(w['pos'][axis, b, h])})"
        for axis in range(2)
        for b in range(32)
        for h in range(E6_HEADS)
    )
    chans = ", ".join(
        f"({c})" for c in _e2_channel_sqls(seed=7, size=E6_DIM, n=E2_N_POSITIONS)
    )
    bx = f"GREATEST(LEAST(CAST(FLOOR((p.cxj - p.cxi) * 16.0) AS BIGINT) + 16, 31), 0)"
    by = f"GREATEST(LEAST(CAST(FLOOR((p.cyj - p.cyi) * 16.0) AS BIGINT) + 16, 31), 0)"
    key = "url, page_num"
    return f"""
WITH blocs0 AS ({BLOCS_FROM_LINEITEM_SQL}),
blocs AS (SELECT * FROM blocs0 WHERE CAST(url AS BIGINT) % {E6_URL_MOD} = 0),
ev AS (
  SELECT {key}, bloc_ord, (x0 + x1) / 2 AS cx, (y0 + y1) / 2 AS cy,
         [{chans}] AS e
  FROM blocs
),
emb AS (
  SELECT {key}, bloc_ord, i - 1 AS c, e[i] AS v
  FROM ev, UNNEST(generate_series(1, {E6_DIM})) AS t(i)
),
wq AS (SELECT * FROM (VALUES {_mat_values(w['wq'])}) AS t(ci, co, v)),
wk AS (SELECT * FROM (VALUES {_mat_values(w['wk'])}) AS t(ci, co, v)),
wv AS (SELECT * FROM (VALUES {_mat_values(w['wv'])}) AS t(ci, co, v)),
wo AS (SELECT * FROM (VALUES {_mat_values(w['wo'])}) AS t(ci, co, v)),
pos AS (SELECT * FROM (VALUES {pos_rows}) AS t(axis, bucket, head, v)),
ff1 AS (SELECT * FROM (VALUES {_mat_values(w['ff1'])}) AS t(o, c, v)),
ff2 AS (SELECT * FROM (VALUES {_mat_values(w['ff2'])}) AS t(c, o, v)),
qp AS (
  SELECT e.url, e.page_num, e.bloc_ord, w.co,
         SUM(e.v * CAST(w.v AS DOUBLE)) AS v
  FROM emb e JOIN wq w ON w.ci = e.c GROUP BY 1, 2, 3, 4
),
kp AS (
  SELECT e.url, e.page_num, e.bloc_ord, w.co,
         SUM(e.v * CAST(w.v AS DOUBLE)) AS v
  FROM emb e JOIN wk w ON w.ci = e.c GROUP BY 1, 2, 3, 4
),
vp AS (
  SELECT e.url, e.page_num, e.bloc_ord, w.co,
         SUM(e.v * CAST(w.v AS DOUBLE)) AS v
  FROM emb e JOIN wv w ON w.ci = e.c GROUP BY 1, 2, 3, 4
),
dots AS (
  SELECT q.url, q.page_num, q.bloc_ord AS i, k.bloc_ord AS j, q.co // {E6_DH} AS h,
         SUM(q.v * k.v) AS dot
  FROM qp q JOIN kp k
    ON k.url = q.url AND k.page_num = q.page_num AND k.co = q.co
  GROUP BY 1, 2, 3, 4, 5
),
pairs AS (
  SELECT a.url, a.page_num, a.bloc_ord AS i, a.cx AS cxi, a.cy AS cyi,
         b.bloc_ord AS j, b.cx AS cxj, b.cy AS cyj, hh.h
  FROM ev a
  JOIN ev b ON b.url = a.url AND b.page_num = a.page_num,
       (SELECT i - 1 AS h FROM UNNEST(generate_series(1, {E6_HEADS})) AS t(i)) hh
),
scr AS (
  SELECT p.url, p.page_num, p.i, p.j, p.h,
         COALESCE(d.dot, 0.0) / SQRT({float(E6_DH)!r}) + px.v + py.v AS s
  FROM pairs p
  LEFT JOIN dots d
    ON d.url = p.url AND d.page_num = p.page_num
   AND d.i = p.i AND d.j = p.j AND d.h = p.h
  JOIN pos px ON px.axis = 0 AND px.head = p.h AND px.bucket = {bx}
  JOIN pos py ON py.axis = 1 AND py.head = p.h AND py.bucket = {by}
),
mx AS (SELECT {key}, i, h, MAX(s) AS m FROM scr GROUP BY 1, 2, 3, 4),
att AS (
  SELECT s.url, s.page_num, s.i, s.j, s.h, EXP(s.s - m.m) AS a
  FROM scr s JOIN mx m
    ON m.url = s.url AND m.page_num = s.page_num AND m.i = s.i AND m.h = s.h
),
asum AS (SELECT {key}, i, h, SUM(a) AS z FROM att GROUP BY 1, 2, 3, 4),
ctx AS (
  SELECT a.url, a.page_num, a.i AS bloc_ord, v.co,
         SUM((a.a / z.z) * v.v) AS v
  FROM att a
  JOIN asum z
    ON z.url = a.url AND z.page_num = a.page_num AND z.i = a.i AND z.h = a.h
  JOIN vp v
    ON v.url = a.url AND v.page_num = a.page_num AND v.bloc_ord = a.j
   AND v.co // {E6_DH} = a.h
  GROUP BY 1, 2, 3, 4
),
ao AS (
  SELECT c.url, c.page_num, c.bloc_ord, w.co AS c,
         SUM(c.v * CAST(w.v AS DOUBLE)) AS v
  FROM ctx c JOIN wo w ON w.ci = c.co GROUP BY 1, 2, 3, 4
),
x1 AS (
  SELECT e.url, e.page_num, e.bloc_ord, e.c, e.v + COALESCE(a.v, 0.0) AS v
  FROM emb e LEFT JOIN ao a
    ON a.url = e.url AND a.page_num = e.page_num
   AND a.bloc_ord = e.bloc_ord AND a.c = e.c
),
st1 AS (SELECT {key}, bloc_ord, AVG(v) AS mu FROM x1 GROUP BY 1, 2, 3),
st2 AS (
  SELECT x.url, x.page_num, x.bloc_ord, AVG((x.v - s.mu) * (x.v - s.mu)) AS var
  FROM x1 x JOIN st1 s
    ON s.url = x.url AND s.page_num = x.page_num AND s.bloc_ord = x.bloc_ord
  GROUP BY 1, 2, 3
),
ln1 AS (
  SELECT x.url, x.page_num, x.bloc_ord, x.c,
         (x.v - s.mu) / SQRT(t.var + 1e-05) AS v
  FROM x1 x
  JOIN st1 s ON s.url = x.url AND s.page_num = x.page_num AND s.bloc_ord = x.bloc_ord
  JOIN st2 t ON t.url = x.url AND t.page_num = x.page_num AND t.bloc_ord = x.bloc_ord
),
h1 AS (
  SELECT l.url, l.page_num, l.bloc_ord, f.o,
         GREATEST(SUM(l.v * CAST(f.v AS DOUBLE)), 0.0) AS v
  FROM ln1 l JOIN ff1 f ON f.c = l.c GROUP BY 1, 2, 3, 4
),
h2 AS (
  SELECT h.url, h.page_num, h.bloc_ord, f.c,
         SUM(h.v * CAST(f.v AS DOUBLE)) AS v
  FROM h1 h JOIN ff2 f ON f.o = h.o GROUP BY 1, 2, 3, 4
),
x2 AS (
  SELECT l.url, l.page_num, l.bloc_ord, l.c, l.v + COALESCE(h.v, 0.0) AS v
  FROM ln1 l LEFT JOIN h2 h
    ON h.url = l.url AND h.page_num = l.page_num
   AND h.bloc_ord = l.bloc_ord AND h.c = l.c
),
su1 AS (SELECT {key}, bloc_ord, AVG(v) AS mu FROM x2 GROUP BY 1, 2, 3),
su2 AS (
  SELECT x.url, x.page_num, x.bloc_ord, AVG((x.v - s.mu) * (x.v - s.mu)) AS var
  FROM x2 x JOIN su1 s
    ON s.url = x.url AND s.page_num = x.page_num AND s.bloc_ord = x.bloc_ord
  GROUP BY 1, 2, 3
),
ln2 AS (
  SELECT x.url, x.page_num, x.bloc_ord, x.c,
         (x.v - s.mu) / SQRT(t.var + 1e-05) AS v
  FROM x2 x
  JOIN su1 s ON s.url = x.url AND s.page_num = x.page_num AND s.bloc_ord = x.bloc_ord
  JOIN su2 t ON t.url = x.url AND t.page_num = x.page_num AND t.bloc_ord = x.bloc_ord
)
SELECT url, page_num, bloc_ord,
       string_agg({_m4_sql("v")}, ',' ORDER BY c) AS emb_sig
FROM ln2 GROUP BY url, page_num, bloc_ord
"""
