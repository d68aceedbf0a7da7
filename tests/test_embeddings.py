"""E2-E7 embedding stack + X6 collate tests.

Each deterministic component is checked against an independent NumPy
re-derivation of the reference semantics (not against the Spark code
itself); the reference implementations are torch modules in
``/root/reference/edspdf/pipes/embeddings/``.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from edspdf_spark.ml.embeddings import (
    box_layout_embedding,
    box_transformer_embedding,
    box_transformer_page,
    _transformer_weights,
    build_vocab,
    cnn_pool_batch,
    cnn_pool_embeddings,
    _cnn_weights,
    combine_embeddings,
    page_vectors,
    rescale_bboxes,
    simple_text_embedding,
    simple_text_features,
    sinusoidal_div_terms,
    strided_windows,
)
from edspdf_spark.plans.collate import (
    batch_compress_dict,
    compress_dict,
    decompress_dict,
    discover_scheme,
    ld_to_dl,
    preprocess_many,
    to_doc_dicts,
)
from edspdf_spark.schemas import BLOC_SCHEMA


def _blocs(spark, rows):
    return spark.createDataFrame(rows, BLOC_SCHEMA)


BLOC_ROWS = [
    ("u1", 0, 0, 0.10, 0.10, 0.90, 0.20, "Hello World", [], None, False),
    ("u1", 0, 1, 0.05, 0.55, 0.45, 0.60, "ABCDEFGH 3.14!", [], None, False),
    ("u1", 1, 0, 0.20, 0.30, 0.80, 0.90, "tail page", [], None, False),
    ("u2", 0, 0, 0.00, 0.00, 1.00, 1.00, "solo", [], None, False),
]


# ---------------------------------------------------------------------------
# E2
# ---------------------------------------------------------------------------


def _numpy_sinusoidal_table(n_positions, dim, temperature=10000.0):
    """Independent re-derivation of layers/sinusoidal_embedding.py:44-52."""
    weight = np.zeros((n_positions, dim))
    position = np.arange(n_positions, dtype=float)[:, None]
    div = np.exp(np.arange(0, dim, 2, dtype=float) * (-math.log(temperature) / dim))
    weight[:, 0::2] = np.sin(position * div)
    weight[:, 1::2] = np.cos(position * div)
    return weight


def _numpy_box_embedding(rows, n_positions=64, size=24, seed=7):
    d = size // 6
    table = _numpy_sinusoidal_table(n_positions, d)
    first_vec, last_vec = page_vectors(size, seed)
    max_page = {}
    for r in rows:
        max_page[r[0]] = max(max_page.get(r[0], 0), r[1])
    out = {}
    for url, page, ord_, x0, y0, x1, y1, *_ in rows:
        feats = [x0, y0, x1, y1, x1 - x0, (y1 - y0) * 5.0]
        idxs = [min(max(int(f * n_positions), 0), n_positions - 1) for f in feats]
        emb = np.concatenate([table[i] for i in idxs])
        if page == 0:
            emb = emb + np.array(first_vec)
        if page == max_page[url]:
            emb = emb + np.array(last_vec)
        out[(url, page, ord_)] = emb
    return out


def test_box_layout_embedding_matches_numpy(spark):
    df = box_layout_embedding(_blocs(spark, BLOC_ROWS))
    got = {(r.url, r.page_num, r.bloc_ord): np.array(r.emb) for r in df.collect()}
    want = _numpy_box_embedding(BLOC_ROWS)
    assert set(got) == set(want)
    for k in want:
        np.testing.assert_allclose(got[k], want[k], atol=1e-12)


def test_div_terms_match_reference_formula():
    d = 4
    div = sinusoidal_div_terms(d)
    assert div == pytest.approx(
        [math.exp(0.0), math.exp(2 * (-math.log(10000.0) / d))]
    )


# ---------------------------------------------------------------------------
# E3
# ---------------------------------------------------------------------------


def test_text_features_shapes_and_affixes(spark):
    df = spark.createDataFrame(
        [("d1", "Hello WORLDWIDE 3.14 x! " + "a" * 120)], "url string, text string"
    )
    rows = simple_text_features(df).orderBy("tok_idx").collect()
    toks = [r.tok for r in rows]
    assert toks == ["Hello", "WORLDWIDE", "3.14", "x", "!", "a" * 120]
    by_tok = {r.tok: r for r in rows}
    assert by_tok["Hello"].shape == "Xxxxx"
    # run cap at 4 (spaCy algorithm: seq < 4 keeps chars)
    assert by_tok["WORLDWIDE"].shape == "XXXX"
    assert by_tok["3.14"].shape == "d.dd"
    assert by_tok["a" * 120].shape == "LONG"
    assert by_tok["WORLDWIDE"].prefix == "wor"
    assert by_tok["WORLDWIDE"].suffix == "ide"
    assert by_tok["x"].suffix == "x"
    assert by_tok["Hello"].norm == "hello"


def test_build_vocab_sorted_ids(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",), ("c",)], "norm string")
    vocab = {r.value: r.id for r in build_vocab(df, "norm").collect()}
    assert vocab == {"__unk__": 0, "a": 1, "b": 2, "c": 3}


def test_text_hash_embedding_deterministic_and_bounded(spark):
    df = spark.createDataFrame([("d1", "alpha beta alpha")], "url string, text string")
    emb = simple_text_embedding(simple_text_features(df), size=8)
    rows = emb.orderBy("tok_idx").collect()
    assert [len(r.emb) for r in rows] == [8, 8, 8]
    # identical tokens → identical embeddings; all channels in [-3, 3)
    assert rows[0].emb == rows[2].emb
    assert rows[0].emb != rows[1].emb
    assert all(-3.0 <= v < 3.0 for r in rows for v in r.emb)


def test_text_hash_embedding_null_token(spark):
    feats = spark.createDataFrame(
        [("d1", 0, "alpha"), ("d1", 1, None)], "url string, tok_idx int, tok string"
    )
    emb = {r.tok_idx: r.emb for r in simple_text_embedding(feats, size=8).collect()}
    assert len(emb[0]) == 8 and emb[1] is None


# ---------------------------------------------------------------------------
# E5
# ---------------------------------------------------------------------------


def test_combine_embeddings_sum_and_cat(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [10.0, 20.0])], "a array<double>, b array<double>"
    )
    out = df.select(
        combine_embeddings([F.col("a"), F.col("b")], "sum").alias("s"),
        combine_embeddings([F.col("a"), F.col("b")], "cat").alias("c"),
    ).first()
    assert out.s == [11.0, 22.0]
    assert out.c == [1.0, 2.0, 10.0, 20.0]
    with pytest.raises(ValueError):
        combine_embeddings([F.col("a")], "mean")


# ---------------------------------------------------------------------------
# E4
# ---------------------------------------------------------------------------


def test_cnn_pool_matches_local_kernel(spark):
    df = spark.createDataFrame(
        [("d1", "one two three four"), ("d2", "x")], "url string, text string"
    )
    emb = simple_text_embedding(simple_text_features(df), size=16)
    pooled = cnn_pool_embeddings(
        emb, group_cols=("url",), in_dim=16, out_channels=16, output_size=16
    )
    got = {r.url: np.array(r.emb) for r in pooled.collect()}
    assert set(got) == {"d1", "d2"}

    convs, lin_w, lin_b = _cnn_weights(16, 16, (3, 4, 5), 16, seed=11)
    local = emb.orderBy("url", "tok_idx").collect()
    for url in ("d1", "d2"):
        mat = np.array([r.emb for r in local if r.url == url])
        want = cnn_pool_batch(mat, convs, lin_w, lin_b)
        np.testing.assert_allclose(got[url], want, atol=1e-10)


def test_cnn_pool_group_spanning_batches(spark):
    # one hot group with 700 tokens (arrow batch = 256 in this suite) must
    # come out as ONE pooled row, identical to the local kernel
    text = " ".join(f"tok{i}" for i in range(700))
    df = spark.createDataFrame([("big", text)], "url string, text string")
    emb = simple_text_embedding(simple_text_features(df), size=16)
    pooled = cnn_pool_embeddings(
        emb, group_cols=("url",), in_dim=16, out_channels=16, output_size=16
    ).collect()
    assert len(pooled) == 1
    convs, lin_w, lin_b = _cnn_weights(16, 16, (3, 4, 5), 16, seed=11)
    mat = np.array([r.emb for r in emb.orderBy("tok_idx").collect()])
    np.testing.assert_allclose(
        np.array(pooled[0].emb), cnn_pool_batch(mat, convs, lin_w, lin_b), atol=1e-10
    )


# ---------------------------------------------------------------------------
# E6
# ---------------------------------------------------------------------------


def test_box_transformer_matches_local_page_kernel(spark):
    df = box_layout_embedding(_blocs(spark, BLOC_ROWS))
    out = box_transformer_embedding(df, dim=24, n_heads=4, n_layers=1)
    got = {(r.url, r.page_num, r.bloc_ord): np.array(r.emb) for r in out.collect()}
    assert len(got) == len(BLOC_ROWS)

    w = _transformer_weights(24, 4, seed=13)
    src = {(r.url, r.page_num, r.bloc_ord): r for r in df.collect()}
    for (url, page) in {(u, p) for (u, p, _) in got}:
        keys = sorted(k for k in src if k[0] == url and k[1] == page)
        embs = np.array([src[k].emb for k in keys])
        boxes = np.array([[src[k].x0, src[k].y0, src[k].x1, src[k].y1] for k in keys])
        want = box_transformer_page(embs, boxes, w, n_heads=4)
        for i, k in enumerate(keys):
            np.testing.assert_allclose(got[k], want[i], atol=1e-10)


def test_box_transformer_rows_are_contextual(spark):
    # moving a neighbor box must change THIS box's output (attention sees it)
    base = _blocs(spark, BLOC_ROWS[:2])
    moved_rows = [BLOC_ROWS[0], ("u1", 0, 1, 0.6, 0.8, 0.9, 0.95, "ABCDEFGH 3.14!", [], None, False)]
    moved = _blocs(spark, moved_rows)
    e1 = box_transformer_embedding(box_layout_embedding(base), dim=24).collect()
    e2 = box_transformer_embedding(box_layout_embedding(moved), dim=24).collect()
    r1 = next(r for r in e1 if r.bloc_ord == 0)
    r2 = next(r for r in e2 if r.bloc_ord == 0)
    assert r1.emb != r2.emb


# ---------------------------------------------------------------------------
# E7
# ---------------------------------------------------------------------------


def test_strided_windows_hand_case(spark):
    # 5 interior tokens, window=3, stride=2 → 2 windows covering [0,3) and
    # [2,5); scores per the reference ramp, tie at t=2 → later window
    toks = spark.createDataFrame(
        [("p", i) for i in range(5)], "doc_id string, tok_idx int"
    )
    out = strided_windows(toks, page_cols=("doc_id",), window=3, stride=2)
    got = {r.tok_idx: (r.best_window, r.score) for r in out.collect()}
    assert got == {0: (0, 1), 1: (0, 2), 2: (1, 1), 3: (1, 2), 4: (1, 1)}


def test_strided_windows_single_window_short_page(spark):
    toks = spark.createDataFrame(
        [("p", i) for i in range(4)], "doc_id string, tok_idx int"
    )
    out = strided_windows(toks, page_cols=("doc_id",), window=10, stride=5)
    rows = out.collect()
    assert {r.best_window for r in rows} == {0}
    # win_len = 2 + 4 = 6; scores = min(pos, 5 - pos), pos = t+1
    assert {r.tok_idx: r.score for r in rows} == {0: 1, 1: 2, 2: 2, 3: 1}


def test_rescale_bboxes_truncates_and_caps(spark):
    df = spark.createDataFrame(
        [
            ("a", 0.5, 0.5, 0.9, 0.9, 2000.0, 500.0),   # width capped
            ("b", 0.5, 0.5, 0.9, 0.9, 500.0, 2000.0),   # height capped
            ("c", 0.5, 0.5, 0.9, 0.9, 800.0, 600.0),    # untouched
        ],
        "url string, x0 double, y0 double, x1 double, y1 double,"
        " page_width double, page_height double",
    )
    got = {r.url: r for r in rescale_bboxes(df).collect()}
    # a: ratio 4 → (1000, 250): bb_x0 = int(0.5*1000) = 500, bb_y0 = 125
    assert (got["a"].bb_x0, got["a"].bb_y0) == (500, 125)
    # b: ratio 0.25 → (250, 1000)
    assert (got["b"].bb_x0, got["b"].bb_y0) == (125, 500)
    # c: untouched dims
    assert (got["c"].bb_x0, got["c"].bb_y0) == (400, 300)


def test_pool_line_embeddings_modes(spark):
    from edspdf_spark.ml.embeddings import pool_line_embeddings

    df = spark.createDataFrame(
        [("l1", 0, [1.0, 4.0]), ("l1", 1, [3.0, 2.0]), ("l2", 0, [5.0, 6.0])],
        "line string, tok_idx int, emb array<double>",
    )
    for mode, want_l1 in (("mean", [2.0, 3.0]), ("max", [3.0, 4.0]), ("sum", [4.0, 6.0])):
        got = {
            r.line: r.emb
            for r in pool_line_embeddings(df, line_cols=("line",), mode=mode).collect()
        }
        assert got["l1"] == pytest.approx(want_l1), mode
        assert got["l2"] == pytest.approx([5.0, 6.0]), mode
    with pytest.raises(ValueError):
        pool_line_embeddings(df, line_cols=("line",), mode="median")


def test_hf_model_forward_is_declared_stub():
    from edspdf_spark.ml.embeddings import hf_model_forward

    with pytest.raises(NotImplementedError):
        hf_model_forward()


# ---------------------------------------------------------------------------
# X6 — preprocess / collate
# ---------------------------------------------------------------------------


def test_compress_decompress_round_trip():
    shared = [1, 2]
    item = {"a": {"x": shared, "y": [3]}, "b": {"x": shared}}
    scheme = discover_scheme(item)
    # shared value appears once, under a |-merged key
    assert sorted(scheme) == ["a/x|b/x", "a/y"]
    flat = compress_dict(item, scheme)
    assert flat["a/x|b/x"] == [1, 2]
    restored = decompress_dict(flat)
    assert restored == {"a": {"x": [1, 2], "y": [3]}, "b": {"x": [1, 2]}}


def test_batch_compress_consistent_keys():
    shared1, shared2 = [1], [2]
    items = [
        {"a": {"x": shared1}, "b": {"x": shared1}},
        {"a": {"x": shared2}, "b": {"x": [9]}},  # scheme fixed by FIRST item
    ]
    out = list(batch_compress_dict(items))
    assert [sorted(d) for d in out] == [["a/x|b/x"], ["a/x|b/x"]]
    # second item stores the FIRST path's value
    assert out[1]["a/x|b/x"] == [2]


def test_preprocess_many_batches(spark):
    blocs = _blocs(spark, BLOC_ROWS)
    batches = list(preprocess_many(blocs, batch_size=1))
    assert len(batches) == 2  # u1, u2
    d1 = decompress_dict({k: v[0] for k, v in batches[0].items()})
    assert d1["url"] == "u1"
    bp = d1["box_preprocessor"]
    assert bp["xmin"] == [[0.10, 0.05], [0.20]]
    assert bp["first_page"] == [[True, True], [False]]
    assert bp["last_page"] == [[False, False], [True]]
    # width computed, not stored twice
    assert bp["width"][0][0] == pytest.approx(0.80)


def test_to_doc_dicts_streams_all_urls(spark):
    urls = [d["url"] for d in to_doc_dicts(_blocs(spark, BLOC_ROWS))]
    assert sorted(urls) == ["u1", "u2"]


def test_ld_to_dl():
    assert ld_to_dl([{"a": 1}, {"a": 2}]) == {"a": [1, 2]}
    assert ld_to_dl([]) == {}


# sha256 of the sorted (url, tok_idx, tok, shape, prefix, suffix, norm,
# emb) rows below, recorded from the expression-path embedding (a Catalyst
# char-fold hash per channel) before the vectorized kernel replaced it.
TEXT_EMBEDDING_PIN = (
    27950,
    "03abfcee24b99fcf932fb298cce5f777d9db524a1ed040f085f740edf6f55659",
)


def test_simple_text_embedding_golden_pin(spark):
    """Token rows (features AND embedding values) over the sf0.001 corpus
    plus edge texts match the pinned digest bit for bit."""
    import hashlib

    from __spark_entry__ import SF0001

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    edge = spark.createDataFrame(
        [
            ("e1", "MiXeD123 CASE!! 3.14,2.71 x"),
            ("e2", ""),
            ("e3", None),
            ("e4", "a" * 150 + " ok"),
        ],
        "url string, text string",
    )
    emb = simple_text_embedding(simple_text_features(docs.unionByName(edge)), size=16)
    rows = sorted(
        (r.url, r.tok_idx, r.tok, r.shape, r.prefix, r.suffix, r.norm, tuple(r.emb))
        for r in emb.collect()
    )
    digest = hashlib.sha256("\n".join(map(repr, rows)).encode()).hexdigest()
    assert (len(rows), digest) == TEXT_EMBEDDING_PIN


def test_text_embedding_arrow_scalar_fallback_paths():
    """Tokens that leave the vectorized fast path (long, non-ASCII,
    embedded NUL) must hash identically to the scalar reference."""
    from edspdf_spark.ml.embeddings import (
        _hash_features_vectorized,
        _poly_scalar,
        _shape_poly_scalar,
    )

    toks = ["hello", "x" * 300, "café", "a\x00b", "WORLDWIDE", "3.14"]
    hs, hp, hu = _hash_features_vectorized(toks)
    for i, t in enumerate(toks):
        low = t.lower()
        assert hs[i] == _shape_poly_scalar(t), t
        assert hp[i] == _poly_scalar(low[:3]), t
        assert hu[i] == _poly_scalar(low[-3:]), t


class TestHfEncoderForward:
    """E7 encoder forward (seeded stand-in): full windowed self-attention
    with best-window recombination, checked against a local NumPy replica
    that enumerates windows by hand."""

    def _tokens(self, spark, n, dim=12, pages=1):
        import numpy as np

        rng = np.random.default_rng(3)
        rows = []
        for p in range(pages):
            for t in range(n):
                rows.append(("u1", p, t, [float(x) for x in rng.standard_normal(dim)]))
        return spark.createDataFrame(
            rows, "url string, page_num int, tok_idx int, emb array<double>"
        )

    def _local_expected(self, tok_rows, dim, n_heads, n_layers, window, stride, seed):
        import numpy as np

        from edspdf_spark.ml.embeddings import (
            _transformer_weights,
            box_transformer_page,
            sinusoidal_div_terms,
        )

        weights = [_transformer_weights(dim, n_heads, seed + i) for i in range(n_layers)]
        divs = sinusoidal_div_terms(max(1, dim // 2))
        L = len(tok_rows)
        n_win = 1 + max(0, -(-(L - window) // stride))
        best = {}
        outs = {}
        for w in range(n_win):
            members = [t for t in range(L) if w * stride <= t < w * stride + window]
            if not members:
                continue
            embs = np.array([tok_rows[t] for t in members])
            pe = np.zeros_like(embs)
            for i, div in enumerate(divs):
                pos = np.array([t - w * stride + 1 for t in members], dtype=float)
                if 2 * i < dim:
                    pe[:, 2 * i] = np.sin(pos * div)
                if 2 * i + 1 < dim:
                    pe[:, 2 * i + 1] = np.cos(pos * div)
            x = embs + pe
            for wt in weights:
                x = box_transformer_page(x, np.zeros((len(members), 4)), wt, n_heads)
            win_len = 2 + min(window, L - w * stride)
            for i, t in enumerate(members):
                pos = t - w * stride + 1
                score = max(min(pos, win_len - 1 - pos), 0)
                key = (score, w)
                if t not in best or key >= best[t]:
                    best[t] = key
                    outs[t] = x[i]
        return outs

    def test_matches_local_replica_across_window_boundary(self, spark):
        import numpy as np

        from edspdf_spark.ml.embeddings import hf_encoder_embedding

        dim, n, window, stride = 12, 23, 8, 4  # several overlapping windows
        df = self._tokens(spark, n, dim)
        out = hf_encoder_embedding(
            df, dim=dim, n_heads=2, n_layers=1, window=window, stride=stride, seed=17
        ).collect()
        assert len(out) == n  # exactly one row per token
        tok_rows = [
            r["emb"] for r in sorted(
                df.collect(), key=lambda r: r["tok_idx"]
            )
        ]
        expected = self._local_expected(tok_rows, dim, 2, 1, window, stride, 17)
        for r in out:
            np.testing.assert_allclose(
                np.array(r["emb"]), expected[r["tok_idx"]], rtol=1e-10, atol=1e-12
            )

    def test_contextuality(self, spark):
        """The same input embedding in different windows/contexts must get
        different contextual outputs (the whole point of the encoder)."""
        import numpy as np

        from edspdf_spark.ml.embeddings import hf_encoder_embedding

        rng = np.random.default_rng(5)
        base = [float(x) for x in rng.standard_normal(12)]
        ctx1 = [float(x) for x in rng.standard_normal(12)]
        ctx2 = [float(x) for x in rng.standard_normal(12)]
        rows = [
            ("a", 0, 0, base), ("a", 0, 1, ctx1),
            ("b", 0, 0, base), ("b", 0, 1, ctx2),
        ]
        df = spark.createDataFrame(
            rows, "url string, page_num int, tok_idx int, emb array<double>"
        )
        out = {
            (r["url"], r["tok_idx"]): np.array(r["emb"])
            for r in hf_encoder_embedding(df, dim=12, window=8, stride=4).collect()
        }
        assert not np.allclose(out[("a", 0)], out[("b", 0)])
