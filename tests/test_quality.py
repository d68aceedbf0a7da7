"""Training-data quality operators: repetition signals, PII, domains,
decontamination (``edspdf_spark/functions/quality.py``).

Expected values are hand-computed on tiny frames; a DuckDB differential
runs the same definitions relationally (the driver-side oracle uses the
same SQL shapes)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from edspdf_spark.functions.quality import (
    PII_PATTERNS,
    contaminated_ids,
    decontaminate,
    domain_rollup,
    registered_domain,
    top_ngram_stats,
    with_array_repetition,
    with_pii_signals,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "a b a b a b"),              # heavy 2-gram repetition
        (1, "x y z w"),                  # all distinct
        (2, "one\ntwo\none\nthree"),     # duplicate line 'one'
        (3, ""),                         # empty doc
        (4, "solo"),                     # < n words for any n>=2
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _by_id(df, *cols):
    return {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in df.select("doc_id", *cols).collect()
    }


def test_array_repetition(docs):
    got = _by_id(
        with_array_repetition(docs),
        "dup_word_fraction",
        "dup_line_fraction",
        "dup_line_char_fraction",
    )
    # doc 0: 6 words, 2 distinct -> 4/6; one line, no dup lines
    assert got[0][0] == pytest.approx(4 / 6)
    assert got[0][1] == 0.0 and got[0][2] == 0.0
    # doc 1: all distinct
    assert got[1] == (0.0, 0.0, 0.0)
    # doc 2: whitespace split crosses newlines, so 'one' repeats -> 1/4;
    # lines: 4 total, 3 distinct -> 1/4;
    # duplicated-line chars = len('one')*2 = 6 of 3+3+3+5 = 14
    assert got[2][0] == pytest.approx(1 / 4)
    assert got[2][1] == pytest.approx(1 / 4)
    assert got[2][2] == pytest.approx(6 / 14)
    # empty doc: all zeros
    assert got[3] == (0.0, 0.0, 0.0)


def test_top_ngram_stats(docs):
    got = _by_id(
        top_ngram_stats(docs, 2),
        "top_2gram",
        "top_2gram_count",
        "top_2gram_char_fraction",
    )
    # doc 0 grams: 'a b' x3, 'b a' x2 -> top 'a b' count 3, len 3, doc_len 11
    assert got[0] == ("a b", 3, pytest.approx(3 * 3 / 11))
    # doc 1: all 2-grams unique -> tie broken to lexicographically smallest
    assert got[1][0] == "x y" and got[1][1] == 1
    # short/empty docs survive with zeros
    assert got[3] == ("", 0, 0.0)
    assert got[4] == ("", 0, 0.0)


def test_pii_signals(spark):
    df = spark.createDataFrame(
        [
            (0, "mail me at jo.doe+x@sub.example.org or call +1 415 555 0101"),
            (1, "server 10.0.12.5 and 192.168.1.1 up"),
            (2, "nothing here"),
        ],
        "doc_id int, text string",
    )
    out = with_pii_signals(df)
    got = _by_id(out, "pii_email_count", "pii_ipv4_count", "pii_phone_count")
    assert got[0] == (1, 0, 1)
    assert got[1] == (0, 2, 0)
    assert got[2] == (0, 0, 0)
    red = {
        r["doc_id"]: r["red"]
        for r in out.select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("text", PII_PATTERNS["email"], "<EMAIL>"),
                    PII_PATTERNS["ipv4"],
                    "<IPV4>",
                ),
                PII_PATTERNS["phone"],
                "<PHONE>",
            ).alias("red"),
        ).collect()
    }
    assert red[0] == "mail me at <EMAIL> or call <PHONE>"
    assert red[1] == "server <IPV4> and <IPV4> up"


def test_pii_duckdb_differential(spark):
    """DuckDB (RE2) and Spark (java.util.regex) must agree on the PII
    patterns — this is what makes the driver oracle valid."""
    texts = [
        "jo.doe+x@sub.example.org",
        "a@b.co and c_d%e@f-g.h.ij",
        "1.2.3.4 10.0.12.5 999.999.999.999 1.2.3",
        "+33 1 23 45 67 89 and +14155550101 but not 12345",
        "no pii at all",
        "edge a@b.c single-letter tld should NOT match",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    spark_rows = {
        r["doc_id"]: (
            r["pii_email_count"],
            r["pii_ipv4_count"],
            r["pii_phone_count"],
            r["pii_redacted_md5"],
        )
        for r in with_pii_signals(df).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        e, v, p = (PII_PATTERNS["email"], PII_PATTERNS["ipv4"], PII_PATTERNS["phone"])
        row = con.execute(
            """
            SELECT len(regexp_extract_all($t, $e)),
                   len(regexp_extract_all($t, $v)),
                   len(regexp_extract_all($t, $p)),
                   md5(regexp_replace(regexp_replace(regexp_replace(
                        $t, $e, '<EMAIL>', 'g'), $v, '<IPV4>', 'g'),
                        $p, '<PHONE>', 'g'))
            """,
            {"t": t, "e": e, "v": v, "p": p},
        ).fetchone()
        assert spark_rows[i] == row, f"engine mismatch on: {t!r}"


def test_registered_domain(spark):
    df = spark.createDataFrame(
        [
            (0, "https://www.news.example.co/x"),
            (1, "https://example.co/y"),
            (2, "http://a.b.c.site0.com:8080/z?q=1"),
            (3, "https://localhost/p"),
            (4, "https://10.0.3.7/a"),
            (5, "https://20.9.3.7/b"),
        ],
        "doc_id int, url string",
    )
    got = {
        r["doc_id"]: r["d"]
        for r in df.select("doc_id", registered_domain(F.col("url")).alias("d")).collect()
    }
    assert got[0] == "example.co"
    assert got[1] == "example.co"
    assert got[2] == "site0.com"
    assert got[3] == "localhost"
    # IPv4 literals pass through whole — unrelated servers must never
    # collapse into one "last two octets" bucket
    assert got[4] == "10.0.3.7" and got[5] == "20.9.3.7"


def test_domain_rollup(spark):
    df = spark.createDataFrame(
        [
            (10, "https://a.site0.com/1"),
            (11, "https://b.site0.com/2"),
            (12, "https://site1.com/3"),
        ],
        "doc_id int, url string",
    )
    got = {
        r["domain"]: (r["n_docs"], r["min_doc_id"])
        for r in domain_rollup(df).collect()
    }
    assert got == {"site0.com": (2, 10), "site1.com": (1, 12)}


def test_decontaminate(spark):
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "completely unrelated text with no overlap at all here"),
            (2, "prefix words then the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    bad = {r["doc_id"] for r in contaminated_ids(corpus, bench, n=8).collect()}
    assert bad == {0, 2}
    kept = {r["doc_id"] for r in decontaminate(corpus, bench, n=8).collect()}
    assert kept == {1}


def test_decontaminate_short_docs_pass(spark):
    corpus = spark.createDataFrame([(0, "too short")], "doc_id int, text string")
    bench = spark.createDataFrame([("too short",)], "text string")
    # both sides have < n words -> no n-grams -> nothing contaminated
    assert decontaminate(corpus, bench, n=8).count() == 1


def test_top_ngram_property(spark):
    """Random small docs: top_ngram_stats must agree with a Counter-based
    Python reference (count via max, tie to lexicographically smallest)."""
    import random
    from collections import Counter

    rng = random.Random(7)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["top_2gram"], r["top_2gram_count"], r["top_2gram_char_fraction"])
        for r in top_ngram_stats(df, 2).collect()
    }
    for i, text in rows:
        words = text.split()
        grams = [" ".join(words[j : j + 2]) for j in range(len(words) - 1)]
        if not grams:
            assert got[i] == ("", 0, 0.0)
            continue
        cnt = Counter(grams)
        best = min(cnt, key=lambda g: (-cnt[g], g))
        assert got[i][0] == best and got[i][1] == cnt[best]
        assert got[i][2] == pytest.approx(cnt[best] * len(best) / len(text))


def test_quality_gate_factory(spark):
    """quality-gate rides the Pipeline config round-trip and filters/redacts."""
    from edspdf_spark.plans.pipeline import Pipeline

    cfg = {
        "pipeline": ["gate"],
        "components": {
            "gate": {
                "@factory": "quality-gate",
                "min_len": 10,
                "max_dup_word_fraction": 0.5,
                "langs": ["en"],
                "redact_pii": True,
            }
        },
    }
    pipe = Pipeline.from_config(cfg)
    assert pipe.to_config() == cfg
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house is here a@b.co"),  # en, kept
            (1, "le chat et la maison est grande ici"),  # fr -> dropped
            (2, "short"),  # too short
            (3, "spam spam spam spam spam and the spam"),  # dup words
        ],
        "doc_id int, text string",
    )
    out = pipe(df)
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(rows) == {0}
    assert rows[0].endswith("<EMAIL>")


def test_dedup_spans_basic(spark):
    from edspdf_spark.functions.dedup import dedup_spans

    df = spark.createDataFrame(
        [
            (0, "keep me\ncookie banner\nunique zero"),
            (1, "cookie banner\nunique one\n\nafter blank"),
            (2, "cookie banner"),          # loses its only span -> empty doc
            (3, "unique three\n\ntail"),   # blank line exempt, survives
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["text"] for r in dedup_spans(df).collect()}
    # first occurrence = smallest (doc_id, pos): doc 0 keeps the banner
    assert got[0] == "keep me\ncookie banner\nunique zero"
    assert got[1] == "unique one\n\nafter blank"
    assert got[2] == ""
    assert got[3] == "unique three\n\ntail"


def test_dedup_spans_within_doc(spark):
    from edspdf_spark.functions.dedup import dedup_spans

    df = spark.createDataFrame(
        [(0, "same\nsame\nsame\nother")], "doc_id int, text string"
    )
    got = dedup_spans(df).collect()[0]["text"]
    # duplicates within one doc collapse to the first occurrence too
    assert got == "same\nother"


def test_dedup_spans_duckdb_differential(spark):
    """Random multi-line docs: Spark dedup_spans vs an independent DuckDB
    window-function formulation of the same rule."""
    import random

    import duckdb

    from edspdf_spark.functions.dedup import dedup_spans

    rng = random.Random(11)
    lines = [f"line{i}" for i in range(12)] + ["", "shared banner"]
    rows = [
        (i, "\n".join(rng.choice(lines) for _ in range(rng.randint(1, 8))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["text"] for r in dedup_spans(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            """
            WITH spans AS (
              SELECT doc_id, i - 1 AS pos, s[i] AS span
              FROM (SELECT doc_id, string_split(text, chr(10)) AS s FROM documents),
                   UNNEST(generate_series(1, len(s))) AS t(i)
            ),
            marked AS (
              SELECT doc_id, pos, span,
                CASE WHEN length(span) >= 1 THEN
                  row_number() OVER (PARTITION BY CASE WHEN length(span) >= 1 THEN span END
                                     ORDER BY doc_id, pos)
                END AS rn,
                CASE WHEN length(span) >= 1 THEN
                  count(*) OVER (PARTITION BY CASE WHEN length(span) >= 1 THEN span END)
                END AS c
              FROM spans
            )
            SELECT d.doc_id,
                   COALESCE(string_agg(m.span, chr(10) ORDER BY m.pos), '') AS text
            FROM documents d
            LEFT JOIN marked m
              ON m.doc_id = d.doc_id AND (m.c IS NULL OR m.c = 1 OR m.rn = 1)
            GROUP BY d.doc_id
            """
        ).fetchall()
    )
    assert got == want


def test_sample_corpus(spark):
    from edspdf_spark.functions.quality import sample_corpus

    rows = [(i, 100, ["en", "fr"][i % 2]) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int, lang string")

    # rate >= 1 keeps everything
    assert sample_corpus(df, target_tokens=10**9).count() == 2000

    # ~30% budget: expected mass near target, exact ids reproducible
    out1 = sorted(r["doc_id"] for r in sample_corpus(df, 30_000).collect())
    out2 = sorted(
        r["doc_id"]
        for r in sample_corpus(df.repartition(7), 30_000).collect()
    )
    assert out1 == out2  # partitioning/retry stable
    mass = len(out1) * 100
    assert 0.8 * 30_000 < mass < 1.2 * 30_000

    # stratified: each lang lands near ITS budget even though strata differ
    skew = spark.createDataFrame(
        [(i, 100 if i % 2 == 0 else 10, ["en", "fr"][i % 2]) for i in range(4000)],
        "doc_id int, n_tokens int, lang string",
    )
    samp = sample_corpus(skew, 8_000, stratify_col="lang").collect()
    per = {"en": 0, "fr": 0}
    for r in samp:
        per[r["lang"]] += r["n_tokens"]
    assert 0.7 * 8_000 < per["en"] < 1.3 * 8_000
    assert 0.7 * 8_000 < per["fr"] < 1.3 * 8_000


def test_sample_corpus_duckdb_differential(spark):
    """The hex-threshold rule must pick the SAME doc ids in DuckDB."""
    import duckdb

    from edspdf_spark.functions.quality import sample_corpus

    rows = [(i, 50 + (i * 37) % 300) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    got = sorted(
        r["doc_id"] for r in sample_corpus(df, 20_000, seed=3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id INT, n_tokens INT)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = [
        r[0]
        for r in con.execute(
            """
            WITH t AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM d)
            SELECT doc_id FROM d, t
            WHERE substr(md5('3|' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < lpad(lower(hex(CAST(floor(LEAST(1.0, 20000 / total)
                                              * 4294967296.0) AS BIGINT))), 8, '0')
            ORDER BY doc_id
            """
        ).fetchall()
    ]
    assert got == want


# --- exact-substring dedup (Lee et al. 2021 rolling-window formulation) -----

_BANNER = "alpha beta gamma delta epsilon zeta eta theta"


def test_dedup_substrings_basic(spark):
    from edspdf_spark.functions.dedup import dedup_substrings

    df = spark.createDataFrame(
        [
            (1, _BANNER + " unique one tail"),
            (2, "prefix two " + _BANNER + " trailing"),
            (3, "three has no duplicates at all whatsoever in this body"),
            (4, "short doc"),
            (5, ""),
            (6, "xx yy " + _BANNER + " zz " + _BANNER + " end"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_kept"])
        for r in dedup_substrings(df, w=8).collect()
    }
    # first occurrence = smallest (doc_id, start): doc 1 keeps the banner
    assert got[1] == (_BANNER + " unique one tail", 11)
    assert got[2] == ("prefix two trailing", 3)
    assert got[3][1] == 10  # untouched
    assert got[4] == ("short doc", 2)  # shorter than w: exempt
    assert got[5] == ("", 0)
    # intra-doc repeat: both occurrences duplicated, both removed (the
    # corpus-wide first occurrence lives in doc 1)
    assert got[6] == ("xx yy zz end", 4)


def test_dedup_substrings_w_guard(spark):
    import pytest as _pytest

    from edspdf_spark.functions.dedup import dedup_substrings

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        dedup_substrings(df, w=1)


def _brute_substring_dedup(rows, w):
    toks = {d: (t.split() if t.strip() else []) for d, t in rows}
    occurrences = {}
    for d in sorted(toks):
        ts = toks[d]
        for s in range(len(ts) - w + 1):
            occurrences.setdefault(tuple(ts[s : s + w]), []).append((d, s))
    covered = {d: set() for d in toks}
    for occ in occurrences.values():
        if len(occ) > 1:
            keep = min(occ)
            for d, s in occ:
                if (d, s) != keep:
                    covered[d].update(range(s, s + w))
    return {
        d: (
            " ".join(t for i, t in enumerate(ts) if i not in covered[d]),
            len(ts) - len(covered[d]),
        )
        for d, ts in toks.items()
    }


def test_dedup_substrings_brute_force_differential(spark):
    """Random small-vocab docs (lots of organic window collisions): Spark
    vs an order-free brute-force reference, and vs the registered DuckDB
    oracle formulation."""
    import random

    import duckdb

    from edspdf_spark.functions.dedup import (
        dedup_substrings,
        dedup_substrings_oracle_sql,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(6)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
        for i in range(60)
    ]
    w = 4
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_kept"])
        for r in dedup_substrings(df, w=w).collect()
    }
    want = _brute_substring_dedup(rows, w)
    assert got == want

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute(
            dedup_substrings_oracle_sql("SELECT doc_id, text FROM documents", w=w)
        ).fetchall()
    )
    assert oracle == want


# --- C4 line filter + Gopher line-shape signals -----------------------------


def test_c4_line_signals(spark):
    from edspdf_spark.functions.quality import c4_filter, c4_line_signals

    rows = [
        # 3 good sentence lines -> kept page
        (0, "The cat sat on the mat.\nA dog ran over the hill!\n"
            "Is this a real question?\nshort.\nno terminal punct here"),
        # javascript line dropped, page fails min_sentences
        (1, "Please enable javascript to view this page.\nnav menu"),
        # lorem ipsum page dropped even with good lines
        (2, "Lorem Ipsum dolor sit amet consectetur adipiscing elit.\n"
            "The second sentence is here and long enough.\n"
            "The third sentence is here and long enough too."),
        # curly brace page dropped
        (3, "function f() { return 1; }\nThe prose sentence is fine here.\n"
            "Another prose sentence is fine here.\nA third one is fine here."),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sig = {
        r["doc_id"]: r.asDict()
        for r in c4_line_signals(df).collect()
    }
    assert sig[0]["c4_lines_total"] == 5
    assert sig[0]["c4_lines_kept"] == 3
    assert sig[0]["c4_text"] == (
        "The cat sat on the mat.\nA dog ran over the hill!\n"
        "Is this a real question?"
    )
    assert sig[0]["c4_n_sentences"] == 3 and sig[0]["c4_keep"]
    assert sig[1]["c4_lines_kept"] == 0 and not sig[1]["c4_keep"]
    assert sig[2]["c4_lines_kept"] == 3 and not sig[2]["c4_keep"]  # lorem ipsum
    assert sig[3]["c4_lines_kept"] == 3 and not sig[3]["c4_keep"]  # brace
    assert sig[4]["c4_lines_kept"] == 0 and not sig[4]["c4_keep"]

    kept = c4_filter(df)
    out = {r["doc_id"]: r["text"] for r in kept.collect()}
    assert list(out) == [0]
    assert out[0] == sig[0]["c4_text"]
    assert "c4_text" not in kept.columns and "c4_keep" not in kept.columns


def test_line_shape_signals(spark):
    from edspdf_spark.functions.quality import (
        gopher_filter,
        with_line_shape_signals,
    )

    rows = [
        (0, "• first bullet\n- second bullet\nplain line"),
        (1, "trailing dots...\nand more…\nclean line here"),
        (2, "alpha beta 12345 #tag"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in with_line_shape_signals(df).collect()}
    assert got[0]["bullet_line_fraction"] == pytest.approx(2 / 3)
    assert got[0]["ellipsis_line_fraction"] == 0.0
    assert got[1]["ellipsis_line_fraction"] == pytest.approx(2 / 3)
    # 'alpha beta 12345 #tag': 4 words, 18 non-space chars, one '#',
    # 3 words contain a letter
    assert got[2]["mean_word_len"] == pytest.approx(18 / 4)
    assert got[2]["symbol_word_ratio"] == pytest.approx(1 / 4)
    assert got[2]["alpha_word_fraction"] == pytest.approx(3 / 4)
    assert got[3]["mean_word_len"] == 0.0
    assert got[3]["alpha_word_fraction"] == 0.0

    # gopher gate: a clean 60-word prose doc passes, the bullet doc fails
    prose = " ".join(["word"] * 60) + "."
    gdf = spark.createDataFrame(
        [(0, prose), (1, "\n".join(["• b " + "w " * 48])), (2, "short doc.")],
        "doc_id int, text string",
    )
    kept = [r["doc_id"] for r in gopher_filter(gdf).select("doc_id").collect()]
    assert kept == [0]


def test_c4_and_shape_duckdb_differential(spark):
    """DuckDB list/regexp replay of the C4 line rules and shape fractions —
    validates the driver-oracle SQL shapes for the new text_signals legs."""
    from edspdf_spark.functions.quality import c4_line_signals, with_line_shape_signals

    texts = [
        "The cat sat on the mat.\nenable javascript now please ok.\n"
        "A second real sentence stands here.\nA third real sentence stands here.",
        "• bullet one\n- bullet two\nends with dots...\nIs it over?",
        "",
        "one two three four five.\nlorem ipsum hiding here",
        "braces { inside } here.\nThe rest is very clean prose indeed.",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    spark_rows = {
        r["doc_id"]: (
            r["c4_lines_total"], r["c4_lines_kept"], r["c4_text"],
            r["c4_n_sentences"], r["c4_keep"],
            f'{r["bullet_line_fraction"]:.12g}',
            f'{r["ellipsis_line_fraction"]:.12g}',
            f'{r["mean_word_len"]:.12g}',
            f'{r["symbol_word_ratio"]:.12g}',
            f'{r["alpha_word_fraction"]:.12g}',
        )
        for r in with_line_shape_signals(c4_line_signals(df)).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        row = con.execute(
            r"""
            WITH s AS (
              SELECT str_split($t, chr(10)) AS lines,
                     list_filter(str_split($t, chr(10)),
                       l -> regexp_matches(trim(l), '[.!?"]$')
                            AND CASE WHEN trim(l) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(l), '\s+'))
                                END >= 5
                            AND NOT contains(lower(l), 'javascript')) AS kept,
                     CASE WHEN trim($t) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim($t), '\s+') END AS words
            )
            SELECT len(lines), len(kept),
                   coalesce(array_to_string(kept, chr(10)), '') AS c4_text,
                   len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')),
                   len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')) >= 3
                     AND NOT contains(lower($t), 'lorem ipsum')
                     AND NOT contains($t, '{'),
                   format('{:.12g}', len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) / len(lines)),
                   format('{:.12g}', len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) / len(lines)),
                   format('{:.12g}', length(regexp_replace($t, '\s', '', 'g')) / greatest(len(words), 1)),
                   format('{:.12g}', (len(regexp_extract_all($t, '#')) + len(regexp_extract_all($t, '\.\.\.'))) / greatest(len(words), 1)),
                   format('{:.12g}', len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) / greatest(len(words), 1))
            FROM s
            """,
            {"t": t},
        ).fetchone()
        assert spark_rows[i] == tuple(row), f"engine mismatch on doc {i}: {spark_rows[i]} vs {tuple(row)}"


def test_domain_quota(spark):
    from edspdf_spark.functions.quality import domain_quota

    # 3 domains with 5/3/1 docs; cap at 2 -> 2+2+1 survive
    rows = [
        (i, f"https://www.site{d}.com/p/{i}")
        for i, d in enumerate([0] * 5 + [1] * 3 + [2])
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    kept = domain_quota(df, max_docs=2, seed=0)
    got = kept.collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r["domain"], []).append(r)
    assert {d: len(v) for d, v in by_dom.items()} == {
        "site0.com": 2,
        "site1.com": 2,
        "site2.com": 1,
    }
    # ranks are 1..k within each domain
    for v in by_dom.values():
        assert sorted(r["domain_rank"] for r in v) == list(
            range(1, len(v) + 1)
        )
    # deterministic & partitioning-independent: same ids at 1 partition
    kept_ids = sorted(r["doc_id"] for r in got)
    again = sorted(
        r["doc_id"]
        for r in domain_quota(df.repartition(1), max_docs=2, seed=0).collect()
    )
    assert kept_ids == again
    # different seed reshuffles the draw but keeps the same counts
    other = domain_quota(df, max_docs=2, seed=7)
    assert other.count() == 5


def test_domain_quota_duckdb_differential(spark):
    from edspdf_spark.functions.quality import domain_quota

    rows = [
        (i, f"https://www.site{i % 4}.com/a/{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    got = sorted(
        (r["doc_id"], r["domain"], r["domain_rank"])
        for r in domain_quota(df, max_docs=3, seed=0).collect()
    )
    want = duckdb.sql(
        """
        SELECT doc_id, domain, rk FROM (
          SELECT i AS doc_id,
                 'site' || CAST(i % 4 AS VARCHAR) || '.com' AS domain,
                 row_number() OVER (
                   PARTITION BY i % 4
                   ORDER BY md5('0|' || CAST(i AS VARCHAR)), i
                 ) AS rk
          FROM range(40) t(i)
        ) WHERE rk <= 3
        ORDER BY doc_id
        """
    ).fetchall()
    assert got == [(d, dom, rk) for d, dom, rk in want]


# --- temperature-based language mixing ------------------------------------


def _mix_replica(rows, target, alpha, max_epochs, seed=0):
    """Plain-Python replica of with_temperature_mix's integer contract."""
    import hashlib
    import math
    from collections import defaultdict

    T = defaultdict(int)
    for _did, lang, toks in rows:
        T[lang] += toks
    pw = {l: math.floor(math.pow(float(t), alpha) * 1e6) for l, t in T.items()}
    z = sum(pw.values())
    cap = int(max_epochs * 1_000_000)
    rate = {}
    for l, t in T.items():
        if t <= 0:
            rate[l] = 0
        else:
            raw = math.floor(
                float(target) * float(pw[l]) / (float(z) * float(t)) * 1e6
            )
            rate[l] = min(raw, cap)
    out = {}
    for did, lang, _toks in rows:
        r = rate[lang]
        u32 = int(
            hashlib.md5(f"{seed}|{did}".encode()).hexdigest()[:8], 16
        )
        extra = 1 if u32 < (r % 1_000_000) * 4294967296 // 1_000_000 else 0
        out[did] = (r, r // 1_000_000 + extra)
    return out


def test_temperature_mix_rates_and_copies(spark):
    """alpha=0.3 over a skewed 2-lang corpus: the small language's rate
    exceeds the big one's; every n_copies matches the integer replica."""
    from edspdf_spark.functions.quality import with_temperature_mix

    rows = [(i, "en" if i < 80 else "yo", 100) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int")
    got = {
        r.doc_id: (r.mix_rate_micro, r.n_copies)
        for r in with_temperature_mix(df, 5000, alpha=0.3, max_epochs=4.0).collect()
    }
    want = _mix_replica(rows, 5000, 0.3, 4.0)
    assert got == want
    # temperature flattening: rate(yo) > rate(en)
    assert got[99][0] > got[0][0]


def test_temperature_mix_alpha_one_is_proportional(spark):
    """alpha=1 → w_l ∝ T_l, so every language gets the SAME rate
    (proportional sampling, no rebalance) up to the 1-microunit floor."""
    from edspdf_spark.functions.quality import with_temperature_mix

    rows = [(i, "en" if i < 90 else "fr", 50) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int")
    rates = {
        r.lang: r.mix_rate_micro
        for r in with_temperature_mix(df, 2500, alpha=1.0).collect()
    }
    assert abs(rates["en"] - rates["fr"]) <= 1


def test_temperature_mix_epoch_cap_and_materialize(spark):
    """A tiny language under alpha=0.2 wants many epochs; max_epochs caps
    it, and temperature_mix materializes exactly n_copies rows each with
    epoch 1..n_copies."""
    from edspdf_spark.functions.quality import (
        temperature_mix,
        with_temperature_mix,
    )

    rows = [(i, "en" if i < 95 else "ga", 200) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int")
    ann = with_temperature_mix(df, 100_000, alpha=0.2, max_epochs=2.5)
    got = {r.doc_id: (r.mix_rate_micro, r.n_copies) for r in ann.collect()}
    assert got == _mix_replica(rows, 100_000, 0.2, 2.5)
    assert max(r for r, _ in got.values()) == 2_500_000  # cap bound
    mat = temperature_mix(df, 100_000, alpha=0.2, max_epochs=2.5).collect()
    by_doc = {}
    for r in mat:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    for did, (rate, n) in got.items():
        if n == 0:
            assert did not in by_doc
        else:
            assert sorted(by_doc[did]) == list(range(1, n + 1))


def test_temperature_mix_partitioning_invariance(spark):
    from edspdf_spark.functions.quality import with_temperature_mix

    rows = [
        (i, ("en", "fr", "zh")[i % 3], 10 + (i * 7) % 90) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int")
    a = sorted(
        (r.doc_id, r.mix_rate_micro, r.n_copies)
        for r in with_temperature_mix(df.repartition(1), 3000).collect()
    )
    b = sorted(
        (r.doc_id, r.mix_rate_micro, r.n_copies)
        for r in with_temperature_mix(df.repartition(16), 3000).collect()
    )
    assert a == b


def test_temperature_mix_zero_token_language(spark):
    """A language whose every doc is empty gets rate 0 and never appears
    in the materialized mix (no NaN/Inf leak from the rate formula)."""
    from edspdf_spark.functions.quality import (
        temperature_mix,
        with_temperature_mix,
    )

    rows = [(1, "en", 100), (2, "en", 50), (3, "xx", 0), (4, "xx", 0)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens int")
    got = {r.doc_id: r.mix_rate_micro for r in with_temperature_mix(df, 100).collect()}
    assert got[3] == 0 and got[4] == 0
    assert all(
        r.lang != "xx" for r in temperature_mix(df, 100).collect()
    )


# --- blocklist gates -------------------------------------------------------


def test_blocklist_signals_and_filter(spark):
    from edspdf_spark.functions.quality import (
        blocklist_filter,
        with_blocklist_signals,
    )

    df = spark.createDataFrame(
        [
            (1, "clean words only here"),
            (2, "some SPAM and more spam tokens"),
            (3, "casino night"),
            (4, ""),
            (5, "   "),
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.blocklist_count, round(r.blocklist_fraction, 6), r.blocklist_hit)
        for r in with_blocklist_signals(df, ["spam", "casino", "SPAM"]).collect()
    }
    assert got[1] == (0, 0.0, False)
    assert got[2] == (2, round(2 / 6, 6), True)   # case-insensitive, both hits
    assert got[3] == (1, 0.5, True)
    assert got[4] == (0, 0.0, False) and got[5] == (0, 0.0, False)
    kept = {r.doc_id for r in blocklist_filter(df, ["spam", "casino"]).collect()}
    assert kept == {1, 4, 5}


def test_blocklist_duckdb_differential(spark):
    import duckdb

    from edspdf_spark.functions.quality import with_blocklist_signals

    rows = [(i, " ".join(f"w{(i + j) % 9}" for j in range(8))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = sorted(
        (r.doc_id, r.blocklist_count, r.blocklist_hit)
        for r in with_blocklist_signals(df, ["w3", "w7"]).collect()
    )
    duckdb.sql(
        "CREATE OR REPLACE TABLE bdocs AS SELECT * FROM (VALUES "
        + ",".join(
            "({}, '{}')".format(i, " ".join(f"w{(i + j) % 9}" for j in range(8)))
            for i in range(40)
        )
        + ") t(doc_id, text)"
    )
    want = duckdb.sql(r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                            w -> w IN ('w3','w7'))) AS BIGINT) AS c,
       len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       w -> w IN ('w3','w7'))) > 0 AS h
FROM bdocs ORDER BY doc_id
""").fetchall()
    assert got == [tuple(w) for w in want]


def test_domain_blocklist_filter(spark):
    from edspdf_spark.functions.quality import domain_blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "https://www.bad.com/x"),
            (2, "https://sub.a.bad.com/y"),
            (3, "https://good.org/z"),
            (4, "https://bad.org/w"),
        ],
        "doc_id int, url string",
    )
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    kept = {r.doc_id for r in domain_blocklist_filter(df, blocked).collect()}
    # registered domain of sub.a.bad.com is bad.com -> blocked too
    assert kept == {3, 4}


def test_readability_hand_values_and_duckdb(spark):
    """Flesch milli-points: hand-computed values, blank handling, and a
    DuckDB replay of the exact count + float-shape contract."""
    import duckdb
    import math

    from edspdf_spark.functions.text import with_readability

    rows = [
        (1, "The cat sat. The dog ran!"),
        (2, "incomprehensibility notwithstanding electroencephalography"),
        (3, ""),
        (4, "   "),
        (5, "xyz qrst"),  # vowel-less words -> syllable floor at n_words
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.rd_n_words, r.rd_n_sentences, r.rd_n_syllables, r.rd_flesch_milli)
        for r in with_readability(df).collect()
    }

    def ref(text):
        import re
        t = text.strip()
        w = 0 if t == "" else len(re.split(r"\s+", t))
        s = max(len(re.findall(r"[.!?]+", text)), 0 if t == "" else 1)
        sy = max(len(re.findall(r"[aeiouy]+", text.lower())), w)
        f = None
        if w > 0:
            f = math.floor((206.835 - 1.015 * w / s - 84.6 * sy / w) * 1000)
        return (w, s, sy, f)

    for did, text in rows:
        assert got[did] == ref(text), (did, got[did], ref(text))
    assert got[3][3] is None and got[4][3] is None
    assert got[5][2] == 2  # syllable floor
    # DuckDB replay
    duckdb.sql("CREATE OR REPLACE TABLE rdocs AS SELECT * FROM (VALUES "
               + ",".join(f"({i}, '{t}')" for i, t in rows) + ") t(doc_id, text)")
    want = duckdb.sql(r"""
SELECT doc_id,
  CASE WHEN w > 0 THEN
    CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
         - 84.6 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))) * 1000.0) AS BIGINT)
  END AS f
FROM (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
    GREATEST(len(regexp_extract_all(text, '[.!?]+')),
             CASE WHEN trim(text) = '' THEN 0 ELSE 1 END) AS s,
    GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')),
      CASE WHEN trim(text) = '' THEN 0
           ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS sy
  FROM rdocs)
ORDER BY doc_id
""").fetchall()
    for did, f in want:
        assert got[did][3] == f


def test_line_dedup_adjacent(spark):
    """Consecutive duplicate lines collapse; non-adjacent repeats stay;
    blank lines dedupe too; single-line and empty docs are no-ops."""
    import duckdb

    from edspdf_spark.functions.text import with_line_dedup

    rows = [
        (1, "a\na\na\nb\na"),          # runs collapse, distant repeat stays
        (2, "x\ny\nx"),                 # nothing adjacent
        (3, "only one line"),
        (4, ""),
        (5, "p\n\n\nq"),                # blank-line run collapses
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.line_deduped, r.n_lines_removed)
        for r in with_line_dedup(df).collect()
    }
    assert got[1] == ("a\nb\na", 2)
    assert got[2] == ("x\ny\nx", 0)
    assert got[3] == ("only one line", 0)
    assert got[4] == ("", 0)
    assert got[5] == ("p\n\nq", 1)
    # DuckDB differential on the index-filter semantics
    duckdb.sql("CREATE OR REPLACE TABLE ldocs AS SELECT * FROM (VALUES "
               + ",".join("({}, '{}')".format(i, t.replace("\n", "' || chr(10) || '"))
                          for i, t in rows) + ") t(doc_id, text)")
    want = duckdb.sql(r"""
SELECT doc_id,
  array_to_string(
    list_transform(
      list_filter(generate_series(1, len(l)),
                  i -> i = 1 OR l[i] != l[i - 1]),
      i -> l[i]), chr(10)) AS deduped
FROM (SELECT doc_id, str_split(text, chr(10)) AS l FROM ldocs)
ORDER BY doc_id
""").fetchall()
    for did, deduped in want:
        assert got[did][0] == deduped


def test_shuffle_order_is_seeded_permutation(spark):
    """with_shuffle_order: deterministic per (seed, key), epoch reshuffle
    via a new seed, shards roughly balanced, order decorrelated from the
    input (crawl) order."""
    from edspdf_spark.functions.quality import with_shuffle_order

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    a = with_shuffle_order(df, seed=0, n_shards=16).collect()
    b = with_shuffle_order(df, seed=0, n_shards=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # replayable
    order0 = [
        r.doc_id
        for r in sorted(a, key=lambda r: (r.shuffle_shard, r.shuffle_rank, r.doc_id))
    ]
    c = with_shuffle_order(df, seed=1, n_shards=16).collect()
    order1 = [
        r.doc_id
        for r in sorted(c, key=lambda r: (r.shuffle_shard, r.shuffle_rank, r.doc_id))
    ]
    assert order0 != order1  # new seed => new epoch order
    assert sorted(order0) == list(range(2000))  # a permutation
    assert order0 != list(range(2000))  # not crawl order
    # shards balanced within 3x of uniform
    import collections

    counts = collections.Counter(r.shuffle_shard for r in a)
    assert len(counts) == 16
    assert max(counts.values()) < 3 * (2000 / 16)
    # rank collisions are possible in principle (60-bit hash) but not here
    assert len({(r.shuffle_shard, r.shuffle_rank) for r in a}) == 2000


# --- corpus_report -----------------------------------------------------------

from edspdf_spark.functions.quality import corpus_report


def test_corpus_report_hand_values(spark):
    df = spark.createDataFrame(
        [("en", "a", 70), ("en", "a", 20), ("fr", "b", 10)],
        "lang string, split string, n_tokens long",
    )
    got = {
        (r.lang, r.split): (
            r.n_docs, r.n_tokens, r.doc_milli_share, r.token_milli_share
        )
        for r in corpus_report(df, ["lang", "split"]).collect()
    }
    assert got[("en", "a")] == (2, 90, 666, 900)
    assert got[("fr", "b")] == (1, 10, 333, 100)


def test_corpus_report_text_fallback_and_partitioning(spark):
    rows = [("en", "one two three"), ("en", "four"), ("de", "fünf sechs")]
    a = spark.createDataFrame(rows, "lang string, text string")
    b = a.repartition(7)
    ra = {r.lang: (r.n_docs, r.n_tokens) for r in corpus_report(a).collect()}
    rb = {r.lang: (r.n_docs, r.n_tokens) for r in corpus_report(b).collect()}
    assert ra == rb == {"en": (2, 4), "de": (1, 2)}


# --- with_compress_ratio -------------------------------------------------------

import zlib

from edspdf_spark.functions.quality import with_compress_ratio


def test_compress_ratio_matches_local_zlib(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog " * 3),
        (1, "ab" * 500),             # degenerate repetition → tiny ratio
        (2, ""),                      # empty → 0
        (3, None),                    # null behaves like empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.compressed_len, r.compress_ratio_milli)
           for r in with_compress_ratio(df).collect()}
    for i, t in rows:
        raw = ("" if t is None else t).encode("utf-8")
        c = len(zlib.compress(raw, 6))
        want_ratio = c * 1000 // len(raw) if raw else 0
        assert got[i] == (c, want_ratio), i
    assert got[1][1] < 100 < got[0][1]  # repetition vs prose ordering


def test_compress_ratio_partitioning_invariant(spark):
    df = spark.createDataFrame(
        [(i, f"text number {i} " * (1 + i % 5)) for i in range(40)],
        "doc_id long, text string",
    )
    a = {r.doc_id: r.compress_ratio_milli for r in with_compress_ratio(df).collect()}
    b = {r.doc_id: r.compress_ratio_milli
         for r in with_compress_ratio(df.repartition(13)).collect()}
    assert a == b


def test_temperature_mix_and_sampler_keep_null_lang(spark):
    """NULL-language docs form their own stratum instead of being
    silently dropped by the equi-join (while still inflating Z)."""
    from edspdf_spark.functions.quality import sample_corpus, with_temperature_mix

    df = spark.createDataFrame(
        [(1, "en", 100), (2, "en", 100), (3, None, 100), (4, None, 100)],
        "doc_id long, lang string, n_tokens long",
    )
    mix = with_temperature_mix(df, target_tokens=400, alpha=1.0, seed=1)
    rows = {r.doc_id: r.mix_rate_micro for r in mix.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[3] == rows[4] > 0
    samp = sample_corpus(
        df, target_tokens=10_000, stratify_col="lang", seed=1
    )
    assert {r.doc_id for r in samp.collect()} == {1, 2, 3, 4}  # rate>=1 keeps all
    assert "_strat_key" not in samp.columns
