"""Dedup / text-analysis / similarity operators — semantics vs NumPy oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "the cat sat on the mat", "en"),  # exact dup of 0
        (2, "The  cat sat on the mat ", "en"),  # normalized dup of 0
        (3, "le chat est sur le tapis et la table", "fr"),
        (4, "der hund ist und das haus der die", "de"),
        (5, "completely different words here altogether", "en"),
        (6, "", "en"),
        (7, "12345 !!! ??? 67890", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_exact(spark, docs):
    from edspdf_spark.functions.dedup import dedup_exact

    out = {r.content_hash: (r.keep_id, r.n_dups) for r in dedup_exact(docs).collect()}
    assert len(out) == 7  # 0 and 1 collapse
    assert (0, 2) in out.values()


def test_dedup_normalized(spark, docs):
    from edspdf_spark.functions.dedup import dedup_exact

    out = dedup_exact(docs, normalized=True).collect()
    assert len(out) == 6  # 0, 1, 2 collapse
    assert max(r.n_dups for r in out) == 3


def test_minhash_similar_docs_share_signatures(spark, docs):
    from edspdf_spark.functions.dedup import minhash_signatures

    sig = {
        r.doc_id: tuple(r[f"mh{i}"] for i in range(8))
        for r in minhash_signatures(
            docs.filter(F.length("text") >= 5), k=5, n_hashes=8
        ).collect()
    }
    assert sig[0] == sig[1] == sig[2]  # identical after normalization
    # unrelated docs differ in most components
    assert sum(a == b for a, b in zip(sig[0], sig[5])) <= 2


def test_lsh_pairs_find_dups(spark, docs):
    from edspdf_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures

    sig = minhash_signatures(docs.filter(F.length("text") >= 5), k=5, n_hashes=8)
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sig).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs


def test_simhash_hamming(spark, docs):
    from edspdf_spark.functions.dedup import simhash64

    sh = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert sh[0] == sh[1] == sh[2]
    ham = bin((sh[0] ^ sh[5]) & ((1 << 64) - 1)).count("1")
    assert ham > 10  # unrelated docs far apart


def test_ngram_jaccard(spark, docs):
    from edspdf_spark.functions.dedup import ngram_jaccard_pairs

    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == 1.0  # normalization collapses them
    assert out.get((0, 5), 0.0) < 0.2


def test_token_stats(spark, docs):
    from edspdf_spark.functions.text import with_token_stats

    out = {r.doc_id: r for r in with_token_stats(docs).collect()}
    assert out[0].n_tokens == 6
    assert out[6].n_tokens == 0
    assert out[0].mean_token_len == pytest.approx((3 + 3 + 3 + 2 + 3 + 3) / 6)


def test_quality(spark, docs):
    from edspdf_spark.functions.text import with_quality

    out = {r.doc_id: r for r in with_quality(docs).collect()}
    assert out[7].digit_ratio == pytest.approx(10 / 19)
    assert out[0].stopword_ratio == pytest.approx(2 / 6)  # 'the' twice
    assert out[6].doc_len == 0


def test_lang_guess(spark, docs):
    from edspdf_spark.functions.text import with_lang_guess

    out = {r.doc_id: r.lang_guess for r in with_lang_guess(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "fr"
    assert out[4] == "de"
    assert out[5] == "und"  # no markers


def test_fingerprint(spark, docs):
    from edspdf_spark.functions.text import with_fingerprint

    out = {r.doc_id: (r.fp_md5, r.fp_poly) for r in with_fingerprint(docs).collect()}
    assert out[0][0] == out[1][0]
    assert out[0][1] == out[1][1]
    assert out[0][0] != out[5][0]
    # verify fp_poly against a pure-python fold
    text = "the cat sat on the mat"
    h = 0
    for c in text:
        h = (h * 31 + ord(c)) % 2147483647
    assert out[0][1] == h


def test_cosine_topk_matches_numpy(spark):
    from edspdf_spark.functions.similarity import cosine_topk

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3)

    out = cosine_topk(emb, q, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id))

    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v[:3] @ v.T
    for qi in range(3):
        order = sorted(range(50), key=lambda j: (-sims[qi, j], j))[:5]
        expect = [(rank + 1, j) for rank, j in enumerate(order)]
        assert sorted(got[qi]) == expect, qi


def test_lsh_ann_recall(spark):
    from edspdf_spark.functions.similarity import cosine_topk, lsh_ann_topk

    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((200, 8))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in lsh_ann_topk(emb, q, k=3, n_bits=4).collect()
    }
    # every query finds at least itself (cos=1) in its own bucket
    assert all((qi, qi) in approx for qi in range(5))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4


class TestIvfAnn:
    def test_full_probe_matches_brute_force(self, spark):
        """nprobe == n_cells searches every cell — result sets must equal
        the exact brute-force top-k."""
        from edspdf_spark.functions.similarity import cosine_topk, ivf_ann_topk
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") % 50 == 0)
        exact = cosine_topk(emb, q, k=5)
        ivf = ivf_ann_topk(emb, q, k=5, n_cells=8, nprobe=8)
        ex = {}
        for r in exact.collect():
            ex.setdefault(r.query_id, set()).add(r.vec_id)
        got = {}
        for r in ivf.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        assert set(got) == set(ex)
        hits = sum(len(got[k_] & ex[k_]) for k_ in ex)
        total = sum(len(v) for v in ex.values())
        assert hits / total >= 0.99

    def test_partial_probe_recall_and_determinism(self, spark):
        from edspdf_spark.functions.similarity import cosine_topk, ivf_ann_topk
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") % 50 == 0)
        exact = {}
        for r in cosine_topk(emb, q, k=5).collect():
            exact.setdefault(r.query_id, set()).add(r.vec_id)
        a = ivf_ann_topk(emb, q, k=5, n_cells=8, nprobe=2).collect()
        b = ivf_ann_topk(emb, q, k=5, n_cells=8, nprobe=2).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # seeded → stable
        got = {}
        for r in a:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(got.get(k_, set()) & exact[k_]) for k_ in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= 0.4  # partial probe: meaningful recall
        # the query's own cell is always probed → self always found
        assert all(qid in got[qid] for qid in got)


def test_dedup_components(spark):
    """Large-star/small-star over a pair graph: chain, triangle, isolated
    pair, reversed/self/dup edges — all converge to min-id components."""
    from edspdf_spark.functions.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),  # chain: diameter forces iterations
         (10, 11), (11, 12), (10, 12),    # triangle
         (20, 21),                         # isolated pair
         (21, 20), (30, 30)],              # reversed dup + self-loop node
        "id_a int, id_b int",
    )
    got = {r.doc_id: r.component_id for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20, 30: 30}


def test_select_canonical_quality_priority(spark):
    """Cluster keeps its best member by (priority..., id) struct max:
    quality argmax, larger-id tiebreak, singleton components for docs
    never seen in a pair, multi-column lexicographic priority."""
    from edspdf_spark.functions.dedup import dedup_components, select_canonical

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    labels = dedup_components(pairs)
    docs = spark.createDataFrame(
        [
            (1, 5, 9), (2, 8, 1), (3, 8, 0),   # comp 1: q=8 tie -> id 2 by second col
            (10, 4, 0), (11, 4, 0),            # comp 10: full tie -> larger id 11
            (42, 7, 7),                        # singleton, never in pairs
        ],
        "doc_id int, q int, q2 int",
    )
    got = {
        r.component_id: (r.keep_id, r.keep_q, r.keep_q2, r.n_members)
        for r in select_canonical(docs, labels, priority=["q", "q2"]).collect()
    }
    assert got == {
        1: (2, 8, 1, 3),
        10: (11, 4, 0, 2),
        42: (42, 7, 7, 1),
    }


def test_select_canonical_partitioning_invariance(spark):
    from edspdf_spark.functions.dedup import dedup_components, select_canonical

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60, 2)], "id_a int, id_b int"
    )
    labels = dedup_components(pairs)
    docs = spark.createDataFrame(
        [(i, (i * 13) % 7) for i in range(70)], "doc_id int, q int"
    )
    a = sorted(
        tuple(r)
        for r in select_canonical(docs.repartition(1), labels, ["q"]).collect()
    )
    b = sorted(
        tuple(r)
        for r in select_canonical(docs.repartition(16), labels, ["q"]).collect()
    )
    assert a == b


def test_dedup_components_log_rounds_on_long_chain(spark):
    """A 4096-node PATH graph (diameter 4095) must converge within
    O(log n) alternating star rounds — strict mode raises if not, so this
    test is the web-scale convergence guarantee min-label propagation
    lacked (VERDICT r2 item 6)."""
    from edspdf_spark.functions.dedup import dedup_components

    n = 4096
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    ).repartition(4)
    labels = dedup_components(pairs, max_iter=18, strict=True)
    rows = labels.groupBy("component_id").count().collect()
    assert len(rows) == 1
    assert rows[0]["component_id"] == 0 and rows[0]["count"] == n


# sha256 of the sorted (doc_id, mh0..mh7) rows below, recorded from the
# expression-path MinHash (explode + groupBy mins) before the vectorized
# kernel replaced it; the DuckDB oracle checks the same values at sf0.01.
MINHASH_PIN = (509, "0c23d3ac7f2be5eb11b96396f07698a82673f5c41c027ea6ff6a5cec81caf745")


def test_minhash_signatures_golden_pin(spark):
    """Signatures over the sf0.001 corpus plus edge strings (shorter than
    k, exactly k, empty, whitespace runs, None, unicode and ASCII-control
    whitespace) match the pinned digest bit for bit."""
    import hashlib

    from __spark_entry__ import SF0001
    from edspdf_spark.functions.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (100001, "ab"),
            (100002, "abcde"),
            (100003, ""),
            (100004, "  A \t\n  b   C  "),
            (100005, None),
            (100006, "\u00a0hello\u2003"),  # unicode WS: JVM trim keeps it
            (100007, "\u00a0\u00a0"),
            # ASCII control chars: Spark SQL trim() strips ONLY ' '
            (100008, "\x07hello world"),
            (100009, "\x1fX\x1f"),
            (100010, "\x01\x02"),
        ],
        "doc_id bigint, text string",
    )
    rows = sorted(tuple(r) for r in minhash_signatures(docs.unionByName(edge)).collect())
    assert 100005 not in {r[0] for r in rows}  # null text emits no row
    digest = hashlib.sha256("\n".join(map(repr, rows)).encode()).hexdigest()
    assert (len(rows), digest) == MINHASH_PIN


def test_training_prep_composite(spark):
    """The composite prep query: gates filter, dedup collapses the shifted
    copies onto the lowest doc_id, token stats ride the survivors."""
    import __spark_entry__ as entry_mod

    out = entry_mod._q_training_prep(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "gates must keep a non-trivial subset"
    by_id = {r.doc_id: r for r in rows}
    # canonical rows only: a shifted copy (doc_id >= 100000) can never be
    # the keep_id because its original (same text, lower id) also survives
    assert all(r.doc_id < 100000 for r in rows)
    # every kept doc divisible by 7 had a surviving identical copy → n_dups 2
    for r in rows:
        assert r.n_dups == (2 if r.doc_id % 7 == 0 else 1), r
    # gates actually applied
    assert all(r.doc_len >= 150 and r.lang_guess != "und" for r in rows)
    # token count is the whitespace tokenization of a non-empty text
    assert all(r.n_tokens > 0 for r in rows)
    # mix stage: rates are per-lang constants within [0, cap], copies are
    # floor(rate)+{0,1}, splits partition the output
    assert all(0 <= r.mix_rate_micro <= 2_000_000 for r in rows)
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang_guess, set()).add(r.mix_rate_micro)
        assert r.n_copies in (
            r.mix_rate_micro // 1_000_000,
            r.mix_rate_micro // 1_000_000 + 1,
        )
        assert r.split in ("train", "valid", "test")
    assert all(len(v) == 1 for v in by_lang.values())


def test_dedup_components_random_graphs_match_union_find(spark):
    """Property check: large-star/small-star labels == brute-force
    union-find components on random graphs (several seeds/densities)."""
    import numpy as np

    from edspdf_spark.functions.dedup import dedup_components

    def union_find(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical min-id label per component
        comp = {}
        for v in range(n_nodes):
            comp.setdefault(find(v), []).append(v)
        return {v: min(vs) for _r, vs in comp.items() for v in vs}

    for seed, n, m in ((0, 40, 25), (1, 60, 90), (2, 30, 10)):
        rng = np.random.default_rng(seed)
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(m, 2))
        ]
        pairs = spark.createDataFrame(edges, "id_a int, id_b int")
        got = {
            r.doc_id: r.component_id
            for r in dedup_components(pairs, max_iter=15, strict=True).collect()
        }
        nodes = {v for e in edges for v in e}
        want_all = union_find(n, [e for e in edges if e[0] != e[1]])
        want = {v: want_all[v] for v in nodes}
        # union-find roots are min ids only within TOUCHED nodes; recompute
        # mins over the actual node set
        by_root = {}
        for v in nodes:
            by_root.setdefault(want[v], set()).add(v)
        want = {v: min(vs) for _r, vs in by_root.items() for v in vs}
        assert got == want, (seed, {k: (got.get(k), want.get(k)) for k in nodes if got.get(k) != want.get(k)})


def test_canonicalize_url(spark):
    from edspdf_spark.functions.urls import canonicalize_url
    from pyspark.sql import functions as F

    cases = [
        # (input, expected canonical)
        ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&b=2&a=1#frag",
         "https://example.com/Path?a=1&b=2"),
        ("http://user:pw@EXAMPLE.com:80/", "http://example.com/"),
        ("http://example.com", "http://example.com/"),
        ("https://example.com/a//", "https://example.com/a"),
        ("https://example.com/?fbclid=abc&gclid=x&utm_medium=m",
         "https://example.com/"),
        ("https://example.com/p?z=1&ref=tw&A=2", "https://example.com/p?A=2&z=1"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("ftp://Host.Net/File", "ftp://host.net/File"),
        ("  https://example.com/x  ", "https://example.com/x"),
        ("not a url at all", "not a url at all"),  # untouched, trimmed only
        ("doc://00000042", "doc://00000042/"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"]
        for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_dedup_url_groups(spark):
    from edspdf_spark.functions.urls import dedup_url_groups

    spellings = [
        "https://example.com/page?a=1&b=2",
        "HTTPS://WWW.EXAMPLE.COM:443/page/?b=2&a=1&utm_source=feed#top",
        "https://example.com/page/?utm_campaign=x&a=1&b=2",
        "https://example.com/other",
    ]
    df = spark.createDataFrame([(u,) for u in spellings], "url string")
    got = {
        r["canonical_url"]: (r["keep_url"], r["n_dups"])
        for r in dedup_url_groups(df).collect()
    }
    assert got == {
        "https://example.com/page?a=1&b=2": (
            "HTTPS://WWW.EXAMPLE.COM:443/page/?b=2&a=1&utm_source=feed#top",
            3,
        ),
        "https://example.com/other": ("https://example.com/other", 1),
    }


def test_bloom_probe_no_false_negatives(spark):
    from edspdf_spark.functions.dedup import bloom_positions, bloom_probe

    prior = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(0, 60, 2)], "doc_id int, content_hash string"
    )
    new = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(60)], "doc_id int, content_hash string"
    )
    # tiny filter => real false positives, but never false negatives
    sketch = bloom_positions(prior, m_bits=128, k=3)
    got = {
        r.doc_id: r.maybe_seen
        for r in bloom_probe(new, sketch, m_bits=128, k=3).collect()
    }
    assert len(got) == 60
    for i in range(0, 60, 2):
        assert got[i], f"inserted key {i} flagged new (false negative)"
    # determinism: same sketch, same verdicts
    again = {
        r.doc_id: r.maybe_seen
        for r in bloom_probe(new, sketch, m_bits=128, k=3).collect()
    }
    assert got == again


def test_dedup_incremental_exact(spark):
    from edspdf_spark.functions.dedup import dedup_incremental

    prior = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(0, 50, 2)], "doc_id int, content_hash string"
    )
    new = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(50)], "doc_id int, content_hash string"
    )
    # small m forces false positives; the anti-join must rescue them all
    out = sorted(
        r.doc_id
        for r in dedup_incremental(new, prior, m_bits=64, k=3).collect()
    )
    assert out == sorted(i for i in range(50) if i % 2 == 1)


def test_bloom_positions_duckdb_differential(spark):
    import duckdb

    from edspdf_spark.functions.dedup import (
        MINHASH_PARAMS,
        bloom_positions,
    )

    rows = [(i, f"doc body {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, content_hash string")
    got = sorted(r.pos for r in bloom_positions(df, m_bits=4096, k=4).collect())

    poly = "CAST(0 AS BIGINT)"
    for j in range(1, 16):
        poly = f"(({poly}) * 31 + ascii(substr(s, {j}, 1))) % 2147483647"
    legs = " UNION ".join(
        f"SELECT ((CAST({a} AS BIGINT) * h + {b}) % 2147483647) % 4096 AS pos FROM hashed"
        for a, b in MINHASH_PARAMS[:4]
    )
    want = duckdb.sql(
        f"""
        WITH keys AS (
          SELECT 'doc body ' || CAST(i AS VARCHAR) AS key FROM range(40) t(i)
        ), hashed AS (
          SELECT (SELECT {poly} FROM (SELECT substr(md5(key), 1, 15) AS s)) AS h
          FROM keys
        )
        SELECT DISTINCT pos FROM ({legs}) ORDER BY pos
        """
    ).fetchall()
    assert got == [w[0] for w in want]


def test_keep_latest_revision(spark):
    """Newest fetch per URL wins; (ts, id) tie-break toward the larger
    id; revision counts exact; partitioning-invariant."""
    from edspdf_spark.functions.dedup import keep_latest_revision

    rows = [
        (1, "u/a", 100), (2, "u/a", 300), (3, "u/a", 200),  # newest = 2
        (4, "u/b", 50), (5, "u/b", 50),                     # ts tie -> id 5
        (6, "u/c", 7),                                      # singleton
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string, warc_ts long")
    got = {
        r.url: (r.keep_id, r.latest_ts, r.n_revisions)
        for r in keep_latest_revision(df).collect()
    }
    assert got == {"u/a": (2, 300, 3), "u/b": (5, 50, 2), "u/c": (6, 7, 1)}
    a = sorted(tuple(r) for r in keep_latest_revision(df.repartition(1)).collect())
    b = sorted(tuple(r) for r in keep_latest_revision(df.repartition(16)).collect())
    assert a == b


def test_lsh_incremental_pairs(spark, docs):
    """New-dump (odd ids) vs snapshot (even ids): dup pairs crossing the
    boundary are found, same-side pairs never emitted, and the union of
    cross pairs is a subset of the full-corpus candidate set."""
    from edspdf_spark.functions.dedup import (
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_signatures,
    )

    mh = docs.filter(F.length("text") >= 5)
    new_sig = minhash_signatures(mh.filter(F.col("doc_id") % 2 == 1), k=5, n_hashes=8)
    old_sig = minhash_signatures(mh.filter(F.col("doc_id") % 2 == 0), k=5, n_hashes=8)
    got = {(r.new_id, r.old_id) for r in lsh_incremental_pairs(new_sig, old_sig).collect()}
    # docs 0/1/2 are dups: cross-boundary pairs are (1,0) and (1,2)
    assert (1, 0) in got and (1, 2) in got
    assert all(n % 2 == 1 and o % 2 == 0 for n, o in got)
    full = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            minhash_signatures(mh, k=5, n_hashes=8), rows_per_band=2, n_hashes=8
        ).collect()
    }
    assert all((min(n, o), max(n, o)) in full for n, o in got)


def test_lsh_incremental_hot_bucket_cap(spark):
    """A degenerate identical-text cluster larger than max_bucket_size is
    dropped from BOTH sides — no quadratic pair blowup."""
    from edspdf_spark.functions.dedup import (
        lsh_incremental_pairs,
        minhash_signatures,
    )

    rows = [(i, "identical boilerplate cookie banner text") for i in range(30)]
    rows += [(100, "a genuinely unique document body here"), (101, "a genuinely unique document body here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sig_new = minhash_signatures(df.filter(F.col("doc_id") % 2 == 1), k=5, n_hashes=8)
    sig_old = minhash_signatures(df.filter(F.col("doc_id") % 2 == 0), k=5, n_hashes=8)
    got = {
        (r.new_id, r.old_id)
        for r in lsh_incremental_pairs(sig_new, sig_old, max_bucket_size=5).collect()
    }
    assert got == {(101, 100)}  # the boilerplate cluster was capped away


def test_semdedup_keeps_farthest_from_centroid(spark):
    """SemDeDup (arXiv:2303.09540) triangular rule on planted clusters:
    within a cell, a group of near-identical vectors keeps exactly the one
    with the LOWEST centroid similarity; out-of-group outliers survive."""
    import numpy as np

    from edspdf_spark.functions.similarity import semdedup, semdedup_verdicts

    rng = np.random.default_rng(0)
    base = rng.standard_normal((4, 8))
    rows, vid = [], 0
    for c in range(4):
        for j in range(5):
            v = base[c] + rng.standard_normal(8) * (0.01 if j < 3 else 2.0)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(4)],
        "cid int, c_emb array<double>",
    )
    out = {r.vec_id: r for r in semdedup_verdicts(df, cent, eps=0.05).collect()}
    assert len(out) == 20
    # replicate the rule locally from the verdict frame itself
    import collections

    by_cell = collections.defaultdict(list)
    for r in out.values():
        by_cell[r.cell].append(r)
    vecs = {i: np.asarray(e, dtype=np.float64) for i, e in rows}
    for cell, members in by_cell.items():
        members.sort(key=lambda r: (r.cent_sim, r.vec_id))
        kept_so_far = []
        for r in members:
            v = vecs[r.vec_id] / np.linalg.norm(vecs[r.vec_id])
            clash = any(
                float(v @ (vecs[u] / np.linalg.norm(vecs[u]))) >= 1 - 0.05 - 1e-12
                for u in [m.vec_id for m in members
                          if (m.cent_sim, m.vec_id) < (r.cent_sim, r.vec_id)]
            )
            assert r.keep == (not clash), (cell, r.vec_id)
            if r.keep:
                kept_so_far.append(r.vec_id)
    # each planted triple collapses to one survivor -> 4 cells * (1 + 2 outliers)
    assert sum(1 for r in out.values() if r.keep) == 12
    # trained twin: same counts with seeded k-means codebook
    trained = semdedup(df, n_cells=4, eps=0.05)
    assert trained.filter("keep").count() == 12
    assert trained.count() == 20


def test_semdedup_empty_and_determinism(spark):
    from edspdf_spark.functions.similarity import semdedup_verdicts

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid int, c_emb array<double>"
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semdedup_verdicts(empty, cent, eps=0.1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "cell", "cent_sim", "keep",
    ]
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    a = sorted(map(tuple, semdedup_verdicts(df, cent, eps=0.05).collect()))
    b = sorted(map(tuple, semdedup_verdicts(df, cent, eps=0.05).collect()))
    assert a == b
