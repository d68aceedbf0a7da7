"""Benchmark harness — prints ONE JSON line for the driver.

Headline: end-to-end extract → classify → aggregate docs/sec on a pages
corpus (BASELINE.md metric), plus per-query wall seconds for the heavy
operator families. SF dir and core count come from the driver environment:

    SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    (default 32)

Each query materializes fully via the noop sink (no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from edspdf_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_DOCS = int(os.environ.get("BENCH_SYNTH_DOCS", "24000"))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_pipeline_documents(spark, sf_dir):
    """Flagship: documents-derived pages through the fused production
    pipeline (the operator ``__spark_entry__.entry()`` runs)."""
    from edspdf_spark.fixtures import pages_from_documents
    from edspdf_spark.operators import run_pipeline_fused

    pages = pages_from_documents(spark, sf_dir)
    materialize(run_pipeline_fused(pages, [("body", 0.0, 0.0, 1.0, 0.6)], threshold=0.1))


def bench_pipeline_synthetic(spark, corpus_path):
    """Synthetic skewed corpus (pre-written parquet) through the PRODUCTION
    path: scan-partition-sized read (zero shuffle) + the fused pipeline —
    skew.py's measured default; salted repartition stays the fallback for
    giants clustered within files."""
    from edspdf_spark.operators import run_pipeline_fused
    from edspdf_spark.skew import apply_scan_partitioning, local_parquet_bytes

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    apply_scan_partitioning(spark, local_parquet_bytes(corpus_path), CPUS)
    try:
        pages = spark.read.parquet(corpus_path)
        materialize(
            run_pipeline_fused(pages, [("body", 0.2, 0.3, 0.9, 0.6)], threshold=0.1)
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def bench_mask_argmax(spark, sf_dir):
    from edspdf_spark import entry_queries as eq

    materialize(eq.q_mask_argmax(spark, sf_dir))


def bench_minhash_lsh(spark, sf_dir):
    from pyspark.sql import functions as F

    from edspdf_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.length("text") >= 5
    )
    # vectorized Arrow signatures: zero shuffle, the oracle-checked path
    sig = minhash_signatures(docs, k=5, n_hashes=8)
    materialize(lsh_candidate_pairs(sig, rows_per_band=2, n_hashes=8))


def bench_lsh_neardup(spark, sf_dir):
    """Embedding near-dup at scale: sign-bucket LSH candidates + exact
    in-bucket rescoring — the PRODUCTION near-dup path (the O(n²)
    crossJoin baseline is capped and test-only)."""
    from edspdf_spark.functions.similarity import lsh_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    materialize(lsh_neardup_pairs(emb, threshold=0.4, n_bits=6, n_tables=2, seed=42))


def bench_semdedup(spark, sf_dir):
    """SemDeDup semantic pruning, the oracle-checked face: seeded k-means
    codebook on a capped sample, exact-kernel cell assignment, one
    cell-keyed exchange, per-cell triangular exact-cosine scan."""
    from edspdf_spark.functions.similarity import kmeans_fit, semdedup_verdicts
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sample = np.array(
        [r[1] for r in emb.select("vec_id", "embedding").orderBy("vec_id").limit(20000).collect()]
    )
    cent = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(kmeans_fit(sample, 64))],
        "cid int, c_emb array<double>",
    )
    materialize(semdedup_verdicts(emb, cent, eps=0.6))


def bench_ivfpq(spark, sf_dir):
    """IVF-PQ-R production ANN (FAISS architecture): k-means coarse cells
    + per-subspace PQ codebooks on a capped sample, Arrow serve = cell
    probe -> ADC LUT gather over codes -> exact rescore of the shortlist."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.similarity import ivfpq_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 53 == 0)
    materialize(ivfpq_ann_topk(emb, q, k=5, n_cells=16, nprobe=4, m=8, k_codes=16))


def bench_pdf_bytes(spark, corpus_path):
    """Real %PDF- byte ingestion: pure-Python PDF parse (object scan,
    FlateDecode, content interpret, line grouping) → classify → aggregate
    over a pre-generated PDF corpus."""
    from edspdf_spark.operators import run_pipeline_fused

    pages = spark.read.parquet(corpus_path)
    materialize(
        run_pipeline_fused(pages, [("body", 0.0, 0.0, 1.0, 1.0)], threshold=0.1)
    )


def bench_html_extract(spark, corpus_path):
    """North-rule HTML face (graft cell: pyspark × webtext): boilerplate
    strip + link-density blocks + jusText-style context smoothing over a
    pre-generated Common-Crawl-style HTML corpus."""
    from edspdf_spark.operators.extract_html import extract_blocs_html

    pages = spark.read.parquet(corpus_path)
    materialize(extract_blocs_html(pages, context_sensitive=True))


def bench_consensus_extract(spark, corpus_path):
    """Ensemble main-content extraction: the three HTML faces (jusText /
    readability / boilerpipe) + 2-of-3 line voting, fused since round 4
    into ONE zero-shuffle Arrow stage (votes are page-local; the r3 plan
    paid 3 Arrow stages + 5 (url,line)-keyed exchanges for them)."""
    from edspdf_spark.operators.extract_html import extract_blocs_consensus

    pages = spark.read.parquet(corpus_path)
    materialize(extract_blocs_consensus(pages, min_votes=2, context_sensitive=True))


def bench_cetr_extract(spark, corpus_path):
    """CETR tag-ratio extraction (Weninger et al. 2010) — the pure-
    expression face: per-line tag ratios, zero-padded window smoothing
    and the integer mean cutoff all in array-land Catalyst expressions;
    one corpus scan, zero exchanges, zero Python."""
    from edspdf_spark.operators.extract_html import extract_blocs_cetr

    pages = spark.read.parquet(corpus_path)
    materialize(extract_blocs_cetr(pages))


def bench_structure_extract(spark, corpus_path):
    """Structure extraction sweep: outline+sections+lists+code over one
    HTML corpus — four zero/one-exchange regexp projection chains priced
    together (the scan dominates; per-op marginal cost is the point)."""
    from edspdf_spark.operators.extract_html import (
        extract_code_blocks,
        extract_lists,
        extract_outline,
        extract_sections,
    )

    pages = spark.read.parquet(corpus_path).select("url", "html")
    materialize(extract_outline(pages))
    materialize(extract_sections(pages))
    materialize(extract_lists(pages))
    materialize(extract_code_blocks(pages))


def bench_pagerank(spark, sf_dir):
    """Link-graph authority: deterministic hrefs from the documents corpus
    → extract_links (one regexp projection) → 5 rounds of exact
    fixed-point PageRank (one keyed agg + one join per round)."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.graph import extract_links, pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    html = F.concat(
        F.lit('<a href="p'),
        ((F.col("doc_id") * 2 + 1) % n).cast("string"),
        F.lit('">x</a><a href="p'),
        ((F.col("doc_id") * 3 + 7) % n).cast("string"),
        F.lit('">y</a>'),
    )
    pages = docs.select(
        F.concat(F.lit("p"), F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )
    materialize(pagerank(extract_links(pages), iterations=5))


def bench_warc_ingest(spark, warc_dir):
    """Common-Crawl wire format end-to-end: *.warc.gz directory → record
    parse (gzip members, HTTP envelopes) → charset-sniffed HTML
    main-content extraction. One binaryFile task per WARC file — the CC
    sharding contract — so the stage parallelism is the file count."""
    from edspdf_spark.operators.extract_html import extract_blocs_html
    from edspdf_spark.sources.warc import read_warc

    pages = read_warc(spark, warc_dir)
    materialize(extract_blocs_html(pages, charset="sniff", context_sensitive=True))


def bench_ann(spark, sf_dir):
    from pyspark.sql import functions as F

    from edspdf_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    materialize(cosine_topk(emb, q, k=10))


def bench_pricing(spark, sf_dir):
    import __spark_entry__ as e

    materialize(e._q_pricing_summary(spark, sf_dir))


def bench_box_embedding(spark, sf_dir):
    """E2 sinusoidal embedding over every lineitem-derived bloc — pure
    codegen'd projection throughput (24 channels/row)."""
    from edspdf_spark.entry_queries import blocs_from_lineitem
    from edspdf_spark.ml.embeddings import box_layout_embedding

    materialize(box_layout_embedding(blocs_from_lineitem(spark, sf_dir)))


def bench_text_embedding(spark, sf_dir):
    """E3 tokenize + shape/affix features + hash embedding over the whole
    documents corpus: expression features, then one vectorized Arrow
    embedding stage (zero shuffle, the oracle-checked path)."""
    from pyspark.sql import functions as F

    from edspdf_spark.ml.embeddings import simple_text_embedding, simple_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    materialize(simple_text_embedding(simple_text_features(docs), size=16))


def bench_warc_selective(spark, cdx_path):
    """CDX record-level fetch: ~1% of the crawl's urls pulled back by
    (filename, offset, length) seeks only — the index ships with the
    crawl (CC contract), so only the fetch is timed. Bytes read scale
    with the hit count, not the corpus."""
    from pyspark.sql import functions as F

    from edspdf_spark.sources.warc import read_warc_ranges

    cdx = spark.read.parquet(cdx_path)
    materialize(read_warc_ranges(cdx.where(F.abs(F.xxhash64("url")) % 97 == 0)))


def bench_quality_gate(spark, sf_dir):
    """Training-data corpus-filter pass: quality/lang/repetition signals,
    C4 line rules, Gopher line/word-shape signals + PII redaction (all
    pure scan-stage expressions) + top-2-gram coverage (one
    (doc,ngram)-keyed agg) over the documents corpus."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.quality import (
        c4_line_signals,
        redact_pii,
        top_ngram_stats,
        with_array_repetition,
        with_line_shape_signals,
    )
    from edspdf_spark.functions.text import with_lang_guess, with_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gated = (
        with_line_shape_signals(
            c4_line_signals(
                with_array_repetition(with_lang_guess(with_quality(docs)))
            )
        )
        .filter((F.col("doc_len") >= 50) & (F.col("dup_word_fraction") <= 0.99))
        .withColumn("text", redact_pii(F.col("text")))
        .drop("c4_text")
    )
    materialize(gated.join(top_ngram_stats(docs, 2), on="doc_id"))


def bench_perplexity(spark, sf_dir):
    """CCNet-style LM quality pass: train a bigram LM on half the corpus
    (two groupBy count tables), score every doc by joined add-one
    log-probs, integer micro-unit doc sums."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.lm import train_bigram_lm, with_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(docs.where(F.col("doc_id") % 2 == 0))
    materialize(with_perplexity(docs, lm))


def bench_dsir(spark, sf_dir):
    """DSIR importance selection: fit hashed-ngram target/source bucket
    distributions (two explode→agg passes), score every doc (one
    (doc,bucket)-keyed agg + broadcast ratio join + doc-keyed sum),
    Gumbel top-1000 resample (distributed top-k), then chunk the picked
    docs into 128-token training windows."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.dsir import dsir_select
    from edspdf_spark.functions.text import chunk_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    picked = dsir_select(
        docs, docs.where(F.col("doc_id") % 5 == 0), n=1000, m_buckets=4096, seed=7
    )
    materialize(chunk_tokens(picked, window=128, stride=128))


def bench_quality_clf(spark, sf_dir):
    """Hashed-ngram logistic quality classifier: 2 integer-GD training
    epochs (each = broadcast weight join + doc-keyed sum + bucket-keyed
    sum over the checkpointed feature table) + full-corpus serve."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.classifier import (
        fit_logreg_hashed,
        predict_logreg,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    train = docs.withColumn("label", (F.length("text") >= 600).cast("int"))
    w = fit_logreg_hashed(train, m_buckets=4096, epochs=2)
    materialize(predict_logreg(docs, w, m_buckets=4096))


def bench_corpus_recipe(spark, sf_dir):
    """Corpus-assembly pass: recrawl dedup (synthetic refetch urls, newest
    wins) → C4 badword blocklist gate → token stats → mC4 temperature mix
    with epoch replication → leakage-safe split assignment. Everything is
    keyed aggs / broadcast joins / projections — no window over the
    corpus, no collect."""
    from pyspark.sql import functions as F

    from edspdf_spark.functions.dedup import keep_latest_revision
    from edspdf_spark.functions.quality import (
        blocklist_filter,
        split_assign,
        temperature_mix,
    )
    from edspdf_spark.functions.text import with_token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        "doc_id",
        "lang",
        "text",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/r/"),
            (F.col("doc_id") % 20000).cast("string"),
        ).alias("url"),
        (F.lit(1700000000) + (F.col("doc_id") * 37) % 1000).alias("warc_ts"),
    )
    keep = keep_latest_revision(src).select(F.col("keep_id").alias("doc_id"))
    latest = src.join(keep, on="doc_id", how="left_semi")
    gated = blocklist_filter(latest, ["labore", "tempor"])
    mixed = temperature_mix(
        with_token_stats(gated), target_tokens=200_000, alpha=0.3, max_epochs=2.0
    )
    materialize(split_assign(mixed, by_col="doc_id"))


def main():
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="edspdf-bench",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # pre-generate the synthetic corpus outside the timed section; many
    # small files (one row group each) so scan-partition sizing can hit
    # its target split count (path versioned by layout)
    corpus_path = f"/tmp/edspdf_bench_corpus_{SYNTH_DOCS}_p{CPUS * 8}"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        from edspdf_spark.fixtures import write_corpus

        write_corpus(spark, corpus_path, SYNTH_DOCS, partitions=CPUS * 8)

    n_documents = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    # pre-generate the real-PDF corpus once (replicated documents texts →
    # genuine multi-page Flate PDFs); generation is a test-data producer,
    # only the parse side is benched
    pdf_docs = int(os.environ.get("BENCH_PDF_DOCS", "8000"))
    pdf_corpus = f"/tmp/edspdf_bench_pdfs_{pdf_docs}"
    if not os.path.exists(pdf_corpus + "/_SUCCESS"):
        from pyspark.sql import functions as F

        from edspdf_spark.sources.pdfgen import documents_to_pdfs

        base_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        reps = max(1, pdf_docs // max(1, n_documents))
        replicated = base_docs
        for r in range(1, reps):
            replicated = replicated.unionAll(
                base_docs.select(
                    (F.col("doc_id") + r * 1_000_000).alias("doc_id"), "text"
                )
            )
        documents_to_pdfs(replicated.repartition(CPUS)).write.mode(
            "overwrite"
        ).parquet(pdf_corpus)

    # pre-generate the HTML web-page corpus once (replicated documents
    # texts → deterministic chrome+article pages); only the extract side
    # is benched
    html_docs = int(os.environ.get("BENCH_HTML_DOCS", "24000"))
    html_corpus = f"/tmp/edspdf_bench_html_{html_docs}_v2"  # _v2: structure tags in the fixture
    if not os.path.exists(html_corpus + "/_SUCCESS"):
        from edspdf_spark.fixtures import html_pages_from_documents

        reps = max(1, html_docs // max(1, n_documents))
        html_pages_from_documents(spark, SF_DIR, reps=reps).repartition(
            CPUS
        ).write.mode("overwrite").parquet(html_corpus)

    # pre-generate the WARC corpus once: the HTML pages wrapped into
    # member-per-record .warc.gz files (2 files per core so the binary
    # scan saturates); generation is a producer, only ingest is benched
    warc_corpus = f"/tmp/edspdf_bench_warc_{html_docs}_f{CPUS * 2}_v2"
    if not os.path.exists(warc_corpus + "/crawl-00000.warc.gz"):
        from pyspark.sql import functions as F

        from edspdf_spark.sources.warc import write_warc

        html_pages = spark.read.parquet(html_corpus).withColumn(
            "warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        )
        write_warc(html_pages, warc_corpus, n_files=CPUS * 2)

    # pre-build the CDX index once (it ships WITH a crawl — CC contract);
    # only the selective fetch is a benched query
    cdx_path = f"{warc_corpus}_cdx"
    if not os.path.exists(cdx_path + "/_SUCCESS"):
        from edspdf_spark.sources.warc import build_cdx

        build_cdx(spark, warc_corpus).write.mode("overwrite").parquet(cdx_path)

    # warmup: JVM/codegen init plus one python worker per core, so timings
    # below are steady-state (a cold first query would otherwise absorb
    # 32 worker fork+import costs)
    from edspdf_spark.operators import run_pipeline_fused

    warm_pages = spark.read.parquet(corpus_path).limit(CPUS * 40).repartition(CPUS)
    materialize(run_pipeline_fused(warm_pages, [("body", 0.2, 0.3, 0.9, 0.6)], 0.1))

    queries = {
        "pipeline_documents": lambda: bench_pipeline_documents(spark, SF_DIR),
        "pipeline_synthetic_skewed": lambda: bench_pipeline_synthetic(
            spark, corpus_path
        ),
        "pdf_bytes": lambda: bench_pdf_bytes(spark, pdf_corpus),
        "html_extract": lambda: bench_html_extract(spark, html_corpus),
        "consensus_extract": lambda: bench_consensus_extract(spark, html_corpus),
        "cetr_extract": lambda: bench_cetr_extract(spark, html_corpus),
        "structure_extract": lambda: bench_structure_extract(spark, html_corpus),
        "pagerank_links": lambda: bench_pagerank(spark, SF_DIR),
        "warc_ingest": lambda: bench_warc_ingest(spark, warc_corpus),
        "warc_selective": lambda: bench_warc_selective(spark, cdx_path),
        "mask_argmax": lambda: bench_mask_argmax(spark, SF_DIR),
        "minhash_lsh": lambda: bench_minhash_lsh(spark, SF_DIR),
        "lsh_neardup": lambda: bench_lsh_neardup(spark, SF_DIR),
        "semdedup": lambda: bench_semdedup(spark, SF_DIR),
        "ivfpq_ann": lambda: bench_ivfpq(spark, SF_DIR),
        "ann_cosine_topk": lambda: bench_ann(spark, SF_DIR),
        "pricing_summary": lambda: bench_pricing(spark, SF_DIR),
        "box_embedding": lambda: bench_box_embedding(spark, SF_DIR),
        "text_embedding": lambda: bench_text_embedding(spark, SF_DIR),
        "quality_gate": lambda: bench_quality_gate(spark, SF_DIR),
        "perplexity": lambda: bench_perplexity(spark, SF_DIR),
        "dsir_select": lambda: bench_dsir(spark, SF_DIR),
        "quality_clf": lambda: bench_quality_clf(spark, SF_DIR),
        "corpus_recipe": lambda: bench_corpus_recipe(spark, SF_DIR),
    }

    # min-of-N per query: this VM shows ±30-100% wall variance between
    # minutes at full load (BENCH/BASELINE.md noise analysis), so a
    # single-pass timing is a lottery draw — the minimum over a few
    # back-to-back passes is the stable engine number.
    reps = int(os.environ.get("BENCH_REPS", "3"))
    # the two headline queries set the reported metric, so they get extra
    # draws — the VM's slow phases last minutes, and min-of-N only works
    # if N spans enough wall-clock to catch a normal-speed moment
    headline = {"pipeline_documents", "pipeline_synthetic_skewed"}
    timings = {}
    stats = {}
    for name, fn in queries.items():
        # session-position hygiene: a long shared session accumulates
        # cached relations and heap garbage from earlier queries; the
        # round-3 bench showed +30-70% phantom "regressions" on late
        # queries (box/text_embedding) that vanish when run isolated.
        # Clearing the relation cache and forcing a JVM GC between
        # query families keeps each timing about the query, not about
        # where it sits in the session.
        spark.catalog.clearCache()
        # localCheckpoint RDDs (pagerank, components) survive clearCache;
        # drop them too so no query pays for a predecessor's block cache
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        # hygiene is load-bearing (two phantom r3 regressions traced to
        # it) — assert it held, don't just hope
        assert (
            spark.sparkContext._jsc.getPersistentRDDs().size() == 0
        ), f"relation cache not empty before {name}"
        spark.sparkContext._jvm.System.gc()
        walls = []
        for _ in range(max(reps, 6) if name in headline else reps):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        walls.sort()
        timings[name] = round(walls[0], 3)
        # per-query dispersion so future regressions are A/B-able from
        # the recorded BENCH_r*.json alone (no session archaeology):
        # reps + min/median/max of the raw walls
        stats[name] = {
            "reps": len(walls),
            "min": round(walls[0], 3),
            "median": round(walls[len(walls) // 2], 3),
            "max": round(walls[-1], 3),
        }

    total_docs = n_documents + SYNTH_DOCS
    pipeline_secs = timings["pipeline_documents"] + timings["pipeline_synthetic_skewed"]
    docs_per_sec = round(total_docs / pipeline_secs, 2) if pipeline_secs else 0.0

    print(
        json.dumps(
            {
                "metric": "e2e_docs_per_sec_extract_classify_aggregate",
                "value": docs_per_sec,
                "unit": "docs/sec",
                "queries": timings,
                "query_stats": stats,
                "sf": SF_DIR,
                "cpus": CPUS,
                "docs": total_docs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
