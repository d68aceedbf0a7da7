"""Physical-plan audit for the headline queries → PLANS.md.

For each headline query this renders the formatted Catalyst physical plan
plus an automated audit: parquet pushdown (PushedFilters / ReadSchema —
a scan that reads all columns for a 2-column projection is wrong),
whole-stage-codegen span count, and the number of exchanges (every
shuffle is a cluster-scale cost; the audit names which key each one is
for, so a reviewer can check it's a *required* shuffle, not an accident).

Run: ``python tools/dump_plans.py`` (writes /root/repo/PLANS.md; uses the
sf0.01 tables so it finishes in seconds — plan SHAPE is scale-invariant,
which is the point of auditing plans rather than timings).
"""

from __future__ import annotations

import atexit
import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


MAX_LINE = 300


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def clip(plan: str) -> str:
    """Clip pathological plan lines for the report (the literal-mask argmax
    inlines per-mask CASE chains into single lines tens of KB long); the
    audit regexes run on the FULL text."""
    out = []
    for line in plan.splitlines():
        if len(line) > MAX_LINE:
            line = f"{line[:MAX_LINE]}… (+{len(line) - MAX_LINE} chars)"
        out.append(line)
    return "\n".join(out)


def audit(plan: str) -> str:
    """Extract the scale-relevant facts from a formatted physical plan.

    Formatted mode prints each operator twice (tree + detail block); scans
    are counted by their ReadSchema detail, codegen spans by the
    ``[codegen id : N]`` stage tags, and exchanges by their detail block's
    Arguments line (where the partitioning key lives).
    """
    lines = []
    # each scan detail block: PushedFilters (optional) + ReadSchema
    scan_blocks = re.findall(
        r"\(\d+\) Scan parquet ?\n(.*?)(?=\n\(\d+\)|\Z)", plan, flags=re.S
    )
    lines.append(f"- parquet scans: {len(scan_blocks)}")
    for i, block in enumerate(scan_blocks):
        read = re.search(r"ReadSchema: struct<([^\n]*)>", block)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        cols = re.findall(r"(\w+):", read.group(1)) if read else []
        p = pushed.group(1).strip() if pushed else ""
        lines.append(
            f"  - scan {i}: reads {len(cols)} col(s) `{','.join(cols)}`"
            + (f", pushed filters `[{p}]`" if p else ", no pushed filters")
        )
    wsc = set(re.findall(r"\[codegen id : (\d+)\]", plan))
    lines.append(f"- whole-stage-codegen spans: {len(wsc)}")
    # exchange detail blocks carry the partitioning in their Arguments line
    ex_args = re.findall(
        r"\(\d+\) Exchange ?\n.*?Arguments: (\w+)\(([^)]*)\)", plan, flags=re.S
    )
    if ex_args:
        for kind, key in ex_args:
            key_short = re.sub(r"#\d+L?", "", key.split(",")[0])
            lines.append(f"- exchange: {kind}({key_short}, …)")
    else:
        lines.append("- exchanges: NONE (zero-shuffle plan)")
    return "\n".join(lines)


def main() -> None:
    from pyspark.sql import functions as F

    from edspdf_spark import get_spark
    from edspdf_spark import entry_queries as eq
    from edspdf_spark.fixtures import pages_from_documents
    from edspdf_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures
    from edspdf_spark.functions.similarity import cosine_topk
    from edspdf_spark.operators import (
        aggregate_simple,
        classify_mask,
        extract_blocs,
        run_pipeline_fused,
    )

    # the bucketed-join entry saveAsTable's into the warehouse: a fresh
    # directory per run (a table directory left by an earlier run makes
    # saveAsTable fail with LOCATION_ALREADY_EXISTS), outside the repo tree
    warehouse = tempfile.mkdtemp(prefix="edspdf_plans_warehouse_")
    atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
    spark = get_spark(
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # AQE stays ON in production; for plan INSPECTION a static plan is the
    # honest artifact — AdaptiveSparkPlan(isFinalPlan=false) hides codegen
    # ids and final exchange placement until execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    pages = pages_from_documents(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.length("text") >= 5
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    entries = [
        (
            "pipeline_fused (production path)",
            "extract → overlap-argmax classify → ordered aggregate in ONE "
            "Arrow stage. A per-document pipeline never needs to move lines "
            "across the cluster to regroup them by the document they came "
            "from, so the only acceptable plan is scan → mapInArrow → sink "
            "with no exchange; skew is handled upstream by scan-split "
            "sizing (`skew.apply_scan_partitioning`), which shapes the scan, "
            "not the plan.",
            run_pipeline_fused(pages, [("body", 0.0, 0.0, 1.0, 0.6)], threshold=0.1),
        ),
        (
            "pipeline_composed (operator chain)",
            "Same semantics as the fused path through separate operators. "
            "Expected: ONE exchange total — the aggregate's repartition(url) "
            "(regrouping lines by document is the operator's semantics); "
            "extract + the literal-mask classifier must stay in the scan's "
            "stage (classify is a pure projection, zero-shuffle).",
            aggregate_simple(
                classify_mask(
                    extract_blocs(pages), [("body", 0.0, 0.0, 1.0, 0.6)], threshold=0.1
                )
            ),
        ),
        (
            "html_extract (webtext face)",
            "HTML boilerplate strip + jusText-style context smoothing. "
            "Block segmentation and neighbor smoothing are per-document, "
            "so the only acceptable plan is scan → mapInPandas → sink "
            "with ZERO exchanges (here the corpus generator adds one more "
            "mapInPandas in the same stage); the scan must read only "
            "(doc_id, text) — ReadSchema check below.",
            (lambda _f, _x: _x.extract_blocs_html(
                _f.html_pages_from_documents(spark, SF_DIR),
                context_sensitive=True,
            ))(
                __import__("edspdf_spark.fixtures", fromlist=["x"]),
                __import__(
                    "edspdf_spark.operators.extract_html", fromlist=["x"]
                ),
            ),
        ),
        (
            "mask_argmax (driver query)",
            "Literal masks compile to per-mask overlap scores + greatest() "
            "+ first-match argmax — a pure projection, no join, no shuffle "
            "from the CLASSIFIER itself (the one exchange below is the "
            "entry query's `SELECT DISTINCT` blocs derivation, which guards "
            "against the test corpus's duplicated lineitem row; on a real "
            "blocs table the classifier adds zero exchanges to the scan).",
            eq.q_mask_argmax(spark, SF_DIR),
        ),
        (
            "minhash_lsh (dedup production path)",
            "Vectorized Arrow signatures (zero shuffle) → band explode → "
            "groupBy(band bucket) with collect_list + in-bucket pair "
            "expansion. Expected: one data exchange keyed on the LSH bucket "
            "(the theoretical minimum — candidates ARE the bucket groups) "
            "plus one small exchange on the pair key for the cross-band "
            "`distinct` (a pair can collide in several bands; this exchange "
            "moves candidate PAIRS, a tiny fraction of corpus bytes).",
            lsh_candidate_pairs(
                minhash_signatures(docs, k=5, n_hashes=8),
                rows_per_band=2,
                n_hashes=8,
            ),
        ),
        (
            "ann_cosine_topk (similarity production path)",
            "Partition-local exact-kernel top-k (mapInArrow) then a "
            "k-rows-per-partition window — the shuffle moves only "
            "k·partitions candidate rows, never the corpus.",
            cosine_topk(emb, emb.filter(F.col("vec_id") % 97 == 0), k=10),
        ),
        (
            "pricing_summary (relational)",
            "Filter must reach the scan (PushedFilters) and the scan must "
            "read only the aggregated/grouping columns; partial (map-side) "
            "aggregation before the single group-key exchange.",
            __import__("__spark_entry__")._q_pricing_summary(spark, SF_DIR),
        ),
        (
            "lsh_neardup (production path, oracle-checked)",
            "Arrow sign-bucket tagging (zero shuffle) → ONE bucket-keyed "
            "exchange for the groupBy collect_list + in-bucket pair "
            "expansion → one small pair-keyed exchange for the cross-table "
            "distinct → id joins + exact-kernel Arrow rescore. No self-join (the "
            "textbook shape evaluates the bucket stage twice — Catalyst "
            "does not reuse exchanges across self-join sides), no cross "
            "join anywhere.",
            __import__("edspdf_spark.functions.similarity", fromlist=["x"])
            .lsh_neardup_pairs(emb, threshold=0.4, n_bits=6, n_tables=2, seed=42),
        ),
        (
            "ivf_serve_topk (ANN serve path)",
            "Cell assignment and query probes are one mapInArrow stage "
            "each against the collected codebook (exact-kernel argmax, no "
            "exchange, no nested-loop join); candidates come from the "
            "probe⨝cell equi-join and are scored by one exact-kernel "
            "mapInArrow stage before the query-keyed top-k window.",
            (lambda _sim: _sim.ivf_serve_topk(
                emb,
                emb.orderBy("vec_id").limit(16).select(
                    F.col("vec_id").cast("int").alias("cid"),
                    F.col("embedding").alias("c_emb"),
                ),
                emb.filter(F.col("vec_id") % 53 == 0),
                k=5,
                nprobe=4,
            ))(__import__("edspdf_spark.functions.similarity", fromlist=["x"])),
        ),
        (
            "semdedup_verdicts (semantic near-dup prune)",
            "SemDeDup over a given codebook. Cell assignment = one "
            "mapInArrow stage against the collected codebook (exact-kernel "
            "argmax + cent_sim, no exchange); ONE cell-keyed exchange "
            "(repartition) + sortWithinPartitions(cell, cent_sim, id) so "
            "each cell streams in retention-priority order into one "
            "mapInArrow triangular exact-cosine scan (cell size is the "
            "scale knob — n_cells grows with the corpus, as in the paper's "
            "~50k-cluster LAION runs). No join, no cross join, no window "
            "over the corpus.",
            (lambda _sim: _sim.semdedup_verdicts(
                emb,
                emb.orderBy("vec_id").limit(16).select(
                    F.col("vec_id").cast("int").alias("cid"),
                    F.col("embedding").alias("c_emb"),
                ),
                eps=0.6,
            ))(__import__("edspdf_spark.functions.similarity", fromlist=["x"])),
        ),
        (
            "pq_adc_topk (product-quantization ADC serve)",
            "PQ encode = subspace posexplode (literal 8-element array, no "
            "data motion) × broadcast m·k-row codebook with a dsub-term "
            "expression dot (small — never trips the janino limit the "
            "full-dim cosine does), argmax via partial-aggregatable "
            "max_by; ADC = the tiny query-LUT broadcast-joined on "
            "(s, code) and folded in fixed subspace order. Expected "
            "corpus-keyed exchanges: the encode groupBy and the "
            "(query,vec) score groupBy — codes, never raw vectors, are "
            "the serve working set.",
            (lambda _sim: _sim.pq_adc_topk(
                emb,
                emb.orderBy("vec_id").limit(16).crossJoin(
                    emb.sparkSession.range(8).select(F.col("id").cast("int").alias("s"))
                ).select(
                    "s",
                    F.col("vec_id").cast("int").alias("c"),
                    F.slice("embedding", F.col("s") * 8 + 1, 8).alias("c_emb"),
                ),
                emb.filter(F.col("vec_id") % 53 == 0),
                k=5, m=8, dsub=8,
            ))(__import__("edspdf_spark.functions.similarity", fromlist=["x"])),
        ),
        (
            "top_ngram_stats (repetition quality gate)",
            "Gopher-style top-n-gram coverage. N-gram synthesis is a pure "
            "higher-order-function projection in the scan stage; the explode "
            "feeds a (doc, ngram)-keyed aggregation with map-side partial "
            "combine, then a doc-keyed struct-argmin aggregation (again "
            "partial-aggregatable — no window sort over the corpus). "
            "Expected: two exchanges, both keyed by doc_id(+gram), nothing "
            "finer; the left join back to the doc spine broadcasts or "
            "reuses the doc key.",
            __import__("edspdf_spark.functions.quality", fromlist=["x"])
            .top_ngram_stats(docs, 2),
        ),
        (
            "decontaminate (benchmark n-gram scrub)",
            "The benchmark side (an eval suite — tiny vs the corpus) is "
            "distinct'd and BROADCAST; the corpus side explodes its "
            "n-grams and LEFT SEMI joins map-side, then one doc-id "
            "distinct and a broadcast LEFT ANTI back onto the corpus. "
            "Expected: no corpus-keyed shuffle except the contaminated-id "
            "distinct (cardinality ≤ contaminated docs, not n-grams).",
            (lambda _q: _q.decontaminate(
                docs.select("doc_id", "text"),
                docs.filter(F.col("doc_id") % 101 == 0).select("text"),
                n=8,
            ))(__import__("edspdf_spark.functions.quality", fromlist=["x"])),
        ),
        (
            "forest_classifier (trainable-head serve)",
            "Quantized compiled serve (ml/compiled.py): E1 features are "
            "pure projections plus ONE url-keyed window (first/last-page "
            "features are per-document semantics, so that exchange is "
            "required), then a single Arrow mapInPandas traversal — the "
            "model rides the closure, no join, no further shuffle. (The "
            "extra exchange below is the entry query's SELECT DISTINCT "
            "blocs derivation, same caveat as mask_argmax.)",
            eq.q_forest_classifier(spark, SF_DIR),
        ),
        (
            "order_following (pairwise-head serve)",
            "Per-page pair self-join on (url, page_num) — the equi-join key "
            "keeps the O(lines²) blowup strictly within a page — then one "
            "Arrow scoring stage and one max_by aggregation (partial agg "
            "before the single (url, page_num, ord_i) exchange; max_by on a "
            "struct plans as SortAggregate, which is still two-phase). At "
            "test SF Catalyst broadcasts the self-join's right side; at "
            "cluster scale the same plan degrades gracefully to a "
            "co-partitioned sort-merge join on the page key — either way "
            "no exchange is keyed on anything finer than the page.",
            eq.q_order_following(spark, SF_DIR),
        ),
        (
            "consensus_extract (ensemble extraction path)",
            "Three extraction faces + 2-of-3 line voting FUSED into one "
            "Arrow stage (round 4): line votes are page-local by "
            "construction, so the ensemble needs no distributed vote — "
            "the kernel parses each page twice (block segmentation, "
            "shared by the jusText labels and boilerpipe's shallow "
            "features, plus the Arc90 container scores), votes in-memory "
            "and emits the filtered blocs. The harness's documents→html "
            "page synthesis rides the SAME stage via page_builder (round "
            "5 — the r4 driver-path plan stacked a second MapInPandas "
            "under the kernel for it). Expected: ONE scan, ONE "
            "mapInPandas, ZERO exchanges (the r3 plan paid three Arrow "
            "stages plus 5 (url,line)/bloc-keyed exchanges for the same "
            "rows — byte-identity held by the html_boilerplate and "
            "extraction_eval consensus oracles and the fused-vs-"
            "distributed parity test in tests/test_consensus.py).",
            (lambda _f, _x: _x.extract_blocs_consensus(
                spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
                    "doc_id", "text"
                ),
                min_votes=2,
                context_sensitive=True,
                page_builder=_f.html_page_batch,
            ))(
                __import__("edspdf_spark.fixtures", fromlist=["x"]),
                __import__(
                    "edspdf_spark.operators.extract_html", fromlist=["x"]
                ),
            ),
        ),
        (
            "pagerank (link-graph authority, 2 rounds shown)",
            "Per round: one join of ranks onto the out-degree edge list "
            "(both sides keyed on the node — sort-merge or broadcast as "
            "AQE sees fit) and ONE dst-keyed partial-aggregatable SUM. "
            "Edges and per-round ranks are localCheckpoint-ed so the plan "
            "below is per-round constant — lineage cannot grow with "
            "iteration count, which is what kills naive iterative jobs at "
            "scale. Exact BIGINT micro-unit arithmetic: no float "
            "accumulation-order sensitivity, so partitioning changes can "
            "never change the result.",
            (lambda _g: _g.pagerank(
                _g.extract_links(
                    spark.read.parquet(f"{SF_DIR}/documents.parquet")
                    .select(
                        F.concat(F.lit("p"), F.col("doc_id").cast("string")).alias("url"),
                        F.concat(
                            F.lit('<a href="p'),
                            ((F.col("doc_id") * 2 + 1) % 100).cast("string"),
                            F.lit('">x</a>'),
                        ).alias("html"),
                    )
                ),
                iterations=2,
            ))(__import__("edspdf_spark.functions.graph", fromlist=["x"])),
        ),
        (
            "token_prf (extraction-quality eval)",
            "CleanEval-style token-multiset P/R/F1 at corpus scale. "
            "Tokenization is split+explode in the scan stage; the "
            "exchanges are (doc, token)-keyed count aggregations with "
            "map-side partial combine, the exact-integer least()-sum "
            "intersection agg, and doc-keyed joins assembling the score "
            "row. No collect, no crossJoin, no Python stage at all — the "
            "eval of a 10^12-doc extraction run is an ordinary shuffle "
            "workload bounded by corpus token count.",
            (lambda _e: _e.token_prf(
                docs.select(F.col("doc_id").cast("string").alias("url"), "text"),
                docs.select(F.col("doc_id").cast("string").alias("url"), "text"),
            ))(__import__("edspdf_spark.functions.eval", fromlist=["x"])),
        ),
        (
            "robots_filter (crawl-politeness frontier gate)",
            "RFC 9309 verdicts over a URL frontier. The rules parse is one "
            "host-keyed window over exploded robots lines (robots files "
            "are tiny, so the per-host partition is bytes); the frontier "
            "joins the chosen agent group on the HOST equi-key (the "
            "crawl's natural partitioning — a hot host is an ordinary AQE "
            "skew split), the LIKE match is a per-row JVM expression, and "
            "the verdict is one url-keyed partial-aggregatable max_by. "
            "Expected: no exchange keyed finer than host/url, no UDF, no "
            "crossJoin.",
            (lambda _r: _r.robots_filter(
                docs.select(
                    F.concat(
                        F.lit("http://h"),
                        (F.col("doc_id") % 7).cast("string"),
                        F.lit("/p"),
                        F.col("doc_id").cast("string"),
                    ).alias("url")
                ),
                spark.createDataFrame(
                    [(f"h{i}", "User-agent: *\nDisallow: /tmp/\n") for i in range(7)],
                    "host string, robots_txt string",
                ),
            ))(__import__("edspdf_spark.functions.robots", fromlist=["x"])),
        ),
        (
            "fit_logreg_hashed + serve (quality classifier, 1 epoch shown)",
            "Integer-GD logistic regression. Per epoch: the checkpointed "
            "(doc, bucket) feature table joins the weight table as a "
            "BROADCAST (weights ≤ m_buckets rows), one doc-keyed sum "
            "(margins), one bucket-keyed sum (gradients) — both partial-"
            "aggregatable. The serve plan below shows the same shape "
            "without the training loop: broadcast weights, one doc-keyed "
            "exchange, no collect (the localCheckpoint-ed training "
            "iterations don't appear in a static plan).",
            (lambda _c: _c.predict_logreg(
                docs.select("doc_id", "text"),
                _c.fit_logreg_hashed(
                    docs.select("doc_id", "text").withColumn(
                        "label", (F.length("text") >= 600).cast("int")
                    ),
                    m_buckets=512,
                    epochs=1,
                ),
                m_buckets=512,
            ))(__import__("edspdf_spark.functions.classifier", fromlist=["x"])),
        ),
        (
            "bm25_topk (full-text retrieval)",
            "Query-time plan over the prebuilt index: the query's terms "
            "are a tiny broadcast, postings⨝terms prunes to the query's "
            "posting lists, df/doclen/stats join in (stats is a one-row "
            "broadcast), one doc-keyed exchange sums the quantized "
            "contributions, and the top-k is TakeOrderedAndProject — no "
            "global sort, no corpus scan beyond the index tables.",
            (lambda _s: _s.bm25_topk(
                _s.build_text_index(docs.select("doc_id", "text")),
                "join filter scan",
                k=20,
            ))(__import__("edspdf_spark.functions.search", fromlist=["x"])),
        ),
        (
            "dsir_select (importance resampling production path)",
            "DSIR fit+score+resample in one plan. The corpus is n-gram-"
            "exploded ONCE into a (doc, bucket)-keyed aggregation; the "
            "source bucket distribution is a rollup of that same table and "
            "the fitted ratio table (≤ m_buckets rows) joins back as a "
            "BROADCAST — the model never shuffles the corpus. Expected "
            "corpus-keyed exchanges: (doc, bucket) counts, doc-keyed score "
            "sum, doc-keyed join back to the spine; the resample is a "
            "TakeOrderedAndProject (distributed top-k, NO global sort). "
            "With AQE on at runtime the target-slice count exchanges are "
            "additionally deduped by ReuseExchange (4 reused stages "
            "observed); shown here with AQE off, so the static plan "
            "over-counts scans.",
            (lambda _d: _d.dsir_select(
                docs.select("doc_id", "text"),
                docs.where(F.col("doc_id") % 5 == 0).select("doc_id", "text"),
                n=100,
                m_buckets=4096,
                seed=7,
            ))(__import__("edspdf_spark.functions.dsir", fromlist=["x"])),
        ),
        (
            "temperature_mix (language rebalancing)",
            "mC4 α-sampling: per-language token totals are ONE lang-keyed "
            "partial-aggregatable sum (a handful of result rows); rates "
            "broadcast back onto the corpus; the draw + epoch replication "
            "is a pure projection + generator. Expected: the only "
            "corpus-keyed work is the scan itself — no corpus shuffle, no "
            "window, no UDF.",
            (lambda _q, _t: _q.temperature_mix(
                _t.with_token_stats(
                    spark.read.parquet(f"{SF_DIR}/documents.parquet")
                ).select("doc_id", "lang", "n_tokens"),
                target_tokens=30_000,
                alpha=0.3,
            ))(
                __import__("edspdf_spark.functions.quality", fromlist=["x"]),
                __import__("edspdf_spark.functions.text", fromlist=["x"]),
            ),
        ),
        (
            "select_canonical (cluster representative)",
            "Quality-priority keep-doc per near-dup component: label join "
            "on doc_id, then ONE component-keyed struct-max aggregation "
            "with map-side partial combine — no per-component window sort, "
            "so a pathological mega-component reduces like any other key. "
            "Expected exchanges: the doc_id-keyed label join and the "
            "component-keyed agg, nothing finer.",
            (lambda _d: _d.select_canonical(
                docs.select("doc_id", F.length("text").cast("long").alias("doc_len")),
                docs.select(
                    "doc_id", (F.col("doc_id") % 50).alias("component_id")
                ),
                priority=["doc_len"],
            ))(__import__("edspdf_spark.functions.dedup", fromlist=["x"])),
        ),
        (
            "predict_ovr (multi-class language-ID serve)",
            "One feature explode + (doc, bucket) agg in the scan's "
            "stages, broadcast weight join (n_classes·m_buckets rows), "
            "one (doc, cls)-keyed partial-aggregatable sum, then the "
            "argmax as a doc-keyed struct-max aggregation — NO window "
            "over the corpus, no exchange keyed finer than (doc, cls).",
            (lambda _c: _c.predict_ovr(
                docs.select("doc_id", "text"),
                _c.fit_ovr_hashed(
                    spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
                        "doc_id", "text", "lang"
                    ),
                    label_col="lang",
                    m_buckets=512,
                    epochs=1,
                ),
                m_buckets=512,
            ))(__import__("edspdf_spark.functions.classifier", fromlist=["x"])),
        ),
        (
            "lsh_incremental_pairs (per-dump near-dup)",
            "New dump × prior snapshot: both sides band-tag in their scan "
            "stage; hot-bucket caps are (band, bucket)-keyed counts + "
            "LEFT SEMI prunes; candidates come from ONE (band, bucket) "
            "equi-join between two DISTINCT frames (no self-join "
            "double-compute), then a pair-keyed distinct. Old×old never "
            "re-pairs — per-dump cost scales with the dump.",
            (lambda _d: _d.lsh_incremental_pairs(
                _d.minhash_signatures(
                    docs.filter(F.col("doc_id") % 2 == 1), k=5, n_hashes=8
                ),
                _d.minhash_signatures(
                    docs.filter(F.col("doc_id") % 2 == 0), k=5, n_hashes=8
                ),
            ))(__import__("edspdf_spark.functions.dedup", fromlist=["x"])),
        ),
        (
            "dhash_candidate_pairs (perceptual image dedup)",
            "Hash halves band into four 16-bit buckets (pure bit "
            "expressions in the scan stage); ONE (band, bucket)-keyed "
            "collect_list exchange + in-bucket pair expansion (same shape "
            "as minhash LSH — never a cross join), one pair-keyed "
            "distinct, then hash-table joins back for the exact "
            "bit_count(xor) Hamming rescore.",
            (lambda _m: _m.dhash_candidate_pairs(
                docs.select(
                    "doc_id",
                    (F.abs(F.xxhash64("text")) % F.lit(2**32)).alias("dhash_lo"),
                    (F.abs(F.xxhash64("text", "doc_id")) % F.lit(2**32)).alias(
                        "dhash_hi"
                    ),
                ),
                max_hamming=3,
            ))(__import__("edspdf_spark.functions.multimodal", fromlist=["x"])),
        ),
        (
            "extract_image_pairs (LAION-style harvest)",
            "Tag scan is one regexp_extract_all projection; src/alt pulls "
            "are per-tag regexes over the posexploded tag string — the "
            "whole operator must stay in the scan's stage: zero "
            "exchanges, zero Python, generator + filter only.",
            (lambda _x: _x.extract_image_pairs(
                docs.select(
                    F.col("doc_id").cast("string").alias("url"),
                    F.encode(
                        F.concat(
                            F.lit('<html><img src="/i/'),
                            F.col("doc_id").cast("string"),
                            F.lit('.jpg" alt="pic"></html>'),
                        ),
                        "utf-8",
                    ).alias("html"),
                )
            ))(
                __import__(
                    "edspdf_spark.operators.extract_html", fromlist=["x"]
                )
            ),
        ),
        (
            "tfidf_keywords (corpus annotation)",
            "Per-doc top-k distinctive terms off the inverted index. "
            "postings⨝df joins on the TERM key both sides (the df table "
            "is vocabulary-sized — it must NOT broadcast); stats is a "
            "one-row broadcast; the per-doc top-k window partitions by "
            "doc_id, bounded by one document's distinct-term count. "
            "Expected: term-keyed join exchanges + one doc-keyed window "
            "exchange, no corpus crossJoin, no UDF.",
            (lambda _s: _s.tfidf_keywords(
                _s.build_text_index(docs.select("doc_id", "text")), k=3
            ))(__import__("edspdf_spark.functions.search", fromlist=["x"])),
        ),
        (
            "extract_outline (heading hierarchy)",
            "h1-h6 parse is a scan-stage regexp projection (zero UDFs); "
            "the parent pointers are per-level running-max windows, so the "
            "ONLY exchange is the (url)-keyed window partitioning — the "
            "same key any downstream per-document stage reuses. Expected: "
            "1 scan, 1 hashpartitioning(url) exchange, no UDF stages.",
            (lambda _m: _m.extract_outline(
                docs.selectExpr(
                    "CAST(doc_id AS STRING) AS url",
                    "CAST(concat('<h1>', text, '</h1>') AS BINARY) AS html",
                )
            ))(__import__(
                "edspdf_spark.operators.extract_html", fromlist=["x"]
            )),
        ),
        (
            "extract_sections (titled chunks)",
            "Same parse feeding both the heading arrays and the aligned "
            "between-heading split; breadcrumbs ride the SAME (url)-keyed "
            "window exchange as the outline, and the preamble leg is a "
            "zero-shuffle projection unioned in. Expected: scans + ONE "
            "hashpartitioning(url) exchange, no UDF stages.",
            (lambda _m: _m.extract_sections(
                docs.selectExpr(
                    "CAST(doc_id AS STRING) AS url",
                    "CAST(concat('<h1>t</h1>', text) AS BINARY) AS html",
                )
            ))(__import__(
                "edspdf_spark.operators.extract_html", fromlist=["x"]
            )),
        ),
        (
            "frontier_recipe (composed crawl loop)",
            "quality gate = zero-shuffle scan-stage filter. Exchange "
            "census (AQE off, so nothing is hidden): the CORPUS crosses "
            "the wire exactly six times — robots host-join, url-keyed "
            "max_by agg, verdict join-back (with_robots_verdict's "
            "documented shape: a web-scale rules table is host-cardinality "
            "— ~10^8 hosts — so it must NOT broadcast; hot hosts are "
            "AQE-splittable skew), cap's host-count partials, the "
            "heavy-tail cap window, and the schedule window. Every other "
            "exchange in the audit below partitions the host-cardinality "
            "robots/delay frames (parse_robots windows + group joins + "
            "the delay max agg) — rows-per-host-sized, not corpus-sized. "
            "No crossJoin, no corpus-sized broadcast, nothing added by "
            "the composition itself.",
            (lambda _f, _r: _f.frontier_recipe(
                docs.selectExpr(
                    "doc_id",
                    "concat('https://site', CAST(doc_id % 5 AS STRING), "
                    "'.com/p/', CAST(doc_id AS STRING)) AS url",
                ),
                spark.createDataFrame(
                    [("site0.com", "User-agent: *\nCrawl-delay: 1\nAllow: /")],
                    "host string, robots_txt string",
                ),
            ))(
                __import__("edspdf_spark.functions.frontier", fromlist=["x"]),
                None,
            ),
        ),
        (
            "mine_hard_negatives (exact production path)",
            "cosine_topk's mapInArrow exact-kernel stage (partition-local top-k) "
            "+ ONE query_id-keyed window exchange for the global top-k; the "
            "positives anti-join BROADCASTS (per-query labels are query-"
            "batch-sized). Expected: scan -> PythonMapInArrow -> "
            "one hashpartitioning(query_id) exchange + broadcast anti-join; "
            "the corpus is never broadcast.",
            (lambda _m: _m.mine_hard_negatives(
                emb,
                emb.filter("vec_id % 31 = 0"),
                emb.filter("vec_id % 31 = 0").selectExpr(
                    "vec_id AS query_id", "vec_id + 1 AS pos_id"
                ),
                k=3,
            ))(__import__(
                "edspdf_spark.functions.similarity", fromlist=["x"]
            )),
        ),
        (
            "bucketed co-located join (sources/bucketed.py)",
            "Both sides written bucketBy(4, doc_id) into the catalog; an "
            "equi-join on the bucket key must plan with ZERO exchanges — "
            "the write-time shuffle replaces every later join's (merge "
            "hint pins SortMergeJoin so the audit isn't trivially "
            "satisfied by a broadcast). A path-based read of the same "
            "files would NOT see the layout and would shuffle.",
            (lambda _b: (
                _b.write_bucketed_table(
                    docs.select("doc_id", "lang"), "plans_bucket_a",
                    key="doc_id", n_buckets=4,
                ),
                _b.write_bucketed_table(
                    docs.select("doc_id", "n_chars"), "plans_bucket_b",
                    key="doc_id", n_buckets=4,
                ),
                spark.table("plans_bucket_a").hint("merge").join(
                    spark.table("plans_bucket_b"), "doc_id"
                ),
            )[-1])(__import__(
                "edspdf_spark.sources.bucketed", fromlist=["x"]
            )),
        ),
        (
            "discovery_candidates (crawl discovery step)",
            "Three scan-stage projection legs (href links, feed "
            "autodiscovery, optional sitemap leaves) unioned, then ONE "
            "canonical-url-keyed aggregation whose min-struct picks the "
            "source-precedence winner. Expected: one exchange keyed on "
            "the canonical url, everything else in the scans' stages.",
            (lambda _d: _d.discovery_candidates(
                docs.selectExpr(
                    "CAST(doc_id AS STRING) AS url",
                    "CAST(CONCAT('<a href=\"https://x.org/', doc_id, "
                    "'\">l</a>') AS BINARY) AS html",
                )
            ))(__import__(
                "edspdf_spark.functions.discover", fromlist=["x"]
            )),
        ),
    ]

    sections = []
    for name, expect, df in entries:
        plan = formatted_plan(df)
        sections.append(
            f"## {name}\n\n{expect}\n\n**Audit (automated):**\n\n{audit(plan)}\n\n"
            f"<details><summary>formatted plan</summary>\n\n```\n{clip(plan).strip()}\n```\n\n</details>\n"
        )

    body = "\n".join(sections)
    out = f"""# PLANS — physical-plan audit of the headline queries

Generated by `python tools/dump_plans.py` on the sf0.01 tables (plan
shape is scale-invariant; timings live in BENCH/). Each section states
what the plan MUST look like for the operator to survive 100× scale,
then shows the automated audit and the actual `explain("formatted")`
output. `tests/test_plans.py` asserts the load-bearing properties
(column pruning, zero-shuffle classify, single-exchange aggregate) so
plan regressions fail CI, not just this report.

{body}"""
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(entries)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
