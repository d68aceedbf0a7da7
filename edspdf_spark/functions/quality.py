"""Web-scale training-data quality operators: repetition signals, PII
detection/redaction, registered-domain rollups, and benchmark
decontamination.

These extend the text-analysis family (``functions/text.py``) with the
filters a Common-Crawl-style corpus pipeline runs before training-data
export — the Gopher/C4 repetition heuristics (Rae et al. 2021 §A1.1,
public), PII scrubbing, per-domain aggregation, and eval-benchmark
n-gram decontamination (GPT-3 appendix C, public).

Scale notes (10^12 docs):

- Per-doc array signals (duplicate word/line fractions) are pure Catalyst
  higher-order-function expressions — zero shuffle, whole-stage codegen.
- Top-n-gram signals explode to one row per n-gram and aggregate on the
  composite key ``(doc_id, ngram)`` — the one shuffle is map-side combined
  and the key cardinality is bounded by corpus token count, so no hot key
  exists beyond a single doc's length (bounded by the scan's
  ``maxPartitionBytes`` sizing upstream).
- PII counts/redaction are single-pass JVM regexes (``regexp_count`` /
  ``regexp_replace``) chosen from the Java∩RE2 common dialect so the
  DuckDB oracle replays them exactly.
- Decontamination broadcasts the benchmark n-gram set (eval suites are
  tiny vs the corpus) and LEFT SEMI joins — no shuffle of the corpus side
  beyond the n-gram explode's own aggregation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Patterns restricted to the Java-regex ∩ RE2 common dialect (no
# backreferences, no lookaround) so Spark and the DuckDB oracle agree
# byte-for-byte on matches.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+\d(?:[ -]?\d){7,14}"

PII_PATTERNS = {"email": EMAIL_RE, "ipv4": IPV4_RE, "phone": PHONE_RE}


def _words(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def with_array_repetition(
    df: DataFrame, text_col: str = "text", max_lines: int = 10_000
) -> DataFrame:
    """Zero-shuffle repetition signals computed per doc with higher-order
    array functions:

    - ``dup_word_fraction``  = (n_words − n_distinct_words) / n_words
    - ``dup_line_fraction``  = (n_lines − n_distinct_lines) / n_lines
    - ``dup_line_char_fraction`` = chars in lines whose value occurs ≥2×
      (all occurrences counted) / total line chars

    Empty docs yield 0.0 for all three. The line·line containment check is
    O(L²) per doc in line count; ``max_lines`` caps L (first ``max_lines``
    lines scored) so one pathological 10⁶-line doc can't pin a task at
    10¹² comparisons — at the default 10⁴ the worst doc costs ~10⁸ cheap
    string-equality ops inside one codegen stage, and ordinary pages
    (~10³ lines) are unaffected.
    """
    t = F.col(text_col)
    words = _words(t)
    n_w = F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(words)).cast("double")
    dup_w = F.when(
        n_w == 0, F.lit(0.0)
    ).otherwise((n_w - F.size(F.array_distinct(words)).cast("double")) / n_w)

    lines = F.slice(F.split(t, "\n"), 1, max_lines)
    n_l = F.size(lines).cast("double")
    dup_l = F.when(
        n_l == 0, F.lit(0.0)
    ).otherwise((n_l - F.size(F.array_distinct(lines)).cast("double")) / n_l)

    # chars in duplicated lines: a line occurrence is duplicated when its
    # value appears at least twice in the doc
    line_chars = F.aggregate(lines, F.lit(0), lambda a, l: a + F.length(l)).cast(
        "double"
    )
    dup_chars = F.aggregate(
        lines,
        F.lit(0),
        lambda a, l: a
        + F.when(
            F.size(F.filter(lines, lambda x: x == l)) >= 2, F.length(l)
        ).otherwise(F.lit(0)),
    ).cast("double")
    dup_lc = F.when(line_chars == 0, F.lit(0.0)).otherwise(dup_chars / line_chars)

    return (
        df.withColumn("dup_word_fraction", dup_w)
        .withColumn("dup_line_fraction", dup_l)
        .withColumn("dup_line_char_fraction", dup_lc)
    )


def top_ngram_stats(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Most-frequent word ``n``-gram per document and the fraction of the
    document's characters it covers (Gopher's top-n-gram filter signal).

    Returns ``(id_col, top_{n}gram, top_{n}gram_count,
    top_{n}gram_char_fraction)`` — char fraction is
    ``count × length(ngram) / length(text)``. Ties break to the
    lexicographically smallest n-gram (deterministic under retries).
    Docs with fewer than ``n`` words get count 0, fraction 0.0, gram ''.

    Plan: explode n-grams → one (doc, ngram)-keyed aggregation (map-side
    partial combine) → per-doc min(struct(-count, ngram)) argmin — two
    exchanges both keyed by doc_id, no window, no driver collect.
    """
    t = F.col(text_col)
    # materialize the words array BEFORE the n-gram transform: an
    # expression referenced inside a lambda is re-evaluated per element
    # (no common-subexpression elimination across lambda scopes), so
    # building grams straight off split() would re-run the regex split
    # n× per gram — O(words²) per doc
    wordsed = df.select(
        F.col(id_col),
        F.length(t).cast("double").alias("_doc_len"),
        _words(t).alias("_w"),
    )
    w = F.col("_w")
    # sequence(0, negative) would DESCEND (and negative element_at indexes
    # from the end), so short docs must short-circuit to an empty index set
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    base = wordsed.select(F.col(id_col), F.col("_doc_len"), grams.alias("_g"))
    # explode_outer, NOT explode: for a plain explode Catalyst's
    # InferFiltersFromGenerate pushes a size(<generator input>) > 0
    # predicate below this projection, re-inlining the whole gram
    # transform (split re-evaluated per element) into a Filter that runs
    # per row — the O(words²) trap again, just moved. Outer generate
    # can't be inferred on; the isNotNull filter reads the OUTPUT column.
    counts = (
        base.select(id_col, "_doc_len", F.explode_outer("_g").alias("_gram"))
        .where(F.col("_gram").isNotNull())
        .groupBy(id_col, "_doc_len", "_gram")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    top = (
        counts.groupBy(id_col, "_doc_len")
        .agg(F.min(F.struct((-F.col("_cnt")).alias("a"), F.col("_gram").alias("g"))).alias("_m"))
        .select(
            id_col,
            F.col("_m.g").alias(f"top_{n}gram"),
            (-F.col("_m.a")).cast("long").alias(f"top_{n}gram_count"),
            (
                (-F.col("_m.a")).cast("double")
                * F.length(F.col("_m.g")).cast("double")
                / F.col("_doc_len")
            ).alias(f"top_{n}gram_char_fraction"),
        )
    )
    # keep every input doc: short docs (< n words) fall out of the explode
    out = df.select(id_col).join(top, on=id_col, how="left")
    return out.select(
        id_col,
        F.coalesce(F.col(f"top_{n}gram"), F.lit("")).alias(f"top_{n}gram"),
        F.coalesce(F.col(f"top_{n}gram_count"), F.lit(0)).alias(f"top_{n}gram_count"),
        F.coalesce(F.col(f"top_{n}gram_char_fraction"), F.lit(0.0)).alias(
            f"top_{n}gram_char_fraction"
        ),
    )


def with_pii_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Count PII matches (email / IPv4 / phone) and add an ``md5`` of the
    redacted text (each match class replaced by its ``<CLASS>`` token).
    Single-pass JVM regexes — no UDFs, no shuffle."""
    t = F.col(text_col)
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"pii_{name}_count", F.regexp_count(t, F.lit(pat)).cast("long")
        )
    red = t
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.withColumn("pii_redacted_md5", F.md5(red))


def redact_pii(col: Column) -> Column:
    """The redacted text itself (same replacement order as
    ``with_pii_signals``: email, ipv4, phone)."""
    red = col
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return red


def registered_domain(url_col: Column) -> Column:
    """Registered-domain heuristic from a canonical URL: host = authority
    of ``scheme://host/...`` lowered, registered domain = the last two
    dot-labels (``a.b.site0.com`` → ``site0.com``; a bare label passes
    through, and an IPv4-literal host passes through WHOLE — collapsing
    10.0.3.7 and 20.9.3.7 to "3.7" would merge unrelated servers into
    one cap/politeness bucket). Pure string expressions — pairs with
    ``functions.urls.canonicalize_url`` for crawl-frontier rollups."""
    host = F.lower(F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    is_ip = host.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    reg = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return F.when(is_ip | (reg == ""), host).otherwise(reg)


def domain_rollup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Per-registered-domain corpus rollup: doc count + smallest doc id
    (the crawl-frontier 'canonical page' convention). One string-keyed
    aggregation with map-side partials; domain cardinality ≪ doc count so
    the exchange is small."""
    return (
        df.select(
            registered_domain(F.col(url_col)).alias("domain"), F.col(id_col)
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
    )


def contaminated_ids(
    df: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram collision): a doc is
    contaminated when ANY of its word ``n``-grams appears in the benchmark
    set. Returns distinct contaminated ``id_col`` rows.

    Plan: benchmark n-grams are distinct'd and BROADCAST (eval suites are
    ~10⁵ n-grams vs a 10^12-doc corpus); the corpus side explodes its
    n-grams and LEFT SEMI joins — no corpus shuffle, the semi join happens
    map-side against the broadcast hash table, then one distinct on doc id.
    """

    def grams(frame: DataFrame, idc, txt: str) -> DataFrame:
        cols = [F.col(idc)] if idc else []
        # materialize words first — see top_ngram_stats: lambda-scoped
        # expressions are re-evaluated per element
        wordsed = frame.select(*cols, _words(F.col(txt)).alias("_w"))
        w = F.col("_w")
        idx = F.when(
            F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)
        ).otherwise(F.array().cast("array<int>"))
        g = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        # explode_outer + isNotNull, not explode — see top_ngram_stats:
        # InferFiltersFromGenerate would re-inline the gram transform
        return wordsed.select(*cols, F.explode_outer(g).alias("_gram")).where(
            F.col("_gram").isNotNull()
        )

    bench_grams = grams(bench, None, bench_text_col).distinct()
    doc_grams = grams(df, id_col, text_col)
    return (
        doc_grams.join(F.broadcast(bench_grams), on="_gram", how="left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Drop contaminated docs (LEFT ANTI join against ``contaminated_ids``)."""
    bad = contaminated_ids(df, bench, n, id_col, text_col, bench_text_col)
    return df.join(bad, on=id_col, how="left_anti")



# --- C4 line-level cleaning (Raffel et al. 2020 §2.2, public spec) --------

# Java ∩ RE2 common dialect (shared with the DuckDB oracle): a line is a
# "sentence line" iff its trimmed form ends in terminal punctuation
# (period / exclamation / question mark / closing quote), the C4 rule.
_C4_TERMINAL_RE = r'[.!?"]$'


def c4_line_signals(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4's published line-level cleaning as pure higher-order-function
    expressions — zero shuffle, whole-stage codegen, no UDFs:

    - keep only lines whose trimmed form ends in terminal punctuation
      (``[.!?"]``), C4's "terminal punctuation mark" rule;
    - keep only lines with ≥ ``min_words_per_line`` whitespace words;
    - drop any line containing the word "javascript" (case-insensitive);
    - ``c4_text`` = the surviving lines re-joined with ``\\n``;
    - ``c4_n_sentences`` = terminal-punctuation count over the surviving
      text (the deterministic stand-in for C4's sentence counter);
    - ``c4_keep`` = page-level verdict: ≥ ``min_sentences`` sentences and
      the page contains neither "lorem ipsum" (case-insensitive) nor a
      curly brace ``{`` (C4's code-page tell).

    Adds ``c4_lines_total``, ``c4_lines_kept``, ``c4_text``,
    ``c4_n_sentences``, ``c4_keep``. Span-level dedup (C4's other half)
    is :func:`edspdf_spark.functions.dedup.dedup_spans`."""
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _line_ok(l: Column) -> Column:
        trimmed = F.trim(l)
        n_words = F.when(trimmed == "", F.lit(0)).otherwise(
            F.size(F.split(trimmed, r"\s+"))
        )
        return (
            trimmed.rlike(_C4_TERMINAL_RE)
            & (n_words >= min_words_per_line)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, _line_ok)
    c4_text = F.array_join(kept, "\n")
    n_sent = F.regexp_count(c4_text, F.lit(r"[.!?]"))
    keep = (
        (n_sent >= min_sentences)
        & ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
    )
    return (
        df.withColumn("c4_lines_total", F.size(lines))
        .withColumn("c4_lines_kept", F.size(kept))
        .withColumn("c4_text", c4_text)
        .withColumn("c4_n_sentences", n_sent)
        .withColumn("c4_keep", keep)
    )


def c4_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """Apply :func:`c4_line_signals` and materialize the verdict: pages
    failing the C4 page rules are dropped, survivors carry the cleaned
    line-filtered text in ``text_col``. Pure filter + projection — the
    corpus never shuffles."""
    sig = c4_line_signals(df, text_col, min_words_per_line, min_sentences)
    return (
        sig.where(F.col("c4_keep"))
        .withColumn(text_col, F.col("c4_text"))
        .drop("c4_text", "c4_keep")
    )


# --- Gopher line-shape / word-shape signals (Rae et al. 2021 §A1.1) -------


def with_line_shape_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher's document-shape heuristics as zero-shuffle expressions:

    - ``bullet_line_fraction``   — lines whose trimmed form starts with a
      bullet glyph (``•``, ``*``, ``-``) / total lines (Gopher drops docs
      where > 90% of lines are bullets);
    - ``ellipsis_line_fraction`` — lines whose trimmed form ends in an
      ellipsis (``...`` or ``…``) / total lines (Gopher bound: 30%);
    - ``mean_word_len``          — non-whitespace chars / whitespace words
      (Gopher keeps 3–10);
    - ``symbol_word_ratio``      — ``#`` and ``...`` occurrences / words
      (Gopher bound: 0.1);
    - ``alpha_word_fraction``    — words containing ≥1 ASCII letter /
      words (Gopher keeps ≥ 0.8).

    Empty docs yield 0.0 fractions. Regexes stay in the Java∩RE2 common
    dialect so the DuckDB oracle replays them exactly."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("double")  # split() is never empty
    bullets = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))
    ).cast("double")
    ellipses = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    ).cast("double")
    words = F.when(F.trim(t) == "", F.array().cast("array<string>")).otherwise(
        _words(t)
    )
    n_words = F.size(words).cast("double")
    safe_words = F.when(n_words == 0, F.lit(1.0)).otherwise(n_words)
    non_space = F.length(F.regexp_replace(t, r"\s", "")).cast("double")
    symbols = (
        F.regexp_count(t, F.lit("#")) + F.regexp_count(t, F.lit(r"\.\.\."))
    ).cast("double")
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
    return (
        df.withColumn("bullet_line_fraction", bullets / n_lines)
        .withColumn("ellipsis_line_fraction", ellipses / n_lines)
        .withColumn("mean_word_len", non_space / safe_words)
        .withColumn("symbol_word_ratio", symbols / safe_words)
        .withColumn("alpha_word_fraction", alpha / safe_words)
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_fraction: float = 0.9,
    max_ellipsis_line_fraction: float = 0.3,
    min_alpha_word_fraction: float = 0.8,
) -> DataFrame:
    """The Gopher document gate with the paper's published thresholds
    (Rae et al. 2021 table A1) over :func:`with_line_shape_signals` —
    one pure filter on scan-stage columns, no shuffle. Repetition bounds
    (dup word/line fractions, top-n-gram coverage) compose upstream via
    :func:`with_array_repetition` / :func:`top_ngram_stats`."""
    sig = with_line_shape_signals(df, text_col)
    t = F.col(text_col)
    n_words = F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(_words(t)))
    return sig.where(
        (n_words >= min_words)
        & (n_words <= max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_fraction") <= max_bullet_line_fraction)
        & (F.col("ellipsis_line_fraction") <= max_ellipsis_line_fraction)
        & (F.col("alpha_word_fraction") >= min_alpha_word_fraction)
    )


def sample_corpus(
    df: DataFrame,
    target_tokens: int,
    token_col: str = "n_tokens",
    key_col: str = "doc_id",
    stratify_col: str | None = None,
    seed: int = 0,
) -> DataFrame:
    """Deterministic hash-threshold sampling to a token budget — the
    training-mix step ("take ~N tokens of this corpus, balanced per
    language/domain"). Per stratum ``s``: ``rate_s = min(1,
    target_tokens / total_tokens_s)`` and a doc is kept iff
    ``md5(seed‖key)[:8] < hex(floor(rate_s · 2³²))`` — an 8-hex-digit
    lexicographic compare, so the SAME rows are kept on every engine,
    retry, and partitioning (no Bernoulli RNG state). Expected sampled
    token mass per stratum ≈ the target; exact-id reproducibility is the
    contract, not exact mass.

    Plan: one tiny per-stratum aggregation (map-side partials) broadcast
    back onto the corpus + a pure filter projection — no corpus shuffle
    at all when unstratified (the totals row is a scalar broadcast).
    """
    # NULL strata must keep their rows: groupBy retains the NULL group
    # but a plain equi-join back would drop it (NULL never equi-joins),
    # silently losing every null-stratum doc — key through a coalesced
    # sentinel column on both sides instead
    strat = ["_strat_key"] if stratify_col else []
    if stratify_col:
        df = df.withColumn(
            "_strat_key",
            F.coalesce(F.col(stratify_col).cast("string"), F.lit("\x00null")),
        )
    totals = df.groupBy(*strat).agg(
        F.sum(token_col).cast("double").alias("_total")
    )
    rate = F.lit(float(target_tokens)) / F.col("_total")
    # 2^32-scaled threshold as 8 lowercase hex digits; at rate ≥ 1 the
    # sentinel 'g' sorts above every hex digit so all rows pass (lpad
    # TRUNCATES overlong strings, so hex(2^32) can't be used directly)
    thresh = F.when(rate >= 1.0, F.lit("g")).otherwise(
        F.lpad(
            F.lower(F.hex(F.floor(rate * F.lit(4294967296.0)).cast("bigint"))),
            8,
            "0",
        )
    )
    u = F.substring(
        F.md5(F.concat(F.lit(str(seed) + "|"), F.col(key_col).cast("string"))), 1, 8
    )
    joined = (
        df.join(F.broadcast(totals), on=strat) if strat else df.crossJoin(
            F.broadcast(totals)
        )
    )
    return joined.where(u < thresh).drop("_total", *strat)


def with_blocklist_signals(
    df: DataFrame,
    words: Sequence[str],
    text_col: str = "text",
) -> DataFrame:
    """C4 §2.2's badword page gate (Raffel et al. 2020 remove any page
    containing a word from a public blocklist): appends
    ``blocklist_count`` (lowercased whitespace tokens that appear in
    ``words``), ``blocklist_fraction`` and ``blocklist_hit``.

    Plan: the blocklist is a few hundred literals — it ships INSIDE the
    plan as a foldable array and the scan-stage higher-order filter does
    the matching. Zero joins, zero shuffle, whole-stage codegen; the
    oracle replays it as a ``list_filter … IN`` expression.
    """
    wl = sorted({w.lower() for w in words})
    arr = F.array(*[F.lit(w) for w in wl])
    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    base = df.withColumn("_bl_toks", toks)
    cnt = F.size(
        F.filter(F.col("_bl_toks"), lambda t: F.array_contains(arr, t))
    ).cast("long")
    out = base.withColumn("blocklist_count", cnt)
    frac = F.col("blocklist_count").cast("double") / F.greatest(
        F.size(F.col("_bl_toks")).cast("double"), F.lit(1.0)
    )
    return (
        out.withColumn("blocklist_fraction", frac)
        .withColumn("blocklist_hit", F.col("blocklist_count") > 0)
        .drop("_bl_toks")
    )


def blocklist_filter(
    df: DataFrame,
    words: Sequence[str],
    text_col: str = "text",
) -> DataFrame:
    """Drop every page containing ANY blocklisted word (the C4 rule)."""
    return with_blocklist_signals(df, words, text_col=text_col).where(
        ~F.col("blocklist_hit")
    ).drop("blocklist_count", "blocklist_fraction", "blocklist_hit")


def domain_blocklist_filter(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Drop pages whose REGISTERED DOMAIN is on a blocklist frame
    (column ``domain``) — the URL-level safety gate crawl pipelines run
    before fetching content (adult/malware domain lists run to millions
    of rows, so the list is a DataFrame, not a literal).

    Plan: LEFT ANTI join on the derived domain key. Spark broadcasts a
    small list and falls back to a shuffled anti-join for a huge one —
    both correct; the corpus side is hashed once on the domain key.
    """
    keyed = df.withColumn("_domain", registered_domain(F.col(url_col)))
    rhs = blocked.select(F.col("domain").alias("_domain")).distinct()
    return keyed.join(rhs, on="_domain", how="left_anti").drop("_domain")


def with_temperature_mix(
    df: DataFrame,
    target_tokens: int,
    alpha: float = 0.3,
    max_epochs: float = 4.0,
    lang_col: str = "lang",
    token_col: str = "n_tokens",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-based language rebalancing (mC4 §3.1, Xue et al. 2021;
    epoch cap per UniMax, Chung et al. 2023). With per-language token
    mass ``T_l``, the mixture weight is ``w_l ∝ T_l^alpha`` and each
    language's sampling rate in epochs is

        rate_l = min(max_epochs, target_tokens · w_l / T_l)

    ``alpha < 1`` upsamples low-resource languages (rate may exceed 1:
    the language repeats) and downsamples the head. Appends
    ``mix_rate_micro`` (rate_l in integer micro-epochs) and ``n_copies``
    (how many times the doc appears in the materialized mix:
    ``floor(rate)`` full epochs, plus one more iff the doc's
    deterministic md5 draw falls under the fractional part — so the
    EXPECTED token mass per language hits the target while the realized
    doc set is exactly reproducible).

    Determinism contract: the only non-integer step is
    ``pow(T_l, alpha)``, quantized to micro-units immediately
    (``floor(·1e6)``) per language; the normalizer Z is then an exact
    BIGINT sum, the rate is one fixed-shape IEEE double expression
    floored to micro-epochs, and the per-doc draw is an exact integer
    compare of the first 8 md5 hex digits against
    ``frac·2³²/10⁶`` in pure BIGINT arithmetic. Same rows → same
    ``n_copies`` on every engine, partitioning, and retry.

    Plan: one language-keyed aggregation (a handful of rows, map-side
    partials) → broadcast join back → pure projection. ZERO corpus
    shuffle at any corpus size.
    """
    # NULL-language docs form their own stratum (their _pw_micro enters
    # Z either way — dropping THEM while keeping their weight share would
    # deflate every real language's rate AND silently lose the rows), so
    # key the join through a coalesced sentinel
    keyed = df.withColumn(
        "_lang_key",
        F.coalesce(F.col(lang_col).cast("string"), F.lit("\x00null")),
    )
    totals = keyed.groupBy("_lang_key").agg(
        F.sum(token_col).cast("long").alias("_T")
    )
    pw = F.floor(
        F.pow(F.col("_T").cast("double"), F.lit(float(alpha))) * F.lit(1e6)
    ).cast("long")
    wt = totals.select("_lang_key", "_T", pw.alias("_pw_micro"))
    z = wt.agg(F.sum("_pw_micro").cast("long").alias("_Z"))
    wt = wt.crossJoin(F.broadcast(z))
    cap = int(float(max_epochs) * 1_000_000)
    rate_raw = F.floor(
        F.lit(float(target_tokens))
        * F.col("_pw_micro").cast("double")
        / (F.col("_Z").cast("double") * F.col("_T").cast("double"))
        * F.lit(1e6)
    ).cast("long")
    rate = F.when(F.col("_T") > 0, F.least(rate_raw, F.lit(cap))).otherwise(
        F.lit(0)
    )
    rates = wt.select("_lang_key", rate.alias("mix_rate_micro"))
    out = keyed.join(F.broadcast(rates), on="_lang_key")
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(str(seed) + "|"), F.col(key_col).cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    extra = F.when(
        u32
        < F.expr("((mix_rate_micro % 1000000) * 4294967296) DIV 1000000"),
        F.lit(1),
    ).otherwise(F.lit(0))
    n_copies = (
        F.expr("mix_rate_micro DIV 1000000").cast("long") + extra
    ).cast("long")
    return out.select(*df.columns, "mix_rate_micro", n_copies.alias("n_copies"))


def temperature_mix(
    df: DataFrame,
    target_tokens: int,
    alpha: float = 0.3,
    max_epochs: float = 4.0,
    lang_col: str = "lang",
    token_col: str = "n_tokens",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Materialize the temperature mix: docs with ``n_copies ≥ 1``,
    replicated ``n_copies`` times with an ``epoch`` column (1-based) so
    downstream sharding treats repeats as distinct examples. The
    replication is a generator projection (``explode(sequence(...))``) —
    still zero shuffle."""
    ann = with_temperature_mix(
        df,
        target_tokens,
        alpha=alpha,
        max_epochs=max_epochs,
        lang_col=lang_col,
        token_col=token_col,
        key_col=key_col,
        seed=seed,
    )
    return ann.where(F.col("n_copies") > 0).withColumn(
        "epoch", F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies")))
    )


def domain_quota(
    df: DataFrame,
    max_docs: int,
    url_col: str = "url",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Cap the corpus at ``max_docs`` documents per registered domain —
    the standard crawl-skew control (a handful of hot hosts dominate a
    Common-Crawl snapshot; training mixes cap them so one domain cannot
    swamp the mixture).

    Selection is deterministic and partitioning-independent: within a
    domain, docs are ranked by ``(md5(seed|key), key)`` — a stable uniform
    draw — and the first ``max_docs`` kept. "First N seen" semantics would
    depend on scan order and break retry idempotence; this never does.

    Returns the input rows that survive, plus ``domain`` and
    ``domain_rank`` (1-based) columns.

    Scale notes: ONE domain-keyed exchange for the window rank; the
    per-domain sort is external (spills, never OOMs) and is the price of
    an exact cap. The filter drops rank > ``max_docs`` immediately, so
    downstream stages never carry the hot-domain skew — which is the
    point of the operator. For a cap where approximate selection is
    acceptable, ``sample_corpus(stratify_col="domain")`` is the
    zero-sort alternative (hash-threshold keep at a per-domain rate).
    """
    from pyspark.sql import Window

    pri = F.md5(F.concat(F.lit(str(seed) + "|"), F.col(key_col).cast("string")))
    w = Window.partitionBy("domain").orderBy(pri.asc(), F.col(key_col).asc())
    return (
        df.withColumn("domain", registered_domain(F.col(url_col)))
        .withColumn("domain_rank", F.row_number().over(w))
        .where(F.col("domain_rank") <= int(max_docs))
    )


def split_assign(
    df: DataFrame,
    by_col: str = "url",
    weights: tuple = (0.9, 0.05, 0.05),
    names: tuple = ("train", "valid", "test"),
    seed: int = 0,
) -> DataFrame:
    """Leakage-safe deterministic train/valid/test assignment: the split
    is a pure function of ``by_col`` (pass the DOMAIN to keep every page
    of a site in one split — the standard guard against near-dup leakage
    across splits), so any engine, retry, partitioning, or incremental
    crawl batch assigns identically and the splits never drift.

    ``u = hexval(md5(seed|key)[:15]) mod 10^6`` picks the split by
    cumulative integer thresholds ``floor(cum_weight · 10^6)`` — all
    integer compares, zero RNG state, a single scan-stage projection
    (no shuffle, no join). Appends a ``split`` column.
    """
    from edspdf_spark.functions.dsir import _hex15_hash

    assert len(weights) == len(names) and abs(sum(weights) - 1.0) < 1e-9
    u = _hex15_hash(
        F.concat(F.lit(f"{seed}|"), F.col(by_col).cast("string"))
    ) % F.lit(1_000_000)
    cum = 0.0
    expr = F.lit(names[-1])
    bounds = []
    for w_, nm in zip(weights[:-1], names[:-1]):
        cum += w_
        bounds.append((int(cum * 1_000_000), nm))
    for bound, nm in reversed(bounds):
        expr = F.when(u < F.lit(bound), F.lit(nm)).otherwise(expr)
    return df.withColumn("split", expr)


def with_shuffle_order(
    df: DataFrame,
    by_col: str = "doc_id",
    seed: int = 0,
    n_shards: int = 1024,
) -> DataFrame:
    """Seeded deterministic GLOBAL SHUFFLE for training order — the final
    corpus-assembly stage before shard writing (every LLM data pipeline
    ends with one; an unshuffled corpus trains on crawl order, i.e.
    domain-clustered batches).

    Appends ``shuffle_shard`` (int) and ``shuffle_rank`` (60-bit BIGINT):
    the training order is ``ORDER BY (shuffle_shard, shuffle_rank,
    key)`` — a pseudo-random permutation that is a pure function of
    ``(seed, key)``, so any engine, retry or resumed job produces the
    SAME order, and a new ``seed`` per epoch reshuffles without RNG
    state. Writers ``partitionBy(shuffle_shard)`` and sort within shard;
    readers stream shards in id order. Zero shuffle here — one
    scan-stage projection (the md5 ``conv`` builtin), the only exchange
    is the writer's own partitionBy.
    """
    from edspdf_spark.functions.dsir import _hex15_hash

    key = _hex15_hash(
        F.concat(F.lit(f"shuffle|{int(seed)}|"), F.col(by_col).cast("string"))
    )
    return df.withColumn(
        "shuffle_shard", (key % F.lit(int(n_shards))).cast("int")
    ).withColumn("shuffle_rank", key)


# --- credit-card detection with Luhn checksum validation ----------------------

#: candidate PAN: 13-19 digits, single space/dash separators allowed
CCN_CAND_RE = r"\b(?:\d[ \-]?){12,18}\d\b"


def luhn_valid(digits: Column) -> Column:
    """Luhn checksum (ISO/IEC 7812, public) over a digit-only string —
    TRUE when the mod-10 check passes. Pure Catalyst higher-order
    expressions (sequence → transform → aggregate), replayed verbatim by
    DuckDB's ``list_transform``/``list_reduce`` in the oracle. The check
    is what separates a real PAN from any 16-digit run, cutting the
    false-positive rate of pattern-only credit-card scrubbing by ~10×
    (only 1 in 10 random digit runs passes)."""
    r = F.reverse(digits)
    vals = F.transform(
        F.sequence(F.lit(1), F.length(digits)),
        lambda i: F.when(
            i % 2 == 0,
            F.when(
                (F.ascii(F.substring(r, i, F.lit(1))) - 48) * 2 > 9,
                (F.ascii(F.substring(r, i, F.lit(1))) - 48) * 2 - 9,
            ).otherwise((F.ascii(F.substring(r, i, F.lit(1))) - 48) * 2),
        ).otherwise(F.ascii(F.substring(r, i, F.lit(1))) - 48),
    )
    total = F.aggregate(vals, F.lit(0), lambda acc, x: acc + x)
    return (F.length(digits) >= 13) & (total % 10 == 0)


def _ccn_valid_raws(col: Column) -> Column:
    """Array of the raw (separator-kept) candidate substrings that pass
    the Luhn check and the 13-19 digit length window."""
    cands = F.regexp_extract_all(col, F.lit(CCN_CAND_RE), 0)
    pairs = F.transform(
        cands,
        lambda c: F.struct(
            c.alias("raw"),
            F.regexp_replace(c, r"[ \-]", "").alias("digits"),
        ),
    )
    valid = F.filter(
        pairs,
        lambda p: (F.length(p["digits"]) <= 19) & luhn_valid(p["digits"]),
    )
    return valid


def with_ccn_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``pii_ccn_count`` (Luhn-VALIDATED credit-card-number matches —
    not raw pattern hits) and ``ccn_redacted_md5`` (text with each valid
    PAN exact-string-replaced by ``<CCN>``; invalid lookalike digit runs
    are left untouched, unlike regex-only scrubbers). The conditional
    replace is an ``aggregate`` fold over the validated candidates — no
    UDF, no shuffle; the whole operator is one scan-stage projection."""
    t = F.col(text_col)
    valid = _ccn_valid_raws(t)
    red = F.aggregate(
        valid,
        t,
        lambda acc, p: F.replace(acc, p["raw"], F.lit("<CCN>")),
    )
    return df.withColumn(
        "pii_ccn_count", F.size(valid).cast("long")
    ).withColumn("ccn_redacted_md5", F.md5(red))


def corpus_report(
    df: DataFrame,
    group_cols: "list[str]" = None,
    token_col: str = "n_tokens",
    text_col: str = "text",
) -> DataFrame:
    """Corpus datacard rollup: per group (default ``[lang]``; pass e.g.
    ``["lang", "split"]``) — ``n_docs``, ``n_tokens``, and exact integer
    ``token_milli_share`` / ``doc_milli_share`` (floor-divided
    milli-points of the corpus totals, so the report is
    partitioning-invariant and SQL-replayable; shares can sum to
    slightly under 1000 by construction). The accounting table every
    training-mixture decision reads first.

    ``token_col`` missing from ``df`` falls back to a whitespace token
    count over ``text_col``. Plan: one map-side-combinable groupBy over
    the group keys + one single-row total broadcast-joined back — the
    groups table is tiny (languages × splits), the corpus is scanned
    once.
    """
    if group_cols is None:
        group_cols = ["lang"]
    toks = (
        F.col(token_col).cast("long")
        if token_col in df.columns
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    )
    per = df.select(*group_cols, toks.alias("_t")).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("_t").alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_tokens").alias("_tt")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            *group_cols,
            "n_docs",
            "n_tokens",
            F.expr("CAST(n_docs AS BIGINT) * 1000 DIV _td").alias(
                "doc_milli_share"
            ),
            F.expr("CAST(n_tokens AS BIGINT) * 1000 DIV _tt").alias(
                "token_milli_share"
            ),
        )
    )


def with_compress_ratio(
    df: DataFrame,
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Compression-ratio quality signal: appends ``compressed_len``
    (zlib-deflate byte length of the UTF-8 text) and
    ``compress_ratio_milli`` (``compressed_len * 1000 DIV raw_len``,
    exact integer; 0 for empty text) — the classic repetitiveness
    heuristic (boilerplate/spam compresses far better than prose; prose
    lands ~400–700‰, degenerate repetition under ~100‰).

    zlib is not expressible in Catalyst, so this is one Arrow-batched
    ``mapInPandas`` stage: ZERO shuffle, per-batch Python cost is one
    ``zlib.compress`` per doc on bytes already in memory. Deterministic for a fixed zlib level —
    pytest-validated against local zlib plus partitioning invariance.
    """
    import zlib

    import pandas as pd

    from pyspark.sql import types as T

    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("compressed_len", T.LongType(), False),
            T.StructField("compress_ratio_milli", T.LongType(), False),
        ]
    )

    def add_ratio(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            comp = []
            ratio = []
            for t in pdf[text_col]:
                raw = ("" if t is None else str(t)).encode("utf-8")
                c = len(zlib.compress(raw, level))
                comp.append(c)
                ratio.append(c * 1000 // len(raw) if raw else 0)
            out = pdf.copy()
            out["compressed_len"] = pd.Series(comp, index=pdf.index, dtype="int64")
            out["compress_ratio_milli"] = pd.Series(
                ratio, index=pdf.index, dtype="int64"
            )
            yield out

    return df.mapInPandas(add_ratio, schema=out_schema)
