"""Deduplication family for web-scale corpora.

Exact, near-dup (MinHash+LSH, SimHash) and n-gram Jaccard — expressed with
built-in functions (higher-order array ops, hash functions), except the
MinHash signatures, a vectorized NumPy ``mapInArrow`` pass; the only
shuffles are the groupBys on hash/band keys, which is the theoretical
minimum for dedup. At 100 TB the LSH band→bucket groupBy is the scale path:
candidate generation is linear, pairwise verification only runs within
buckets.

Portable hashing: where the DuckDB oracle must reproduce values, we use a
closed-form polynomial over codepoints (``ascii(substr(s, i, 1))`` behaves
identically in Spark and DuckDB) instead of engine-specific murmur/xxhash.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE = 2147483647  # 2^31 - 1

# (a, b) parameters of the n universal hash functions h_i = (a*x + b) % p —
# fixed constants so Spark and DuckDB agree.
MINHASH_PARAMS: List[Tuple[int, int]] = [
    (1103515245, 12345),
    (1140671485, 12820163),
    (214013, 2531011),
    (22695477, 1),
    (134775813, 1),
    (1664525, 1013904223),
    (69069, 0),
    (75, 74),
]


def normalize_text(col: Column) -> Column:
    """Whitespace-collapse + trim + lowercase (same semantics in DuckDB)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalized: bool = False
) -> DataFrame:
    """Exact dedup: md5-group, keep the smallest id per group.

    Map-side partial aggregation applies (hash groupBy); the dedup key is
    the digest, never the full text, so shuffle volume is O(docs × 32B).
    """
    key = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    return (
        df.groupBy(F.md5(key).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(col: Column, k: int = 5) -> Column:
    """Character k-shingles as an array column (distinct)."""
    n = F.length(col) - F.lit(k - 1)
    return F.array_distinct(
        F.when(n <= 0, F.array(col)).otherwise(
            F.transform(
                F.sequence(F.lit(1), n), lambda i: F.substring(col, i, k)
            )
        )
    )


def _poly_shingle_hash(sh: Column, k: int) -> Column:
    """Closed-form polynomial hash of a fixed-length shingle — identical
    arithmetic is expressible in DuckDB (see oracle SQL)."""
    h = F.lit(0).cast("long")
    for j in range(1, k + 1):
        h = (h * F.lit(31) + F.ascii(F.substring(sh, j, 1))) % F.lit(MERSENNE)
    return h


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_hashes: int = 8,
    normalized: bool = True,
) -> DataFrame:
    """MinHash signature per document row: ``sig_i = min over shingles of
    (a_i * poly(shingle) + b_i) % p``.

    One vectorized ``mapInArrow`` pass: the k-gram hashes of a length-L
    text are k NumPy ops over its codepoint array and the per-hash mins
    collapse in-batch — zero shuffle, no per-shingle rows.  Each input row
    with a non-null text yields one output row; rows sharing an id are
    NOT merged, and a null text yields none.

    Semantics (those of the DuckDB oracle):
    - normalize = lower(trim(regexp_replace(\\s+ → ' '))) with ASCII \\s,
      the JVM's default (non-unicode) ``\\s`` class.  Spark SQL's trim()
      strips ONLY the space character — not java.lang.String.trim's
      <= U+0020, and not str.strip()'s unicode whitespace set;
    - a text shorter than k is ONE shingle whose fold continues over code
      0 for the missing positions;
    - shingles are not de-duplicated — min over duplicates equals min over
      the distinct set.
    """
    import re

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    assert n_hashes <= len(MINHASH_PARAMS)
    a, b = (np.array(c, dtype=np.int64) for c in zip(*MINHASH_PARAMS[:n_hashes]))
    ws = re.compile(r"\s+", re.ASCII)
    names = [id_col] + [f"mh{i}" for i in range(n_hashes)]

    def signature(text: str):
        s = ws.sub(" ", text).strip(" ").lower() if normalized else text
        codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        if len(codes) < k:
            codes = np.pad(codes, (0, k - len(codes)))
        n = len(codes) - k + 1
        h = np.zeros(n, dtype=np.int64)
        for j in range(k):
            h = (h * 31 + codes[j : j + n]) % MERSENNE
        return ((h[:, None] * a + b) % MERSENNE).min(axis=0)

    def run(batches):
        for batch in batches:
            texts = batch.column(1)
            valid = texts.is_valid()
            sigs = np.array(
                [signature(t) for t in texts.filter(valid).to_pylist()],
                dtype=np.int64,
            ).reshape(-1, n_hashes)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).filter(valid)] + [pa.array(c) for c in sigs.T],
                names=names,
            )

    schema = StructType(
        [df.schema[id_col]] + [StructField(f"mh{i}", LongType()) for i in range(n_hashes)]
    )
    return df.select(id_col, text_col).mapInArrow(run, schema=schema)


#: Default hot-bucket cap for :func:`lsh_candidate_pairs`. A band bucket of
#: n docs emits n²/2 pairs; web corpora have degenerate boilerplate clusters
#: (cookie banners, error pages) where n can be millions. Buckets above the
#: cap are dropped from candidate generation — their members are near-exact
#: duplicates that the exact/normalized dedup pass catches for a fraction of
#: the cost. 10k² / 2 = 5·10⁷ pairs bounds the worst single bucket.
LSH_MAX_BUCKET_SIZE = 10_000


def lsh_dropped_buckets(
    sig: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    n_hashes: int = 8,
    max_bucket_size: int = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Monitoring companion to :func:`lsh_candidate_pairs`: the (band,
    bucket, n_docs) rows the cap excludes — run it alongside the dedup job
    so dropped volume is logged, never silent."""
    ex = _lsh_exploded_bands(sig, id_col, rows_per_band, n_hashes)
    return (
        ex.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def _lsh_exploded_bands(
    sig: DataFrame, id_col: str, rows_per_band: int, n_hashes: int
) -> DataFrame:
    n_bands = n_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    n_hashes: int = 8,
    max_bucket_size: int = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Band the signature (rows_per_band hashes per band), bucket-join:
    documents sharing any band bucket become candidate near-dup pairs.

    Pair generation is per-bucket — never a full cross join; this is what
    keeps near-dedup feasible at 10^12 docs. Shape: ONE groupBy
    (band, bucket) collecting the bucket's sorted id list, then in-bucket
    pair expansion with array higher-order functions. (The textbook
    bucket SELF-JOIN shape computes the entire upstream minhash pipeline
    twice — Catalyst does not reuse the exchange across self-join sides
    here, measured; the collect_list shape scans once, shuffles once, and
    the bucket arrays are bounded by ``max_bucket_size``.)

    Buckets larger than ``max_bucket_size`` are dropped (see
    :data:`LSH_MAX_BUCKET_SIZE`); use :func:`lsh_dropped_buckets` to log
    what the cap excluded.
    """
    exploded = _lsh_exploded_bands(sig, id_col, rows_per_band, n_hashes)
    buckets = exploded.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
    )
    buckets = buckets.filter(F.size("_ids") >= 2)
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_ids") <= int(max_bucket_size))
    # all (a, b) with a earlier than b in the sorted id array; the strict
    # id_a < id_b filter also drops self-pairs when the sig frame carries a
    # duplicated id (the old self-join's l.id < r.id could never emit them)
    pair_arrays = F.filter(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ids"), i + F.lit(2), F.size(F.col("_ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .distinct()
    )


# two extra universal-hash params (disjoint from MINHASH_PARAMS[:8]) that
# widen the 31-bit polynomial shingle hash to a 62-bit simhash word
SIMHASH_PARAMS: Tuple[Tuple[int, int], Tuple[int, int]] = (
    (48271, 11),
    (16807, 101),
)


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """62-bit SimHash over character k-shingles: per-bit majority vote of
    two affine widenings of the portable polynomial shingle hash (near-dup
    = small Hamming distance).

    Shape: explode shingle hashes once, 62 partial-aggregated bit votes in
    one groupBy (an earlier token/xxhash64 formulation folded the hash
    array 64 times — the projection-collapse recompute trap — and used an
    engine-specific hash; this one is map-side-combining AND value-level
    reproducible in the DuckDB oracle)."""
    base = normalize_text(F.col(text_col))
    hashed = F.explode(
        F.transform(shingles(base, k), lambda s: _poly_shingle_hash(s, k))
    )
    exploded = df.select(F.col(id_col), hashed.alias("_h"))

    (a1, b1), (a2, b2) = SIMHASH_PARAMS
    h1 = (F.lit(a1) * F.col("_h") + F.lit(b1)) % F.lit(MERSENNE)
    h2 = (F.lit(a2) * F.col("_h") + F.lit(b2)) % F.lit(MERSENNE)

    aggs = []
    for bit in range(62):
        h = h1 if bit < 31 else h2
        b = bit if bit < 31 else bit - 31
        vote = F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))
        aggs.append(F.sum(vote).alias(f"_v{bit}"))
    votes = exploded.groupBy(id_col).agg(*aggs)

    sim = F.lit(0).cast("long")
    for bit in range(62):
        sim = sim + F.when(
            F.col(f"_v{bit}") > 0, F.lit(1 << bit).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_oracle_sql(k: int = 5, poly_sql: str = None) -> str:
    """DuckDB oracle for :func:`simhash64` (callers supply the shingle poly
    SQL via ``poly_sql``, same form as the minhash oracle)."""
    (a1, b1), (a2, b2) = SIMHASH_PARAMS
    vote_cols = []
    for bit in range(62):
        expr = (
            f"((CAST({a1} AS BIGINT) * h + {b1}) % {MERSENNE})"
            if bit < 31
            else f"((CAST({a2} AS BIGINT) * h + {b2}) % {MERSENNE})"
        )
        b = bit if bit < 31 else bit - 31
        vote_cols.append(
            f"SUM(CASE WHEN ((CAST({expr} AS BIGINT) >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS _v{bit}"
        )
    assemble = " + ".join(
        f"CASE WHEN _v{bit} > 0 THEN CAST({1 << bit} AS BIGINT) ELSE 0 END"
        for bit in range(62)
    )
    return rf"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents WHERE length(text) >= 5
),
sh AS (
  SELECT doc_id,
    unnest(list_transform(
      list_distinct(CASE WHEN length(t) - {k - 1} <= 0 THEN [t]
        ELSE list_transform(generate_series(1, length(t) - {k - 1}), i -> substr(t, i, {k})) END),
      s -> {poly_sql})) AS h
  FROM norm
),
votes AS (
  SELECT doc_id, {", ".join(vote_cols)} FROM sh GROUP BY doc_id
)
SELECT doc_id, ({assemble}) AS simhash FROM votes
"""


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    strict: bool = False,
) -> DataFrame:
    """Connected components over a near-dup candidate-pair graph —
    the canonical-document step of web-scale dedup: every document in a
    component keeps ``component_id = min(doc ids in component)``; the
    canonical doc is the one with ``doc_id == component_id``.

    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm, independently implemented): each round contracts the graph
    toward per-component stars rooted at the minimum id, converging in
    O(log n) rounds even on diameter-Θ(n) path graphs, where plain
    min-label propagation needs Θ(diameter) rounds. Each half-round is one
    groupBy-min + join; the edge frame is ``localCheckpoint``-ed per round
    to truncate lineage (a bare ``persist`` would still grow the logical
    plan every iteration and blow up driver-side analysis at scale).

    ``strict=True`` raises on ``max_iter`` exhaustion instead of
    warn-and-return, so a downstream canonical-dedup can never silently
    consume over-segmented labels.
    """
    import warnings

    nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .persist()
    )
    # undirected edge set, canonical (lo, hi) orientation, self-loops out
    edges = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint()
    )

    def large_star(e: DataFrame) -> DataFrame:
        """Attach every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
        sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("mv"), F.col("u")).alias("m")
        )
        return (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("v"), F.col("m")).alias("lo"),
                F.greatest(F.col("v"), F.col("m")).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        """Attach every ≤-neighbor of u (and u itself) to the local min."""
        dir_ = e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        mins = dir_.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
        moved = (
            dir_.join(mins, on="u")
            .select(
                F.least(F.col("v"), F.col("m")).alias("lo"),
                F.greatest(F.col("v"), F.col("m")).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
        )
        self_edge = mins.select(F.col("m").alias("lo"), F.col("u").alias("hi"))
        return moved.union(self_edge).distinct()

    converged = False
    for _ in range(max_iter):
        new_edges = small_star(large_star(edges)).localCheckpoint()
        # converged when the canonical edge set is a fixpoint
        n_new = new_edges.count()
        if n_new == edges.count():
            delta = (
                new_edges.join(edges, on=["lo", "hi"], how="left_anti")
                .limit(1)
                .count()
            )
            if delta == 0:
                converged = True
                edges = new_edges
                break
        edges = new_edges

    if not converged:
        msg = (
            f"dedup_components: hit max_iter={max_iter} before convergence; "
            "labels would over-segment components. Raise max_iter or "
            "pre-contract the graph."
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning)

    # fixpoint edges are stars (root=lo); every node labels itself with its
    # root, isolated-in-pairs nodes label themselves
    roots = edges.select(F.col("hi").alias("node"), F.col("lo").alias("root"))
    labels = nodes.join(roots, on="node", how="left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("root"), F.col("node")).alias("component_id"),
    )
    out = labels.localCheckpoint()
    nodes.unpersist()
    return out


def select_canonical(
    df: DataFrame,
    components: DataFrame,
    priority: "list[str]",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick the document each near-dup cluster KEEPS — by quality, not by
    accident of id. Production dedup (Dolma, FineWeb style) retains the
    best-scoring member of every component; ``dedup_components``'s
    min-id convention is only a label.

    ``components`` is the (doc_id, component_id) frame from
    ``dedup_components``; docs absent from it (never in any candidate
    pair) are their own singleton component. ``priority`` names numeric
    columns of ``df``, compared lexicographically, HIGHER = better; ties
    break toward the larger ``id_col`` so the whole argmax is one
    ascending struct ``max``.

    Returns one row per component: ``component_id``, ``keep_id``,
    ``keep_<priority...>``, ``n_members``.

    Scale: the struct-max aggregates with map-side partial combine — one
    component-keyed exchange of pre-reduced partials, NO per-component
    window sort, so a pathological mega-component costs the same as any
    other key. The label join is doc_id-keyed (both sides already hash
    that key coming out of dedup_components).
    """
    labeled = df.join(components, on=id_col, how="left").withColumn(
        "component_id", F.coalesce(F.col("component_id"), F.col(id_col))
    )
    best = F.struct(
        *[F.col(c).alias(c) for c in priority], F.col(id_col).alias("_id")
    )
    agg = labeled.groupBy("component_id").agg(
        F.max(best).alias("_best"), F.count(F.lit(1)).alias("n_members")
    )
    return agg.select(
        "component_id",
        F.col("_best._id").alias("keep_id"),
        *[F.col(f"_best.{c}").alias(f"keep_{c}") for c in priority],
        "n_members",
    )


def lsh_incremental_pairs(
    new_sig: DataFrame,
    old_sig: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    n_hashes: int = 8,
    max_bucket_size: int = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Incremental crawl near-dup: candidate pairs between a NEW dump's
    signatures and the PRIOR snapshot's only — never re-pairing old×old,
    so per-dump cost scales with the dump, not the archive. Returns
    ``(new_id, old_id)`` distinct pairs (rescore with
    :func:`ngram_jaccard_pairs` or the embedding path as usual).

    Shape: both sides band-tag in their scan stage (zero shuffle), then
    ONE (band, bucket) equi-join — two distinct frames, so the self-join
    double-compute trap of the single-corpus path does not apply. The
    snapshot side's banded table is exactly what a production system
    PERSISTS between dumps (write ``_lsh_exploded_bands(old)``
    partitioned by bucket once per dump and this join prunes to the new
    dump's buckets). Hot buckets beyond ``max_bucket_size`` are dropped
    on BOTH sides (boilerplate clusters — the n_new·n_old blowup; the
    exact dedup pass owns those), mirroring
    :data:`LSH_MAX_BUCKET_SIZE`.
    """
    new_b = _lsh_exploded_bands(new_sig, id_col, rows_per_band, n_hashes)
    old_b = _lsh_exploded_bands(old_sig, id_col, rows_per_band, n_hashes)
    if max_bucket_size is not None:

        def _cap(b: DataFrame) -> DataFrame:
            ok = (
                b.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") <= int(max_bucket_size))
                .select("band", "bucket")
            )
            return b.join(ok, on=["band", "bucket"], how="left_semi")

        new_b = _cap(new_b)
        old_b = _cap(old_b)
    return (
        new_b.select("band", "bucket", F.col(id_col).alias("new_id"))
        .join(
            old_b.select("band", "bucket", F.col(id_col).alias("old_id")),
            on=["band", "bucket"],
        )
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )


def keep_latest_revision(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-recrawl dedup: a crawl archive carries MANY fetches of the
    same URL across snapshots; training corpora keep the newest. Returns
    one skinny row per URL — ``(url, keep_id, latest_ts, n_revisions)``
    with the winner = max ``(ts, id)`` (ties to the larger id) — which
    the caller semi-joins back onto the corpus, exactly the
    ``dedup_exact`` convention.

    Scale: one ascending struct-max aggregation with map-side partial
    combine on the URL key (the ``select_canonical`` shape) — no window
    sort, and a hot URL with millions of refetches reduces like any
    other key. ``ts_col`` may be any orderable type (timestamp, epoch
    seconds, crawl-id string).
    """
    best = F.struct(F.col(ts_col).alias("_ts"), F.col(id_col).alias("_id"))
    return (
        df.groupBy(url_col)
        .agg(F.max(best).alias("_b"), F.count(F.lit(1)).alias("n_revisions"))
        .select(
            url_col,
            F.col("_b._id").alias("keep_id"),
            F.col("_b._ts").alias("latest_ts"),
            "n_revisions",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    normalized: bool = True,
    max_rows: int = 100_000,
) -> DataFrame:
    """All-pairs n-gram Jaccard via shingle explode + equi-join on shingle
    (linear in total shingles + OUTPUT pairs — but a shingle shared by m
    documents emits m²/2 intersection rows, so a common trigram makes this
    quadratic on a raw corpus). This is the EXACT-scoring baseline for
    candidate sets: ``max_rows`` hard-caps the input and RAISES on
    overflow, same contract as ``cosine_neardup_pairs`` — at corpus scale
    generate candidates with MinHash-LSH (``lsh_candidate_pairs``) and
    rescore only those."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"ngram_jaccard_pairs is the exact all-pairs baseline and got "
            f"{n} rows (max_rows={max_rows}); generate candidates with "
            "lsh_candidate_pairs and rescore those instead"
        )
    base = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    ex = df.select(
        F.col(id_col), F.explode(shingles(base, k)).alias("sh")
    )
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_span_chars: int = 1,
) -> DataFrame:
    """C4-style global span dedup (Raffel et al. 2020 §2.2, public): any
    ``sep``-delimited span whose exact bytes occur MORE THAN ONCE across
    the whole corpus is removed from every document except the first
    occurrence (first = smallest ``(id, position)``). Returns
    ``(id_col, text)`` with each doc's surviving spans rejoined in their
    original order — boilerplate lines repeated across a crawl (cookie
    banners, nav footers) vanish corpus-wide in one pass.

    Spans shorter than ``min_span_chars`` are exempt (always kept): at the
    default 1 that's empty lines, which would otherwise all "duplicate"
    each other and be stripped from every doc but one.

    Plan shape: posexplode → one md5(span)-keyed aggregation (map-side
    partials; the 32-byte digest is the shuffle key, never the span) →
    equi-join of the tiny duplicate-group table back onto the spans → one
    doc-keyed aggregation to reassemble. Both exchanges are corpus-keyed,
    nothing finer; no window sort over the corpus.
    """
    spans = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("_pos", "_span"),
    )
    keyed = spans.withColumn(
        "_h",
        F.when(
            F.length("_span") >= min_span_chars, F.md5(F.col("_span"))
        ),
    )
    groups = (
        keyed.where(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct(F.col(id_col).alias("i"), F.col("_pos").alias("p"))).alias(
                "_keep"
            ),
        )
        # only duplicated spans matter downstream — uniques pass untouched,
        # so the join side carries the duplicate groups only
        .where(F.col("_n") > 1)
    )
    kept = keyed.join(groups, on="_h", how="left").where(
        F.col("_n").isNull()
        | ((F.col("_keep.i") == F.col(id_col)) & (F.col("_keep.p") == F.col("_pos")))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_span")))
                ),
                lambda s: s["_span"],
            ),
            sep,
        ).alias(text_col)
    )
    # a doc whose every span was removed must survive as an empty doc,
    # not vanish from the corpus
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 50,
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", public): any ``w``-token window whose
    exact whitespace-token sequence occurs MORE THAN ONCE across the whole
    corpus is removed everywhere except its first occurrence (first =
    smallest ``(id, start)``). Unlike the line-keyed :func:`dedup_spans`,
    this catches verbatim duplication that crosses line boundaries or sits
    inside otherwise-unique documents (license blocks, quoted passages,
    templated paragraphs). Returns ``(id_col, text, n_tokens_kept)`` with
    each doc's surviving tokens rejoined in order.

    The paper removes duplicated spans via a corpus-wide suffix array — a
    single-machine construction. The distributed equivalent here is rolling
    ``w``-token window fingerprints: a region duplicated for >= w tokens is
    covered by at least one duplicated window, and every duplicated window
    marks exactly its w tokens, so the removed set matches the suffix-array
    semantics for regions of length >= w (shorter repeats are kept, as the
    paper's threshold intends).

    Plan shape (all built-in expressions, no Python in the hot path):
    tokens stay row-local while the per-row window fingerprints are built
    (``transform`` over ``sequence``); only skinny ``(id, start, md5)``
    rows are exploded. One md5-keyed aggregation finds duplicated windows
    (map-side partials; shuffle key is the 16-byte digest, never the
    tokens), an equi-join of that small duplicate-group table marks covered
    starts, and one id-keyed aggregation + id-equi-join rebuilds each doc.
    Rows exploded ~= total corpus tokens — linear in corpus size; at 100 TB
    the digest shuffle is the dominant cost and is the theoretical minimum
    for exact global matching.
    """
    if w < 2:
        raise ValueError("w must be >= 2 (w=1 would dedup single tokens)")
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    # trim('') splits to [''] — make the empty doc a genuinely empty array
    toks = F.when(F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) == 0,
                  F.array().cast("array<string>")).otherwise(toks)
    base = df.select(F.col(id_col), toks.alias("_toks"))
    n = F.size("_toks")
    # 0-based window starts; docs shorter than w emit no windows
    starts = F.when(
        n >= w, F.sequence(F.lit(0), n - F.lit(w))
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.alias("start"),
                    F.md5(
                        F.array_join(F.slice("_toks", s + 1, w), " ")
                    ).alias("_h"),
                ),
            )
        ).alias("_w"),
    ).select(id_col, F.col("_w.start").alias("_start"), F.col("_w._h").alias("_h"))
    groups = (
        wins.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("_start").alias("p"))
            ).alias("_keep"),
        )
        .where(F.col("_n") > 1)
    )
    marked = (
        wins.join(groups, on="_h")
        .where(
            ~((F.col("_keep.i") == F.col(id_col)) & (F.col("_keep.p") == F.col("_start")))
        )
        .groupBy(id_col)
        .agg(F.collect_set("_start").alias("_marked"))
    )
    # covered = union of [start, start+w) over marked windows. The kept
    # indices are rebuilt from the COMPLEMENT's interval structure rather
    # than testing every token against a covered-index array — an
    # array_contains per token is O(n_tokens × n_covered), ~10^10
    # comparisons for one heavily-duplicated 100k-token doc. With the
    # marked starts sorted (collect_set → unique), a kept gap exists
    # between consecutive starts s, t iff t > s + w and is exactly
    # [s+w, t); head gap is [0, s_first), the tail gap closes against a
    # sentinel "next start" of n. Work is linear in the doc's tokens.
    ss = F.array_sort(F.col("_marked"))
    m = F.size(ss)
    first = F.element_at(ss, 1)
    head = F.when(first > 0, F.sequence(F.lit(0), first - 1)).otherwise(
        F.array().cast("array<int>")
    )
    nxt = F.concat(
        F.slice(ss, 2, F.greatest(m - F.lit(1), F.lit(0))), F.array(n)
    )
    gaps = F.zip_with(
        ss,
        nxt,
        lambda s, t: F.when(
            t > s + F.lit(w), F.sequence(s + F.lit(w), t - 1)
        ).otherwise(F.array().cast("array<int>")),
    )
    kept_idx = F.concat(head, F.flatten(gaps))
    kept = F.when(F.col("_marked").isNull(), F.col("_toks")).otherwise(
        F.transform(kept_idx, lambda i: F.element_at(F.col("_toks"), i + 1))
    )
    rebuilt = (
        base.join(marked, on=id_col, how="left")
        .select(F.col(id_col), kept.alias("_kept"))
        .select(
            F.col(id_col),
            F.array_join("_kept", " ").alias(text_col),
            F.size("_kept").cast("long").alias("n_tokens_kept"),
        )
    )
    return rebuilt


def dedup_substrings_oracle_sql(
    src_sql: str, w: int = 50, id_col: str = "doc_id"
) -> str:
    """DuckDB oracle for :func:`dedup_substrings` — an independent SQL
    implementation (window functions + UNNEST, no higher-order rebuild) of
    the same published semantics, for the correctness driver."""
    return f"""
WITH src AS ({src_sql}),
tok AS (
  SELECT {id_col},
         CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN []
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
  FROM src
),
win AS (
  SELECT {id_col}, i - 1 AS pos,
         md5(array_to_string(ws[i:i+{w - 1}], ' ')) AS h
  FROM tok, UNNEST(generate_series(1, len(ws) - {w - 1})) AS t(i)
  WHERE len(ws) >= {w}
),
marked AS (
  SELECT {id_col}, pos,
         row_number() OVER (PARTITION BY h ORDER BY {id_col}, pos) AS rn,
         count(*) OVER (PARTITION BY h) AS c
  FROM win
),
covered AS (
  SELECT DISTINCT m.{id_col}, m.pos + u.k AS ti
  FROM (SELECT * FROM marked WHERE c > 1 AND rn > 1) m,
       UNNEST(generate_series(0, {w - 1})) AS u(k)
),
toks_flat AS (
  SELECT {id_col}, i - 1 AS ti, ws[i] AS tk
  FROM tok, UNNEST(generate_series(1, len(ws))) AS t(i)
),
kept AS (
  SELECT f.{id_col}, f.ti, f.tk
  FROM toks_flat f LEFT JOIN covered c
    ON c.{id_col} = f.{id_col} AND c.ti = f.ti
  WHERE c.ti IS NULL
)
SELECT s.{id_col} AS {id_col},
       COALESCE(string_agg(k.tk, ' ' ORDER BY k.ti), '') AS text,
       COUNT(k.ti) AS n_tokens_kept
FROM src s LEFT JOIN kept k ON k.{id_col} = s.{id_col}
GROUP BY s.{id_col}
"""


# --- Bloom-sketch incremental dedup ------------------------------------------

def _bloom_base_hash(key: Column) -> Column:
    """Deterministic 31-bit base hash of an arbitrary string key:
    polynomial fold of the first 15 hex chars of ``md5(key)`` — fixed
    length, so the fold unrolls to a closed-form expression that Spark
    and DuckDB evaluate identically (same trick as the MinHash shingle
    hash)."""
    return _poly_shingle_hash(F.substring(F.md5(key), 1, 15), 15)


def bloom_positions(
    df: DataFrame,
    key_col: str = "content_hash",
    m_bits: int = 1 << 24,
    k: int = 4,
) -> DataFrame:
    """Bloom-sketch BUILD: the distinct set bit positions of a Bloom
    filter over ``key_col`` — position ``i`` of a key is
    ``((a_i·H + b_i) mod p) mod m_bits`` with ``H`` the md5-derived base
    hash and ``(a_i, b_i)`` the fixed universal-hash constants
    (``MINHASH_PARAMS``), so the sketch is a pure function of the key
    set: deterministic, partitioning-independent, SQL-replayable.

    Returns a one-column DataFrame ``pos: bigint`` with at most
    ``min(rows·k, m_bits)`` rows. This relational formulation (sorted
    set of positions instead of a packed bitmap) is what keeps the
    MEMBERSHIP check exact in both engines; at 10^12 prior keys you
    would size ``m_bits`` to the snapshot (the positions table is
    bounded by ``m_bits`` regardless of corpus size) and let the probe
    join shuffle-hash instead of broadcast.
    """
    assert k <= len(MINHASH_PARAMS)
    h = _bloom_base_hash(F.coalesce(F.col(key_col).cast("string"), F.lit("")))
    pos = F.array(
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE)) % F.lit(int(m_bits))
            for a, b in MINHASH_PARAMS[:k]
        ]
    )
    return (
        df.select(F.explode(pos).alias("pos"))
        .groupBy("pos")
        .agg(F.lit(1).alias("_one"))
        .select("pos")
    )


def bloom_probe(
    df: DataFrame,
    sketch: DataFrame,
    key_col: str = "content_hash",
    id_col: str = "doc_id",
    m_bits: int = 1 << 24,
    k: int = 4,
) -> DataFrame:
    """Bloom-sketch PROBE: adds ``maybe_seen`` (true iff ALL ``k`` bit
    positions of the row's key are present in ``sketch``). Bloom
    guarantee: a key that went into the build is NEVER flagged new
    (no false negatives); a fresh key is flagged seen with the standard
    false-positive rate, tunable via ``m_bits``/``k``.

    This is the incremental-crawl fast path: probe a new batch against
    the PRIOR snapshot's sketch, route ``maybe_seen`` rows (true dups +
    ε false positives) to the exact anti-join, and pass definitely-new
    rows straight through — the expensive exact join then processes
    ``|dups| + ε·|batch|`` rows instead of the whole batch.

    Plan: k-way explode of the positions array → one equi-join against
    the sketch (AQE broadcasts it while it fits; it is bounded by
    ``m_bits`` rows) → one ``id``-keyed count aggregation. No collect,
    no driver state.
    """
    assert k <= len(MINHASH_PARAMS)
    h = _bloom_base_hash(F.coalesce(F.col(key_col).cast("string"), F.lit("")))
    pos = F.array(
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE)) % F.lit(int(m_bits))
            for a, b in MINHASH_PARAMS[:k]
        ]
    )
    exploded = df.select(
        F.col(id_col), F.explode(pos).alias("pos")
    )
    marked = exploded.join(
        sketch.select("pos", F.lit(1).alias("_hit")), on="pos", how="left"
    )
    seen = (
        marked.groupBy(id_col)
        .agg((F.count("_hit") == F.lit(int(k))).alias("maybe_seen"))
    )
    return df.join(seen, on=id_col, how="inner")


def dedup_incremental(
    new_df: DataFrame,
    prior_df: DataFrame,
    key_col: str = "content_hash",
    id_col: str = "doc_id",
    m_bits: int = 1 << 24,
    k: int = 4,
) -> DataFrame:
    """Incremental batch-vs-snapshot dedup: keep the rows of ``new_df``
    whose key does not appear in ``prior_df``. The Bloom probe prunes
    the definitely-new rows for free; only the ``maybe_seen`` sliver
    takes the exact LEFT ANTI join against the prior keys, so the
    exact join's probe side shrinks from ``|batch|`` to
    ``|dups| + ε·|batch|``. Output = exact result (the sketch never
    drops a row the exact join would keep, and every false positive is
    rescued by the anti-join)."""
    probed = bloom_probe(
        new_df, bloom_positions(prior_df, key_col, m_bits, k),
        key_col, id_col, m_bits, k,
    )
    fast = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    rescued = (
        probed.where(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(
            prior_df.select(F.col(key_col)).distinct(),
            on=key_col,
            how="left_anti",
        )
    )
    return fast.unionByName(rescued)


# --- host-level template (per-site boilerplate) dedup -------------------------

def _url_full_host(url: Column) -> Column:
    """Full host (subdomain kept — templates are per-site, not per-registered
    -domain) from ``scheme://[user@]host[:port]/…``, lowercased, userinfo and
    port stripped. Pure expressions."""
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    host = F.regexp_replace(host, r"^[^@]*@", "")
    return F.regexp_replace(host, r":\d+$", "")


def host_template_lines(
    df: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    sep: str = "\n",
    min_pages: int = 4,
    min_fraction: float = 0.5,
    min_line_chars: int = 1,
) -> DataFrame:
    """Per-host template detection — the per-site half of crawl boilerplate
    removal (the RefinedWeb/CCNet "line appears on most of a site's pages ⇒
    chrome" heuristic, distinct from :func:`dedup_spans`' corpus-global
    first-occurrence rule): a ``sep``-delimited line is a template line of
    host H when it occurs on at least ``min_fraction`` of H's pages and H
    has at least ``min_pages`` pages (below that the fraction is
    meaningless — a 2-page site "repeats" everything).

    Returns ``(host, line, n_pages, n_host_pages)`` — the template table,
    consumable by :func:`strip_host_boilerplate` or auditable on its own.

    Plan shape: line explode → per-page distinct (a line repeated within
    ONE page counts once) → one (host, digest)-keyed count, one host-keyed
    count, one broadcast-friendly equi-join. The fraction test is exact
    integer cross-multiplication in milli-units — no float, so the DuckDB
    oracle replays it bit-for-bit. No windows, no collect.
    """
    frac_milli = int(round(min_fraction * 1000))
    host = _url_full_host(F.col(url_col))
    lines = (
        df.select(
            host.alias("host"),
            F.col(url_col).alias("_url"),
            F.explode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
            ).alias("line"),
        )
        .where(F.length("line") >= min_line_chars)
        .select("host", "_url", F.md5("line").alias("_h"), "line")
        .distinct()
    )
    per_line = lines.groupBy("host", "_h").agg(
        F.count(F.lit(1)).alias("n_pages"), F.min("line").alias("line")
    )
    per_host = (
        df.select(host.alias("host"), F.col(url_col).alias("_url"))
        .distinct()
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_host_pages"))
    )
    return (
        per_line.join(per_host, on="host")
        .where(
            (F.col("n_host_pages") >= min_pages)
            & (
                F.col("n_pages") * F.lit(1000)
                >= F.lit(frac_milli) * F.col("n_host_pages")
            )
        )
        .select("host", "line", "n_pages", "n_host_pages")
    )


def strip_host_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    sep: str = "\n",
    min_pages: int = 4,
    min_fraction: float = 0.5,
    min_line_chars: int = 1,
) -> DataFrame:
    """Remove each host's template lines (see :func:`host_template_lines`)
    from every page of that host, preserving line order; pages reduced to
    nothing survive as empty docs (same contract as :func:`dedup_spans`).
    Lines shorter than ``min_line_chars`` are exempt — at the default 1
    that's empty lines, which templates must not claim.

    Returns ``(url_col, text_col)``, ONE ROW PER INPUT ROW — recrawled
    urls (the same url fetched twice) are stripped independently, never
    merged: the reassembly groups on a per-row id, not the url (grouping
    on url interleaved/duplicated every line of both fetches into both
    output rows). Plan shape: the template table joins back on (host,
    digest) — a LEFT join, big side streams, template tables are tiny
    (per-host chrome) and broadcast under AQE; the template verdict folds
    into the ONE doc-keyed reassembly aggregation (a conditional
    collect_list), so an all-template page survives as an empty doc
    without a second join branch.
    """
    tmpl = host_template_lines(
        df, text_col, url_col, sep, min_pages, min_fraction, min_line_chars
    ).select(
        F.col("host").alias("_thost"), F.md5("line").alias("_th")
    )
    host = _url_full_host(F.col(url_col))
    # the per-row id MUST be assigned in a projection BELOW the explode —
    # inside the same select, a nondeterministic expression evaluates per
    # GENERATED row and every line would get its own id (Catalyst never
    # collapses projects across nondeterministic expressions, so this
    # ordering is guaranteed to stick)
    base = df.select(url_col, text_col).withColumn(
        "_rid", F.monotonically_increasing_id()
    )
    lines = base.select(
        F.col(url_col),
        F.col("_rid"),
        host.alias("_host"),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("_pos", "_line"),
    ).withColumn(
        "_h",
        F.when(F.length("_line") >= min_line_chars, F.md5(F.col("_line"))),
    )
    joined = lines.join(
        tmpl,
        on=(F.col("_host") == F.col("_thost")) & (F.col("_h") == F.col("_th")),
        how="left",
    )
    # conditional collect: template rows contribute NULL, which
    # collect_list skips — every input row keeps exactly one output row
    # (posexplode_outer guarantees ≥1 line row per doc)
    return joined.groupBy("_rid", url_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_th").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            sep,
        ).alias(text_col)
    ).select(url_col, text_col)
