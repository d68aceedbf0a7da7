"""Load generation: seed-independent document pools, built once per
checkout, and the per-seed corpora drawn from them.

A pool holds the inputs and the *reference* output of every pool
document: the composed operator chain for payload, the distributed vote
for web pages, nothing for PDFs (their oracle is closed-form SQL over the
committed document texts). The payload and web-page references share
per-document kernels with the measured path, so each pool is also held to
the committed pins (``pins.py``); the keys that differ are recorded as
*disputed* and fail the check. Building the pools is the benchmark's
build step: it runs once per source state, in a child process, on the
first run in a checkout.

A seed selects which pool documents a corpus holds, their order and
(for PDFs) their ids. Sampling is stratified so every seed keeps the
pool's skew and corrupt-doc rates exactly.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import pins

#: synthetic payload pool size (fixtures.gen_doc(0..n-1): every 97th doc a
#: 50× giant, every 501st corrupt)
PAYLOAD_POOL = 6012
#: a fixed 1,000-row sample (doc_id, text) of the sf0.1 test-data
#: ``documents`` table, committed with the benchmark
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: html pages per document in the web-page pool
HTML_REPS = 3

#: the standard literal-mask pipeline (bench.py's synthetic headline)
PAYLOAD_MASKS = [("body", 0.2, 0.3, 0.9, 0.6)]
PDF_MASKS = [("body", 0.0, 0.0, 1.0, 1.0)]
THRESHOLD = 0.1

ROW_GROUP = 32


def write_table(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files with small row groups,
    so scan splits can cut the corpus finely."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(files):
        lo, hi = n * f // files, n * (f + 1) // files
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(path, f"part-{f:03d}.parquet"),
            row_group_size=ROW_GROUP,
        )


# --- build (child process, once per source state) -------------------------


def build(pool_dir: str, spark, write_pins: bool = False) -> None:
    """Generate every pool and its reference output under ``pool_dir``,
    then hold each pool to its pins (or, with ``write_pins``, replace the
    pins with this build's digests)."""
    from pyspark.sql import functions as F

    from edspdf_spark.fixtures import build_pages_df, html_pages_from_documents
    from edspdf_spark.operators import aggregate_simple, classify_mask, extract_blocs
    from edspdf_spark.sources.pdfgen import documents_to_pdfs

    tmp = pool_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    # payload pool + composed-chain reference
    pay = os.path.join(tmp, "payload")
    build_pages_df(spark, PAYLOAD_POOL, partitions=16).select("url", "html").write.parquet(
        pay + "/pages"
    )
    pages = spark.read.parquet(pay + "/pages")
    ref = aggregate_simple(
        classify_mask(extract_blocs(pages), PAYLOAD_MASKS, threshold=THRESHOLD)
    )
    ref.write.parquet(pay + "/ref")
    t = pq.read_table(pay + "/pages").sort_by("url")
    n_pages = [h.count(b"PAGE ") for h in t.column("html").to_pylist()]
    write_table(t.append_column("n_pages", pa.array(n_pages, pa.int32())), pay + "/pool")

    # committed documents sample → genuine PDFs (reference is SQL over the texts)
    documents = spark.read.parquet(os.path.join(DOCUMENTS, "documents.parquet"))
    documents_to_pdfs(documents).select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"), "html"
    ).write.parquet(tmp + "/pdf/raw")
    pdfs = pq.read_table(tmp + "/pdf/raw").sort_by("doc_id")
    write_table(pdfs, tmp + "/pdf/pool")

    # web pages + distributed-vote reference
    html = os.path.join(tmp, "html")
    html_pages_from_documents(spark, DOCUMENTS, reps=HTML_REPS).write.parquet(html + "/raw")
    write_table(pq.read_table(html + "/raw").sort_by("url"), html + "/pool")
    html_reference(spark, html + "/pool", html + "/ref")

    for d in ("payload/pages", "pdf/raw", "html/raw"):
        shutil.rmtree(os.path.join(tmp, d))
    for name, entries in _pin_entries(tmp).items():
        if write_pins:
            pins.write(name, entries)
        bad = pins.disputed(name, entries)
        if bad:
            print(f"{name}: {len(bad)} of {len(entries)} pool keys differ from their pins")
        write_table(pa.table({"key": pa.array(bad, pa.string())}), f"{tmp}/{name}/disputed")
    shutil.rmtree(pool_dir, ignore_errors=True)
    os.rename(tmp, pool_dir)


def _pin_entries(pool_dir: str) -> dict[str, dict[str, tuple[str, str]]]:
    """Per-key (input digest, reference digest) of every pool: payload and
    web pages keyed by url, PDFs by source doc_id."""
    out = {}
    for name, key, ref_cols in (
        ("payload", "url", ["url", "label", "text", "properties"]),
        ("html", "url", ["url", "page_num", "bloc_ord", "text", "label", "error"]),
    ):
        pool = pq.read_table(f"{pool_dir}/{name}/pool", columns=["url", "html"])
        ref = pq.read_table(f"{pool_dir}/{name}/ref", columns=ref_cols).to_pylist()
        out[name] = pins.entries(
            pool.column("url").to_pylist(),
            pool.column("html").to_pylist(),
            pins.row_digests(ref, key),
        )
    pdf = pq.read_table(f"{pool_dir}/pdf/pool")
    out["pdf"] = pins.entries(
        pdf.column("doc_id").to_pylist(), pdf.column("html").to_pylist(), None
    )
    return out


def html_reference(spark, pages_path: str, out_path: str) -> None:
    """The consensus extractor's expected blocs, rebuilt from the three
    single-face extractors and :func:`consensus_line_votes` (the
    distributed multi-exchange path the fused kernel replaced)."""
    import pandas as pd

    from edspdf_spark.operators.extract_html import (
        consensus_line_votes,
        extract_blocs_boilerpipe,
        extract_blocs_html,
        extract_blocs_readability,
    )

    pages = spark.read.parquet(pages_path)
    jus = extract_blocs_html(
        pages, min_words=3, max_link_density=0.4, context_sensitive=True
    )
    legs = {
        "justext": jus,
        "readability": extract_blocs_readability(pages),
        "boilerpipe": extract_blocs_boilerpipe(pages),
    }
    votes = consensus_line_votes(legs).where("votes >= 2").toPandas()
    keep = set(zip(votes["url"], votes["line"]))
    rows = []
    for r in jus.select(
        "url", "page_num", "bloc_ord", "text", "label", "error"
    ).toPandas().itertuples(index=False):
        if r.error:
            rows.append((r.url, None, None, None, None, True))
        elif r.label == "body":
            kept = [ln for ln in r.text.split("\n") if (r.url, ln) in keep]
            if kept:
                rows.append((r.url, r.page_num, r.bloc_ord, "\n".join(kept), "body", False))
        else:
            rows.append((r.url, r.page_num, r.bloc_ord, r.text, r.label, False))
    df = pd.DataFrame(
        rows, columns=["url", "page_num", "bloc_ord", "text", "label", "error"]
    )
    table = pa.Table.from_pandas(df, preserve_index=False).cast(
        pa.schema(
            [
                ("url", pa.string()),
                ("page_num", pa.int32()),
                ("bloc_ord", pa.int32()),
                ("text", pa.string()),
                ("label", pa.string()),
                ("error", pa.bool_()),
            ]
        )
    )
    write_table(table, out_path)


# --- per-seed corpora ------------------------------------------------------


def _stratified(strata: np.ndarray, n: int, rng: np.random.Generator) -> np.ndarray:
    """``n`` pool row indices with each stratum's share of the pool kept
    exactly (largest-remainder rounding, independent of the seed), in a
    seed-random order."""
    keys, counts = np.unique(strata, return_counts=True)
    quota = counts * n / len(strata)
    take = np.floor(quota).astype(int)
    short = n - take.sum()
    take[np.argsort(-(quota - take), kind="stable")[:short]] += 1
    picked = [
        rng.choice(np.flatnonzero(strata == k), size=t, replace=False)
        for k, t in zip(keys, take)
    ]
    out = np.concatenate(picked)
    rng.shuffle(out)
    return out


def payload_corpus(pool_dir: str, out: str, seed: int, n: int) -> dict:
    pool = pq.read_table(os.path.join(pool_dir, "payload/pool"))
    html = pool.column("html").to_pylist()
    corrupt = np.array([h == b"CORRUPT\n" for h in html])
    n_pages = pool.column("n_pages").to_numpy()
    # stratum = (corrupt, page count): giants and corrupt docs keep their
    # pool rates, and every seed carries the same page mass
    strata = np.where(corrupt, -1, n_pages)
    idx = _stratified(strata, n, np.random.default_rng(seed))
    corpus = pool.select(["url", "html"]).take(pa.array(idx))
    write_table(corpus, out + "/pages", files=4)
    return {"docs": n, "corrupt": int(corrupt[idx].sum())}


def pdf_corpus(pool_dir: str, out: str, seed: int, n: int) -> dict:
    """``n`` documents = whole seeded permutations of the documents pool
    under seed-derived ids (uniform doc sizes, identical work per seed)."""
    docs = pq.read_table(os.path.join(DOCUMENTS, "documents.parquet")).sort_by("doc_id")
    pdfs = pq.read_table(os.path.join(pool_dir, "pdf/pool"))
    if not docs.column("doc_id").equals(pdfs.column("doc_id")):
        raise ValueError("pdf pool does not line up with the documents pool")
    rng = np.random.default_rng(seed)
    d = docs.num_rows
    src = np.concatenate([rng.permutation(d) for _ in range(-(-n // d))])[:n]
    ids = (int(seed) % 100_000) * 10_000_000 + 1_000_000 + np.arange(n)
    write_table(
        pa.table(
            {
                "url": [f"doc://{i}" for i in ids],
                "html": pdfs.column("html").take(pa.array(src)),
            }
        ),
        out + "/pages",
        files=4,
    )
    write_table(
        pa.table(
            {
                "doc_id": ids,
                "text": docs.column("text").take(pa.array(src)),
                "src_id": docs.column("doc_id").take(pa.array(src)),
            }
        ),
        out + "/documents",
    )
    return {"docs": n, "corrupt": 0}


def html_corpus(pool_dir: str, out: str, seed: int, n: int) -> dict:
    pool = pq.read_table(os.path.join(pool_dir, "html/pool"))
    rng = np.random.default_rng(seed)
    idx = rng.choice(pool.num_rows, size=n, replace=False)
    write_table(pool.take(pa.array(idx)), out + "/pages", files=4)
    return {"docs": n, "corrupt": 0}


def write_warm(corpus: str, cores: int, per_file: int = 4) -> None:
    """``cores`` small files from the head of the corpus: small files are
    never packed together, so the warm-up pass runs ``cores`` tasks."""
    head = pq.read_table(corpus + "/pages").slice(0, cores * per_file)
    write_table(head, corpus + "/warm", files=cores)
