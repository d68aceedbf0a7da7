"""In-process A/B of ``edspdf_spark/kernel/pdf.py`` against the same file in a
second git tree: side B loads OTHER_TREE's ``pdf.py``
(``spec_from_file_location``) and rebinds the three names the payload kernel
calls it through (``parse_pdf``, ``is_pdf``, ``PdfParseError``). The fused
closure, captured as ``perfbench/replay.py`` does, runs over a ``pdf_fused``
corpus with A and B alternating; each side's object memo (if its ``pdf.py``
has one) is cleared before every timed pass, so a pass shares parsed objects
only among its own documents. Prints process-CPU medians and the B/A paired
ratio.

The corpus is ``--corpus DIR``, else the newest cached perfbench
``pdf_fused`` corpus, else the committed ``perfbench/data/documents.parquet``
rendered in-process with ``make_pdf`` as the perfbench PDF pool renders it.
``--unique`` gives every document its own font name and one extra key in
each non-stream dictionary, so no object is byte-identical across documents
(the memo's miss path).

Usage: python tools/kernel_ab.py OTHER_TREE [--corpus DIR] [--unique]
"""

import argparse
import glob
import importlib.util
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import edspdf_spark.kernel.payload as payload  # noqa: E402
import edspdf_spark.kernel.pdf as pdf  # noqa: E402
from edspdf_spark.operators import run_pipeline_fused  # noqa: E402
from edspdf_spark.sources.pdfgen import make_pdf, paginate, split_lines  # noqa: E402
from perfbench import pools  # noqa: E402

MODULE = "edspdf_spark/kernel/pdf.py"
NAMES = ("parse_pdf", "is_pdf", "PdfParseError")
PAIRS = 12


class _Capture:  # DataFrame stand-in: records the function an operator maps
    def select(self, *_cols):
        return self

    def mapInArrow(self, fn, schema):  # noqa: N802 (Spark's name)
        self.fn = fn
        return self


def _corpus(path) -> pa.RecordBatch:
    cached = glob.glob(f"{ROOT}/.perfbench_cache/*/corpora/pdf_fused-*")
    if path or cached:
        path = path or max(cached, key=os.path.getmtime)
        pages = pq.read_table(f"{path}/pages", columns=["url", "html"])
        print(f"{path}: {pages.num_rows} docs")
        return pages.combine_chunks().to_batches()[0]
    docs = pq.read_table(pools.DOCUMENTS + "/documents.parquet").sort_by("doc_id")
    print(f"{pools.DOCUMENTS}/documents.parquet via make_pdf: {docs.num_rows} docs")
    return pa.record_batch({
        "url": [f"doc://{i}" for i in docs.column("doc_id").to_pylist()],
        "html": pa.array(
            [make_pdf(paginate(split_lines(str(t)))) for t in docs.column("text").to_pylist()],
            pa.binary(),
        ),
    })


def _unique(batch: pa.RecordBatch) -> pa.RecordBatch:
    # the parser does not read the xref table, so shifted offsets are harmless
    html = [
        h.replace(b"<</Type/", b"<</U%d 0/Type/" % i).replace(b"/FontName/", b"/FontName/U%d" % i)
        .replace(b"/BaseFont/", b"/BaseFont/U%d" % i)
        for i, h in enumerate(batch.column("html").to_pylist())
    ]
    return pa.record_batch({"url": batch.column("url"), "html": pa.array(html, pa.binary())})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("other_tree")
    ap.add_argument("--corpus")
    ap.add_argument("--unique", action="store_true")
    a = ap.parse_args()
    batch = _corpus(a.corpus)
    if a.unique:
        batch = _unique(batch)
    cap = _Capture()
    run_pipeline_fused(cap, pools.PDF_MASKS, threshold=pools.THRESHOLD)
    spec = importlib.util.spec_from_file_location("pdf_b", os.path.join(a.other_tree, MODULE))
    other = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(other)
    sides = ({n: getattr(payload, n) for n in NAMES}, {n: getattr(other, n) for n in NAMES})
    memos = tuple(getattr(m, "_clear_memo", lambda: None) for m in (pdf, other))

    def run(side: int) -> float:
        for n, v in sides[side].items():
            setattr(payload, n, v)
        memos[side]()
        t0 = time.process_time()
        list(cap.fn(iter([batch])))
        return time.process_time() - t0

    run(0), run(1)  # warm-up, not counted
    cpu = ([], [])
    for i in range(PAIRS):
        for side in (0, 1) if i % 2 == 0 else (1, 0):
            cpu[side].append(run(side))
    ratios = [b / x for x, b in zip(*cpu)]
    print(f"process CPU s, median: A (this tree) {statistics.median(cpu[0]):.3f}"
          f"  B {statistics.median(cpu[1]):.3f}")
    print(f"B/A paired ratio: median {statistics.median(ratios):.3f}"
          f"  min {min(ratios):.3f}  max {max(ratios):.3f}")


if __name__ == "__main__":
    main()
