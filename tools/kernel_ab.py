"""In-process A/B of ``edspdf_spark/kernel/pdf.py`` against the same file in a
second git tree: side B loads OTHER_TREE's ``pdf.py``
(``spec_from_file_location``) and rebinds the three names the payload kernel
calls it through (``parse_pdf``, ``is_pdf``, ``PdfParseError``). The fused
closure, captured as ``perfbench/replay.py`` does, runs over a cached perfbench
``pdf_fused`` corpus with A and B alternating. Prints process-CPU medians and
the B/A paired ratio.

Usage: python tools/kernel_ab.py OTHER_TREE [--corpus DIR]
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

import pyarrow.parquet as pq  # noqa: E402
import edspdf_spark.kernel.payload as payload  # noqa: E402
from edspdf_spark.operators import run_pipeline_fused  # noqa: E402
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("other_tree")
    ap.add_argument("--corpus")
    a = ap.parse_args()
    corpus = a.corpus or max(
        glob.glob(f"{ROOT}/.perfbench_cache/*/corpora/pdf_fused-*"), key=os.path.getmtime
    )
    pages = pq.read_table(f"{corpus}/pages", columns=["url", "html"])
    batch = pages.combine_chunks().to_batches()[0]
    print(f"{corpus}: {batch.num_rows} docs")
    cap = _Capture()
    run_pipeline_fused(cap, pools.PDF_MASKS, threshold=pools.THRESHOLD)
    spec = importlib.util.spec_from_file_location("pdf_b", os.path.join(a.other_tree, MODULE))
    other = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(other)
    sides = ({n: getattr(payload, n) for n in NAMES}, {n: getattr(other, n) for n in NAMES})

    def run(side: int) -> float:
        for n, v in sides[side].items():
            setattr(payload, n, v)
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
