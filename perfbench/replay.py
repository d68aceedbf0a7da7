"""In-process replay of the per-document kernels over a fixed corpus
sample, with spans recorded from the benchmark's side only.

The operator closures are taken from the engine's public operator
functions (``run_pipeline_fused``, ``extract_blocs_consensus``) by
handing them a stand-in for the DataFrame that captures the function
they pass to ``mapInArrow`` / ``mapInPandas``; the replay then calls that
very closure, exactly as a Python worker would. Child spans come from
wrapping module attributes (``parse_payload``, ``parse_pdf``,
``fold_runs``, ``sort_reading_order``, …) for the replay's duration.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import pools


class Tracer:
    """Spans kept in memory: (name, parent index, start, end) in seconds
    since the tracer started. Self time = span minus its direct
    children."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.child_s: list[float] = []
        self.counts: dict[str, float] = {}

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, name: str, fn, on_result=None):
        def traced(*args, **kwargs):
            idx = len(self.spans)
            parent = self.stack[-1] if self.stack else -1
            self.spans.append([name, parent, time.perf_counter() - self.t0, None])
            self.child_s.append(0.0)
            self.stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.stack.pop()
                end = time.perf_counter() - self.t0
                self.spans[idx][3] = end
                if parent >= 0:
                    self.child_s[parent] += end - self.spans[idx][2]
            if on_result is not None:
                on_result(args, result)
            return result

        return traced

    def totals(self) -> dict[str, tuple[float, float]]:
        """name → (total seconds, self seconds)."""
        out: dict[str, list[float]] = {}
        for (name, _p, start, end), child in zip(self.spans, self.child_s):
            t = out.setdefault(name, [0.0, 0.0])
            t[0] += end - start
            t[1] += end - start - child
        return {k: (v[0], v[1]) for k, v in out.items()}


@contextmanager
def patched(targets):
    """Temporarily replace module attributes: ``targets`` is a list of
    (module, attribute, replacement)."""
    saved = [(m, a, getattr(m, a)) for m, a, _r in targets]
    try:
        for m, a, r in targets:
            setattr(m, a, r)
        yield
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)


class _Capture:
    """DataFrame stand-in: records the function an operator maps."""

    fn = None

    def select(self, *_cols):
        return self

    def mapInArrow(self, fn, schema):  # noqa: N802 (Spark's name)
        self.fn = fn
        return self

    mapInPandas = mapInArrow


def sample(corpus: str, n: int) -> tuple[list[str], list[bytes]]:
    """Every k-th corpus row (k = corpus size // n), in corpus order."""
    t = pq.read_table(corpus + "/pages", columns=["url", "html"])
    step = max(1, t.num_rows // n)
    t = t.take(pa.array(range(0, t.num_rows, step)[:n]))
    return t.column("url").to_pylist(), t.column("html").to_pylist()


def _kernel_targets(tr: Tracer):
    import edspdf_spark.kernel.payload as payload
    from edspdf_spark.operators import fused

    def lines_parsed(_args, result):
        tr.count("lines_parsed", len(result[1]))

    def extracted(_args, result):
        blocs, _pages, error = result
        tr.count("docs")
        tr.count("docs_error", int(bool(error)))
        tr.count("blocs_kept", len(blocs))

    return [
        (payload, "parse_payload", tr.wrap("kernel.payload.parse", payload.parse_payload, lines_parsed)),
        (payload, "parse_pdf", tr.wrap("kernel.pdf.parse", payload.parse_pdf, lines_parsed)),
        (payload, "fold_runs", tr.wrap("kernel.style.fold", payload.fold_runs)),
        (payload, "sort_reading_order", tr.wrap("kernel.reading_order.sort", payload.sort_reading_order)),
        (fused, "extract_doc_raw", tr.wrap("kernel.payload.extract", fused.extract_doc_raw, extracted)),
        (fused, "align_labels_kernel", tr.wrap("kernel.overlap.align", fused.align_labels_kernel)),
        (fused, "aggregate_doc", tr.wrap("kernel.aggregate.aggregate", fused.aggregate_doc)),
    ]


def _html_targets(tr: Tracer):
    from edspdf_spark.operators import extract_html as eh

    last_blocks: list = []

    def keep_blocks(_args, result):
        last_blocks[:] = result[0]

    def body_lines(_args, labels):
        tr.count(
            "body_lines",
            sum(
                len([ln for ln in b["text"].split("\n") if ln.strip()])
                for b, lab in zip(last_blocks, labels)
                if lab == "body"
            ),
        )

    return [
        (eh, "extract_html_blocks", tr.wrap("extract_html.blocks", eh.extract_html_blocks, keep_blocks)),
        (eh, "context_classify", tr.wrap("extract_html.context", eh.context_classify, body_lines)),
        (eh, "readability_blocks", tr.wrap("extract_html.readability", eh.readability_blocks)),
    ]


def replay(workload: str, corpus: str, n: int) -> tuple[Tracer, int]:
    """Run the workload's per-document closure over ``n`` sampled docs
    under spans; returns the tracer and the sample size."""
    urls, htmls = sample(corpus, n)
    tr = Tracer()
    cap = _Capture()
    targets = _kernel_targets(tr)
    if workload == "html_consensus":
        import pandas as pd

        from edspdf_spark.operators.extract_html import extract_blocs_consensus

        extract_blocs_consensus(cap, min_votes=2, context_sensitive=True)
        batch = pd.DataFrame({"url": urls, "html": htmls})
        targets += _html_targets(tr)
        top = "extract_html.consensus"
    else:
        # the snapshot-job leg runs these same per-document kernels through
        # the composed operators, so this replay stands for it too
        from edspdf_spark.operators import run_pipeline_fused

        masks = pools.PDF_MASKS if workload == "pdf_fused" else pools.PAYLOAD_MASKS
        run_pipeline_fused(cap, masks, threshold=pools.THRESHOLD)
        batch = pa.RecordBatch.from_pydict(
            {"url": pa.array(urls, pa.string()), "html": pa.array(htmls, pa.binary())}
        )
        top = "fused.closure"
    closure = tr.wrap(top, lambda b: list(cap.fn(iter([b]))))
    with patched(targets):
        out = closure(batch)
    if workload == "html_consensus":
        tr.count(
            "kept_body_lines",
            sum(
                len(t.split("\n"))
                for o in out
                for t, lab in zip(o["text"], o["label"])
                if lab == "body"
            ),
        )
    return tr, len(urls)


def calib_s(reps: int = 3) -> float:
    """A fixed pure-Python loop that shares no code with the engine:
    median seconds over ``reps``; slow machine phases show up here."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc = (acc * 31 + i) % 1_000_003
        words = sorted(str(i * 7919 % 100_003) for i in range(100_000))
        acc += len(" ".join(words).split())
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
