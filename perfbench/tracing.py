"""In-memory span tracer and the kernel layer probes.

Spans are recorded from outside the program: the tracer swaps a
module attribute (or class attribute) for a wrapper that records
``(id, parent, name, start, end)`` around the original, and puts the
original back on ``restore``. Call sites that look the name up in the
patched namespace at call time are then traced; which namespace that
is for each kernel layer is listed in ``KERNEL_PROBES``.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple[int, int, str, float, float]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, fn, *args, **kwargs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((sid, parent, name, 0.0, 0.0))
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (sid, parent, name, t0, t1)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.span(name, original, *args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def self_seconds(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover."""
        child = defaultdict(float)
        for _sid, parent, _name, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _parent, name, t0, t1 in self.spans:
            out[name] += (t1 - t0) - child[sid]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1 in self.spans:
                f.write(json.dumps({"run": self.run_id, "id": sid, "parent": parent,
                                    "name": name, "start": t0, "end": t1}) + "\n")


#: (module, attribute path, layer): where each kernel layer is entered.
KERNEL_PROBES = [
    ("karanta_ocr_spark.kernel.charset", "decode_html", "kernel.charset"),
    ("karanta_ocr_spark.kernel.extract", "extract_main_text", "kernel.boilerplate"),
    ("karanta_ocr_spark.kernel.boilerplate", "flatten_html", "kernel.html_flatten"),
    ("karanta_ocr_spark.kernel.boilerplate", "normalize_block_text", "kernel.textnorm"),
    ("karanta_ocr_spark.kernel.linearize", "fix_text", "kernel.textnorm"),
    ("karanta_ocr_spark.kernel.linearize", "clean_element_text", "kernel.textnorm"),
    ("karanta_ocr_spark.kernel.extract", "parse_pdf", "kernel.pdf_mini"),
    ("karanta_ocr_spark.kernel.pdf_crypt", "StdSecurityHandler.__init__", "kernel.pdf_crypt"),
    ("karanta_ocr_spark.kernel.pdf_crypt", "StdSecurityHandler.decrypt", "kernel.pdf_crypt"),
    ("karanta_ocr_spark.kernel.extract", "page_natural_text", "kernel.linearize"),
    ("karanta_ocr_spark.kernel.extract", "linearize_page_report", "kernel.linearize"),
]

KERNEL_LAYERS = [
    "kernel.charset", "kernel.html_flatten", "kernel.boilerplate", "kernel.textnorm",
    "kernel.pdf_mini", "kernel.pdf_crypt", "kernel.linearize", "kernel.assemble",
]


def _install_kernel_probes(tracer: Tracer) -> None:
    for mod_name, attr, layer in KERNEL_PROBES:
        owner = importlib.import_module(mod_name)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        tracer.wrap(owner, leaf, layer)


def kernel_pass(rows: list[dict], tracer: Tracer | None = None):
    """Single-process extract + assemble of every row, traced when a
    tracer is given. Returns the per-url output, the per-document
    milliseconds and the page count."""
    from karanta_ocr_spark.kernel import assemble as ka
    from karanta_ocr_spark.kernel import extract as kx
    from karanta_ocr_spark.pipeline import MAX_PAGE_ERROR_RATE

    docs, ms, pages = {}, [], 0
    for r in rows:
        url, payload = r["url"], r["html"] or b""
        t0 = time.perf_counter()
        if tracer is None:
            p = kx.extract_document(url, payload)
            doc = ka.assemble_document(url, p, max_page_error_rate=MAX_PAGE_ERROR_RATE)
        else:
            p = tracer.span("kernel.extract", kx.extract_document, url, payload)
            doc = tracer.span("kernel.assemble", ka.assemble_document, url, p,
                              max_page_error_rate=MAX_PAGE_ERROR_RATE)
        ms.append((time.perf_counter() - t0) * 1000.0)
        pages += len(p)
        docs[url] = None if doc is None else (
            doc.doc_id, doc.text, [tuple(s) for s in doc.spans], doc.n_pages, doc.n_failed)
    return docs, ms, pages


def kernel_layer_metrics(rows: list[dict], ref_ms: list[float], ref_pages: int,
                         ref_docs: dict, tracer: Tracer) -> dict[str, float]:
    """Per-layer self ms/doc from one traced pass, plus the untraced
    totals and exact counts of the reference pass."""
    _install_kernel_probes(tracer)
    try:
        traced_docs, _ms, _pages = kernel_pass(rows, tracer)
    finally:
        tracer.restore()
    if traced_docs != ref_docs:
        raise RuntimeError("traced kernel pass differs from the untraced reference")
    n = max(len(rows), 1)
    self_s = tracer.self_seconds()
    out = {f"{layer}.ms_per_doc": self_s.get(layer, 0.0) * 1000.0 / n for layer in KERNEL_LAYERS}
    # pdf_mini is reported including the decryption it calls.
    out["kernel.pdf_mini.ms_per_doc"] += out["kernel.pdf_crypt.ms_per_doc"]
    q = statistics.quantiles(ref_ms, n=100) if len(ref_ms) > 1 else ref_ms * 99
    out.update({
        "kernel.extract.ms_per_doc": sum(ref_ms) / n,
        "kernel.doc_ms_p50": statistics.median(ref_ms) if ref_ms else 0.0,
        "kernel.doc_ms_p99": q[98],
        "kernel.docs": float(len(rows)),
        "kernel.pages": float(ref_pages),
        "kernel.failed_docs": float(sum(1 for d in ref_docs.values() if d is None)),
    })
    return out
