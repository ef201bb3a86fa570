"""The ``core`` kernel measured in-process, outside Spark.

Two measurements over rows from the workload:

* ``reference`` runs ``core.document.extract_document`` in a spawn pool and
  returns each row's status and kernel time, plus markdown and spans for a
  sample of urls — the core-path answer the Spark output is checked against.
* ``trace`` wraps the layer functions that ``core.document`` imports, runs a
  sample untraced and traced in turn, and reduces the spans to per-layer
  self time and exact call counts.
"""

from __future__ import annotations

import time
import types
from collections import defaultdict
from contextlib import contextmanager

from pdf_parser_spark.core import document

# layer -> names core.document calls.  classify and segment are imported as
# modules there, so their functions are reached through a module proxy.
LAYERS = {
    "html_extract": ["extract_html_pages"],
    "textrepair": ["collapse_repeated_text", "repair_cell"],
    "classify": ["classify.is_scanned", "classify.classify_report_type",
                 "classify.find_filing_start_page"],
    "segment": ["segment.split_sec_sections", "segment.split_ifrs_sections"],
    "tables": ["tables_to_markdown", "parse_text_as_table", "extract_column_headers"],
    "fields": ["extract_cover_fields", "cover_fields_markdown", "find_scale_hint"],
    "checks": ["compute_confidence", "render_checks_markdown",
               "render_confidence_markdown", "run_all_checks",
               "statement_validation_status", "statement_values"],
    "prose": ["clean_prose", "format_exhibits", "notes_fallback"],
    "docmeta": ["build_metadata"],
    "render": ["assemble_markdown"],
}
ROOT = "document"


# ---------------------------------------------------------------- reference

_SAMPLE: frozenset = frozenset()
_RUN_TS = ""


def _init(sample: frozenset, run_ts: str) -> None:
    global _SAMPLE, _RUN_TS
    _SAMPLE, _RUN_TS = sample, run_ts


def _one(row: tuple) -> tuple:
    url, html, text = row
    t0 = time.perf_counter()
    r = document.extract_document(url, html, text, _RUN_TS)
    dt = time.perf_counter() - t0
    detail = (r["markdown"], r["spans"]) if url in _SAMPLE else None
    return url, r["status"], dt, detail


def reference(rows: list[dict], sample: set[str], run_ts: str, workers: int) -> dict:
    """url -> (status, kernel seconds, (markdown, spans) or None)."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    args = [(r["url"], r["html"], r["text"]) for r in rows]
    pool = ctx.Pool(workers, initializer=_init, initargs=(frozenset(sample), run_ts))
    try:
        out = pool.map(_one, args, chunksize=16)
    finally:
        pool.close()
        pool.join()
    return {url: (status, dt, detail) for url, status, dt, detail in out}


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans: every wrapped call is one span whose parent is the
    span open when it started.  Self time = duration minus child spans."""

    def __init__(self):
        self.stack: list[list[float]] = []   # child seconds of each open span
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    def wrap(self, fn, layer: str, func: str):
        stack, self_s, calls = self.stack, self.self_s, self.calls
        clock = time.perf_counter

        def traced(*a, **kw):
            calls[func] += 1
            stack.append([0.0])
            t0 = clock()
            try:
                return fn(*a, **kw)
            finally:
                dur = clock() - t0
                self_s[layer] += dur - stack.pop()[0]
                calls[layer] += 1
                if stack:
                    stack[-1][0] += dur
        return traced


@contextmanager
def traced_document(tracer: Tracer):
    """Swap the layer names in ``core.document`` for tracing wrappers, and
    restore them on exit."""
    saved = {}
    proxies: dict[str, types.SimpleNamespace] = {}
    for layer, names in LAYERS.items():
        for qual in names:
            mod, _, fn = qual.rpartition(".")
            if mod:
                if mod not in proxies:
                    real = getattr(document, mod)
                    saved[mod] = real
                    proxies[mod] = types.SimpleNamespace(**vars(real))
                setattr(proxies[mod], fn,
                        tracer.wrap(getattr(saved[mod], fn), layer, qual))
            else:
                saved[fn] = getattr(document, fn)
                setattr(document, fn, tracer.wrap(saved[fn], layer, qual))
    for mod, proxy in proxies.items():
        setattr(document, mod, proxy)
    try:
        yield
    finally:
        for name, obj in saved.items():
            setattr(document, name, obj)


def _pass(rows: list[dict], run_ts: str, extract) -> tuple[float, list]:
    t0 = time.perf_counter()
    results = [extract(r["url"], r["html"], r["text"], run_ts) for r in rows]
    return time.perf_counter() - t0, results


def trace(rows: list[dict], run_ts: str, rounds: int = 5) -> tuple[dict, int]:
    """Per-layer metrics over ``rows``; returns (metrics, rows whose traced
    result differs from the untraced one).  After one warm pass, untraced
    and traced passes alternate ``rounds`` times.  Self times are scaled by
    untraced ÷ traced time, so the layers plus ``core.document`` add up to
    ``core.kernel_us_per_doc``; ``core.trace_overhead`` reports the ratio."""
    extract = document.extract_document
    _, plain = _pass(rows, run_ts, extract)  # warm imports and caches
    tracer = Tracer()
    traced_extract = tracer.wrap(extract, ROOT, ROOT)
    plain_s, traced_s, differ = [], [], 0
    for _ in range(rounds):
        plain_s.append(_pass(rows, run_ts, extract)[0])
        with traced_document(tracer):
            dt, traced = _pass(rows, run_ts, traced_extract)
        traced_s.append(dt)
        differ += sum(1 for a, b in zip(plain, traced) if a != b)
    n = len(rows)
    overhead = sum(traced_s) / sum(plain_s)
    us_per_doc = 1e6 / (n * rounds) / overhead  # traced seconds -> untraced us/doc
    m = {
        "core.kernel_us_per_doc": sum(plain_s) / (n * rounds) * 1e6,
        "core.trace_overhead": overhead,
        # the orchestrator's own code between layer calls (not a layer)
        "core.document.self_us_per_doc": tracer.self_s[ROOT] * us_per_doc,
    }
    for layer in LAYERS:
        m[f"core.{layer}.self_us_per_doc"] = tracer.self_s[layer] * us_per_doc
        m[f"core.{layer}.calls_per_doc"] = tracer.calls[layer] / (n * rounds)
    m["core.tables.text_retry_ratio"] = (
        tracer.calls["parse_text_as_table"] / max(1, tracer.calls["tables_to_markdown"])
    )
    m["core.segment.sections_per_doc"] = sum(r["n_sections"] for r in plain) / n
    return m, differ
