"""Core phase: single-thread ``core.oracle.extract_page`` over the
workload's pages, with timing wrappers around the tokenizer's own
references to its table and geometry helpers."""

from __future__ import annotations

from contextlib import contextmanager

from perfbench.inputs import Golden

# (module attribute patched, span name); the tokenizer imports these
# helpers by name, so patching its module globals times exactly its calls
_WRAPPED = (
    ("assemble_table", "core.table.assemble_table"),
    ("merge_fragmented", "core.geometry.merge_fragmented"),
    ("sorted_boxes", "core.geometry.sorted_boxes"),
    ("sorted_layout_boxes", "core.geometry.sorted_layout_boxes"),
)


@contextmanager
def _patched(module, attr: str, wrapper_of):
    orig = getattr(module, attr)
    setattr(module, attr, wrapper_of(orig))
    try:
        yield
    finally:
        setattr(module, attr, orig)


def _timed(tracer, name, fn, sink=None):
    def wrapper(*a, **k):
        with tracer.span(name):
            out = fn(*a, **k)
        if sink is not None:
            sink.append(out)
        return out
    return wrapper


def probe(pages: list[dict], golden: Golden, tracer) -> dict:
    """Per-doc layer times (us) and per-branch page counts."""
    from contextlib import ExitStack

    from paddleocr_spark.core import oracle, tokenizer

    blocks_seen: list = []
    failed = kept = 0
    with ExitStack() as stack:
        stack.enter_context(_patched(oracle, "tokenize_page", lambda f: _timed(
            tracer, "core.tokenizer.tokenize_page", f, blocks_seen)))
        for attr, name in _WRAPPED:
            stack.enter_context(_patched(tokenizer, attr, lambda f, n=name: _timed(tracer, n, f)))
        for i, p in enumerate(pages):
            with tracer.span("core.oracle.extract_page", f"page-{i}"):
                r = oracle.extract_page(p["url"], p["html"], p["lang"])
            kept += r.n_blocks_kept
            failed += not golden.matches(dict(
                url=r.url, extracted_text=r.extracted_text, spans=r.spans,
                n_blocks_detected=r.n_blocks_detected, n_blocks_kept=r.n_blocks_kept))
    n = len(pages)

    def per_doc_us(*names: str) -> float:
        return sum(sum(tracer.durations(x)) for x in names) / n * 1e6

    detected = sum(len(b) for b in blocks_seen)
    return {
        "core.tokenizer.tokenize_us": per_doc_us("core.tokenizer.tokenize_page"),
        "core.oracle.post_tokenize_us": per_doc_us("core.oracle.extract_page")
        - per_doc_us("core.tokenizer.tokenize_page"),
        "core.table.assemble_us": per_doc_us("core.table.assemble_table"),
        "core.geometry.layout_us": per_doc_us(*(n for a, n in _WRAPPED if a != "assemble_table")),
        "core.blocks_detected": detected,
        "core.blocks_kept": kept,
        "core.keep_ratio": kept / detected if detected else 0.0,
        "core.branch.table": sum(any(b.branch == "table" for b in bs) for bs in blocks_seen),
        "core.branch.layout": sum(any(b.branch == "layout" for b in bs) for bs in blocks_seen),
        "core.branch.chunked": sum(any(b.parent_id != b.block_id for b in bs) for bs in blocks_seen),
        "attempted": n,
        "failed": failed,
    }
