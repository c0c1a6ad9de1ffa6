"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: a
wrapper replaces a layer's public function (or the name another module
calls it by) while a traced call runs and is removed after.
Each span is ``(name, start, end, parent, doc_id)``; ``parent`` is the
index of the enclosing span in the same list, or -1.  A layer's self
time is its spans' durations minus the parts their child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    """Span recorder.  Not thread-safe: one tracer per thread of work."""

    def __init__(self):
        self.spans: list[list] = []
        self._open: list[int] = []
        self.doc = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around a block of code."""
        rec = [name, time.perf_counter(), 0.0, self._open[-1] if self._open else -1, self.doc]
        self._open.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._open.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span.  The record is inlined
        rather than built on :meth:`span`, which would add a generator
        context manager to every wrapped call."""
        spans, stack, clock = self.spans, self._open, time.perf_counter

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = [name, clock(), 0.0, stack[-1] if stack else -1, self.doc]
            stack.append(len(spans))
            spans.append(rec)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[2] = clock()
                stack.pop()

        return traced

    def drain(self) -> list[tuple]:
        """Hand over the closed spans (none may be open) and start empty."""
        if self._open:
            raise RuntimeError("drain() with open spans")
        out = [tuple(s) for s in self.spans]
        self.spans.clear()
        return out


@contextlib.contextmanager
def patched(tracer: Tracer, targets):
    """Wrap ``owner.attr`` with a span named ``name`` for each
    ``(owner, attr, name)``; restore the originals on exit."""
    saved = []
    try:
        for owner, attr, name in targets:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(name, orig))
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def core_targets():
    """The core-transform boundaries, by the names their callers use."""
    import helix_html2md_spark.core.boilerplate as boilerplate
    import helix_html2md_spark.core.html2md as html2md
    import helix_html2md_spark.operators.extract as extract
    from helix_html2md_spark.core.transform import Transformer

    return [
        (extract, "extract_row", "extract.row"),
        (extract, "html2md", "html2md"),
        (extract, "decompose_md", "extract.decompose"),
        (html2md, "parse_html", "dom.parse"),
        (Transformer, "sections", "transform.sections"),
        (Transformer, "metadata_entries", "transform.metadata"),
        (Transformer, "metadata_table", "transform.metadata"),
        (html2md, "render_blocks", "serialize.render"),
        (html2md, "render_gridtable", "gridtable.render"),
        (boilerplate, "select_content", "boilerplate.select"),
    ]


def concat(chunks) -> list[tuple]:
    """Join span lists drained separately, re-basing parent indices."""
    out: list[tuple] = []
    for chunk in chunks:
        base = len(out)
        out.extend(
            (n, s, e, p + base if p >= 0 else -1, d) for n, s, e, p, d in chunk
        )
    return out


def layer_totals(spans) -> dict[str, dict]:
    """name -> {"count", "total_s", "self_s"}."""
    child = [0.0] * len(spans)
    for n, s, e, p, _ in spans:
        if p >= 0:
            child[p] += e - s
    out: dict[str, dict] = {}
    for i, (n, s, e, _, _) in enumerate(spans):
        agg = out.setdefault(n, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += e - s
        agg["self_s"] += (e - s) - child[i]
    return out


def write_spans(spans, path: str) -> None:
    with open(path, "w") as f:
        for n, s, e, p, d in spans:
            f.write(json.dumps([n, round(s, 7), round(e, 7), p, d]) + "\n")
