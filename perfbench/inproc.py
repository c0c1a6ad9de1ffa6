"""In-process ``extract_row`` over a document set, on a spawn pool of
nproc worker processes.

This is the differential reference for the Spark workloads and, in the
traced run, the source of the core layers' self times and of the core
CPU seconds that ``extract.parallel_eff`` and
``extract.overhead_ms_per_doc`` compare the Spark pass against.  Each
worker runs documents one at a time and reports the CPU seconds each
took.  Workers raise the cyclic-GC threshold the way the Spark batch
function does, so that the comparison isolates the Spark path's own
costs.
"""

from __future__ import annotations

import gc
import multiprocessing
import os
import time
from multiprocessing import resource_tracker

from . import inputs
from .check import oracle_failure
from .common import Run
from .inputs import html_of, media_of
from .trace import Tracer, concat, core_targets, layer_totals, patched, write_spans

_TRACER: Tracer | None = None


def _init(traced: bool) -> None:
    global _TRACER
    gc.set_threshold(200_000, 50, 50)
    if traced:
        _TRACER = Tracer()


def _cpu(fn, *args):
    t0 = time.process_time()
    out = fn(*args)
    return time.process_time() - t0, out


def run_docs(docs: list[dict], tracer: Tracer | None = None):
    """In-process ``extract_row`` over ``docs``, one at a time.

    Returns (rows, spans).  With a tracer, each document also runs once
    more with the wrappers on, in alternating order, so that both timings
    of a document share the process's state and the moment's machine
    load; the spans come from those traced runs.
    """
    from helix_html2md_spark.operators import extract

    targets = core_targets()

    def traced_cpu(doc_id, args):
        tracer.doc = doc_id
        with patched(tracer, targets):
            return _cpu(extract.extract_row, *args)[0]

    rows = []
    for n, d in enumerate(docs):
        args = (html_of(d), media_of(d), d["config"])
        t_cpu = traced_cpu(d["doc_id"], args) if tracer is not None and n % 2 else None
        cpu, r = _cpu(extract.extract_row, *args)
        if tracer is not None and not n % 2:
            t_cpu = traced_cpu(d["doc_id"], args)
        rows.append((
            d["doc_id"], cpu, r["status"], r["error"], r["md"],
            oracle_failure(d["oracle"], r["status"], r["error"], r["md"]),
            t_cpu,
        ))
    return rows, (tracer.drain() if tracer is not None else [])


def _run(docs: list[dict]):
    return run_docs(docs, _TRACER)


def run_pool(docs: list[dict], nproc: int, traced: bool):
    """Returns (rows, span chunks).

    rows: (doc_id, cpu_s, status, error, md, oracle_failure or None,
    traced cpu_s or None).
    Documents are dealt largest first so a giant one never starts last.
    """
    order = sorted(docs, key=lambda d: -d["html_len"])
    tasks = [order[i:i + 4] for i in range(0, len(order), 4)]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(nproc, initializer=_init, initargs=(traced,))
    try:
        results = list(pool.imap_unordered(_run, tasks))
        pool.close()
    except BaseException:
        pool.terminate()
        raise
    finally:
        pool.join()
    # the spawn pool's semaphores started a resource-tracker process that
    # would outlive the run; stop it once the pool's semaphores are freed
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    rows = [r for chunk, _ in results for r in chunk]
    return rows, [spans for _, spans in results]


def core_layers(run: Run, docs: list[dict], untraced_rows, spans) -> dict:
    """Core self times from the traced in-process pass; span counts must
    match the documents, so a wrapper that never fired fails the run."""
    out = os.path.join(run.root, ".perfbench_out", f"{run.workload}-seed{run.seed}-spans.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    write_spans(spans, out)
    tot = layer_totals(spans)

    def n(name):
        return tot.get(name, {}).get("count", 0)

    def self_s(name):
        return tot.get(name, {}).get("self_s", 0.0)

    status = {r[0]: r[2] for r in untraced_rows}
    n_docs = len(docs)
    n_ok = sum(1 for s in status.values() if s == "ok")
    n_gated = sum(1 for d in docs if d["html_len"] > inputs.GATE_BYTES)
    n_fallback = sum(1 for d in docs if d["config"].get("boilerplate_fallback"))
    for name, want in (
        ("extract.row", n_docs), ("html2md", n_docs), ("dom.parse", n_docs - n_gated),
        ("transform.sections", n_ok), ("extract.decompose", n_ok),
        ("boilerplate.select", n_fallback),
    ):
        run.require(n(name) == want, f"{n(name)} {name} spans for {want} documents")
    for name in ("transform.metadata", "serialize.render", "gridtable.render"):
        run.require(n(name) > 0, f"no {name} spans")

    size = {d["doc_id"]: d["html_len"] for d in docs}
    parsed_mb = sum(size[s[4]] for s in spans if s[0] == "dom.parse") / 1e6
    run.notes.append(f"spans recorded: {len(spans)}, written to {out}")
    return {
        "dom.parse_s": self_s("dom.parse"),
        "dom.mb_per_s": parsed_mb / self_s("dom.parse") if self_s("dom.parse") else 0.0,
        "transform.sections_s": self_s("transform.sections"),
        "transform.metadata_s": self_s("transform.metadata"),
        "serialize.render_s": self_s("serialize.render"),
        "gridtable.render_s": self_s("gridtable.render"),
        "gridtable.tables": n("gridtable.render"),
        "boilerplate.select_s": self_s("boilerplate.select"),
        "html2md.self_s": self_s("html2md"),
        "extract.decompose_s": self_s("extract.decompose"),
        "extract.row_self_s": self_s("extract.row"),
        "trace.spans": len(spans),
    }


def traced_inproc(run: Run, docs: list[dict], rows, span_chunks, map_s: float) -> dict:
    """Core layers plus the Spark-vs-in-process comparison, from a traced
    ``run_pool`` over every document."""
    out = core_layers(run, docs, rows, concat(span_chunks))
    core_cpu = sum(r[1] for r in rows)
    traced_cpu = sum(r[6] for r in rows)
    out.update({
        "inproc.core_cpu_s": core_cpu,
        "extract.parallel_eff": core_cpu / run.nproc / map_s,
        "extract.overhead_ms_per_doc": 1000.0 * (map_s * run.nproc - core_cpu) / len(docs),
        "trace.overhead_frac": traced_cpu / core_cpu - 1.0,
    })
    run.notes.append(
        f"tracing overhead: core CPU {traced_cpu:.3f}s traced vs {core_cpu:.3f}s untraced"
    )
    return out
