"""``service-single``: one process answers one page per request, the way
the reference service does, with no Spark in the path.

One closed-loop client sends the next request only after the previous
one returned.  The requests are documents from both generators in a
seeded order, in whole cycles of a pool until the run's seconds are
used.  Every cycle has a pool of its own, so no page is requested twice:
the library memoises some work by content (the gridtable tokenizer), and
a replayed page would hit that memo as no served page does.  Set-up (imports, generating the pool, warming up on a
differently seeded pool) is measured in five fresh interpreter
processes and reported as their median.

Every timing here is rescaled to a reference machine speed with the
calibration kernel of ``speed.py``, because one CPU of a shared host
changes speed by up to 1.9x from second to second.
"""

from __future__ import annotations

import json
import random
import statistics
import subprocess
import sys
import time

from . import inputs, speed
from .check import digest, oracle_failure
from .common import Run, percentile, tree_peak_rss_mb
from .inproc import core_layers, run_docs
from .trace import Tracer

POOL = 1000  # requests a cycle, so each cycle's p99 has ten samples beyond it
WARM_POOL = 100  # warm-up requests: every import and cache on the path is filled
WARM_SALT = 7919
SETUP_PROBES = 5


def request_pool(seed: int, n: int = POOL) -> list[dict]:
    # There is no traffic data to take a mix from, so the pool mixes the
    # two generators in the ratio of the two batch workloads' document
    # counts (2000 : 5000).
    n_zipf = round(n * inputs.CRAWL_DOCS / (inputs.CRAWL_DOCS + inputs.SMALL_PAGES))
    docs = inputs.zipf_corpus(seed, n_zipf, 0) + inputs.small_pages(seed, n - n_zipf)
    random.Random(f"service:{seed}").shuffle(docs)
    for d in docs:  # a request carries the assembled page, as the service receives it
        d["html"] = inputs.html_of(d)
        d["media"] = inputs.media_of(d)
    return docs


def _warm_up(seed: int) -> None:
    """A small pool of the same mix under a different seed, so timed
    requests never repeat a warm-up page."""
    from helix_html2md_spark.operators import extract

    for d in request_pool(seed + WARM_SALT, WARM_POOL):
        extract.extract_row(d["html"], d["media"], d["config"])


def _probe_setup(run: Run) -> tuple[float, float]:
    """Seconds from launching a fresh interpreter to a warmed-up service,
    raw and at the reference speed."""
    t = time.time()
    out = subprocess.run(
        [sys.executable, "-m", "perfbench.probe", str(run.seed)],
        cwd=run.root, check=True, capture_output=True, text=True, timeout=120,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    raw = probe["ready"] - t - probe["kernel_s"]
    return raw, raw * probe["scale"]


def _cycle(docs, answers: dict, failures: list, lat: list, norm: list) -> None:
    """One pass over a pool; checks each answer against its oracle as it
    arrives and keeps it in ``answers``.  Appends each request's raw
    latency to ``lat`` and its latency at the reference speed to
    ``norm``."""
    from helix_html2md_spark.operators import extract

    extract_row = extract.extract_row
    kernel = speed.kernel
    clock = time.perf_counter
    before = kernel()
    for d in docs:
        t = clock()
        r = extract_row(d["html"], d["media"], d["config"])
        dt = clock() - t
        after = kernel()
        lat.append(dt)
        norm.append(dt * 2.0 * speed.REF_S / (before + after))
        before = after
        answers[d["doc_id"]] = (r["status"], r["error"], digest(r["md"]))
        why = oracle_failure(d["oracle"], r["status"], r["error"], r["md"])
        if why:
            failures.append((d["doc_id"], why))


def service_single(run: Run) -> dict:
    setups = [_probe_setup(run) for _ in range(SETUP_PROBES)]
    run.notes.append(
        "set-up probes, raw (at reference speed): "
        + ", ".join(f"{raw:.3f}s ({ref:.3f}s)" for raw, ref in setups)
    )
    with run.tracer.span("sources.gen"):
        docs = request_pool(run.seed)
    _warm_up(run.seed)

    first: dict = {}  # answers to the first pool, which the traced run replays
    failures: list = []
    lat: list = []
    norm: list = []
    pool, cycles, spent = docs, 0, 0.0
    while spent < run.seconds:
        if cycles:  # a pool of its own, made off the clock
            pool = request_pool(run.seed * 1000 + cycles)
        t = time.perf_counter()
        _cycle(pool, first if not cycles else {}, failures, lat, norm)
        spent += time.perf_counter() - t
        cycles += 1
    peak_mb, detail = tree_peak_rss_mb()
    run.notes.append(detail)
    lat.sort()
    norm.sort()
    run.notes.append(
        f"requests: {len(lat)} in {cycles} cycles of {len(docs)}; "
        f"{len(lat) - int(0.99 * len(lat))} at or above the p99; raw p50/p99 "
        f"{1000 * statistics.median(lat):.3f}/{1000 * percentile(lat, 99):.2f} ms "
        f"in {sum(lat):.3f}s of requests"
    )
    e2e = {
        "setup_s": statistics.median(ref for _, ref in setups),
        "docs_per_s": len(norm) / sum(norm),
        "doc_latency_p50_ms": 1000.0 * statistics.median(norm),
        "doc_latency_p99_ms": 1000.0 * percentile(norm, 99),
        "peak_rss_mb": peak_mb,
    }

    layers = {}
    if run.traced:
        rows, spans = run_docs(docs, Tracer())
        for r in rows:
            if (r[2], r[3], digest(r[4])) != first[r[0]]:
                failures.append((r[0], "traced answer differs from the first answer"))
        untraced = sum(r[1] for r in rows)
        traced = sum(r[6] for r in rows)
        layers = core_layers(run, docs, rows, spans)
        layers.update({
            "inproc.core_cpu_s": untraced,
            "trace.overhead_frac": traced / untraced - 1.0,
            # Spark layers: not on this workload's path
            "extract.assemble_s": 0.0, "extract.map_s": 0.0,
            "extract.overhead_ms_per_doc": 0.0, "extract.parallel_eff": 0.0,
            "extract.partition_skew": 0.0, "jvm.heap_peak_mb": 0.0,
            "job.antijoin_s": 0.0, "job.write_s": 0.0,
            "job.files_written": 0, "job.bytes_written": 0,
        })
        run.notes.append(f"tracing overhead: core CPU {traced:.3f}s traced vs {untraced:.3f}s untraced")
    return {
        "attempted": len(lat),
        "failures": [(0, i, why) for i, why in failures],
        "e2e": e2e,
        "layers": layers,
    }

