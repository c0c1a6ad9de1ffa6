"""Extraction-engine benchmark.

    python3 perfbench/run.py --workload crawl-zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the benchmark measures the
``helix_html2md_spark`` package in that tree and refuses to run if it is
missing.  Workloads: ``crawl-zipf``, ``small-pages``, ``service-single``
(see README.md).  ``--trace 0`` prints the end-to-end metrics, ``--trace
1`` the per-layer metrics of a separate traced run.  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "doc_latency_p50_ms": "ms",
    "doc_latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.gen_s": "s",
    "session.start_s": "s",
    "extract.assemble_s": "s",
    "extract.map_s": "s",
    "extract.overhead_ms_per_doc": "ms",
    "extract.parallel_eff": "ratio",
    "extract.partition_skew": "ratio",
    "extract.decompose_s": "s",
    "extract.row_self_s": "s",
    "jvm.heap_peak_mb": "MB",
    "dom.parse_s": "s",
    "dom.mb_per_s": "MB/s",
    "transform.sections_s": "s",
    "transform.metadata_s": "s",
    "serialize.render_s": "s",
    "gridtable.render_s": "s",
    "gridtable.tables": "count",
    "boilerplate.select_s": "s",
    "html2md.self_s": "s",
    "job.antijoin_s": "s",
    "job.write_s": "s",
    "job.files_written": "count",
    "job.bytes_written": "bytes",
    "inproc.core_cpu_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}
WORKLOADS = ("crawl-zipf", "small-pages", "service-single")


def _tree_under_test() -> None:
    """Import the library from ROOT, or stop: measuring another copy
    (an installed one, say) would report on the wrong code."""
    if not os.path.isfile(os.path.join(ROOT, "helix_html2md_spark", "__init__.py")):
        sys.exit(f"perfbench: no helix_html2md_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    import helix_html2md_spark

    lib = os.path.realpath(helix_html2md_spark.__file__)
    if not lib.startswith(os.path.realpath(ROOT) + os.sep):
        sys.exit(f"perfbench: imported {lib}, not the tree under test {ROOT}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _tree_under_test()
    from perfbench.check import selftest
    from perfbench.common import Run, nproc, reap_descendants
    from perfbench.trace import layer_totals

    selftest()  # a checker that cannot see a changed byte measures nothing
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    run = Run(
        root=ROOT, work=work, workload=args.workload, seed=args.seed,
        seconds=args.seconds, traced=bool(args.trace), nproc=nproc(), t0=T0,
    )
    try:
        if args.workload == "service-single":
            from perfbench.service import service_single as workload
        else:
            from perfbench import sparkrun

            workload = sparkrun.crawl_zipf if args.workload == "crawl-zipf" else sparkrun.small_pages
        res = workload(run)
        totals = layer_totals(run.tracer.spans)
        res["layers"].setdefault("sources.gen_s", totals["sources.gen"]["total_s"])
        res["layers"].setdefault(
            "session.start_s", totals.get("session.start", {}).get("total_s", 0.0)
        )
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    names = PER_LAYER if run.traced else END_TO_END
    values = res["layers"] if run.traced else res["e2e"]
    if set(values) != set(names):
        raise RuntimeError(f"metric set mismatch: {sorted(set(values) ^ set(names))}")
    failed = len({(k, doc) for k, doc, _ in res["failures"]})
    for k, doc, why in res["failures"][:10]:
        print(f"FAILED pass {k} {doc}: {why}")
    for message in run.errors:
        print(f"CHECK FAILED: {message}")
    for line in run.notes:
        print(line)
    print("phases: " + ", ".join(
        f"{n} {e - s:.3f}s" for n, s, e, parent, _ in run.tracer.spans if parent < 0
    ))
    print(f"workload {run.workload} seed {run.seed} nproc {run.nproc} trace {int(run.traced)}")
    print(f"failed_frac {failed / res['attempted']:.6f} fraction ({failed} of {res['attempted']} documents)")
    for name, unit in names.items():
        print(f"{name} {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and not run.errors,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
