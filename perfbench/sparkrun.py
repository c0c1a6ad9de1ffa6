"""The two Spark workloads: ``crawl-zipf`` and ``small-pages``.

Both run on ``local[nproc]`` from this one driver process.  Set-up starts
the session with the tree under test exported to the Python workers,
proves which tree they import, materialises the seeded inputs as parquet
and warms up on a differently salted plan.  Every timed plan carries its
own salt, so no pass can be answered from a cached result of an earlier
identical plan, and every pass must emit exactly the input's documents.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import inproc, inputs, speed
from .check import compare, digest, oracle_failure
from .common import Run, tree_peak_rss_mb

CRAWL_OVERSIZE = 8  # a chosen share, with no crawl data behind it
CRAWL_PRIOR_EVERY = 10  # every 10th size rank is already extracted (resume); a chosen share
# JVM heap sizing.  Grown from the JVM's small default start, the heap
# ended where GC timing left it, and peak RSS varied by a third from run
# to run; with an adaptive young generation it still varied by a sixth.
# The young generation is fixed, so it is always touched in full; the old
# generation grows as the run retains data, up to the library's default
# ceiling.  Nothing is pre-touched: a heap page counts toward RSS only
# once it is used.
INITIAL_HEAP = "2g"
YOUNG_GEN = "768m"
CRAWL_SAMPLE = 100  # seeded differential sample, plus the largest below
CRAWL_LARGEST = 10

_SPAN = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOC_ARROW = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])
CONFIG_ARROW = pa.schema([
    ("doc_id", pa.string()), ("source_url", pa.string()), ("org", pa.string()),
    ("site", pa.string()), ("media_enabled", pa.bool_()),
    ("boilerplate_fallback", pa.bool_()),
])


# ---------------------------------------------------------------------------
# session and the worker-tree proof
# ---------------------------------------------------------------------------


def start_session(run: Run):
    """local[nproc] session whose Python workers import the tree under
    test, with every scratch file kept inside the run's work directory."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(run.path(d), exist_ok=True)
    # workers build sys.path from PYTHONPATH and their cwd, never from
    # this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["PYTHONHASHSEED"] = "0"  # workers hash strings alike on every run
    from helix_html2md_spark.session import build_session

    with run.tracer.span("session.start"):
        spark = build_session(
            "perfbench",
            master=f"local[{run.nproc}]",
            shuffle_partitions=run.nproc,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": run.path("spark-local"),
                "spark.sql.warehouse.dir": run.path("warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Xms{INITIAL_HEAP} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={run.path('tmp')} "
                    f"-Dderby.system.home={run.path('tmp')}"
                ),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
    return spark


def stop_session(spark) -> None:
    """Stop the context and the gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
                raise


def _probe(batches):
    import helix_html2md_spark
    import perfbench

    for b in batches:
        yield pd.DataFrame({
            "lib": [helix_html2md_spark.__file__] * len(b),
            "bench": [perfbench.__file__] * len(b),
        })


def prove_worker_tree(run: Run, spark) -> None:
    """Every Python worker must import the library (and this benchmark)
    from the tree under test; otherwise the run measures another tree."""
    rows = (
        spark.range(0, run.nproc, numPartitions=run.nproc)
        .mapInPandas(_probe, "lib string, bench string")
        .collect()
    )
    root = os.path.realpath(run.root) + os.sep
    files = {f for r in rows for f in (r["lib"], r["bench"])}
    stray = sorted(f for f in files if not os.path.realpath(f).startswith(root))
    if stray or len(rows) != run.nproc:
        raise RuntimeError(f"Python workers import {stray or files}, not {run.root}")
    run.notes.append(f"worker library: {rows[0]['lib']}")


# ---------------------------------------------------------------------------
# inputs on disk
# ---------------------------------------------------------------------------


def write_docs(docs: list[dict], path: str, n_files: int) -> None:
    os.makedirs(path)
    for k in range(n_files):
        part = [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs[k::n_files]]
        pq.write_table(
            pa.Table.from_pylist(part, schema=DOC_ARROW),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


def write_config(docs: list[dict], path: str) -> None:
    os.makedirs(path)
    rows = [{"doc_id": d["doc_id"], **d["config"]} for d in docs]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=CONFIG_ARROW),
        os.path.join(path, "part-00000.parquet"),
    )


def _salted(spark, path: str, salt: str):
    from pyspark.sql import functions as F

    return spark.read.parquet(path).filter(F.col("doc_id") != F.lit(f"@perfbench-{salt}"))


# ---------------------------------------------------------------------------
# pass bookkeeping and the traced layer passes shared by both workloads
# ---------------------------------------------------------------------------


def _e2e(run: Run, setup: tuple, passes: list[tuple], docs_per_pass: list[int]) -> dict:
    """Batch end-to-end metrics at the reference speed, from the raw
    (seconds, scale) of the set-up and of each pass.  Every document of a
    pass becomes visible when its job ends, so a document's latency is its
    pass's wall time.  A run holds a few passes, too few for any
    percentile above the median to have ten samples beyond it, so both
    latency metrics are the median pass wall."""
    peak_mb, detail = tree_peak_rss_mb()
    run.notes.append(detail)
    walls = [w * scale for w, scale in passes]
    run.notes.append(
        f"timed passes, raw (at reference speed): {len(walls)} ("
        + ", ".join(f"{w:.3f}s ({r:.3f}s)" for (w, _), r in zip(passes, walls))
        + f") of {docs_per_pass[0]} documents each; set-up raw {setup[0]:.3f}s"
    )
    wall_ms = 1000.0 * statistics.median(walls)
    return {
        "setup_s": setup[0] * setup[1],
        "docs_per_s": sum(docs_per_pass) / sum(walls),
        "doc_latency_p50_ms": wall_ms,
        "doc_latency_p99_ms": wall_ms,
        "peak_rss_mb": peak_mb,
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spark_layers(run: Run, spark, docs_df, config_df, docs: list[dict]) -> dict:
    """extract.assemble / extract.map passes, gate count and partition skew."""
    from pyspark.sql import functions as F

    from helix_html2md_spark.operators.extract import (
        extract_documents, gate_oversized, prepare_for_extract,
    )

    df = docs_df("assemble").select("doc_id", "spans")
    if config_df is not None:
        df = df.join(F.broadcast(config_df), "doc_id", "left")
    t = time.perf_counter()
    with run.tracer.span("extract.assemble"):
        _noop(gate_oversized(prepare_for_extract(df, {}), {}))
    assemble_s = time.perf_counter() - t

    t = time.perf_counter()
    with run.tracer.span("extract.map"):
        rows = (
            extract_documents(docs_df("map"), config_df)
            .select("doc_id", F.spark_partition_id().alias("pid"), "status", "error")
            .collect()
        )
    map_s = time.perf_counter() - t
    run.require(len(rows) == len(docs), f"map pass emitted {len(rows)} of {len(docs)} rows")

    size = {d["doc_id"]: d["html_len"] for d in docs}
    per_part = [0] * max([run.nproc] + [r["pid"] + 1 for r in rows])
    for r in rows:
        per_part[r["pid"]] += size[r["doc_id"]]
    rejected = sum(
        1 for r in rows
        if r["status"] == "constraint_error" and r["error"] == inputs.GATE_ERROR
    )
    expected_rejects = sum(1 for d in docs if d["html_len"] > inputs.GATE_BYTES)
    run.require(rejected == expected_rejects,
                f"gate rejected {rejected}, generated oversize {expected_rejects}")
    run.notes.append(f"gate rejected {rejected} documents, generated oversize {expected_rejects}")
    return {
        "extract.assemble_s": assemble_s,
        "extract.map_s": map_s,
        "extract.partition_skew": max(per_part) / (sum(per_part) / len(per_part)),
        "jvm.heap_peak_mb": jvm_heap_peak_mb(spark),
    }


def jvm_heap_peak_mb(spark) -> float:
    """Each JVM heap pool's peak used bytes since the JVM started, summed:
    the heap use that ``peak_rss_mb`` shows only as the heap pages touched."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        p.getPeakUsage().getUsed() for p in pools if p.getType().toString() == "Heap memory"
    ) / 2**20


def _expected(rows) -> tuple[dict, list]:
    """Differential expectation from in-process rows, plus the documents
    whose in-process output already contradicts the generator's oracle."""
    expected = {r[0]: (r[2], r[3], digest(r[4])) for r in rows}
    bad = [(r[0], f"in-process output: {r[5]}") for r in rows if r[5]]
    return expected, bad


# ---------------------------------------------------------------------------
# crawl-zipf: the resumable batch job, reading and appending parquet
# ---------------------------------------------------------------------------


def _read_output(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=["doc_id", "status", "error", "md"]).to_pydict()
    return list(zip(t["doc_id"], t["status"], t["error"], t["md"]))


def _rm_output(path: str) -> None:
    for p in (path, path + "_lineage", path + "_metrics"):
        shutil.rmtree(p, ignore_errors=True)


def crawl_zipf(run: Run) -> dict:
    from helix_html2md_spark.plans import job

    setup_speed = speed.Sampler().start()
    with run.tracer.span("sources.gen"):
        docs = inputs.zipf_corpus(run.seed, inputs.CRAWL_DOCS, CRAWL_OVERSIZE)
    by_id = {d["doc_id"]: d for d in docs}
    prior = [
        d for d in docs
        if d["doc_id"].startswith("zipf:") and int(d["doc_id"][5:]) % CRAWL_PRIOR_EVERY == 5
    ]
    corpus, prior_out = run.path("corpus"), run.path("prior_out")
    with run.tracer.span("phase.write_inputs"):
        write_docs(docs, corpus, 2 * run.nproc)
        write_docs(prior, run.path("prior_in"), run.nproc)

    spark = start_session(run)
    try:
        prove_worker_tree(run, spark)
        # warm-up under its own salt: a first run writes the earlier
        # attempt that every timed pass resumes
        with run.tracer.span("phase.warm_up"):
            m = job.run_extract_job(
                spark, run.path("prior_in"), prior_out, run_id="prior",
                defaults={"external_prefixes": "perfbench-prior:"},
            )
            run.require(m["docs"] == len(prior), f"prior run emitted {m['docs']} of {len(prior)}")
        setup_s = time.perf_counter() - run.t0
        setup_speed.stop()

        passes, counts, outputs = [], [], []
        todo = len(docs) - len(prior)
        while sum(w for w, _ in passes) < run.seconds:
            k = len(passes)
            out = run.path(f"out{k}")
            shutil.copytree(prior_out, out)
            with speed.Sampler() as pass_speed:
                t = time.perf_counter()
                m = job.run_extract_job(
                    spark, corpus, out, run_id=f"pass{k}",
                    defaults={"external_prefixes": f"perfbench-salt-{k}:"},
                )
                wall = time.perf_counter() - t
            passes.append((wall, pass_speed.scale()))
            run.require(m["docs"] == todo, f"pass {k} emitted {m['docs']} of {todo} documents")
            counts.append(m["docs"])
            outputs.append(_read_output(out))
            _rm_output(out)
        e2e = _e2e(run, (setup_s, setup_speed.scale()), passes, counts)

        layers = {}
        if run.traced:
            layers = _spark_layers(run, spark, lambda s: _salted(spark, corpus, s), None, docs)
            layers.update(_job_layers(run, spark, corpus, prior_out, len(prior)))
    finally:
        with run.tracer.span("phase.stop_session"):
            stop_session(spark)

    # differential: every row's status against the generator, every row's
    # markdown against the oracle, a seeded sample and the largest
    # documents byte-for-byte against in-process extract_row
    rng = random.Random(f"sample:{run.seed}")
    regular = [d for d in docs if d["html_len"] <= inputs.GATE_BYTES]
    largest = sorted(regular, key=lambda d: -d["html_len"])[:CRAWL_LARGEST]
    gated = [d for d in docs if d["html_len"] > inputs.GATE_BYTES]
    sample = {d["doc_id"]: d for d in rng.sample(regular, CRAWL_SAMPLE) + largest + gated}
    ref_docs = docs if run.traced else list(sample.values())
    with run.tracer.span("phase.reference"):
        rows, span_chunks = inproc.run_pool(ref_docs, run.nproc, traced=run.traced)
    ref, bad = _expected([r for r in rows if r[0] in sample])
    expected = {
        d["doc_id"]: ref.get(d["doc_id"]) or (d["oracle"]["status"], d["oracle"].get("error", ""), None)
        for d in docs
    }
    failures = []
    for k, out_rows in enumerate(outputs):
        found = bad + compare(expected, [(i, s, e, digest(md)) for i, s, e, md in out_rows])
        found += [
            (i, f"oracle: {why}") for i, s, e, md in out_rows
            if i in by_id and (why := oracle_failure(by_id[i]["oracle"], s, e, md))
        ]
        failures += [(k, i, why) for i, why in found]
    if run.traced:
        layers.update(inproc.traced_inproc(run, docs, rows, span_chunks, layers["extract.map_s"]))
    return {
        "attempted": len(docs) * len(outputs),
        "failures": failures,
        "e2e": e2e,
        "layers": layers,
    }


def _job_layers(run: Run, spark, corpus: str, prior_out: str, n_prior: int) -> dict:
    """Resume anti-join pass, then one job pass with the sink traced."""
    from pyspark.sql.readwriter import DataFrameWriter

    from helix_html2md_spark.plans import job

    out = run.path("antijoin")
    shutil.copytree(prior_out, out)
    t = time.perf_counter()
    with run.tracer.span("job.antijoin"):
        todo = job.remaining_documents(_salted(spark, corpus, "antijoin"), out)
        n_todo = todo.select("doc_id").count()
    antijoin_s = time.perf_counter() - t
    _rm_output(out)

    out = run.path("traced")
    shutil.copytree(prior_out, out)
    before = set(os.listdir(out))
    writer = DataFrameWriter.parquet
    write_s = []

    def parquet(self, path, *args, **kwargs):
        t = time.perf_counter()
        try:
            return writer(self, path, *args, **kwargs)
        finally:
            if path == out:  # the output append; lineage and metrics go elsewhere
                write_s.append(time.perf_counter() - t)

    DataFrameWriter.parquet = parquet
    try:
        m = job.run_extract_job(
            spark, corpus, out, run_id="traced",
            defaults={"external_prefixes": "perfbench-traced:"},
        )
    finally:
        DataFrameWriter.parquet = writer
    new = [f for f in os.listdir(out) if f not in before and f.endswith(".parquet")]
    written = sum(os.path.getsize(os.path.join(out, f)) for f in new)
    _rm_output(out)
    run.require(n_todo == m["docs"], f"anti-join kept {n_todo}, job emitted {m['docs']}")
    run.require(len(write_s) == 1, f"output append written {len(write_s)} times")
    run.notes.append(f"anti-join kept {n_todo} of {n_todo + n_prior}")
    return {
        "job.antijoin_s": antijoin_s,
        "job.write_s": sum(write_s),
        "job.files_written": len(new),
        "job.bytes_written": written,
    }


# ---------------------------------------------------------------------------
# small-pages: extract + aggregate over small pages with a per-doc config
# ---------------------------------------------------------------------------


def _checksum_cols(F):
    h = F.xxhash64("doc_id", "status", "error", "md")
    return [
        F.count("*").alias("n"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("sum"),
    ]


def _checksum(spark, rows) -> tuple:
    """The pass aggregate over (doc_id, status, error, md) rows."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["doc_id", "status", "error", "md"])
    return tuple(spark.createDataFrame(pdf).agg(*_checksum_cols(F)).collect()[0])


def _checksum_selftest(spark) -> None:
    """The aggregate must see a one-byte markdown change and a dropped row."""
    rows = [("a", "ok", "", "# one\n\ntext"), ("b", "ok", "", "## two"), ("c", "ok", "", "x")]
    base = _checksum(spark, rows)
    if _checksum(spark, [rows[0][:3] + ("# one\n\ntexT",)] + rows[1:]) == base:
        raise AssertionError("checksum misses a one-byte markdown change")
    if _checksum(spark, rows[1:]) == base:
        raise AssertionError("checksum misses a dropped row")


def small_pages(run: Run) -> dict:
    from pyspark.sql import functions as F

    from helix_html2md_spark.operators.extract import extract_documents

    setup_speed = speed.Sampler().start()
    with run.tracer.span("sources.gen"):
        docs = inputs.small_pages(run.seed, inputs.SMALL_PAGES)
    pages, config = run.path("pages"), run.path("config")
    with run.tracer.span("phase.write_inputs"):
        write_docs(docs, pages, 2 * run.nproc)
        write_config(docs, config)

    spark = start_session(run)
    try:
        prove_worker_tree(run, spark)
        cfg = spark.read.parquet(config)
        with run.tracer.span("phase.warm_up"):  # one pass under its own salt
            warm = extract_documents(_salted(spark, pages, "warmup"), cfg)
            warm_n = warm.agg(*_checksum_cols(F)).collect()[0]["n"]
        run.require(warm_n == len(docs), f"warm-up emitted {warm_n} of {len(docs)}")
        setup_s = time.perf_counter() - run.t0
        setup_speed.stop()

        passes, aggs = [], []
        while sum(w for w, _ in passes) < run.seconds:
            with speed.Sampler() as pass_speed:
                t = time.perf_counter()
                agg = (
                    extract_documents(_salted(spark, pages, f"pass{len(passes)}"), cfg)
                    .agg(*_checksum_cols(F))
                    .collect()[0]
                )
                wall = time.perf_counter() - t
            passes.append((wall, pass_speed.scale()))
            run.require(agg["n"] == len(docs), f"pass emitted {agg['n']} of {len(docs)} documents")
            aggs.append(tuple(agg))
        e2e = _e2e(run, (setup_s, setup_speed.scale()), passes, [len(docs)] * len(passes))

        layers = {}
        if run.traced:
            layers = _spark_layers(run, spark, lambda s: _salted(spark, pages, s), cfg, docs)
            layers.update({"job.antijoin_s": 0.0, "job.write_s": 0.0,
                           "job.files_written": 0, "job.bytes_written": 0})

        # differential over every page: the in-process rows, hashed by the
        # same aggregate, must reproduce each pass's checksum
        with run.tracer.span("phase.reference"):
            rows, span_chunks = inproc.run_pool(docs, run.nproc, traced=run.traced)
        ref, bad = _expected(rows)
        want = _checksum(spark, [(r[0], r[2], r[3], r[4]) for r in rows])
        _checksum_selftest(spark)
        failures = []
        for k, agg in enumerate(aggs):
            found = list(bad)
            if agg != want:
                got = (
                    extract_documents(_salted(spark, pages, f"diag{k}"), cfg)
                    .select("doc_id", "status", "error", "md").collect()
                )
                diffs = compare(ref, [(r[0], r[1], r[2], digest(r[3])) for r in got])
                run.require(bool(diffs), f"pass {k} checksum {agg} != in-process {want}")
                found += diffs
            failures += [(k, i, why) for i, why in found]
    finally:
        with run.tracer.span("phase.stop_session"):
            stop_session(spark)
    if run.traced:
        layers.update(inproc.traced_inproc(run, docs, rows, span_chunks, layers["extract.map_s"]))
    return {
        "attempted": len(docs) * len(aggs),
        "failures": failures,
        "e2e": e2e,
        "layers": layers,
    }
