"""Per-layer metrics of a traced run.

Each layer is measured from outside, by timing calls into its public
functions: ``core`` in-process on a fixed page sample, ``operators.extraction``
as three sinks over the same parquet, the workload's plan layer
(``plans.lineage`` / ``plans.curate``) through the Spark jobs and stages its
first timed pass launched, and the ``__spark_entry__`` query surfaces as one
checked run of ``QUERY_SET`` over the fixed tables.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F

import __spark_entry__ as E
from harness import median
from ocr_machine_spark.core.extract import extract_one, sniff_charset
from ocr_machine_spark.core.htmlparse import render_page
from ocr_machine_spark.fixtures import make_page
from ocr_machine_spark.operators.extraction import extract_pages
from ocr_machine_spark.sources.pages import generate_goldens, generate_pages
from oracles import EXPECTED, summarize

# One HEADLINE query per operator family that neither workload reaches, the
# cheapest one where a family has several; operators.graphs and
# operators.multimodal are left out for time (~3-4s each cold).
QUERY_SET = (
    "model_train_eval",  # operators.training; 23 jobs
    "doc_bm25_topk",  # operators.search; 12 jobs
    "ntile_price_bands",  # operators.ranking; 9 jobs
    "ann_cosine_topk",  # operators.similarity; 7 jobs
    "robots_crawl_delays",  # operators.robots
    "crawl_snapshot_diff",  # operators.urls
    "model_inference_scores",  # operators.inference
    "warc_ingest",  # sources.warc
)


def core_probe(seed: int, n: int) -> dict[str, tuple[float, str]]:
    """Single-core ``core/`` cost on pages 0..n-1 of ``generate_pages(seed)``."""
    pages = [make_page(i, seed) for i in range(n)]
    htmls = [p.html for p in pages]
    t0 = time.perf_counter()
    charsets = [sniff_charset(h) for h in htmls]
    sniff_s = time.perf_counter() - t0
    decoded = [h.decode(c, errors="replace") for h, c in zip(htmls, charsets)]
    t0 = time.perf_counter()
    for d in decoded:
        render_page(d)  # render_html, with its tree-path fallback
    render_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    results = [extract_one(h) for h in htmls]
    extract_s = time.perf_counter() - t0
    failed = sum(1 for r, p in zip(results, pages) if not r.ok or r.extracted_text != p.extracted_text)
    return {
        "core.extract_one_pages_per_s": (n / extract_s, "1/s"),
        "core.sniff_charset_s": (sniff_s, "s"),
        "core.render_html_s": (render_s, "s"),
        "core.extract_one_s": (extract_s, "s"),
        "core.pages_failed": (failed, "count"),
        "core.bytes_html": (sum(len(h) for h in htmls), "B"),
    }


def extraction_sinks(spark, tracer, path: str) -> dict[str, float]:
    """scan → aggregate; scan → identity mapInArrow → aggregate; scan →
    extract_pages → aggregate, all over the same parquet."""
    pages = spark.read.parquet(path)
    slim = pages.select("url", "html")
    html_bytes = F.sum(F.length("html"))  # forces the html column to be read
    sinks = {
        "scan": lambda: slim.agg(F.count("*"), html_bytes),
        "arrow_roundtrip": lambda: slim.mapInArrow(lambda batches: batches, schema=slim.schema).agg(
            F.count("*"), html_bytes
        ),
        "extract_pages": lambda: extract_pages(pages).agg(F.count("*"), F.sum("bytes_html")),
    }
    out: dict[str, float] = {}
    for name, build in sinks.items():
        with tracer.span(f"operators.extraction.{name}"):
            t0 = time.perf_counter()
            row = build().collect()[0]
            out[name] = time.perf_counter() - t0
        out["pages"] = row[0]
    return out


def queries_probe(spark, tracer, data_dir: str) -> tuple[dict, float, int]:
    """``QUERY_SET`` once, each query materialized to Arrow and compared with
    its DuckDB twin's recorded result (see oracles.py); a raising query
    fails its check. → (root span, wall seconds, queries failed)."""
    with open(EXPECTED) as fh:
        expected = json.load(fh)[os.path.basename(data_dir)]
    qs = E.queries()
    failed = 0
    t0 = time.perf_counter()
    with tracer.span("queries") as root:
        for name in QUERY_SET:
            with tracer.span(f"__spark_entry__.{name}", query=name):
                try:
                    got = summarize(qs[name](spark, data_dir).toArrow())
                except Exception as exc:  # noqa: BLE001 — a raising query is a failed op
                    got = {"error": f"{type(exc).__name__}: {exc}"}
            failed += int(got != expected[name])
    return root, time.perf_counter() - t0, failed


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs) if path else 0


def per_layer(wl, tracer, traced, *, cores: int, seed: int, sample: int, session_s: float,
              prep: list[float], warm_s: float, steal_frac: float,
              attempted: int, failed: int) -> tuple[dict[str, tuple[float, str]], int, int]:
    """Every per-layer metric of BENCHMARK.json, plus the run's operation
    counts with the query probe's checks added."""
    spark = wl.spark
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (session_s, "s"),
        "setup.warmup_s": (warm_s, "s"),
        "trace.overhead_s": (tracer.overhead_s, "s"),  # spans of the workload passes only
    }
    if wl.name == "extract":
        pages_path, n_pages = wl.pages_path, wl.n_pages
        m["sources.generate_pages_s"] = (median(prep), "s")
    else:
        # workloads without generated input time the page source on the
        # core sample, so every traced run measures every layer
        pages_path, n_pages = os.path.join(wl.work, "sample_pages"), sample
        t0 = time.perf_counter()
        generate_pages(spark, sample, seed=seed, partitions=cores).write.parquet(pages_path)
        m["sources.generate_pages_s"] = (time.perf_counter() - t0, "s")
    t0 = time.perf_counter()
    generate_goldens(spark, n_pages, seed=seed, partitions=cores).write.format("noop").mode("overwrite").save()
    m["sources.generate_goldens_s"] = (time.perf_counter() - t0, "s")

    core = core_probe(seed, sample)
    m.update(core)
    sinks = extraction_sinks(spark, tracer, pages_path)
    ceiling = cores * core["core.extract_one_pages_per_s"][0]
    m.update({
        "extraction.pages": (sinks["pages"], "count"),
        "extraction.scan_s": (sinks["scan"], "s"),
        "extraction.arrow_roundtrip_s": (sinks["arrow_roundtrip"], "s"),
        "extraction.extract_pages_s": (sinks["extract_pages"], "s"),
        "extraction.python_boundary_s": (sinks["arrow_roundtrip"] - sinks["scan"], "s"),
        "extraction.udf_s": (sinks["extract_pages"] - sinks["arrow_roundtrip"], "s"),
        "extraction.core_efficiency": (sinks["pages"] / sinks["extract_pages"] / ceiling, "ratio"),
    })

    q_root, q_wall, q_failed = queries_probe(spark, tracer, wl.data_dir)
    attempted, failed = attempted + len(QUERY_SET), failed + q_failed

    tracer.collect_stages()
    q = tracer.totals(q_root, cores)
    m["queries.wall_s"] = (q_wall, "s")
    for key in ("jobs", "stages", "tasks"):
        m[f"queries.{key}"] = (q[key], "count")
    m["queries.shuffle_write_bytes"] = (q["shuffle_write_bytes"], "B")
    m["queries.executor_run_s"] = (q["executor_run_s"], "s")
    m["queries.core_busy_frac"] = (q["core_busy_frac"], "ratio")
    totals = tracer.totals(traced.span, cores)
    m["pass.wall_s"] = (traced.wall_s, "s")
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        m[f"pass.{key}"] = (totals[key], "B" if key.endswith("bytes") else "count")
    m["pass.executor_run_s"] = (totals["executor_run_s"], "s")
    m["pass.executor_cpu_s"] = (totals["executor_cpu_s"], "s")
    m["pass.core_busy_frac"] = (totals["core_busy_frac"], "ratio")
    m["pass.output_files"] = (_parquet_files(traced.out), "count")
    m["input.scan_partitions"] = (wl.input_partitions(), "count")
    m["host.steal_frac"] = (steal_frac, "ratio")
    m["error_rate"] = (failed / attempted, "ratio")
    return m, attempted, failed
