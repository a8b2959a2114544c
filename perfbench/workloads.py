"""The benchmark workloads and their correctness checks.

Each workload is one closed-loop batch client: the driver calls the library
sequentially, waits for each call, and only then issues the next. A workload
provides

* ``prepare(i)``   — build or open its inputs (repeated; the median is set-up),
* ``warmup()``     — one untimed pass, so the timed passes run warm,
* ``run_pass(k)``  — one timed pass: input to complete committed result,
* ``check(ps)``    — verify the timed passes, outside the timed window
  → (operations attempted, operations failed).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from harness import tree_cpu_s
from ocr_machine_spark.plans.curate import run_curation
from ocr_machine_spark.plans.lineage import read_extractions, read_lineage, run_extraction
from ocr_machine_spark.sources.pages import generate_goldens, generate_pages

HERE = os.path.dirname(os.path.abspath(__file__))

# ``jobs.py --job extract --buckets 64`` (no --partitions). jobs.py's
# default of 256 buckets spends a pass mostly on per-bucket file commits at
# the input size a warm pass of a few seconds affords.
EXTRACT_BUCKETS = 64

# fields of an extraction that must equal the golden, byte for byte
GOLDEN_FIELDS = ("extracted_text", "charset", "has_table", "has_figure", "spans", "removed_spans")


@dataclass
class Pass:
    k: int  # -1 for the warm-up pass
    wall_s: float
    cpu_s: float  # CPU seconds of the driver, its JVM and its Python workers
    ops: int  # pages committed / documents curated
    span: dict | None
    out: str = ""
    detail: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, tiny: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.tiny = tiny

    @property
    def data_dir(self) -> str:
        return os.path.join(HERE, "data", "sf0.001" if self.tiny else "sf0.01")

    def warmup(self) -> Pass:
        return self.run_pass(-1)


def _digest(df):
    """(url, sha-256 of the golden fields as JSON) per row."""
    doc = F.to_json(F.struct(*[F.col(c) for c in GOLDEN_FIELDS]))
    return df.select("url", F.sha2(doc, 256).alias("digest"))


class Extract(Workload):
    """plans.lineage.run_extraction over generated pages: a crash after half
    the buckets, then a resume — the path of ``jobs.py --job extract``."""

    name = "extract"

    @property
    def n_pages(self) -> int:
        return 1000 if self.tiny else 10000

    def prepare(self, i: int) -> None:
        self.pages_path = os.path.join(self.work, f"pages{i}")
        generate_pages(
            self.spark, self.n_pages, seed=self.seed, partitions=int(os.environ["SPARK_GRAFT_CPUS"])
        ).write.parquet(self.pages_path)
        self.pages = self.spark.read.parquet(self.pages_path)

    def run_pass(self, k: int) -> Pass:
        out = os.path.join(self.work, f"extract{k}")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span("pass", workload=self.name, k=k) as root:
            with self.tracer.span("plans.lineage.run_extraction", call="first_run"):
                s1 = run_extraction(
                    self.spark, self.pages, out, run_id=f"p{k}a",
                    n_buckets=EXTRACT_BUCKETS, max_buckets_this_run=EXTRACT_BUCKETS // 2,
                )
            t1 = time.perf_counter()
            with self.tracer.span("plans.lineage.run_extraction", call="resume_run"):
                s2 = run_extraction(self.spark, self.pages, out, run_id=f"p{k}b", n_buckets=EXTRACT_BUCKETS)
        t2 = time.perf_counter()
        return Pass(k, t2 - t0, tree_cpu_s() - c0, s1["rows"] + s2["rows"], root, out,
                    {"first_run_s": t1 - t0, "resume_run_s": t2 - t1, "runs": [s1, s2]})

    def check(self, passes: list[Pass]) -> tuple[int, int]:
        """Per pass: every committed page equals its golden, every lineage
        bucket has rows_in == rows_out and all buckets are committed; once per
        run, a third run_extraction call commits 0 rows. A page counts as
        failed if it is ok=false, differs, is missing or is written twice."""
        spark, n = self.spark, self.n_pages
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        want = {
            r["url"]: r["digest"]
            for r in _digest(generate_goldens(spark, n, seed=self.seed, partitions=cores)).toArrow().to_pylist()
        }
        got = _union([
            _digest(read_extractions(spark, p.out).filter("ok")).withColumn("k", F.lit(p.k)) for p in passes
        ]).groupBy("k", "url").agg(
            F.count("*").alias("count"), F.min("digest").alias("lo"), F.max("digest").alias("hi")
        ).toArrow().to_pylist()
        lineage = {
            r["k"]: r
            for r in _union([read_lineage(spark, p.out).withColumn("k", F.lit(p.k)) for p in passes])
            .groupBy("k").agg(
                F.countDistinct("partition_id").alias("buckets"),
                F.sum(F.abs(F.col("rows_in") - F.col("rows_out"))).alias("lost"),
            ).toArrow().to_pylist()
        }
        good = {p.k: 0 for p in passes}
        extra = {p.k: 0 for p in passes}
        for r in got:
            if r["url"] not in want:
                extra[r["k"]] += r["count"]
                continue
            extra[r["k"]] += r["count"] - 1
            good[r["k"]] += int(r["lo"] == r["hi"] == want[r["url"]])
        # a third call over the last pass's output finds every bucket
        # committed and must commit nothing
        last = passes[-1]
        third = run_extraction(spark, self.pages, last.out, run_id=f"p{last.k}c", n_buckets=EXTRACT_BUCKETS)["rows"]
        failed = 0
        for p in passes:
            lin = lineage.get(p.k, {"buckets": 0, "lost": 0})
            bad = (n - good[p.k]) + extra[p.k] + int(lin["lost"] or 0) + int(lin["buckets"] != EXTRACT_BUCKETS)
            p.detail["check"] = {"good": good[p.k], "extra": extra[p.k], "lineage": lin}
            failed += min(bad, n)
        last.detail["check"]["third_run_rows"] = third
        return n * len(passes), failed + min(third, n)

    def input_partitions(self) -> int:
        return self.pages.rdd.getNumPartitions()


def _union(dfs):
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _rows_digest(df) -> str:
    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class Curate(Workload):
    """plans.curate.run_curation with line, span and near dedup on, over the
    fixed documents table as it is stored (one file, one row group)."""

    name = "curate"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        with open(os.path.join(HERE, "expected_curate.json")) as fh:
            self.expected = json.load(fh)[os.path.basename(self.data_dir)]

    def prepare(self, i: int) -> None:
        self.docs = self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
        n = self.docs.count()
        if n != self.expected["stats"]["docs_in"]:
            raise RuntimeError(f"documents table has {n} rows")

    def run_pass(self, k: int) -> Pass:
        out = os.path.join(self.work, f"curate{k}")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span("pass", workload=self.name, k=k) as root:
            with self.tracer.span("plans.curate.run_curation"):
                stats = run_curation(
                    self.spark, self.docs, out, run_id=f"c{k}",
                    dedup_lines=True, dedup_spans=True, dedup_near=True,
                )
        wall = time.perf_counter() - t0
        return Pass(k, wall, tree_cpu_s() - c0, stats["docs_in"], root, out, {"stats": stats})

    def check(self, passes: list[Pass]) -> tuple[int, int]:
        """The stats dict and a digest of the curated rows of each pass must
        equal the recorded ones (one operation per pass)."""
        failed = 0
        for p in passes:
            stats = {k: v for k, v in p.detail["stats"].items() if k != "run_id"}
            digest = _rows_digest(self.spark.read.parquet(os.path.join(p.out, "curated")))
            ok = stats == self.expected["stats"] and digest == self.expected["curated_sha256"]
            p.detail["check"] = {"stats_equal": stats == self.expected["stats"], "curated_sha256": digest}
            failed += int(not ok)
        return len(passes), failed

    def input_partitions(self) -> int:
        return self.docs.rdd.getNumPartitions()


WORKLOADS = {w.name: w for w in (Extract, Curate)}
