"""spark-submit entry point for the production extraction job.

Usage (cluster):
    zip -r ocr_machine_spark.zip ocr_machine_spark
    spark-submit --py-files ocr_machine_spark.zip \
        --master <cluster> \
        ocr_machine_spark/jobs.py \
        --input  <pages parquet path or table id> \
        --output <output dir> \
        --run-id <id> [--buckets 4096] [--partitions <2-4x total cores>]

The job is idempotent: re-running with the same --output resumes from the
lineage table (only uncommitted buckets are processed — see
ocr_machine_spark.plans.lineage). Each run needs a new --run-id: reuse one
only to retry an attempt that never committed (an id with committed lineage
is refused, since its data partition would be overwritten). All compute is
Arrow-batched; zero row-at-a-time Python (BASELINE.json execution
constraint).

Sizing guidance at 10^12 rows / 100 TB html:
* --buckets: O(10^5) so each bucket is a few hundred MB of output and a
  resume unit; bucket id = pmod(xxhash64(url), buckets) — stable across runs
  and cluster sizes. A bucket costs one lineage row, not a file: the data
  is partitioned by run, one file per write task.
* --partitions: 2-4× total executor cores; the salted repartition in
  extract_pages spreads mega-hosts across tasks.
* spark.sql.files.maxPartitionBytes=256m keeps scan tasks, and so the data
  files they write, bounded.
* Arrow batches are capped by ROWS (spark.sql.execution.arrow.
  maxRecordsPerBatch, default 2048 here), not bytes: size it so
  records × your html size cap fits executor memory — e.g. 256 for
  1 MB-truncated Common-Crawl payloads (≤256 MB per in-flight batch).
  The extraction UDF itself is O(page) memory; the batch is the only
  aggregation point.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# invoked as a script path (spark-submit pkg/jobs.py or python pkg/jobs.py):
# put the package's parent on sys.path so the package imports itself
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--input",
        required=True,
        help="pages source: a parquet path, or a table identifier "
        "(catalog.db.table — no path separator) read via spark.table, which "
        "is the correct way to read an Iceberg input (a raw parquet scan of "
        "an Iceberg dir would resurrect logically-deleted files)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--output-table",
        default=None,
        help="Iceberg table id (catalog.db.table); used iff an Iceberg "
        "catalog is configured on the session, else parquet under --output",
    )
    ap.add_argument(
        "--decontaminate",
        default=None,
        help="curate only: parquet of benchmark/eval documents (text "
        "column); training docs sharing any word 8-gram with it are "
        "dropped with 'contaminated' in the reasons audit (GPT-3 "
        "appendix-C hygiene; benchmark side broadcast, zero extra corpus "
        "shuffle)",
    )
    ap.add_argument(
        "--diff-against",
        default=None,
        help="extract only: path of a PREVIOUS pages snapshot (parquet). "
        "The job extracts only urls whose raw html is new or changed vs "
        "that snapshot (md5 diff via operators.urls.snapshot_diff) — the "
        "incremental-recrawl mode; unchanged and removed urls are skipped "
        "and reported in the stats line",
    )
    ap.add_argument(
        "--input-format",
        choices=("auto", "parquet", "table", "warc"),
        default="auto",
        help="auto (default): catalog table if the identifier resolves, else "
        "parquet; warc: raw crawl archives (WARC/1.0, plain or "
        "member-per-record gzip) ingested via sources.warc.read_warc — "
        "point --input at the archive directory",
    )
    ap.add_argument(
        "--robots",
        default=None,
        help="frontier only: parquet of fetched robots bodies "
        "(host, robots_txt columns) — feeds the RFC 9309 allow gate and "
        "Crawl-delay politeness; without it every url is allowed with no "
        "delay",
    )
    ap.add_argument(
        "--sitemaps",
        default=None,
        help="frontier only: parquet of fetched sitemap bodies "
        "(sitemap_url, xml columns) — urlset locs not already in the "
        "snapshot enter the frontier as freshness='discovered'",
    )
    ap.add_argument(
        "--epochs",
        type=int,
        default=4,
        help="train only: gradient-descent epochs",
    )
    ap.add_argument(
        "--lr",
        default="0.25",
        help="train only: learning rate as a DECIMAL STRING (parse-identical "
        "across engines — the exactness convention)",
    )
    ap.add_argument(
        "--job",
        choices=("extract", "curate", "linkgraph", "cdx", "frontier", "train"),
        default="extract",
        help="extract (default): bucket-committed incremental extraction of a "
        "pages table; curate: Gopher quality filter + exact-dedup survivor "
        "selection over a documents table (deterministic pure function — "
        "idempotent via overwrite, no bucket lineage needed); linkgraph: "
        "host-level edge list + exact-integer PageRank over a pages table "
        "(pure overwrite job, same idempotence argument as curate); cdx: "
        "url-sorted random-access index over WARC archives (--input is the "
        "archive dir; WARC input is implied); frontier: the crawl-scheduler "
        "feed (url, allowed, rule_prefix, crawl_delay_ms, priority_e9, "
        "freshness) composing the robots gate, Crawl-delay politeness, "
        "sitemap discovery, snapshot freshness (--diff-against) and "
        "host-PageRank priority over a pages table (pure overwrite job); "
        "train: the EP3 lifecycle over an embeddings table — gradient-"
        "descent training on the hash split, per-epoch val folds, "
        "best-checkpoint selection, batch inference on the test split "
        "(writes metrics/weights/scores; pure overwrite job)",
    )
    ap.add_argument(
        "--dedup-lines",
        action="store_true",
        help="curate only: CCNet-ordered cross-corpus line dedup BEFORE the "
        "quality ladder — later copies of any line are removed, text is "
        "rewritten from surviving lines, and the curated/decision tables "
        "gain n_lines/n_lines_kept",
    )
    ap.add_argument(
        "--dedup-near",
        action="store_true",
        help="curate only: fuzzy dedup AFTER the exact survivor stage — "
        "MinHash-LSH candidate pairs at 0.8 Jaccard over the survivors, "
        "large-star/small-star clusters, one survivor per cluster; the "
        "decision table gains near_rep and stats gain docs_near_dropped",
    )
    ap.add_argument(
        "--dedup-spans",
        action="store_true",
        help="curate only: exact substring dedup (Lee et al. 2022) before "
        "the quality ladder (after --dedup-lines when both are set) — "
        "later corpus occurrences of any duplicated >=8-word run are "
        "excised (case-insensitive match, case-preserving rewrite); the "
        "curated/decision tables gain n_span_words/n_span_kept",
    )
    args = ap.parse_args(argv)

    from ocr_machine_spark.plans.lineage import run_extraction
    from ocr_machine_spark.session import get_spark

    spark = get_spark(app=f"{args.job}-{args.run_id}", master=args.master)

    # one warning policy for every branch: flags that don't apply to the
    # selected job are named, never silently ignored
    crawl_inputs = (
        ("--robots", args.robots, None),
        ("--sitemaps", args.sitemaps, None),
    )
    train_inputs = (
        ("--epochs", args.epochs, 4),
        ("--lr", args.lr, "0.25"),
    )
    inapplicable = {
        "extract": (
            ("--dedup-lines", args.dedup_lines, False),
            ("--dedup-spans", args.dedup_spans, False),
            ("--dedup-near", args.dedup_near, False),
            ("--decontaminate", args.decontaminate, None),
            *crawl_inputs,
            *train_inputs,
        ),
        "train": (
            ("--buckets", args.buckets, 256),
            ("--partitions", args.partitions, None),
            ("--output-table", args.output_table, None),
            ("--dedup-lines", args.dedup_lines, False),
            ("--dedup-spans", args.dedup_spans, False),
            ("--dedup-near", args.dedup_near, False),
            ("--diff-against", args.diff_against, None),
            ("--decontaminate", args.decontaminate, None),
            *crawl_inputs,
        ),
        "linkgraph": (
            ("--buckets", args.buckets, 256),
            ("--output-table", args.output_table, None),
            ("--dedup-lines", args.dedup_lines, False),
            ("--dedup-spans", args.dedup_spans, False),
            ("--dedup-near", args.dedup_near, False),
            ("--diff-against", args.diff_against, None),
            ("--decontaminate", args.decontaminate, None),
            *crawl_inputs,
            *train_inputs,
        ),
        "curate": (
            ("--buckets", args.buckets, 256),
            ("--partitions", args.partitions, None),
            ("--output-table", args.output_table, None),
            ("--diff-against", args.diff_against, None),
            *crawl_inputs,
            *train_inputs,
        ),
        "frontier": (
            ("--buckets", args.buckets, 256),
            ("--output-table", args.output_table, None),
            ("--dedup-lines", args.dedup_lines, False),
            ("--dedup-spans", args.dedup_spans, False),
            ("--dedup-near", args.dedup_near, False),
            ("--decontaminate", args.decontaminate, None),
            *train_inputs,
        ),
        "cdx": (
            ("--buckets", args.buckets, 256),
            ("--partitions", args.partitions, None),
            ("--output-table", args.output_table, None),
            ("--dedup-lines", args.dedup_lines, False),
            ("--dedup-spans", args.dedup_spans, False),
            ("--dedup-near", args.dedup_near, False),
            ("--diff-against", args.diff_against, None),
            ("--decontaminate", args.decontaminate, None),
            *crawl_inputs,
            *train_inputs,
            # cdx always reads WARC; an explicit CONFLICTING format must be
            # named as ignored, not silently dropped into a parse error
            # ('auto' and 'warc' are both consistent with the job)
            (
                "--input-format",
                args.input_format if args.input_format not in ("auto", "warc") else "auto",
                "auto",
            ),
        ),
    }[args.job]
    ignored = [name for name, val, default in inapplicable if val != default]
    if ignored:
        print(
            f"WARNING: {', '.join(ignored)} do not apply to --job {args.job} "
            "and are ignored",
            file=sys.stderr,
        )

    if args.job == "cdx":
        from pyspark.sql import functions as F

        from ocr_machine_spark.sources.warc import read_warc_cdx

        # the CDX convention: index sorted by url so consumers binary-search
        # it — the global sort is one range-partition exchange over index
        # rows (tiny next to the archives they describe)
        cdx = read_warc_cdx(spark, args.input).sort("url")
        cdx.write.mode("overwrite").parquet(args.output)
        counts = spark.read.parquet(args.output).agg(
            F.count("*").alias("n_records"), F.countDistinct("file").alias("n_files")
        ).first()
        stats = {"run_id": args.run_id, **counts.asDict()}
        print(json.dumps(stats))
        spark.stop()
        return

    if args.input_format == "warc":
        from ocr_machine_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input)
    elif args.input_format == "table":
        pages = spark.table(args.input)
    elif args.input_format == "parquet":
        pages = spark.read.parquet(args.input)
    else:
        # auto: route to the catalog only when the identifier actually
        # resolves there — a separator-free heuristic alone would send a bare
        # relative filename ('pages.parquet') to spark.table() and die with
        # TABLE_OR_VIEW_NOT_FOUND
        looks_like_table = "/" not in args.input and "\\" not in args.input and not args.input.startswith("file:")
        is_table = looks_like_table and spark.catalog.tableExists(args.input)
        pages = spark.table(args.input) if is_table else spark.read.parquet(args.input)

    if args.job == "train":
        from ocr_machine_spark.plans.train import run_training

        stats = run_training(
            spark,
            pages,  # an embeddings table for this job (vec_id, embedding, label)
            args.output,
            run_id=args.run_id,
            epochs=args.epochs,
            lr=args.lr,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    if args.job == "frontier":
        from ocr_machine_spark.plans.frontier import run_frontier

        stats = run_frontier(
            spark,
            pages,
            args.output,
            run_id=args.run_id,
            robots=spark.read.parquet(args.robots) if args.robots else None,
            sitemaps=spark.read.parquet(args.sitemaps) if args.sitemaps else None,
            old_pages=(
                spark.read.parquet(args.diff_against) if args.diff_against else None
            ),
            partitions=args.partitions,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    if args.job == "linkgraph":
        from ocr_machine_spark.plans.linkgraph import run_linkgraph

        stats = run_linkgraph(
            spark,
            pages,
            args.output,
            run_id=args.run_id,
            partitions=args.partitions,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    if args.job == "curate":
        from ocr_machine_spark.plans.curate import run_curation

        bench = (
            spark.read.parquet(args.decontaminate) if args.decontaminate else None
        )
        stats = run_curation(
            spark,
            pages,
            args.output,
            run_id=args.run_id,
            dedup_lines=args.dedup_lines,
            dedup_spans=args.dedup_spans,
            dedup_near=args.dedup_near,
            bench=bench,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    diff_stats = {}
    if args.diff_against:
        # incremental recrawl: diff raw-html fingerprints against the
        # previous snapshot and extract only added/changed urls — the
        # full-outer join is one url-keyed shuffle of (url, md5) pairs,
        # tiny next to re-extracting an unchanged 100 TB corpus
        from pyspark.sql import functions as F

        from ocr_machine_spark.operators.urls import snapshot_diff

        # one fp row per url (min-md5 representative): duplicate urls in a
        # snapshot (WARC recrawl records) would otherwise fan out through
        # the full-outer join and skew the diff histogram
        fp = lambda df: (  # noqa: E731
            df.select("url", F.md5(F.col("html")).alias("fp"))
            .groupBy("url")
            .agg(F.min("fp").alias("fp"))
        )
        old_pages = spark.read.parquet(args.diff_against)
        # materialize the diff ONCE: three consumers follow (the histogram
        # collect, the semi-join inside the extraction write, and lineage's
        # rows_in count) — without the barrier each would re-scan + re-md5
        # both snapshots, tripling the dominant cost at 100 TB
        diff = snapshot_diff(fp(old_pages), fp(pages)).localCheckpoint(eager=True)
        counts = {r["change"]: r["n"] for r in diff.groupBy("change").agg(
            F.count("*").alias("n")).collect()}
        diff_stats = {f"diff_{k}": counts.get(k, 0) for k in
                      ("added", "changed", "unchanged", "removed")}
        todo = diff.filter(F.col("change").isin("added", "changed")).select("url")
        pages = pages.join(todo, "url", "left_semi")
    stats = run_extraction(
        spark,
        pages,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        partitions=args.partitions,
        input_split=args.input,
        table=args.output_table,
    )
    print(json.dumps({**stats, **diff_stats}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
