"""Crawl-frontier plan: compose the crawl-side operators into the scheduler
feed — one table a fetch scheduler consumes directly.

A production crawler decides, per candidate url: may I fetch it (robots),
how fast (crawl-delay), how much do I want it (host authority), and why is
it queued (freshness). The engine has each operator separately —
robots_check / robots_crawl_delays (RFC 9309 gate + politeness),
sitemap_entries (discovery), snapshot_diff (recrawl freshness),
host_pagerank over host_edges (priority) — and this plan is their
composition (VERDICT r5 #8):

    (url, host, allowed, rule_prefix, crawl_delay_ms, priority_e9, freshness)

Freshness classes: ``added``/``changed``/``unchanged``/``removed`` when a
previous snapshot is supplied (snapshot_diff verbatim), ``known`` without
one, and ``discovered`` for sitemap-only urls in either mode.

Scale shape (the audit target): every per-host model table is tiny next to
10^12 urls and BROADCASTS onto the url stream — robots rules
(O(hosts·rules)), crawl delays (≤1 row/host), PageRank ranks (1 row/host);
the url-keyed work (candidate distinct, the freshness diff, the decision
window, the final assembly joins) all shuffles on the SAME url key, so AQE
plans one url-keyed exchange family. PageRank's own iterations shuffle
host-keyed rows only. Like curate/linkgraph, the plan is a pure
deterministic function of its inputs — idempotent via overwrite.

Reference twin: the reference's triage pass decides per-document whether
and how to process (SURVEY.md §2 P-tier routing + C-tier priority); this
is the crawl-side scheduler form of that decision table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_machine_spark.operators.graphs import host_pagerank
from ocr_machine_spark.operators.robots import (
    robots_check,
    robots_crawl_delays,
    robots_rules,
)
from ocr_machine_spark.operators.urls import host_of, sitemap_entries, snapshot_diff
from ocr_machine_spark.plans.linkgraph import host_edges


def build_frontier(
    pages: DataFrame,
    *,
    robots: DataFrame | None = None,
    sitemaps: DataFrame | None = None,
    old_pages: DataFrame | None = None,
    n_iters: int = 5,
    partitions: int | None = None,
    checkpoint_candidates: bool = True,
) -> DataFrame:
    """Compose the scheduler feed as ONE DataFrame plan.

    ``checkpoint_candidates=False`` keeps the plan fully lazy (the
    plan-audit mode — shows the url-keyed shuffles the barrier would
    otherwise hide behind a checkpoint scan)."""
    if old_pages is not None:
        # one fingerprint row PER URL: crawl snapshots routinely carry the
        # same url twice (WARC recrawl records) and snapshot_diff's
        # full-outer join would fan duplicates out into N² scheduler rows;
        # min(md5) is the deterministic representative
        fp = lambda df: (  # noqa: E731
            df.select("url", F.md5(F.col("html")).alias("fp"))
            .groupBy("url")
            .agg(F.min("fp").alias("fp"))
        )
        cand = snapshot_diff(fp(old_pages), fp(pages)).select(
            "url", F.col("change").alias("freshness")
        )
    else:
        cand = (
            pages.select("url").distinct().withColumn("freshness", F.lit("known"))
        )
    if sitemaps is not None:
        locs = (
            sitemap_entries(sitemaps)
            .filter(F.col("kind") == "url")
            .select(F.col("loc").alias("url"))
            .distinct()
        )
        discovered = locs.join(cand.select("url"), "url", "left_anti").withColumn(
            "freshness", F.lit("discovered")
        )
        cand = cand.unionByName(discovered)

    # materialize the candidate set ONCE: it feeds both the robots gate and
    # the final assembly join, and without a barrier each consumer would
    # re-run the snapshot diff (re-scan + re-md5 both snapshots — the
    # dominant cost at 100 TB; same rationale as jobs.py --diff-against)
    if checkpoint_candidates:
        cand = cand.localCheckpoint(eager=True)

    if robots is not None:
        gate = robots_check(cand.select("url"), robots_rules(robots))
        delays = robots_crawl_delays(robots)
    else:
        gate = cand.select(
            "url",
            F.lit(True).alias("allowed"),
            F.lit(None).cast("string").alias("rule_prefix"),
        )
        delays = None

    # host authority from the CURRENT snapshot's own link graph — the rank
    # table is one row per host and broadcasts onto the url stream
    ranks = host_pagerank(
        host_edges(pages, partitions=partitions).select(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
        ),
        n_iters=n_iters,
    ).select(F.col("node").alias("host"), F.col("rank_e9").alias("priority_e9"))

    out = (
        cand.join(gate, "url")
        .withColumn("host", host_of(F.col("url")))
        .join(ranks, "host", "left")
    )
    if delays is not None:
        out = out.join(delays, "host", "left")
    else:
        out = out.withColumn("crawl_delay_ms", F.lit(None).cast("long"))
    return out.select(
        "url", "host", "allowed", "rule_prefix",
        "crawl_delay_ms", "priority_e9", "freshness",
    )


def run_frontier(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    robots: DataFrame | None = None,
    sitemaps: DataFrame | None = None,
    old_pages: DataFrame | None = None,
    n_iters: int = 5,
    partitions: int | None = None,
) -> dict:
    """Write the frontier table under ``out_dir``; → run stats. The stats
    read the written parquet back (single-computation discipline, like
    curate/linkgraph — the table and the stats line can never disagree)."""
    build_frontier(
        pages,
        robots=robots,
        sitemaps=sitemaps,
        old_pages=old_pages,
        n_iters=n_iters,
        partitions=partitions,
    ).write.mode("overwrite").parquet(f"{out_dir}/frontier")
    back = spark.read.parquet(f"{out_dir}/frontier")
    # one stats action: the per-freshness groups carry every count, the
    # driver sums the totals from those few rows
    sums = {
        "n_allowed": F.col("allowed").cast("long"),
        "n_blocked": (~F.col("allowed")).cast("long"),
        "n_with_delay": F.col("crawl_delay_ms").isNotNull().cast("long"),
        "n_ranked": F.col("priority_e9").isNotNull().cast("long"),
    }
    groups = (
        back.groupBy("freshness")
        .agg(F.count("*").alias("n_urls"), *(F.sum(c).alias(k) for k, c in sums.items()))
        .collect()
    )
    return {
        "run_id": run_id,
        **{k: sum(int(g[k] or 0) for g in groups) for k in ["n_urls", *sums]},
        **dict(sorted((f"fresh_{g['freshness']}", g["n_urls"]) for g in groups)),
    }
