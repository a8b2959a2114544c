"""Spark-layer extraction tests: golden parity, determinism across
partitioning, blocks/regions, lineage-tracked resume."""

import pyspark.sql.functions as F
import pytest

from ocr_machine_spark.operators.extraction import detect_regions, extract_blocks, extract_pages
from ocr_machine_spark.plans.lineage import read_extractions, read_lineage, run_extraction
from ocr_machine_spark.sources.pages import generate_goldens, generate_pages

N = 200


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N, partitions=4).cache()


def test_extraction_matches_goldens(spark, pages):
    got = extract_pages(pages)
    want = generate_goldens(spark, N, partitions=4)
    g = got.select("url", F.col("extracted_text").alias("g_text"), F.col("spans").alias("g_spans"),
                   F.col("removed_spans").alias("g_removed"))
    w = want.select("url", F.col("extracted_text").alias("w_text"), F.col("spans").alias("w_spans"),
                    F.col("removed_spans").alias("w_removed"))
    j = g.join(w, "url")
    assert j.count() == N
    mism = j.filter(
        (F.col("g_text") != F.col("w_text"))
        | (F.to_json("g_spans") != F.to_json("w_spans"))
        | (F.to_json("g_removed") != F.to_json("w_removed"))
    ).count()
    assert mism == 0


def test_extraction_deterministic_across_partitioning(spark, pages):
    a = extract_pages(pages, partitions=2).select("url", "extracted_text")
    b = extract_pages(pages, partitions=7).select(
        "url", F.col("extracted_text").alias("text_b")
    )
    diff = a.join(b, "url").filter(F.col("extracted_text") != F.col("text_b")).count()
    assert diff == 0


def test_extraction_keeps_failed_rows(spark):
    rows = [("u://bad", None), ("u://empty", b"")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = extract_pages(df).collect()
    assert len(out) == 2
    assert all(not r["ok"] and r["error"] for r in out)


def test_extraction_total_on_degraded_pages(spark, pages):
    """G2 degrader contract: mid-markup truncation (unclosed tags, split
    entities, half UTF-8 sequences) never breaks totality — one output row
    per input, never an exception, and re-runs stay byte-identical."""
    from ocr_machine_spark.sources.pages import degrade_pages

    deg = degrade_pages(pages)
    out = extract_pages(deg, partitions=3).cache()
    assert out.count() == pages.count()
    # truncated pages still mostly parse; failures (if any) carry errors
    bad = out.filter(~F.col("ok"))
    assert bad.filter(F.col("error").isNull()).count() == 0
    # determinism under a different partitioning
    again = extract_pages(degrade_pages(pages), partitions=5).select(
        "url", F.col("extracted_text").alias("t2")
    )
    diff = out.join(again, "url").filter(
        F.coalesce(F.col("extracted_text"), F.lit("∅")) != F.coalesce(F.col("t2"), F.lit("∅"))
    ).count()
    assert diff == 0
    out.unpersist()


def test_extraction_handles_multi_megabyte_pages(spark):
    """Large-payload smoke: multi-MB pages flow through the Arrow stage
    (batches are row-capped, so oversized payloads are the memory risk at
    scale — jobs.py documents the byte-aware sizing rule)."""
    big_para = "<p>" + "word " * 200_000 + "</p>"  # ~1 MB of visible text
    rows = [(f"u://big/{i}", ("<html><body>" + big_para * 3 + "</body></html>").encode()) for i in range(4)]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = extract_pages(df).select("url", "ok", "chars_out").collect()
    assert len(out) == 4 and all(r["ok"] for r in out)
    assert all(r["chars_out"] > 2_000_000 for r in out)


def test_blocks_and_regions(spark, pages):
    blocks = extract_blocks(pages).cache()
    assert blocks.filter(F.col("block_id").isNull()).count() == 0
    # block ids unique and deterministic
    assert blocks.select("block_id").distinct().count() == blocks.count()
    regions = detect_regions(blocks)
    tbl_pages = regions.filter(F.col("region_type") == "table").select("url")
    got = extract_pages(pages).filter(F.col("has_table")).select("url")
    assert tbl_pages.exceptAll(got).count() == 0
    assert got.exceptAll(tbl_pages).count() == 0


def test_lineage_resume_exactly_once(spark, pages, tmp_path):
    out = str(tmp_path / "run")
    # simulate a crash: first run commits only 5 of 16 buckets
    s1 = run_extraction(spark, pages, out, run_id="r1", n_buckets=16, max_buckets_this_run=5)
    assert s1["buckets_committed"] == 5
    mid = read_extractions(spark, out)
    assert 0 < mid.count() < N
    # resume: processes only the remaining buckets
    s2 = run_extraction(spark, pages, out, run_id="r2", n_buckets=16)
    assert s2["buckets_committed"] == 16 - 5
    done = read_extractions(spark, out)
    assert done.count() == N
    assert done.select("url").distinct().count() == N  # no dupes
    # idempotent: a third run commits nothing
    s3 = run_extraction(spark, pages, out, run_id="r3", n_buckets=16)
    assert s3["buckets_committed"] == 0
    assert read_extractions(spark, out).count() == N
    lin = read_lineage(spark, out)
    assert lin.count() == 16
    assert lin.agg(F.sum("rows_in")).collect()[0][0] == N


def test_lineage_sparse_input_commits_empty_buckets(spark, tmp_path):
    """Review fix: selected-but-empty buckets must still commit (rows 0) or a
    sparse input livelocks — max_buckets_this_run would re-select the same
    empty buckets forever."""
    from ocr_machine_spark.sources.pages import generate_pages

    out = str(tmp_path / "sparse")
    few = generate_pages(spark, 6, partitions=2)  # 6 urls over 64 buckets
    s1 = run_extraction(spark, few, out, run_id="r1", n_buckets=64, max_buckets_this_run=10)
    assert s1["buckets_committed"] == 10  # progress regardless of bucket content
    s2 = run_extraction(spark, few, out, run_id="r2", n_buckets=64)
    assert s2["buckets_committed"] == 54
    lin = read_lineage(spark, out)
    assert lin.count() == 64
    assert lin.agg(F.sum("rows_out")).collect()[0][0] == 6
    # third run: nothing left
    s3 = run_extraction(spark, few, out, run_id="r3", n_buckets=64)
    assert s3["buckets_committed"] == 0


def test_lineage_refuses_bucket_count_mismatch(spark, pages, tmp_path):
    """Review fix: bucket ids only compose within one bucket space — resuming
    with a different --buckets must fail loudly, not mix spaces silently."""
    import pytest

    out = str(tmp_path / "guard")
    run_extraction(spark, pages, out, run_id="r1", n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction(spark, pages, out, run_id="r2", n_buckets=256)


def test_lineage_empty_input_run(spark, tmp_path):
    """Review fix: a fresh run over empty input must return zero stats, not
    fail parquet schema inference on a data dir holding only _SUCCESS."""
    from ocr_machine_spark.sources.pages import generate_pages

    out = str(tmp_path / "empty")
    none = generate_pages(spark, 3, partitions=1).filter("url IS NULL")  # empty frame
    s = run_extraction(spark, none, out, run_id="r1", n_buckets=8)
    assert s["buckets_committed"] == 8 and s["rows"] == 0 and s["pages_ok"] == 0


def _data_files(out: str, run_id: str) -> list[str]:
    import glob
    import os

    return glob.glob(os.path.join(out, "data", f"run_id={run_id}", "**", "*.parquet"), recursive=True)


def test_lineage_writes_one_file_per_scan_task(spark, pages, tmp_path):
    """Data is partitioned by run, not by bucket: a run over a P-partition
    input writes at most P data files, whatever the bucket count."""
    out = str(tmp_path / "files")
    p = pages.rdd.getNumPartitions()
    run_extraction(spark, pages, out, run_id="r1", n_buckets=64, max_buckets_this_run=40)
    run_extraction(spark, pages, out, run_id="r2", n_buckets=64)
    assert 0 < len(_data_files(out, "r1")) <= p
    assert 0 < len(_data_files(out, "r2")) <= p
    assert read_extractions(spark, out).count() == N


def test_lineage_refuses_reused_run_id(spark, pages, tmp_path):
    """A run id with committed lineage is refused before anything is
    written: its run-partition overwrite would delete committed data."""
    out = str(tmp_path / "reuse")
    run_extraction(spark, pages, out, run_id="r1", n_buckets=16, max_buckets_this_run=5)
    before = sorted(r["url"] for r in read_extractions(spark, out).select("url").collect())
    with pytest.raises(ValueError, match="run_id 'r1'"):
        run_extraction(spark, pages, out, run_id="r1", n_buckets=16)
    after = sorted(r["url"] for r in read_extractions(spark, out).select("url").collect())
    assert 0 < len(before) < N and after == before
    assert read_lineage(spark, out).count() == 5


def test_lineage_crashed_run_orphans_invisible(spark, pages, tmp_path):
    """A crash between the data write and the lineage append leaves files
    with no commit marker: readers never see them, and a resume under a new
    run id commits every url exactly once."""
    from ocr_machine_spark.operators.extraction import with_bucket
    from ocr_machine_spark.plans.lineage import write_bucketed

    out = str(tmp_path / "crash")
    run_extraction(spark, pages, out, run_id="r1", n_buckets=16, max_buckets_this_run=5)
    mid = read_extractions(spark, out).count()
    # the crashed attempt wrote every bucket, committed ones included
    orphans = with_bucket(extract_pages(pages), 16).withColumn("run_id", F.lit("crashed"))
    write_bucketed(orphans, spark, path=str(tmp_path / "crash" / "data"))
    assert _data_files(out, "crashed")
    assert read_extractions(spark, out).count() == mid
    s2 = run_extraction(spark, pages, out, run_id="r2", n_buckets=16)
    assert s2["buckets_committed"] == 11
    done = read_extractions(spark, out)
    assert done.count() == N
    assert done.select("url").distinct().count() == N
    assert done.filter(F.col("run_id") == "crashed").count() == 0


def test_lineage_numeric_run_ids_round_trip(spark, pages, tmp_path):
    """Run ids that look like numbers stay strings: "001" must not be
    inferred as the partition int 1 and lose its commit marker."""
    out = str(tmp_path / "numeric")
    run_extraction(spark, pages, out, run_id="001", n_buckets=16, max_buckets_this_run=5)
    run_extraction(spark, pages, out, run_id="2", n_buckets=16)
    got = read_extractions(spark, out)
    assert got.count() == N
    assert sorted(r[0] for r in got.select("run_id").distinct().collect()) == ["001", "2"]


def test_repartition_salted_spreads_duplicate_keys(spark):
    """Review fix: the salt must vary WITHIN a key — a key-derived salt is a
    no-op (it induces the key's own partition classes), so 1000 rows sharing
    one url would all land on a single task."""
    from ocr_machine_spark.operators.extraction import repartition_salted

    hot = spark.range(1000).select(
        F.lit("https://hot.example/dup").alias("url"), F.col("id")
    )
    parts = (
        repartition_salted(hot, 8)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts > 1, "hot key must spread across partitions"


def test_curation_job_dedup_and_reasons(spark, tmp_path):
    """The curate job (round 5): quality gate + exact-dedup survivor in one
    plan. Injected duplicates of kept documents must collapse to the
    minimum doc_id; stats must reconcile with the written tables; a re-run
    is byte-idempotent (pure function + overwrite)."""
    import pyspark.sql.functions as F

    from ocr_machine_spark.plans.curate import run_curation

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    out = str(tmp_path / "curated")
    s1 = run_curation(spark, docs.unionAll(dups), out, run_id="c1")
    assert s1["docs_in"] == docs.count() + dups.count()
    # every surviving duplicate pair collapsed: curated < quality-kept
    assert s1["docs_curated"] < s1["docs_quality_kept"]
    curated = spark.read.parquet(f"{out}/curated")
    dec = spark.read.parquet(f"{out}/decisions")
    assert curated.count() == s1["docs_curated"]
    # survivors are the min doc_id of their fingerprint — no +100000 copy
    # may survive when its original was kept
    shadow = curated.filter(F.col("doc_id") >= 100000).select(
        (F.col("doc_id") - 100000).alias("orig")
    )
    originals_kept = dec.filter(F.col("keep") & (F.col("doc_id") < 100000)).select(
        F.col("doc_id").alias("orig")
    )
    assert shadow.join(originals_kept, "orig").count() == 0
    # reasons histogram reconciles with per-doc decisions
    assert sum(s1["drop_reasons"].values()) >= s1["docs_in"] - s1["docs_quality_kept"]
    s2 = run_curation(spark, docs.unionAll(dups), out, run_id="c2")
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_curation_job_line_dedup_stage(spark, tmp_path):
    """--dedup-lines (round 5 late): cross-corpus line dedup runs BEFORE the
    quality ladder (CCNet order). A boilerplate footer pasted onto every
    document must survive only in the first doc's curated text; the written
    curated table carries the CLEANED text; stats reconcile and a re-run is
    idempotent."""
    import pyspark.sql.functions as F

    from ocr_machine_spark.plans.curate import run_curation

    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    footer = "subscribe to our newsletter for updates"
    docs = base.select(
        "doc_id", F.concat_ws("\n", "text", F.lit(footer)).alias("text")
    )
    out = str(tmp_path / "curated_ld")
    s1 = run_curation(spark, docs, out, run_id="l1", dedup_lines=True)
    n = docs.count()
    assert s1["lines_in"] == 2 * n  # text line + footer line, none blank
    assert s1["lines_kept"] == n + 1  # footer survives exactly once
    curated = spark.read.parquet(f"{out}/curated")
    with_footer = curated.filter(F.col("text").contains(footer))
    assert with_footer.count() <= 1  # only the corpus-first doc may keep it
    # cleaned text is what was judged AND what was written
    assert curated.filter(F.col("text").endswith(footer)).count() <= 1
    s2 = run_curation(spark, docs, out, run_id="l2", dedup_lines=True)
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_curation_decontaminates(spark, tmp_path):
    """--decontaminate path of the curate plan: docs sharing a word 8-gram
    with the benchmark are dropped REGARDLESS of quality, audit rows carry
    'contaminated' appended to any quality reasons, and clean docs are
    untouched."""
    from ocr_machine_spark.plans.curate import run_curation

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    # 30 distinct 8-char words: inside the corpus-adapted Gopher bounds
    # (20-80 words, mean word len 3-10, no repetition)
    filler = " ".join(f"term{i:02d}xy"[0:8] for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, f"{filler} {leak}", "a"),   # good quality + leaked
            (2, f"{filler} more fine words", "a"),  # good quality, clean
            (3, f"tiny {leak}", "a"),       # bad quality AND leaked
        ],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame([(leak,)], "text string")
    out = str(tmp_path / "c")
    stats = run_curation(spark, docs, out, run_id="t", bench=bench)
    assert stats["docs_contaminated"] == 2
    dec = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec[1]["contaminated"] and not dec[1]["keep"]
    assert dec[1]["reasons"] == "contaminated"  # quality-clean, only reason
    assert dec[2]["keep"] and not dec[2]["contaminated"]
    assert dec[3]["contaminated"] and not dec[3]["keep"]
    assert dec[3]["reasons"].endswith(",contaminated")  # appended after quality
    curated = {r["doc_id"] for r in spark.read.parquet(f"{out}/curated").collect()}
    assert curated == {2}


def test_curation_dedups_spans(spark, tmp_path):
    """--dedup-spans path: a duplicated >=8-word run appended to every doc
    survives only at its first corpus site; the curated text keeps the
    ORIGINAL casing (match is case-insensitive); stats reconcile and a
    re-run is idempotent."""
    import pyspark.sql.functions as F

    from ocr_machine_spark.plans.curate import run_curation

    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    run = "Please Subscribe To Our Weekly Newsletter For More Updates"  # 9 words
    docs = base.select(
        "doc_id", F.concat_ws(" ", "text", F.lit(run)).alias("text")
    )
    out = str(tmp_path / "curated_sd")
    s1 = run_curation(spark, docs, out, run_id="s1", dedup_spans=True)
    assert s1["span_words_kept"] < s1["span_words_in"]
    curated = spark.read.parquet(f"{out}/curated")
    keepers = curated.filter(F.col("text").contains(run))
    assert keepers.count() <= 1  # case preserved at the surviving site
    assert curated.filter(F.lower("text").contains(run.lower())).count() <= 1
    s2 = run_curation(spark, docs, out, run_id="s2", dedup_spans=True)
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_span_dedup_preserve_case(spark):
    """preserve_case: witness identity is case-insensitive (UPPER copy of a
    run is excised against a lower first site) while surviving text keeps
    its original casing."""
    from ocr_machine_spark.operators.textstats import span_dedup

    run = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(0, f"Keep Me {run} Tail"), (1, f"x {run.upper()} y")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_dedup"] for r in
           span_dedup(docs, min_len=8, preserve_case=True).collect()}
    assert got[0] == f"Keep Me {run} Tail"
    assert got[1] == "x y"


def test_curation_dedup_near(spark, tmp_path):
    """--dedup-near: MinHash-LSH + star clusters prune near-duplicate
    variants exact hashing cannot see; exact dupes still collapse first;
    the audit carries near_rep; stats reconcile and re-runs are
    idempotent."""
    from ocr_machine_spark.plans.curate import run_curation

    filler = " ".join(f"w{i:03d}token"[:8] for i in range(40))
    other = " ".join(f"z{i:03d}vocab"[:8] for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, f"{filler} endingone", "a"),
            (2, f"{filler} endingtwo", "a"),   # near-dup of 1 (1 word differs)
            (3, f"{other} standalone", "a"),   # own cluster
            (4, f"{filler} endingone", "a"),   # exact dup of 1
        ],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "near")
    s1 = run_curation(spark, docs, out, run_id="n1", dedup_near=True)
    assert s1["docs_quality_kept"] == 4
    assert s1["docs_curated"] == 2  # doc 1 (cluster min) + doc 3
    assert s1["docs_near_dropped"] == 1  # doc 2 (doc 4 fell to the exact stage)
    import pyspark.sql.functions as F

    dec = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec[1]["survivor"] and dec[1]["near_rep"] == 1
    assert not dec[2]["survivor"] and dec[2]["near_rep"] == 1
    assert dec[3]["survivor"] and dec[3]["near_rep"] == 3
    assert not dec[4]["survivor"] and dec[4]["near_rep"] is None  # exact-pruned pre-near
    curated = {r["doc_id"] for r in spark.read.parquet(f"{out}/curated").collect()}
    assert curated == {1, 3}
    s2 = run_curation(spark, docs, out, run_id="n2", dedup_near=True)
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_curation_empty_input_counts_zero(spark, tmp_path):
    """An empty documents frame with every stage on yields zero for every
    count (not NULL from a sum over no rows) and an empty histogram."""
    from ocr_machine_spark.plans.curate import run_curation

    docs = spark.createDataFrame([], "doc_id long, text string")
    bench = spark.createDataFrame([("alpha beta gamma delta epsilon zeta eta theta",)], "text string")
    stats = run_curation(
        spark, docs, str(tmp_path / "empty"), run_id="e",
        dedup_lines=True, dedup_spans=True, dedup_near=True, bench=bench,
    )
    assert stats == {
        "run_id": "e",
        "docs_in": 0,
        "docs_quality_kept": 0,
        "docs_curated": 0,
        "drop_reasons": {},
        "lines_in": 0,
        "lines_kept": 0,
        "docs_near_dropped": 0,
        "span_words_in": 0,
        "span_words_kept": 0,
        "docs_contaminated": 0,
    }


def test_curation_stats_reconcile_with_decisions_all_flags(spark, tmp_path):
    """Every stage on at once (line, span and near dedup plus
    decontamination): each stat equals the same value recomputed from the
    decisions parquet by one aggregation per stat (the reference here),
    and every stage actually fired on the fixture."""
    from ocr_machine_spark.plans.curate import run_curation

    def filler(i):  # 30 distinct 8-char words: inside the Gopher bounds
        return " ".join(f"d{i:02d}w{j:03d}x" for j in range(30))

    run = "Please Subscribe To Our Weekly Newsletter For More Updates"  # 9 words
    leak = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"{filler(i)} {run}\nshared footer line") for i in range(1, 7)]
    rows += [
        (7, rows[1][1]),  # exact copy of doc 2
        (8, "tiny text here"),  # too few words
        (9, f"{filler(9)} {leak}"),  # clean quality, leaked
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(leak,)], "text string")
    out = str(tmp_path / "all")
    stats = run_curation(
        spark, docs, out, run_id="a",
        dedup_lines=True, dedup_spans=True, dedup_near=True, bench=bench,
    )

    dec = spark.read.parquet(f"{out}/decisions")
    counts = dec.agg(
        F.count("*").alias("docs_in"),
        F.sum(F.col("keep").cast("long")).alias("docs_quality_kept"),
        F.sum(F.col("survivor").cast("long")).alias("docs_curated"),
    ).collect()[0]
    reasons = {
        r["reason"]: r["n"]
        for r in dec.filter(~F.col("keep"))
        .select(F.explode(F.split("reasons", ",")).alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    lc = dec.agg(F.sum("n_lines"), F.sum("n_lines_kept")).collect()[0]
    sp = dec.agg(F.sum("n_span_words"), F.sum("n_span_kept")).collect()[0]
    near = dec.filter(
        F.col("near_rep").isNotNull() & (F.col("near_rep") != F.col("doc_id"))
    ).count()
    cont = dec.agg(F.sum(F.col("contaminated").cast("long"))).collect()[0][0]
    assert stats == {
        "run_id": "a",
        "docs_in": counts["docs_in"],
        "docs_quality_kept": counts["docs_quality_kept"],
        "docs_curated": counts["docs_curated"],
        "drop_reasons": dict(sorted(reasons.items())),
        "lines_in": lc[0],
        "lines_kept": lc[1],
        "docs_near_dropped": near,
        "span_words_in": sp[0],
        "span_words_kept": sp[1],
        "docs_contaminated": cont,
    }
    assert list(stats) == [
        "run_id", "docs_in", "docs_quality_kept", "docs_curated", "drop_reasons",
        "lines_in", "lines_kept", "docs_near_dropped", "span_words_in",
        "span_words_kept", "docs_contaminated",
    ]
    # every stage fired: lines and spans removed, contaminated docs dropped
    # with their audit reason, and every survivor went through the near stage
    assert stats["lines_kept"] < stats["lines_in"]
    assert stats["span_words_kept"] < stats["span_words_in"]
    assert stats["docs_contaminated"] > 0
    assert stats["drop_reasons"]["contaminated"] == stats["docs_contaminated"]
    assert dec.filter(F.col("survivor") & F.col("near_rep").isNull()).count() == 0
    assert spark.read.parquet(f"{out}/curated").count() == stats["docs_curated"]
