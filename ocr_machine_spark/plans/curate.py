"""Corpus-curation plan: the production composition of the webtext passes.

One declarative plan — quality gate (complete Gopher rule ladder,
``operators.textstats.gopher_filter``) then exact-dedup survivor selection
(min doc_id per content fingerprint, the same decision
``streaming/extract_stream.dedup_docs_stream`` maintains continuously) —
over a documents table. Everything is a pure deterministic function of the
input rows: re-running produces byte-identical output on any partitioning
or cluster size, so the job is idempotent by construction (overwrite
semantics need no bucket lineage; contrast ``plans.lineage.run_extraction``,
whose per-bucket commits exist for incremental/restartable EXTRACTION over
an append-only pages lake).

Text twin of the reference's post-OCR cleanup → dedupe → dataset-build
sequence (``python_files/strikethrough_agent.py:100-127`` gates feeding
``training_strikethrough`` dataset assembly).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_machine_spark.functions import norm_text
from ocr_machine_spark.operators.dedup import dedup_clusters_star, minhash_dedup_pairs
from ocr_machine_spark.operators.textstats import (
    benchmark_contamination,
    gopher_filter,
    line_dedup,
    span_dedup,
)


# MinHash-LSH Jaccard threshold of the fuzzy-dedup stage (``dedup_near``)
NEAR_THRESHOLD = 0.8


def _rewrite(docs: DataFrame, dedup_frame: DataFrame, n_in: str, n_kept: str) -> DataFrame:
    """Replace ``text`` with a dedup operator's rewrite and attach its
    counts as ``n_in``/``n_kept``. ``dedup_frame`` has the shape
    ``line_dedup`` and ``span_dedup`` both return — (doc_id, count in,
    n_kept, text_dedup). Left join: a document with no dedup row (every
    line a later duplicate, or empty normalized text) flows on with empty
    text and zero counts so its audit row survives. Pure function of the
    input rows."""
    d = dedup_frame.toDF("doc_id", n_in, n_kept, "text_dedup")
    return (
        docs.drop("text")
        .join(d, "doc_id", "left")
        .withColumn("text", F.coalesce("text_dedup", F.lit("")))
        .withColumn(n_in, F.coalesce(n_in, F.lit(0)))
        .withColumn(n_kept, F.coalesce(n_kept, F.lit(0)))
        .drop("text_dedup")
    )


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    dedup_lines: bool = False,
    dedup_spans: bool = False,
    dedup_near: bool = False,
    bench: DataFrame | None = None,
) -> dict:
    """Write the per-doc decision audit table and the curated docs under
    ``out_dir``; → run stats (input/kept/survivor counts and the
    drop-reason histogram).

    Every document gets an audit row in ``decisions``: the Gopher
    ``reasons`` string, its content fingerprint ``fp``, and ``survivor``
    (kept by quality AND the dedup keeper — min doc_id — for its
    fingerprint). ``curated`` is the input rows restricted to survivors,
    with ``fp`` attached — the shape a training-data builder partitions
    and samples from. Shuffles: one on doc_id (decision join), one on fp
    (survivor min) — both keyed, scale-safe.

    ``dedup_lines=True`` prepends CCNet-ordered line deduplication (dedup
    BEFORE filtering, Wenzek et al. §3): every later copy of a line already
    seen anywhere in the corpus is removed, the document's text rewritten
    from its surviving lines, and the quality ladder then judges the
    CLEANED text — so boilerplate chrome can no longer carry a page past
    the repetition gates. The audit gains ``n_lines``/``n_lines_kept``;
    documents whose every line was a duplicate flow on with empty text and
    fall to the quality gate (their audit row keeps them visible).

    ``dedup_spans=True`` then excises exact duplicated substrings (Lee et
    al. 2022 — later corpus occurrences of any ≥8-word run), after line
    dedup by design: lines kill whole-line boilerplate cheaply, spans then
    excise the remaining long duplicated RUNS (Lee et al. order: substring
    dedup over the cleaned corpus). Matching is case-insensitive but the
    curated text keeps its original casing (whitespace collapses — the
    match tokenization). The audit gains ``n_span_words``/``n_span_kept``.

    ``dedup_near=True`` appends FUZZY dedup after the exact survivor
    stage: MinHash-LSH candidate pairs at ``NEAR_THRESHOLD`` Jaccard over
    the exact survivors, resolved to clusters by the large-star/small-star
    engine, one survivor (min doc_id) per cluster. Exact dedup stays in
    front — identical docs are guaranteed LSH candidates only when they
    have ≥k words, so tiny exact dupes need the fp stage; near dedup then
    prunes the boilerplate-variant copies exact hashing can never see.
    The audit gains ``near_rep`` (NULL for docs that never reached the
    near stage). Scale shape: banded LSH (no cross join) over the
    post-quality survivor subset only, O(log n) CC rounds.

    ``bench`` (a frame with a ``text`` column) switches on train/test
    DECONTAMINATION (GPT-3 appendix-C style, the published pre-training
    hygiene pass): any document sharing a word 8-gram with the benchmark
    is dropped regardless of quality, with ``contaminated`` in its reasons
    audit string — eval prompts must never reach training data, however
    clean they look. The benchmark side is broadcast
    (operators.textstats.benchmark_contamination), so the pass adds zero
    shuffle of corpus text.

    Dataflow: only the DECISION frame is computed from the live plan; the
    curated table and the stats both derive from the decisions parquet read
    back after the write, so the three outputs can never disagree. Every
    output is a pure deterministic function of the input rows: re-running
    produces byte-identical output, so the job is idempotent under
    overwrite."""
    # materialize after EACH rewrite stage: the decision plan references
    # ``docs`` from many branches (gopher gate, fingerprints, near-dup
    # candidate build, curated write), and span_dedup itself references its
    # input three times (word explode + gram explode feeding both the
    # witness agg and the join-back) — without barriers the upstream
    # rewrite chain re-executes per reference (measured: the line and gram
    # explode stages each ran 3× per curation). Real pipelines write these
    # intermediates (the cleaned corpus IS a dataset); in-job the
    # executor-local checkpoint is the moral equivalent.
    counts: list[str] = []
    if dedup_lines:
        ld = line_dedup(docs)
        docs = _rewrite(docs, ld, "n_lines", "n_lines_kept").localCheckpoint(eager=True)
        counts += ["n_lines", "n_lines_kept"]
    if dedup_spans:
        sd = span_dedup(docs, preserve_case=True)
        docs = _rewrite(docs, sd, "n_span_words", "n_span_kept").localCheckpoint(eager=True)
        counts += ["n_span_words", "n_span_kept"]
    decision = gopher_filter(docs)
    if bench is not None:
        cont = benchmark_contamination(docs, bench).select("doc_id", "contaminated")
        decision = (
            decision.join(cont, "doc_id")
            .withColumn(
                "reasons",
                # concat_ws skips NULLs on both engines: empty reasons →
                # NULL so no leading comma; not-contaminated → NULL term
                F.concat_ws(
                    ",",
                    F.nullif(F.col("reasons"), F.lit("")),
                    F.when(F.col("contaminated"), F.lit("contaminated")),
                ),
            )
            .withColumn("keep", F.col("keep") & ~F.col("contaminated"))
        )
    # the rewrite counts ride the fingerprint projection — no extra join
    fp = F.md5(norm_text(F.coalesce(F.col("text"), F.lit(""))))
    d = decision.join(docs.select("doc_id", fp.alias("fp"), *counts), "doc_id")
    keepers = (
        d.filter(F.col("keep"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )
    d = d.join(keepers, "fp", "left").withColumn(
        "survivor", F.col("keep") & (F.col("doc_id") == F.col("keeper_doc_id"))
    ).drop("keeper_doc_id")
    audit_cols = ["doc_id", "n_words", "keep", "reasons", "fp", "survivor"]
    if dedup_near:
        kept = docs.join(d.filter(F.col("survivor")).select("doc_id"), "doc_id")
        pairs = minhash_dedup_pairs(kept, threshold=NEAR_THRESHOLD)
        clusters = dedup_clusters_star(kept.select("doc_id"), pairs).select(
            "doc_id",
            F.col("rep").alias("near_rep"),
            F.col("keep").alias("near_keep"),
        )
        d = d.join(clusters, "doc_id", "left").withColumn(
            "survivor", F.col("survivor") & F.coalesce(F.col("near_keep"), F.lit(True))
        ).drop("near_keep")
        audit_cols.append("near_rep")
    if bench is not None:
        audit_cols.append("contaminated")
    d.select(*audit_cols, *counts).write.mode("overwrite").parquet(f"{out_dir}/decisions")
    # read the audit table back and derive BOTH outputs from it — one
    # computation of the (nondeterminism-free) plan, stats match the files
    dec = spark.read.parquet(f"{out_dir}/decisions")
    docs.join(dec.filter(F.col("survivor")).select("doc_id", "fp"), "doc_id").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/curated")
    # one stats action: per (keep, reasons) group, the doc count and every
    # summed stat; the driver folds the totals and the reason histogram
    # from those few rows
    sums = {"docs_curated": F.col("survivor").cast("long")}
    if dedup_lines:
        sums.update(lines_in=F.col("n_lines"), lines_kept=F.col("n_lines_kept"))
    if dedup_near:
        near_dropped = F.col("near_rep").isNotNull() & (F.col("near_rep") != F.col("doc_id"))
        sums["docs_near_dropped"] = near_dropped.cast("long")
    if dedup_spans:
        sums.update(span_words_in=F.col("n_span_words"), span_words_kept=F.col("n_span_kept"))
    if bench is not None:
        sums["docs_contaminated"] = F.col("contaminated").cast("long")
    groups = (
        dec.groupBy("keep", "reasons")
        .agg(F.count("*").alias("n"), *(F.sum(c).alias(k) for k, c in sums.items()))
        .collect()
    )
    totals = {k: sum(int(g[k] or 0) for g in groups) for k in sums}
    reasons: Counter[str] = Counter()
    for g in groups:
        if not g["keep"]:
            for r in g["reasons"].split(","):
                reasons[r] += g["n"]
    return {
        "run_id": run_id,
        "docs_in": sum(g["n"] for g in groups),
        "docs_quality_kept": sum(g["n"] for g in groups if g["keep"]),
        "docs_curated": totals.pop("docs_curated"),
        "drop_reasons": dict(sorted(reasons.items())),
        **totals,
    }
