"""Lineage-coupled, idempotently-resumable extraction runs (north_rule).

The reference checkpoints every milestone as timestamped JSON files so a crashed
run can be hand-resumed (``python_files/textract_agent.py:228-237``,
requirement at ``python_files/main.py:25-27``). Here the same guarantee is
structural:

* the input is split into deterministic **buckets** — ``pmod(xxhash64(url),
  n_buckets)`` — so bucket membership never depends on run order or cluster
  size;
* each run processes only buckets absent from the **lineage table**
  (an anti-join on committed partition ids);
* each run first writes its data under its own ``run_id=<id>`` partition, one
  file per scan task whatever the bucket count (dynamic partition overwrite,
  so a retry of a crashed run under the same id replaces its orphans), then
  appends one lineage row per processed bucket — the lineage row for
  ``(bucket, run_id)`` IS the commit marker;
* readers go through ``read_extractions``, which semi-joins data rows against
  committed lineage on ``(bucket, run_id)``, so a crashed run's files are
  invisible;
* a run id that already has committed lineage rows is refused: its dynamic
  overwrite would delete committed data.

With an Iceberg catalog this maps 1:1 onto write-audit-publish: the table
carries the same ``bucket`` and ``run_id`` columns and ``overwritePartitions``
replaces the run's partition in one snapshot; the parquet layout here is the
stand-in when no catalog is configured. Lineage schema follows FIXTURES.md §4;
stats are aggregated from the files actually on disk, so the bench numbers are
auditable against lineage.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from ocr_machine_spark.operators.extraction import EXTRACT_SCHEMA, extract_pages, with_bucket

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"

# explicit read schemas: no inference job per read, an empty data dir reads as
# zero rows, and a run id like "001" stays a string instead of being inferred
# as a partition int
DATA_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [StructField("bucket", IntegerType()), StructField("run_id", StringType())]
)
LINEAGE_SCHEMA = StructType(
    [
        StructField("partition_id", LongType()),
        StructField("run_id", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("pages_ok", LongType()),
        StructField("pages_failed", LongType()),
        StructField("bytes_html", LongType()),
        StructField("chars_extracted", LongType()),
        StructField("input_split", StringType()),
        StructField("n_buckets", LongType()),
        StructField("committed_snapshot", LongType()),
    ]
)


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, LINEAGE_DIR)


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, DATA_DIR)


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog on this session, else None.

    Iceberg registers as ``spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog`` — presence of such a key is the
    capability check (the runtime jar is not shipped in this sandbox, so the
    branch is exercised for dispatch only)."""
    for r in spark.sql("SET").collect():
        k = r["key"]
        if (
            k.startswith("spark.sql.catalog.")
            and k.count(".") == 3
            and "iceberg" in str(r["value"]).lower()
        ):
            return k.rsplit(".", 1)[1]
    return None


def choose_sink(spark: SparkSession, table: str | None) -> str:
    """'iceberg' when a table identifier is given AND an Iceberg catalog is
    configured; 'parquet' otherwise (sandbox stand-in)."""
    return "iceberg" if table is not None and iceberg_catalog(spark) is not None else "parquet"


def write_bucketed(df: DataFrame, spark: SparkSession, *, path: str, table: str | None = None) -> str:
    """Write one run's extraction data (``bucket`` and ``run_id`` columns
    included) through the chosen sink and return which sink was used.

    The data is partitioned by run, not by bucket: each scan task writes one
    file whatever the number of buckets it touches. Bucket-granular resume
    lives in the lineage table, whose ``(bucket, run_id)`` row is the commit
    marker readers semi-join on.

    Iceberg path: ``writeTo(table).overwritePartitions()`` on a table that
    carries ``run_id`` — an atomic snapshot commit that replaces exactly this
    run's partition (write-audit-publish; a retry of a crashed run replaces
    its orphans). Parquet path: dynamic partition overwrite of
    ``run_id=<id>`` — the same replace-by-run semantics, minus the snapshot
    atomicity, which the lineage commit marker restores at read time."""
    sink = choose_sink(spark, table)
    if sink == "iceberg":
        df.writeTo(table).overwritePartitions()
    else:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
            .parquet(path)
        )
    return sink


def _read_lineage_or_none(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Lineage table, or None iff it does not exist yet. ONLY a missing-path
    error means fresh run — transient I/O / permission / corrupt-file errors
    must propagate, not silently restart a 100-TB job from bucket zero."""
    from pyspark.errors import AnalysisException

    try:
        return read_lineage(spark, out_dir)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    n_buckets: int = 16,
    partitions: int | None = None,
    input_split: str = "",
    max_buckets_this_run: int | None = None,
    table: str | None = None,
) -> dict:
    """Extract all not-yet-committed buckets of ``pages`` into ``out_dir``.

    ``run_id`` must be new, unless it retries an attempt that never committed
    a lineage row. ``max_buckets_this_run`` exists for failure-injection tests
    (process only k buckets, "crash", resume). Returns run stats.

    EVERY processed bucket gets a lineage row, including empty ones (rows 0)
    — "committed" means processed, not non-empty. Otherwise sparse inputs
    livelock: a selected-but-empty bucket would never commit, and the next
    resume would select the same empty buckets forever.
    """
    lin = _read_lineage_or_none(spark, out_dir)
    done: list[int] = []
    if lin is not None:
        committed = lin.select("partition_id", "n_buckets", "run_id").distinct().collect()
        # resume guard: bucket ids only compose within ONE bucket space —
        # resuming 16-bucket lineage with --buckets 256 would silently skip
        # never-extracted rows and duplicate committed ones
        prev = sorted({r["n_buckets"] for r in committed})
        if prev and prev != [n_buckets]:
            raise ValueError(
                f"lineage at {out_dir} was committed with n_buckets={prev}; "
                f"resume must use the same value (got {n_buckets})"
            )
        # reuse guard: the data write replaces the whole run_id=<id>
        # partition, which would delete buckets this id already committed
        if any(r["run_id"] == run_id for r in committed):
            raise ValueError(
                f"run_id {run_id!r} already has committed lineage at {out_dir}; "
                "use a new run id (reuse only retries an attempt that never committed)"
            )
        done = sorted({r["partition_id"] for r in committed})
    bucketed = with_bucket(pages, n_buckets)
    todo = bucketed.filter(~F.col("bucket").isin(done)) if done else bucketed

    processed = sorted(set(range(n_buckets)) - set(done))
    if max_buckets_this_run is not None:
        processed = processed[:max_buckets_this_run]
        todo = todo.filter(F.col("bucket").isin(processed))

    extracted = extract_pages(todo, partitions=partitions)
    # same deterministic bucket fn; the run id is the data partition
    out = with_bucket(extracted, n_buckets).withColumn("run_id", F.lit(run_id))

    # 1) data first — run-replacing write (Iceberg snapshot commit when a
    # catalog is configured; parquet dynamic overwrite otherwise), so a
    # retry of a crashed run replaces its orphans
    sink = write_bucketed(out, spark, path=_data_path(out_dir), table=table)

    # 2) lineage from what's actually written (auditable), written last.
    # Read back through the SINK that was written: the Iceberg table when a
    # catalog took the data, else this run's parquet partition.
    if sink == "iceberg":
        written = spark.table(table)
        snapshot = _current_snapshot(spark, table)
    else:
        written = spark.read.schema(DATA_SCHEMA).parquet(_data_path(out_dir))
        snapshot = -1  # parquet sand-box stand-in has no snapshot ids
    agg_rows = written.filter(F.col("run_id") == run_id).groupBy("bucket").agg(
        F.count("*").alias("rows_out"),
        F.sum(F.col("ok").cast("long")).alias("pages_ok"),
        F.sum((~F.col("ok")).cast("long")).alias("pages_failed"),
        F.sum("bytes_html").alias("bytes_html"),
        F.sum("chars_out").alias("chars_extracted"),
    ).collect()  # ≤ n_buckets small rows — aggregate ONCE, reuse for write+stats
    # rows_in from the INPUT side (column-pruned: bucket derives from url
    # only) — extraction is total/1:1 today, but the paired columns exist to
    # EXPOSE a drop/expand the day a stage introduces one, so they must not
    # share one expression
    in_counts = {r[0]: r[1] for r in todo.groupBy("bucket").count().collect()}
    by_bucket = {r["bucket"]: r.asDict() for r in agg_rows}
    n = len(processed)
    cols = {"partition_id": processed, "run_id": [run_id] * n, "rows_in": [in_counts.get(b, 0) for b in processed]}
    for c in ("rows_out", "pages_ok", "pages_failed", "bytes_html", "chars_extracted"):
        cols[c] = [by_bucket.get(b, {}).get(c) or 0 for b in processed]
    cols.update(input_split=[input_split] * n, n_buckets=[n_buckets] * n, committed_snapshot=[snapshot] * n)
    # from an Arrow table, not a list of rows: the rows go to the JVM as one
    # Arrow stream, with no Python-worker job to reserialize them; ≤ n_buckets
    # rows make one lineage file per run
    lineage = spark.createDataFrame(pa.table(cols), LINEAGE_SCHEMA).coalesce(1)
    lineage.write.mode("append").parquet(_lineage_path(out_dir))

    return {
        "run_id": run_id,
        "buckets_committed": n,
        "rows": sum(cols["rows_out"]),
        "pages_ok": sum(cols["pages_ok"]),
        "pages_failed": sum(cols["pages_failed"]),
        "bytes_html": sum(cols["bytes_html"]),
    }


def _current_snapshot(spark: SparkSession, table: str) -> int:
    """Latest Iceberg snapshot id for the WAP audit trail; -1 when the
    metadata table is unavailable (e.g. dispatch-only sandbox)."""
    try:
        row = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return int(row[0]) if row is not None else -1
    except Exception:
        return -1


def read_extractions(spark: SparkSession, out_dir: str, *, table: str | None = None) -> DataFrame:
    """Committed rows only: data ⋉ lineage on ``(bucket, run_id)`` (the
    semi-join keeps a crashed run's files invisible, exactly-once semantics
    for readers). Pass the same ``table`` the writer used when an Iceberg
    catalog took the data — the parquet dir under ``out_dir`` only exists for
    the parquet sink."""
    if table is not None and choose_sink(spark, table) == "iceberg":
        data = spark.table(table)
    else:
        data = spark.read.schema(DATA_SCHEMA).parquet(_data_path(out_dir))
    lin = read_lineage(spark, out_dir).select(F.col("partition_id").alias("bucket"), "run_id").distinct()
    return data.join(F.broadcast(lin), ["bucket", "run_id"], "left_semi")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(_lineage_path(out_dir))
