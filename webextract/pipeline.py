"""The Spark DAG: scan → prune → extract → write.

Re-expresses the reference's pipeline compose
(ocr-ai-service/app/services/document_service.py:90-182, C1) as one lazy
DataFrame plan. Extraction is ONE fused ``mapInArrow`` pass
(``run_extract_full`` over udfs.extract_batches: Arrow record batches in
and out, no pandas conversion) that runs the whole per-document oracle —
parse, best-of argmax (O3), fields — so Spark output is the oracle's
output by construction. The M12 cascade is the same map with another
body (udfs.cascade_batches).

Scale design (the part that must survive 1000 executors / 100 TB):
- rows are heavy (html blobs up to 50 MB); a batch is cut at
  ARROW_BATCH_ROWS rows, which bounds no bytes: Spark's
  ``arrow.maxBytesPerBatch`` (64 MiB) bounds an input batch, nothing
  bounds an output batch
- extraction is row-local, so ``run_extract`` runs the map directly on
  the scan partitions: no shuffle, no bucket. Shuffling payload bytes
  before it buys nothing and costs a full disk round-trip of the input
  (at 100 TB, the single worst cost in the job; measured 1.5-2.5×
  end-to-end slowdown even at 240k docs). Parallelism comes from input
  splits (tune_input_splits); skew cannot concentrate, as splits are
  uniform bytes.
- ``bucket`` = pmod(xxhash64(url), n_buckets) (with_bucket): a STABLE
  logical partition id, independent of physical partitioning, and the
  unit of lineage and of resume (north_rule). Only the checkpointed
  runner computes it, to filter each commit group and key lineage; the
  hash keys on the full url, not the host, so one skewed host still
  spreads across buckets (see skew.py for the groupBy side of skew).
- column pruning: extraction reads only (url, warc_ts, html) + the
  bucket; the wide ``text``/``lang`` input columns never leave the scan
  (verified by test_plans.py on PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from . import udfs

ARROW_BATCH_ROWS = 256          # rows per Arrow batch (measured 2.4× faster
                                # than 64 end-to-end); it bounds no bytes:
                                # input batches are held to 64 MiB by Spark's
                                # arrow.maxBytesPerBatch, output ones by nothing
DEFAULT_BUCKETS = 64            # logical lineage/resume buckets per run

EXTRACTED_COLUMNS = [
    "url", "warc_ts", "doc_type", "status", "text", "spans", "blocks",
    "confidence", "n_pages", "error",
]

LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_id int, input_count bigint, "
    "bytes_in bigint, ok_count bigint, fail_count bigint, wall_ms double, "
    "finished_at timestamp"
)


def package_zip() -> str:
    """Zip this package for --py-files-style shipping to executors
    (north_rule: the job ships as spark-submit --py-files). Cached per
    content in the system temp dir."""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    names = sorted(f for f in os.listdir(pkg_dir) if f.endswith(".py"))
    h = hashlib.sha256()
    for f in names:
        with open(os.path.join(pkg_dir, f), "rb") as fh:
            h.update(f.encode())
            h.update(fh.read())
    out = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"webextract-{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(out):
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for f in names:
                z.write(os.path.join(pkg_dir, f), arcname=f"webextract/{f}")
        os.replace(tmp, out)
    return out


def build_session(
    cpus: int | str | None = None,
    app: str = "webextract",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("WEBEXTRACT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``webextract`` importable on executors regardless of driver
    cwd — the local-mode equivalent of ``spark-submit --py-files``."""
    spark.sparkContext.addPyFile(package_zip())


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                key: Column | None = None) -> DataFrame:
    """Stable logical bucket id ``pmod(xxhash64(key), n_buckets)``.
    ``key`` overrides the hashed key column, the raw url by default
    (e.g. urls.canonical_url('url') so spelled variants of one page
    co-locate in a bucket — runner canonical_keys)."""
    return df.withColumn("bucket", F.pmod(
        F.xxhash64(F.col("url") if key is None else key),
        F.lit(n_buckets)).cast("int"))


def run_extract_full(pages: DataFrame,
                     body=udfs.extract_batches) -> DataFrame:
    """pages (url, warc_ts, html, bucket) → extracted, keeping the
    lineage side-band columns (bucket, bytes_in, _wall_ms): ONE
    mapInArrow pass of ``body`` (udfs.extract_batches, or
    udfs.cascade_batches for the M12 cascade) running the complete
    per-document oracle — candidate texts never cross the Arrow
    boundary, and no pandas frame is built on either side of it.
    It runs on the partitions it is given and adds no shuffle."""
    return pages.select("url", "warc_ts", "html", "bucket").mapInArrow(
        body, udfs.EXTRACTED_FIELDS_SCHEMA)


def _extracted(pages: DataFrame, body) -> DataFrame:
    """The public extraction projection of ``body`` run directly on the
    scan partitions; the bucket column is NULL, as no caller reads it."""
    return run_extract_full(
        pages.withColumn("bucket", F.lit(None).cast("int")), body
    ).select(*EXTRACTED_COLUMNS)


def run_extract(pages: DataFrame) -> DataFrame:
    """pages → extracted (no checkpointing; see runner.py for the
    checkpointed, resumable job)."""
    return _extracted(pages, udfs.extract_batches)


def run_extract_cascade_in_batch(pages: DataFrame, accept: float = 0.7,
                                 cheap_fields: bool = False) -> DataFrame:
    """M12 — the reference's confidence-gated engine cascade
    (ai_service_local.py:513-537: local result ≥ threshold → accept;
    below → try the expensive engine, keep the strictly-better result),
    per document inside the single fused ``mapInArrow`` pass
    (oracle.extract_document_cascade), from ONE parse: the cheap pass
    takes the strict-profile candidate; a COMPLETED document whose field
    confidence lands below ``accept`` escalates to the best-of candidate
    of the same parse; the cheap result keeps ties. Same plan as the
    fixed path. ``cheap_fields=True`` runs the cheap pass with the
    patterns-only fields arm: it accepts only when every REQUIRED field
    is pattern-hit, else the document escalates. An escalation re-runs
    only the fields, so the cascade costs about ``run_extract``; only
    ``cheap_fields`` can make it cheaper, and with it the cascade costs
    at most the full path plus the patterns-only fields step.

    Config-off by design: ``run_extract`` stays the fixed deterministic
    default (SURVEY §7.4); the cascade is itself deterministic, just a
    different accept policy."""
    return _extracted(pages, udfs.cascade_batches(accept, cheap_fields))


def layout_by_url(extracted: DataFrame,
                  key: Column | None = None) -> DataFrame:
    """Output layout for the extracted table: range-partition by url into
    ``spark.sql.shuffle.partitions`` files and sort within partitions
    (north_star: "bounds shuffle via repartitionByRange on url"). This
    shuffles extracted rows, which are text-sized, never payloads.
    It buys Iceberg/parquet min-max pruning for P1 point lookups and
    url-prefix scans: each output file owns a contiguous url range.
    ``key`` overrides the range/sort key (runner canonical_keys lays
    out by urls.canonical_url so spelled variants of one page land in
    the same file/range; url stays the tiebreak sort)."""
    n = int(extracted.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if key is None:
        return extracted.repartitionByRange(n, "url").sortWithinPartitions("url")
    return (extracted.repartitionByRange(n, key)
            .sortWithinPartitions(key, "url"))


def tune_input_splits(spark: SparkSession, input_bytes: int) -> int:
    """Set spark.sql.files.maxPartitionBytes so the scan yields about
    five task waves per core — fine-grained enough that the last wave
    can't idle most of the cluster (wave quantization: 44 tasks on 32
    cores = 1.4 waves = ~30% idle time), coarse enough that per-task
    overhead stays negligible; a split stays within [1 MiB, 128 MiB].
    Call BEFORE spark.read of the input."""
    n_cpus = int(spark.sparkContext.defaultParallelism)
    target = max(1 << 20, min(128 << 20, input_bytes // (n_cpus * 5)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    return target


def lineage_of(stage_df: DataFrame, run_id: str, stage: str,
               buckets: Iterable[int]) -> DataFrame:
    """Per-bucket lineage rows (FIXTURES.md §3) from a stage output that
    carries bucket/bytes_in/error/_wall_ms, one row for every bucket in
    ``buckets`` (the buckets the stage processed) and for every bucket
    the rows carry. A processed bucket with no input rows gets zero
    counters and ``wall_ms`` 0: it still counts as done, so a resume
    never re-runs its commit group. ``wall_ms`` is the max cumulative
    batch wall time of the tasks holding the bucket's rows; as no
    shuffle co-locates them, every bucket of a commit group gets about
    the wall of the group's slowest task (an upper bound).
    NEEDS_OCR rows (error 'needs_ocr: <fmt>') count as OK — the job
    successfully CLASSIFIED them for a downstream OCR stage; fail_count
    remains exactly the FAILED rows, so lineage dashboards don't page
    on a corpus that is simply full of scans."""
    ok = F.col("error").isNull() | F.col("error").startswith("needs_ocr: ")
    rows = stage_df.select(
        F.col("bucket").alias("partition_id"),
        F.lit(1).alias("n"),
        "bytes_in",
        F.when(ok, 1).otherwise(0).alias("ok"),
        F.when(ok, 0).otherwise(1).alias("fail"),
        "_wall_ms",
    )
    # one all-zero row per processed bucket rides the same aggregation;
    # built in Catalyst (createDataFrame would run a Python task)
    zeros = stage_df.sparkSession.range(1, numPartitions=1).select(
        F.explode(F.array(*[F.lit(int(b)) for b in buckets]))
        .alias("partition_id"),
        F.lit(0).alias("n"),
        F.lit(0).cast("bigint").alias("bytes_in"),
        F.lit(0).alias("ok"),
        F.lit(0).alias("fail"),
        F.lit(0.0).alias("_wall_ms"),
    )
    return (
        rows.unionByName(zeros).groupBy("partition_id")
        .agg(
            F.sum("n").alias("input_count"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("ok").alias("ok_count"),
            F.sum("fail").alias("fail_count"),
            F.max("_wall_ms").alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id", "input_count", "bytes_in", "ok_count", "fail_count",
            "wall_ms",
            F.current_timestamp().alias("finished_at"),
        )
    )


def new_run_id() -> str:
    return time.strftime("%Y%m%d%H%M%S") + "-" + uuid.uuid4().hex[:8]
