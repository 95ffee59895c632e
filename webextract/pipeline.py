"""The Spark DAG: scan → salt/partition → parse → assemble → fields → write.

Re-expresses the reference's pipeline compose
(ocr-ai-service/app/services/document_service.py:90-182, C1) as one lazy
DataFrame plan. The default plan runs the whole per-document oracle in
ONE fused ``mapInArrow`` pass (udfs.extract_batches: Arrow record
batches in and out, no pandas conversion). The staged plan, kept for
reprocess-from-checkpoint (C4), has three stages (SURVEY.md §3.1):

  Stage 1 ``parse``     mapInPandas(oracle.parse_candidates)  — Python
  Stage 2 ``assemble``  native Catalyst: best-of argmax (O3) over the
                        precomputed candidate scores via the ``aggregate``
                        higher-order function, first-wins ties, plus
                        status/error derivation — zero Python
  Stage 3 ``fields``    mapInPandas(fields.extract_spans)     — Python

Scale design (the part that must survive 1000 executors / 100 TB):
- rows are heavy (html blobs up to 50 MB) → Arrow batch size is capped
  (ARROW_BATCH_ROWS) so a batch never holds more than ~tens of MB
- ``bucket`` = pmod(xxhash64(url), n_buckets): a STABLE logical partition
  id, independent of physical partitioning — the unit of lineage and of
  anti-join resume (north_rule). Physical layout = repartition by bucket,
  which also spreads any single skewed host across buckets because the
  hash keys on the full url, not the host (see skew.py for the groupBy
  side of skew handling).
- column pruning: stage 1 selects only (url, warc_ts, html) + derived
  doc_type/bucket; the wide ``text``/``lang`` input columns never leave
  the scan (verified by test_plans.py on PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from . import udfs

ARROW_BATCH_ROWS = 256          # web payloads are typically KBs; the 50 MB
                                # outliers are guarded by S2's size cap, so a
                                # 256-row batch stays in the tens-of-MB range
                                # (measured 2.4× faster than 64 end-to-end)
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


def with_doc_type(df: DataFrame) -> DataFrame:
    """F1 natively in Catalyst (ocr_service.py:170-179): basename-prefix
    classify. Pure expressions — mirrors fields.detect_doc_type exactly
    (upper(basename) startswith BIA / MUCLUC)."""
    base = F.upper(F.element_at(F.split(F.col("url"), "/"), -1))
    return df.withColumn(
        "doc_type",
        F.when(base.startswith("BIA"), F.lit("THONG_TIN_HO_SO"))
        .when(base.startswith("MUCLUC"), F.lit("MUC_LUC_TAI_LIEU"))
        .otherwise(F.lit("THONG_TIN_VAN_BAN")),
    )


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                key: Column | None = None) -> DataFrame:
    """Stable logical bucket id. ``key`` overrides the hashed key
    column (e.g. urls.canonical_url('url') so spelled variants of one
    page co-locate in a bucket — runner canonical_keys). When ``key``
    is None and the frame ALREADY carries a bucket column, it is kept:
    callers like the runner pre-bucket with their chosen key, and the
    extract paths must not silently re-key it back to raw url. A kept
    bucket outside ``[0, n_buckets)`` (or NULL) — a stale column from a
    different bucket count — fails the job when the row is evaluated:
    the guard is a lazy ``raise_error`` in the projection, no extra
    Spark action."""
    if key is None:
        if "bucket" in df.columns:
            b = F.col("bucket")
            return df.withColumn("bucket", F.when(
                (b >= 0) & (b < n_buckets), b.cast("int")).otherwise(
                F.raise_error(F.concat(
                    F.lit(f"bucket outside [0, {n_buckets}): "),
                    F.coalesce(b.cast("string"), F.lit("NULL"))))))
        key = F.col("url")
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    )


def _PRUNED_COLS(pages: DataFrame) -> list[str]:
    """Column pruning for the payload-touching stages: url/ts/html, plus
    a caller-computed ``bucket`` if one rides along (the runner's
    canonical-url keying — with_bucket keeps it instead of re-keying)."""
    keep = ["url", "warc_ts", "html"]
    if "bucket" in pages.columns:
        keep.append("bucket")
    return keep


def stage_parse(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                partitions: int | None = None) -> DataFrame:
    """Stage 1: prune to needed columns, bucket, parse payloads."""
    prepped = with_bucket(
        with_doc_type(pages.select(*_PRUNED_COLS(pages))), n_buckets)
    n_parts = partitions or prepped.sparkSession.conf.get("spark.sql.shuffle.partitions")
    prepped = prepped.repartition(int(n_parts), "bucket")
    return prepped.mapInPandas(udfs.parse_batches, udfs.PARSED_SCHEMA)


def stage_assemble(parsed: DataFrame) -> DataFrame:
    """Stage 2 (pure Catalyst): best-of-candidates argmax O3/D5 with
    first-wins ties — IF(c.score > acc.score) keeps the earlier profile on
    ties, exactly like oracle.best_candidate. Raster-only documents
    (parse kind 'pdf-raster' / 'image/<fmt>') become status=NEEDS_OCR
    with the format stamped into ``error`` — byte-identical to the fused
    path's oracle.extract_document."""
    best = F.expr(
        "CASE WHEN size(candidates) > 0 THEN "
        "aggregate(slice(candidates, 2, size(candidates)), candidates[0], "
        "(acc, c) -> IF(c.score > acc.score, c, acc)) END"
    )
    needs_ocr = (F.col("kind") == "pdf-raster") | \
        F.col("kind").startswith("image/")
    df = parsed.withColumn("best", best)
    return df.select(
        "url", "warc_ts", "doc_type", "bucket",
        F.when(F.col("error").isNotNull(), F.lit("FAILED"))
        .when(needs_ocr, F.lit("NEEDS_OCR"))
        .otherwise(F.lit("COMPLETED")).alias("status"),
        F.coalesce(F.col("best.text"), F.lit("")).alias("text"),
        F.coalesce(F.col("best.blocks"), F.expr(f"CAST(array() AS {udfs.BLOCK_T})"))
        .alias("blocks"),
        F.col("n_pages"), F.col("bytes_in"),
        F.when(F.col("error").isNull() & needs_ocr,
               F.concat(F.lit("needs_ocr: "), F.col("kind")))
        .otherwise(F.col("error")).alias("error"),
        F.col("_wall_ms"),
    )


def stage_fields(assembled: DataFrame) -> DataFrame:
    """Stage 3: regex field registry → spans with char offsets."""
    cols = ("url string, warc_ts timestamp, doc_type string, bucket int, "
            "status string, text string, "
            f"blocks {udfs.BLOCK_T}, n_pages int, bytes_in bigint, error string, "
            f"_wall_ms double, spans {udfs.SPAN_T}, confidence double")
    return assembled.mapInPandas(udfs.fields_batches, cols)


def run_extract_full(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                     partitions: int | None = None,
                     fused: bool = True,
                     repartition: bool = False,
                     profiles: tuple[str, ...] | None = None,
                     patterns_only: bool = False) -> DataFrame:
    """pages → extracted, keeping the lineage side-band columns
    (bucket, bytes_in, _wall_ms).

    fused=True (default): ONE mapInArrow pass running the complete
    per-document oracle (udfs.extract_batches) — candidate texts never
    cross the Arrow boundary, and no pandas frame is built on either
    side of it.
    fused=False: the 3-stage path (parse pUDF → native HOF argmax →
    fields pUDF) used where stage outputs must materialize separately
    (reprocess-from-checkpoint, C4) — byte-identical output by
    construction (both call the same oracle components; tests pin it).

    repartition=False (default): extraction runs DIRECTLY on the scan
    partitions — zero shuffle. Extraction is row-local, so shuffling
    payload bytes before it buys nothing and costs a full disk round-trip
    of the input (at 100 TB, the single worst cost in the job; measured
    1.5-2.5× end-to-end slowdown even at 240k docs). Parallelism comes
    from input splits (tune_input_splits); skew cannot concentrate —
    splits are uniform bytes. repartition=True restores the explicit
    bucket shuffle for callers that need bucket-aligned output partitions
    (the checkpointed runner's commit groups).
    """
    if not fused:
        if profiles is not None or patterns_only:
            raise ValueError("profiles/patterns_only are fused-path options "
                             "(the staged path materializes the full "
                             "ensemble for C4)")
        return stage_fields(stage_assemble(stage_parse(pages, n_buckets, partitions)))
    prepped = with_bucket(pages.select(*_PRUNED_COLS(pages)), n_buckets)
    if repartition:
        n_parts = partitions or prepped.sparkSession.conf.get(
            "spark.sql.shuffle.partitions")
        prepped = prepped.repartition(int(n_parts), "bucket")
    body = (udfs.extract_batches if profiles is None and not patterns_only
            else udfs.make_extract_batches(profiles, patterns_only))
    return prepped.mapInArrow(body, udfs.EXTRACTED_FIELDS_SCHEMA)


def run_extract(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                partitions: int | None = None, fused: bool = True,
                repartition: bool = False,
                profiles: tuple[str, ...] | None = None,
                patterns_only: bool = False) -> DataFrame:
    """pages → extracted (no checkpointing; see runner.py for the
    checkpointed, resumable job)."""
    return run_extract_full(
        pages, n_buckets, partitions, fused, repartition, profiles,
        patterns_only
    ).select(*EXTRACTED_COLUMNS)


def run_extract_cascade_in_batch_full(
        pages: DataFrame, accept: float = 0.7,
        cheap_profiles: tuple[str, ...] = ("strict",),
        n_buckets: int = DEFAULT_BUCKETS, repartition: bool = False,
        cheap_fields: bool = False) -> DataFrame:
    """In-batch cascade keeping the lineage side-band columns (bucket,
    bytes_in, _wall_ms) — the checkpointed runner's variant
    (runner.run_job(cascade='in_batch')). _wall_ms is the cumulative
    batch wall including in-line escalations; lineage takes the
    per-bucket max as usual."""
    prepped = with_bucket(pages.select(*_PRUNED_COLS(pages)), n_buckets)
    if repartition:
        n_parts = prepped.sparkSession.conf.get(
            "spark.sql.shuffle.partitions")
        prepped = prepped.repartition(int(n_parts), "bucket")
    body = udfs.make_extract_batches(cheap_profiles, cheap_fields,
                                     cascade_accept=accept)
    return prepped.mapInArrow(body, udfs.EXTRACTED_FIELDS_SCHEMA)


def run_extract_cascade_in_batch(pages: DataFrame, accept: float = 0.7,
                                 cheap_profiles: tuple[str, ...] = ("strict",),
                                 n_buckets: int = DEFAULT_BUCKETS,
                                 cheap_fields: bool = False) -> DataFrame:
    """M12 cascade, IN-BATCH plan (r4): the gate/escalation runs per
    document inside the single fused ``mapInArrow`` pass
    (oracle.extract_document_cascade), so the plan is IDENTICAL to the
    fixed path — zero shuffle, no pass-1 cache materialization, no
    second input scan, no merge joins. Output is row-identical to
    ``run_extract_cascade`` *for a matching ``cheap_fields`` value*
    (same per-document decision rule; pinned at both settings by
    tests/test_cascade.py), and both paths default to
    ``cheap_fields=False`` — this is the cascade shape
    that actually beats the fixed path on a DOM-dominated corpus
    (BENCH.md r4), and the one to reach for at 100 TB: the two-pass
    plan re-reads escalated payload bytes from the source, which only
    wins when escalation is rare AND the source re-scan is cheaper than
    in-line escalation (never, for an in-memory batch)."""
    return run_extract_cascade_in_batch_full(
        pages, accept, cheap_profiles, n_buckets,
        cheap_fields=cheap_fields).select(*EXTRACTED_COLUMNS)


def run_extract_cascade(pages: DataFrame, accept: float = 0.7,
                        cheap_profiles: tuple[str, ...] = ("strict",),
                        n_buckets: int = DEFAULT_BUCKETS,
                        cheap_fields: bool = False) -> DataFrame:
    """M12 — the reference's confidence-gated engine cascade
    (ai_service_local.py:513-537: local result ≥ threshold → accept;
    below → try the expensive engine, keep the strictly-better result) as
    a deterministic document-level two-pass plan:

    - pass 1 extracts EVERYTHING with the cheap single-profile engine;
    - only COMPLETED documents whose overall field confidence lands below
      ``accept`` are re-extracted with the full candidate ensemble
      (left-semi join on url before the payload-touching map, so pass 2
      re-reads only that fraction of the input bytes);
    - per document the higher-confidence result wins, pass-1 keeping ties
      (strictly-greater, like the reference's openai-vs-local pick).

    Config-off by design: ``run_extract`` stays the fixed deterministic
    default (SURVEY §7.4); the cascade is itself deterministic, just a
    different accept policy. At 100 TB this is the adaptive-cost story —
    the confident majority never pays the ensemble.

    ``cheap_fields=True`` additionally runs pass 1 with the patterns-only
    fields arm (fields.extract_spans patterns_only — no sentence split /
    proximity / entity / fallback scans): pass 1 accepts only when every
    REQUIRED field is pattern-hit (fields.py gate semantics, r4), else
    escalates. NOTE on economics (r4, honest numbers): this TWO-PASS
    plan pays a pass-1 cache materialization + second input scan +
    merge joins, which on a DOM-dominated corpus eats the cheap-arm
    saving (~1.2-1.8× the fixed wall); use
    ``run_extract_cascade_in_batch`` for the plan whose adaptive cost
    actually lands under the fixed path (row-identical output). The
    two-pass shape remains the right one when pass-2 must run a
    DIFFERENT, externally-costed engine (the reference's rules-vs-LLM
    regime) or materialize pass-1 results anyway (the checkpointed
    runner)."""
    return _cascade(
        pages, accept, EXTRACTED_COLUMNS,
        lambda p, prof: run_extract(
            p, n_buckets=n_buckets, profiles=prof,
            patterns_only=cheap_fields and prof is not None),
        cheap_profiles)


def run_extract_cascade_full(pages: DataFrame, accept: float = 0.7,
                             cheap_profiles: tuple[str, ...] = ("strict",),
                             n_buckets: int = DEFAULT_BUCKETS,
                             repartition: bool = False,
                             cheap_fields: bool = False) -> DataFrame:
    """Cascade variant keeping the lineage side-band columns (bucket,
    bytes_in, _wall_ms) — what the checkpointed runner commits
    (runner.run_job(cascade=True)). _wall_ms of a retried document is
    the winning pass's cumulative batch wall; lineage takes the
    per-bucket max either way (an upper bound, same contract)."""
    cols = ["url", "warc_ts", "doc_type", "bucket", "status", "text",
            "spans", "blocks", "confidence", "n_pages", "bytes_in",
            "error", "_wall_ms"]
    return _cascade(
        pages, accept, cols,
        lambda p, prof: run_extract_full(
            p, n_buckets=n_buckets, repartition=repartition, profiles=prof,
            patterns_only=cheap_fields and prof is not None),
        cheap_profiles)


def _cascade(pages: DataFrame, accept: float, cols: list[str],
             extractor, cheap_profiles: tuple[str, ...]) -> DataFrame:
    first = extractor(pages, cheap_profiles)
    first = first.persist()
    # eager: THREE consumers fan out over pass 1 (accepted rows, low rows,
    # and the retry semi-join) — racing a cold cache recomputes the whole
    # extraction per consumer (measured 13 s → 32 s at 240k docs), so pay
    # one materialization up front and let everyone read the cached rows
    first.count()
    is_low = ((F.col("status") == "COMPLETED")
              & (F.col("confidence") < F.lit(accept)))
    accepted = first.filter(~is_low)
    low = first.filter(is_low)
    # document key is (url, warc_ts): a Common-Crawl-style corpus holds
    # multiple snapshots of one url, and keying the retry/merge on url
    # alone would re-extract and cross-join ALL snapshots of a url that
    # has any low one (row amplification in the committed output)
    key = ["url", "warc_ts"]
    semi_on = None
    for k in key:  # null-safe: a null warc_ts must not silently exclude
        cond = F.col(f"p.{k}").eqNullSafe(F.col(f"l.{k}"))
        semi_on = cond if semi_on is None else semi_on & cond
    retry = (pages.alias("p")
             .join(low.select(*key).alias("l"), semi_on, "left_semi"))
    second = extractor(retry, None)
    a, b = low.alias("a"), second.alias("b")
    pick = F.when(
        F.col("b.confidence") > F.col("a.confidence"),
        F.struct(*[F.col(f"b.{c}").alias(c) for c in cols]),
    ).otherwise(
        F.struct(*[F.col(f"a.{c}").alias(c) for c in cols]))
    on = None
    for k in key:
        cond = F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
        on = cond if on is None else on & cond
    # LEFT join: a low row can never be dropped (extraction is total, so
    # a pass-2 twin always exists, but the merge must not rely on it);
    # a missing b side leaves the strictly-greater test false → a wins
    merged = (a.join(b, on, "left")
              .select(pick.alias("_r")).select("_r.*"))
    out = accepted.select(*cols).unionByName(merged)
    from .cache import track
    return track(out, first)


def layout_by_url(extracted: DataFrame, n_files: int | None = None,
                  key: Column | None = None) -> DataFrame:
    """Output layout for the extracted table: range-partition by url and
    sort within partitions (north_star: "bounds shuffle via
    repartitionByRange on url"). This is the ONE place the extracted rows
    shuffle — after extraction, when rows are text-sized, never payloads.
    It buys Iceberg/parquet min-max pruning for P1 point lookups and
    url-prefix scans: each output file owns a contiguous url range.
    ``key`` overrides the range/sort key (runner canonical_keys lays
    out by urls.canonical_url so spelled variants of one page land in
    the same file/range; url stays the tiebreak sort)."""
    n = n_files or int(extracted.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if key is None:
        return extracted.repartitionByRange(n, "url").sortWithinPartitions("url")
    return (extracted.repartitionByRange(n, key)
            .sortWithinPartitions(key, "url"))


def tune_input_splits(spark: SparkSession, input_bytes: int,
                      cpus: int | None = None, waves: int = 5,
                      floor_bytes: int = 1 << 20,
                      cap_bytes: int = 128 << 20) -> int:
    """Set spark.sql.files.maxPartitionBytes so the scan yields about
    ``waves`` task waves per core — fine-grained enough that the last
    wave can't idle most of the cluster (wave quantization: 44 tasks on
    32 cores = 1.4 waves = ~30% idle time), coarse enough that per-task
    overhead stays negligible. Call BEFORE spark.read of the input."""
    n_cpus = cpus or int(spark.sparkContext.defaultParallelism)
    target = max(floor_bytes, min(cap_bytes, input_bytes // max(1, n_cpus * waves)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    return target


def lineage_of(stage_df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-bucket lineage rows (FIXTURES.md §3) from a stage output that
    carries bucket/bytes_in/error/_wall_ms. ``wall_ms`` is the max
    cumulative batch wall time observed in the bucket's physical
    partition (upper bound of the bucket's processing time).
    NEEDS_OCR rows (error 'needs_ocr: <fmt>') count as OK — the job
    successfully CLASSIFIED them for a downstream OCR stage; fail_count
    remains exactly the FAILED rows, so lineage dashboards don't page
    on a corpus that is simply full of scans."""
    ok = F.col("error").isNull() | F.col("error").startswith("needs_ocr: ")
    return (
        stage_df.groupBy(F.col("bucket").alias("partition_id"))
        .agg(
            F.count("*").alias("input_count"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum(F.when(ok, 1).otherwise(0)).alias("ok_count"),
            F.sum(F.when(ok, 0).otherwise(1)).alias("fail_count"),
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
