"""Resumable batch job: commit-group loop + bucket-filter resume (north_rule).

A 10^12-row job WILL be killed mid-flight. Spark gives durability only at
action boundaries, so the runner splits the stable bucket space
(bucket = pmod(xxhash64(url), n_buckets), pipeline.with_bucket) into
``commit_groups`` contiguous ranges and commits each group's
``extracted`` output + per-bucket ``lineage`` rows atomically to the
checkpoint catalog. A killed run leaves complete groups durable; the next
run reads the completed buckets from lineage and runs each group as one
filter ``bucket IN (its pending buckets)`` and one extraction map over
the scan splits (no join, no shuffle) — the resume mechanic the
north_rule demands, at bucket granularity. Re-running a finished job is
a no-op (idempotence).

Scan-amplification note: ``bucket`` is computed
from ``xxhash64(url)`` after the scan, so no input layout prunes the
group filter (the group plan shows ``PushedFilters: []``): with G commit
groups the loop reads the full payload bytes G times — ~8× scan I/O at
100 TB. Only staging bounds it:

1. **stage_input=True.** One full pass writes the pruned
   (url, warc_ts, html, bucket) columns of the pending buckets,
   partitioned by commit group, into the checkpoint dir; each group job
   then reads ONLY its partition directory. Total payload I/O = 1 read +
   1 write + 1 read (~3×) instead of G reads, independent of G — and
   the staged copy is already column-pruned.
2. **stage_input=False (default).** Correct and durable, G full scans;
   acceptable for small G / small inputs (tests, demos).

On a 1000-executor cluster you'd size commit_groups so one group ≈
15-60 min of work: failure loses at most one group.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import pipeline, udfs
from .checkpoint import Catalog

EXTRACTED_TABLE = "extracted"
LINEAGE_TABLE = "lineage"


def completed_buckets(spark: SparkSession, catalog: Catalog) -> set[int]:
    lin = catalog.read(spark, LINEAGE_TABLE)
    if lin is None:
        return set()
    rows = (
        lin.filter(F.col("stage") == "final")
        .select("partition_id").distinct().collect()
    )
    return {r["partition_id"] for r in rows}


def _sweep_stale_staged(out_root: str) -> None:
    """Remove `_staged_input_*` scratch dirs left by a killed run. The
    in-run try/finally covers exceptions, but a SIGKILL (the failure mode
    the runner is designed around) skips finally blocks — and each resume
    uses a fresh run_id, so stale full-payload copies would accumulate."""
    try:
        entries = os.listdir(out_root)
    except FileNotFoundError:
        return
    for e in entries:
        if e.startswith("_staged_input_"):
            shutil.rmtree(os.path.join(out_root, e), ignore_errors=True)


def _keying(catalog: Catalog) -> dict:
    """The recorded bucket keying; raw url over DEFAULT_BUCKETS if none."""
    props = catalog.properties(EXTRACTED_TABLE)
    return {"n_buckets": props.get("n_buckets", pipeline.DEFAULT_BUCKETS),
            "canonical_keys": bool(props.get("canonical_keys", False))}


def _bucket_key(canonical_keys: bool):
    """The column a job hashes into buckets: None (the raw url) or the
    canonical url."""
    if not canonical_keys:
        return None
    from .urls import canonical_url
    return canonical_url("url")


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    run_id: str | None = None,
    n_buckets: int = pipeline.DEFAULT_BUCKETS,
    commit_groups: int = 8,
    max_groups: int | None = None,
    sorted_layout: bool = False,
    stage_input: bool = False,
    cascade: bool = False,
    accept: float = 0.7,
    cheap_fields: bool = False,
    canonical_keys: bool = False,
) -> DataFrame:
    """Run (or resume) the extraction job; returns the full extracted
    table as of the last commit. ``max_groups`` limits how many commit
    groups this invocation processes (test hook simulating a kill).
    ``sorted_layout`` range-partitions each commit's output by url
    (pipeline.layout_by_url) for point-lookup/min-max pruning.
    ``stage_input`` materializes the pending input once, partitioned by
    commit group, so per-group jobs read 1/G of the payload bytes
    instead of re-scanning everything (see module docstring).
    Each group is extracted by ONE pipeline.run_extract_full map.
    ``cascade=True`` runs that map with the M12 confidence-gated cascade
    body (udfs.cascade_batches: ``accept`` gate, per-document escalation
    from the same parse, the cheap pass patterns-only when
    ``cheap_fields``) — same resume and lineage; it costs about the
    fixed map, less only with cheap_fields.

    ``canonical_keys=True`` keys the resume bucketing AND the sorted
    output layout on ``urls.canonical_url(url)`` instead of the raw
    url: spelled variants of one page (www., default ports, utm_*
    params, trailing slashes) collapse onto ONE bucket — they travel
    in the same commit group, land in the same output url-range, and a
    downstream per-bucket dedup needs no further shuffle. Output ROWS
    are unchanged (every input row still extracts; collapsing variant
    rows is dedup.exact_dedup / urls.with_canonical_url composition,
    kept out of the runner so the flag never shuffles payload bytes) —
    pinned by the kill/resume equivalence test at both flag values.
    Another ``n_buckets`` or keying numbers buckets differently, so
    resuming with ones other than those recorded raises ValueError.

    Concurrency contract: ONE live run_job per ``out_root``. Two
    concurrent runners would both see the same pending buckets and
    append duplicate rows (the catalog's CAS commits keep every snapshot
    intact, but job-level idempotence is bucket-resume-based and assumes
    a single driver — kill-and-restart, not parallel drivers). The
    stale-staged-dir sweep below relies on the same contract. Concurrent
    writers to DIFFERENT tables under one root (e.g. reprocess_fields
    writing extracted_v2 while a TTL job expires snapshots) are safe —
    that is what the manifest CAS serializes."""
    run_id = run_id or pipeline.new_run_id()
    catalog = Catalog(out_root)
    _sweep_stale_staged(out_root)
    keying = {"n_buckets": n_buckets, "canonical_keys": canonical_keys}
    done = completed_buckets(spark, catalog)
    recorded = _keying(catalog)
    if done and recorded != keying:
        raise ValueError(
            f"{out_root} holds buckets committed under {recorded}; "
            f"resuming it with {keying} would skip or repeat rows")
    # the bucket keying, for resumes and reprocess_fields' lineage rows
    catalog.set_properties(EXTRACTED_TABLE, keying)

    # lineage-driven resume: done buckets are in no group's filter
    group_of = lambda b: b * commit_groups // n_buckets  # noqa: E731
    pending_groups: list[list[int]] = [[] for _ in range(commit_groups)]
    for b in range(n_buckets):
        if b not in done:
            pending_groups[group_of(b)].append(b)

    key = _bucket_key(canonical_keys)
    prepped = pipeline.with_bucket(pages, n_buckets, key=key)
    body = (udfs.cascade_batches(accept, cheap_fields) if cascade
            else udfs.extract_batches)
    staged_dir = None
    try:
        if stage_input and any(pending_groups):
            staged_dir = os.path.join(out_root, f"_staged_input_{run_id}")
            pending = [b for buckets in pending_groups for b in buckets]
            (
                prepped.filter(F.col("bucket").isin(pending))
                .select("url", "warc_ts", "html", "bucket")
                .withColumn(
                    "cgroup",
                    F.expr(f"CAST(bucket * {commit_groups} DIV {n_buckets} AS INT)"))
                .write.partitionBy("cgroup").mode("overwrite").parquet(staged_dir)
            )
            prepped = spark.read.parquet(staged_dir)

        processed = 0
        for g, buckets in enumerate(pending_groups):
            if not buckets:
                continue
            if max_groups is not None and processed >= max_groups:
                break
            if staged_dir is not None:
                # partition-column filter → directory pruning: reads 1/G bytes
                chunk = prepped.filter(F.col("cgroup") == g).drop("cgroup")
            else:
                chunk = prepped.filter(F.col("bucket").isin(buckets))
            extracted = pipeline.run_extract_full(chunk, body)
            # one pass per group: cache so extracted + lineage don't recompute
            extracted = extracted.persist()
            try:
                out_rows = extracted.select(*pipeline.EXTRACTED_COLUMNS)
                if sorted_layout:
                    out_rows = pipeline.layout_by_url(out_rows, key=key)
                catalog.append(EXTRACTED_TABLE, out_rows)
                # every bucket of the group gets a row, empty ones too:
                # completed_buckets reads lineage, so a bucket missing
                # from it would re-run its group on every resume
                catalog.append(LINEAGE_TABLE, pipeline.lineage_of(
                    extracted, run_id, "final", buckets))
            finally:
                extracted.unpersist()
            processed += 1
    finally:
        if staged_dir is not None:
            # staged copy is scratch, not a checkpoint: resume re-stages the
            # pending remainder, so drop it even on a failed run —
            # it is a full column-pruned payload copy, not something to leak
            shutil.rmtree(staged_dir, ignore_errors=True)

    out = catalog.read(spark, EXTRACTED_TABLE)
    if out is None:
        return (spark.createDataFrame([], udfs.EXTRACTED_FIELDS_SCHEMA)
                .select(*pipeline.EXTRACTED_COLUMNS))
    return out


def reprocess_fields(
    spark: SparkSession,
    out_root: str,
    out_table: str = "extracted_v2",
    run_id: str | None = None,
    version: int | None = None,
) -> DataFrame:
    """C4 reprocess-from-cache: re-run field extraction over the saved
    text of the ``extracted`` table (pinned to catalog snapshot
    ``version``, the latest by default) — zero payload re-reads.
    Candidate scores are fixed at parse time, so a field-registry
    change needs only (text, doc_type, status) (reference analogue:
    reprocess-with-cached-OCR, document_service.py:253-282). Returns the
    new extracted table; writes it under ``out_table`` and lineage rows
    with stage 'reprocess', bucketed as the job that wrote the table
    bucketed its input (``n_buckets`` and ``canonical_keys``, as
    ``run_job`` recorded them; by raw url over DEFAULT_BUCKETS when the
    catalog holds no record). ``bytes_in`` counts the text bytes read."""
    run_id = run_id or pipeline.new_run_id()
    catalog = Catalog(out_root)
    saved = catalog.read(spark, EXTRACTED_TABLE, version=version)
    if saved is None:
        raise ValueError(f"no {EXTRACTED_TABLE} table under {out_root}")
    keying = _keying(catalog)
    n_buckets = keying["n_buckets"]
    redone = (
        pipeline.with_bucket(saved, n_buckets,
                             key=_bucket_key(keying["canonical_keys"]))
        .withColumn("bytes_in", F.octet_length("text").cast("bigint"))
        .mapInArrow(udfs.respan_batches, udfs.EXTRACTED_FIELDS_SCHEMA)
        .persist())
    try:
        catalog.append(out_table, redone.select(*pipeline.EXTRACTED_COLUMNS))
        catalog.append(LINEAGE_TABLE, pipeline.lineage_of(
            redone, run_id, "reprocess", range(n_buckets)))
    finally:
        redone.unpersist()
    return catalog.read(spark, out_table)
