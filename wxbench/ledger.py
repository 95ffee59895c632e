"""The traced run (``--trace 1``): per-layer metrics for one workload.

Every probe runs from the benchmark's own files. Spans come from
``Tracer.wrap``, which swaps a module attribute for a recording wrapper
for the length of one probe; Spark-side numbers come from probe jobs
and from Spark's status store. Probes, in order:

1. four end-to-end jobs, untraced / traced / traced / untraced (traced:
   the workload's entry points in this process wrapped):
   ``trace.overhead_frac``, and the status-store task, GC, shuffle and
   spill numbers of the untraced jobs;
2. scan / Arrow hop / sink probes on the workload's own input;
3. the oracle layers in this process over a seeded sample of the
   workload's own documents (``hygiene_text``: crawl-mix pages from the
   seed's disjoint offset), then ``udfs.extract_batches`` over the same
   sample in Arrow-sized pandas batches;
4. ``warc.parse_warc`` over one archive (``pdf_warc``: one of its own;
   otherwise one written from the sample);
5. ``runner.run_job`` resuming a catalog with half of its commit groups
   committed (``resume_job``: the traced end-to-end jobs; otherwise a
   probe over the sample);
6. the hygiene operators one at a time on materialised inputs, then
   composed (``hygiene_text``: its own rows; otherwise the sample's
   extracted text).
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
import tracemalloc

from . import common, inputs
from .trace import Tracer

SAMPLE_DOCS = 1000


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _per_doc_us(seconds: float, docs: int) -> float:
    return seconds * 1e6 / docs


# ------------------------------------------------------------ spark side


def _hop_pages(it):
    """Identity-shaped ``mapInPandas`` body with the extraction output
    schema: the payload crosses into Python, one minimal row per input
    row crosses back."""
    import pandas as pd
    for pdf in it:
        n = len(pdf)
        cols = pdf.columns
        payload = pdf["html"] if "html" in cols else pdf["content"]
        yield pd.DataFrame({
            "url": pdf["url"] if "url" in cols else [""] * n,
            "warc_ts": pdf["warc_ts"] if "warc_ts" in cols else [None] * n,
            "doc_type": [""] * n,
            "bucket": pdf["bucket"] if "bucket" in cols else [0] * n,
            "status": [""] * n, "text": [""] * n,
            "spans": [[]] * n, "blocks": [[]] * n,
            "confidence": [0.0] * n, "n_pages": [0] * n,
            "bytes_in": [len(b) for b in payload],
            "error": [None] * n, "_wall_ms": [0.0] * n,
        })


def _hop_identity(it):
    yield from it


def hop_frame(wl, spark):
    from webextract import udfs
    scan = wl.scan(spark)
    if wl.name == "hygiene_text":
        return scan.mapInPandas(_hop_identity, scan.schema)
    return scan.mapInPandas(_hop_pages, udfs.EXTRACTED_FIELDS_SCHEMA)


class StatusStore:
    """Task metrics of the jobs run under one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def tasks(self, name: str) -> list[dict]:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = []
        for jid in st.getJobIdsForGroup(name):
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                tl = store.taskList(sid, 0, 1 << 20)
                for i in range(tl.size()):
                    t = tl.apply(i)
                    if not (t.duration().isDefined()
                            and t.taskMetrics().isDefined()):
                        continue
                    m = t.taskMetrics().get()
                    out.append({
                        "duration_s": t.duration().get() / 1000.0,
                        "gc_s": m.jvmGcTime() / 1000.0,
                        "shuffle_write_b": m.shuffleWriteMetrics().bytesWritten(),
                        "spill_b": m.diskBytesSpilled() + m.memoryBytesSpilled(),
                    })
        return out


def spark_metrics(tasks: list[dict]) -> dict:
    durs = [t["duration_s"] for t in tasks] or [0.0]
    p50 = statistics.median(durs)
    return {
        "spark.task_p50_s": (p50, "s"),
        "spark.task_max_over_p50": (max(durs) / p50 if p50 else 0.0, "ratio"),
        "spark.gc_s": (sum(t["gc_s"] for t in tasks), "s"),
        "spark.shuffle_write_mb": (
            sum(t["shuffle_write_b"] for t in tasks) / 1e6, "MB"),
        "spark.spill_mb": (sum(t["spill_b"] for t in tasks) / 1e6, "MB"),
        "spark.tasks": (len(tasks), "count"),
    }


# ------------------------------------------------------------ targets


def entry_targets(wl) -> list:
    """The workload's entry points called in this process (end-to-end
    traced jobs)."""
    from webextract import dedup, pipeline, textstats, urls, warc
    if wl.name == "resume_job":
        return runner_targets()
    if wl.name == "pdf_warc":
        return [(warc, "extract_warc", "warc.extract_warc")]
    if wl.name == "hygiene_text":
        return [(urls, "host_quota", "urls.host_quota"),
                (dedup, "dedup_paragraphs", "dedup.dedup_paragraphs"),
                (textstats, "gopher_quality_flags",
                 "textstats.gopher_quality_flags")]
    return [(pipeline, "run_extract", "pipeline.run_extract")]


def runner_targets() -> list:
    from webextract import checkpoint, pipeline, runner
    return [(runner, "run_job", "runner.run_job"),
            (runner, "completed_buckets", "runner.completed_buckets"),
            (pipeline, "run_extract_full", "runner.group"),
            (checkpoint.Catalog, "append", "checkpoint.append",
             lambda a, k: {"table": a[1]})]


def oracle_targets() -> list:
    from webextract import fields, oracle
    return [
        (oracle, "extract_document", "oracle.extract_document"),
        (oracle, "parse_candidates", "oracle.parse_candidates"),
        (oracle, "parse_html", "dom.parse_html"),
        (oracle, "blocks_of", "boiler.blocks_of"),
        (oracle, "candidates", "boiler.candidates"),
        (oracle, "extract_pdf", "pdfrun.extract_pdf"),
        (oracle, "extract_spans", "fields.extract_spans"),
        (fields, "sentences_of", "fields.sentences_of"),
        (fields, "entity_firsts", "fields.entity_firsts"),
        (fields, "extract_field", "fields.extract_field"),
        (fields, "proximity_candidate", "fields.proximity_candidate"),
    ]


# ------------------------------------------------------------ probes


def oracle_probe(tracer: Tracer, docs) -> tuple[dict, list[dict]]:
    from webextract import oracle
    n = len(docs)
    for url, payload in docs[:50]:  # first calls fill regex/decoder caches
        oracle.extract_document(url, payload)
    per_doc, results = [], []
    for url, payload in docs:  # untraced: wall and per-document tail
        t0 = time.perf_counter()
        results.append(oracle.extract_document(url, payload))
        per_doc.append(time.perf_counter() - t0)
    wall = sum(per_doc)
    with tracer.span("probe.oracle"):
        with tracer.wrap_all(oracle_targets()):
            for url, payload in docs:
                oracle.extract_document(url, payload)
    us = lambda name: _per_doc_us(tracer.self_total(name), n)  # noqa: E731
    layer_self = sum(tracer.self_total(t[2]) for t in oracle_targets())
    per_doc.sort()
    m = {
        "oracle.wall_us_per_doc": (_per_doc_us(wall, n), "us"),
        "oracle.doc_us_p50": (statistics.median(per_doc) * 1e6, "us"),
        "oracle.doc_us_p99": (per_doc[min(n - 1, int(0.99 * n))] * 1e6, "us"),
        "oracle.doc_us_max": (per_doc[-1] * 1e6, "us"),
        "oracle.self_us_per_doc": (us("oracle.extract_document")
                                   + us("oracle.parse_candidates"), "us"),
        "dom.parse_html_us_per_doc": (us("dom.parse_html"), "us"),
        "boiler.blocks_of_us_per_doc": (us("boiler.blocks_of"), "us"),
        "boiler.candidates_us_per_doc": (us("boiler.candidates"), "us"),
        "pdfrun.extract_pdf_us_per_doc": (us("pdfrun.extract_pdf"), "us"),
        "fields.extract_spans_us_per_doc": (_per_doc_us(
            tracer.total("fields.extract_spans"), n), "us"),
        "fields.extract_spans_self_us": (us("fields.extract_spans"), "us"),
        "fields.sentences_of_us": (us("fields.sentences_of"), "us"),
        "fields.extract_field_us": (us("fields.extract_field"), "us"),
        "fields.proximity_candidate_us": (
            us("fields.proximity_candidate"), "us"),
        "fields.entity_firsts_us": (us("fields.entity_firsts"), "us"),
        "trace.oracle_self_sum_frac": (layer_self / wall, "frac"),
        "oracle.sample_docs": (n, "count"),
    }
    status = [r["status"] for r in results]
    for s in ("COMPLETED", "NEEDS_OCR", "FAILED"):
        m[f"oracle.status_{s.lower()}_frac"] = (status.count(s) / n, "frac")
    methods = [sp["method"] for r in results for sp in r["spans"]]
    for k in ("pattern", "proximity", "entity", "fallback", "none"):
        m[f"fields.method_{k}_frac"] = (
            methods.count(k) / len(methods) if methods else 0.0, "frac")
    return m, results


def batch_probe(tracer: Tracer, docs) -> dict:
    """``udfs.extract_batches`` over in-memory pandas batches of the
    sample, minus the oracle calls inside it."""
    import datetime as dt

    import pandas as pd

    from webextract import oracle, pipeline, udfs
    step = pipeline.ARROW_BATCH_ROWS
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    batches = [pd.DataFrame({
        "url": [u for u, _ in docs[i:i + step]],
        "warc_ts": [ts] * len(docs[i:i + step]),
        "bucket": pd.array([0] * len(docs[i:i + step]), dtype="int32"),
        "html": [p for _, p in docs[i:i + step]],
    }) for i in range(0, len(docs), step)]
    with tracer.span("probe.batches") as sp:
        with tracer.wrap(oracle, "extract_document", "udfs.oracle_call"):
            for _ in udfs.extract_batches(iter(batches)):
                pass
    wall = sp["end"] - sp["start"]
    return {"udfs.batch_build_us_per_doc": (_per_doc_us(
        wall - tracer.total("udfs.oracle_call"), len(docs)), "us")}


def warc_probe(wl, docs) -> dict:
    from webextract import warc
    if wl.name == "pdf_warc":
        path = wl.inp.path("part-000.warc.gz")
    else:
        import datetime as dt
        path = os.path.join(common.OUT, "probe.warc.gz")
        ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        with open(path, "wb") as f:
            for url, payload in docs:
                f.write(inputs._warc_record(url, ts, payload))
    with open(path, "rb") as f:
        buf = f.read()
    t0 = time.perf_counter()
    n = sum(1 for _ in warc.parse_warc(buf))
    wall = time.perf_counter() - t0
    tracemalloc.start()
    try:
        for _ in warc.parse_warc(buf):
            pass
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return {
        "warc.parse_warc_ms_per_mb": (wall * 1000 / (len(buf) / 1e6), "ms/MB"),
        "warc.parse_peak_mb": (peak / 1e6, "MB"),
        "warc.archive_mb": (len(buf) / 1e6, "MB"),
        "warc.records": (n, "count"),
    }


def commit_half(spark, pages, root: str) -> None:
    """A catalog in which the first half of ``runner.run_job``'s default
    commit groups is committed: one group spanning the lower half of the
    bucket range, which is what four default-sized groups commit."""
    from webextract import runner
    runner.run_job(spark, pages, root, commit_groups=2, max_groups=1)


def runner_probe(spark, tracer: Tracer, docs) -> None:
    """Resume, at the defaults, a catalog with the first half of the
    commit groups committed, over a pages parquet written from the
    sample."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from webextract import runner
    root = os.path.join(common.OUT, "runner-probe")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    path = os.path.join(root, "pages.parquet")
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    # 1000 documents leave no bucket of 64 empty; an empty bucket never
    # shows up in lineage, so every resume would re-run its group
    pq.write_table(pa.table({
        "url": [u for u, _ in docs], "warc_ts": [ts] * len(docs),
        "html": pa.array([p for _, p in docs], pa.binary()),
        "text": [""] * len(docs), "lang": [""] * len(docs)}), path)
    pages = spark.read.parquet(path)
    base = os.path.join(root, "base")
    commit_half(spark, pages, base)
    shutil.copytree(base, os.path.join(root, "resume"))
    with tracer.span("probe.runner"):
        with tracer.wrap_all(runner_targets()):
            runner.run_job(spark, pages, os.path.join(root, "resume"))


def runner_metrics(tracer: Tracer) -> dict:
    groups = []
    appends = tracer.of("checkpoint.append")
    for g in tracer.of("runner.group"):
        ends = [a["end"] for a in appends
                if a["start"] > g["start"] and a.get("table") == "lineage"]
        if ends:
            groups.append(min(ends) - g["start"])

    def med(name, table=None):
        d = [s["end"] - s["start"] for s in tracer.of(name)
             if table is None or s.get("table") == table]
        return (statistics.median(d) if d else 0.0, "s")

    return {
        "runner.completed_buckets_s": med("runner.completed_buckets"),
        "runner.group_s": (statistics.median(groups) if groups else 0.0, "s"),
        "runner.groups": (len(groups), "count"),
        "checkpoint.append_s": med("checkpoint.append"),
        "checkpoint.append_extracted_s": med("checkpoint.append", "extracted"),
        "checkpoint.append_lineage_s": med("checkpoint.append", "lineage"),
    }


def explain(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def hygiene_probe(spark, wl, tracer: Tracer, results, docs) -> dict:
    """Each hygiene operator timed alone on a materialised input, then
    the composed plan."""
    import pyspark.sql.functions as F

    from webextract import dedup, textstats, urls
    from .workloads import MAX_PER_HOST, HygieneText
    root = os.path.join(common.OUT, "hygiene-probe")
    shutil.rmtree(root, ignore_errors=True)
    if wl.name == "hygiene_text":
        src = wl.scan(spark)
    else:
        rows = [(i, u, r["text"]) for i, ((u, _), r)
                in enumerate(zip(docs, results)) if r["status"] == "COMPLETED"]
        src_path = os.path.join(root, "src")
        spark.createDataFrame(rows, "doc_id bigint, url string, text string") \
            .write.parquet(src_path)
        src = spark.read.parquet(src_path)

    def step(name, df, save_as=None):
        with tracer.span(name) as sp:
            _noop(df)
        if save_as:
            df.write.parquet(os.path.join(root, save_as))
            return sp["end"] - sp["start"], spark.read.parquet(
                os.path.join(root, save_as))
        return sp["end"] - sp["start"], None

    n_in = src.count()
    t_quota, kept = step("urls.host_quota",
                         urls.host_quota(src, max_per_host=MAX_PER_HOST)
                         .select("doc_id", "text"), "kept")
    t_dedup, deduped = step("dedup.dedup_paragraphs",
                            dedup.dedup_paragraphs(kept), "deduped")
    t_gopher, _ = step("textstats.gopher_quality_flags",
                       textstats.gopher_quality_flags(deduped))
    composed = HygieneText.plan(src, MAX_PER_HOST)
    t_comp, _ = step("hygiene.composed", composed)
    sums = deduped.agg(F.sum("n_paras"), F.sum("n_paras_kept")).first()
    n_kept = kept.count()
    return {
        "urls.host_quota_s": (t_quota, "s"),
        "dedup.dedup_paragraphs_s": (t_dedup, "s"),
        "textstats.gopher_quality_flags_s": (t_gopher, "s"),
        "hygiene.composed_s": (t_comp, "s"),
        "hygiene.exchanges": (len(re.findall(r"\(\d+\) Exchange",
                                             explain(composed))), "count"),
        "hygiene.input_docs": (n_in, "count"),
        "hygiene.kept_doc_frac": (n_kept / n_in if n_in else 0.0, "frac"),
        "hygiene.kept_para_frac": (
            (sums[1] or 0) / sums[0] if sums[0] else 0.0, "frac"),
    }


# ------------------------------------------------------------ the run


def run(app, wl, seed: int) -> tuple[list[dict], dict]:
    """Every probe; returns (the end-to-end jobs run, the metrics)."""
    from .run import run_job
    spark = app.spark
    tracer = Tracer()
    store = StatusStore(spark)

    # ABBA order, so a drift across the four jobs cancels out
    plain, traced = [], []
    for k, is_traced in enumerate((False, True, True, False)):
        out = os.path.join(common.OUT, wl.name, f"e2e-{k}")
        store.group("traced" if is_traced else "plain")
        if is_traced:
            with tracer.span("probe.e2e_traced"):
                with tracer.wrap_all(entry_targets(wl)):
                    traced.append(run_job(app, wl, out))
        else:
            plain.append(run_job(app, wl, out))
    tasks = store.tasks("plain")
    store.group("probes")
    dps = lambda js: statistics.median(  # noqa: E731
        [j["docs"] / j["adjusted_s"] for j in js])

    m = {}
    for k in ("session_s", "ship_s", "workers_s"):
        m[f"setup.{k}"] = (statistics.median(s[k] for s in app.setups), "s")
    m["setup.jvm_launch_s"] = (app.jvm_launch_s, "s")
    m["setup.first_s"] = (app.setups[0]["total_s"], "s")
    m["trace.overhead_frac"] = (1 - dps(traced) / dps(plain), "frac")
    m.update(spark_metrics(tasks))

    scan_s = statistics.median(_timed(lambda: _noop(wl.scan(spark)))
                               for _ in range(2))
    hop_s = statistics.median(_timed(lambda: _noop(hop_frame(wl, spark)))
                              for _ in range(2))
    noop_s = _timed(lambda: _noop(wl.frame(spark)))
    m["spark.scan_s"] = (scan_s, "s")
    m["spark.arrow_hop_s"] = (hop_s - scan_s, "s")
    m["spark.sink_s"] = (statistics.median(j["wall_s"] for j in plain)
                         - noop_s, "s")

    docs = wl.sample(SAMPLE_DOCS)
    om, results = oracle_probe(tracer, docs)
    m.update(om)
    m.update(batch_probe(tracer, docs))
    m.update(warc_probe(wl, docs))
    if not tracer.of("runner.run_job"):
        runner_probe(spark, tracer, docs)
    m.update(runner_metrics(tracer))
    m.update(hygiene_probe(spark, wl, tracer, results, docs))
    m["spark.jvm_peak_rss_mb"] = (app.jvm_peak_rss_mb(), "MB")
    m["spark.worker_peak_rss_mb"] = (app.worker_peak_rss_mb(), "MB")
    tracer.dump(os.path.join(common.TRACES, f"{wl.name}-s{seed}.json"))
    return plain + traced, m
