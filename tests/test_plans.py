"""Physical-plan assertions (SURVEY.md §4.2): the optimizations we rely
on must actually appear in the plan, or a refactor can silently turn a
column-pruned scan into a full-width read that only hurts at 100 TB.
"""

import io
import re
from contextlib import redirect_stdout

import pyspark.sql.functions as F

from webextract import pipeline


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_stage1_scan_prunes_wide_columns(spark, pages_parquet):
    """The pages scan must read only (url, warc_ts, html) — the wide
    ``text``/``lang`` input columns never leave the parquet reader."""
    pages = spark.read.parquet(pages_parquet)
    plan = _explain(pipeline.run_extract(pages))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    schema_line = scan[0]
    assert "url" in schema_line and "html" in schema_line
    assert "lang" not in schema_line, schema_line
    assert "text" not in schema_line, schema_line


def test_url_filter_pushed_to_scan(spark, pages_parquet):
    """P1 point lookup: the url predicate must reach the parquet source
    (PushedFilters), enabling row-group / partition pruning at scale."""
    pages = spark.read.parquet(pages_parquet)
    df = pages.filter(F.col("url") == "https://archive00.example.org/x.html")
    plan = _explain(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "url" in pushed[0], plan


def test_fused_path_zero_exchange(spark, pages_parquet):
    """The fused extraction plans must contain NO shuffle and compute no
    bucket — extraction is row-local and runs directly on scan
    partitions; shuffling payload bytes is the single worst cost at
    100 TB, and the bucket is only the checkpointed runner's."""
    pages = spark.read.parquet(pages_parquet)
    for df in (pipeline.run_extract(pages),
               pipeline.run_extract_cascade_in_batch(pages)):
        plan = _explain(df, "simple")
        assert plan.count("Exchange") == 0, plan
        assert "xxhash64" not in plan, plan


def test_layout_by_url_range_partitions(spark, pages_parquet):
    """The write layout shuffles extracted ROWS (text-sized) by url range
    — RangePartitioning in the plan — never the input payloads."""
    pages = spark.read.parquet(pages_parquet)
    df = pipeline.layout_by_url(pipeline.run_extract(pages))
    plan = _explain(df, "simple")
    assert "rangepartitioning(url" in plan.lower(), plan
    assert "Sort [url" in plan, plan


def test_broadcast_join_for_small_dims(spark):
    """Dim-chain joins must broadcast the small side, not sort-merge."""
    import __spark_entry__ as entry

    df = entry.queries()["region_customer_rollup"](spark, "/root/testdata/sf0.001")
    plan = _explain(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_native_agg_plan_shape(spark):
    """Statistics aggregations stay fully JVM-side with map-side partial
    aggregation before the exchange (no Python in the hot path, one
    shuffle carrying pre-combined partials)."""
    import __spark_entry__ as entry

    df = entry.queries()["q1_pricing_summary"](spark, "/root/testdata/sf0.001")
    plan = _explain(df, "simple")
    assert "partial_sum" in plan, plan          # map-side combine
    assert plan.count("Exchange") == 1, plan    # single shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan, plan


def test_salt_never_hashes_payload_columns(spark, pages_parquet):
    """skew.with_salt(id_cols=...) must hash ONLY the named id columns —
    round 1 hashed every column, funneling multi-100KB html blobs through
    xxhash64 just to pick a 4-bit salt (VERDICT r1 #8)."""
    from webextract import skew, urls

    pages = spark.read.parquet(pages_parquet)

    salted = skew.with_salt(pages, urls.host_of("url"), id_cols=["url"])
    plan = _explain(salted)
    calls = re.findall(r"xxhash64\(([^)]*)\)", plan)
    assert calls, plan
    assert all("html" not in args and "text" not in args for args in calls), calls


def test_minhash_signature_frame_is_cached_for_fanout(spark):
    """dedup.candidate_pairs must reference the signature computation via
    an InMemoryRelation (persist) — NOT recompute the tokenize→distinct→
    md5-min subtree per band arm per join side (round-1's 4-10× defect)."""
    from webextract import dedup

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} shared") for i in range(30)],
        "doc_id bigint, text string")
    sig = dedup.minhash_signatures(docs, n_hashes=4)
    try:
        plan = _explain(dedup.candidate_pairs(sig, bucket_cap=10), "extended")
        physical = plan.split("== Physical Plan ==")[-1]
        # BOTH self-join sides must read the cached signature frame —
        # round 1 recomputed the whole tokenize→distinct→md5-min subtree
        # per side (and per band)
        assert physical.count("InMemoryTableScan") >= 2, physical
    finally:
        sig.unpersist()


def test_lsh_bucket_assignment_zero_exchange(spark):
    """lsh_buckets projections are one matmul per Arrow batch in
    ``mapInPandas`` — bucket assignment must ride the scan with NO
    shuffle and NO position-explode of the vectors."""
    from webextract import ann

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(16)],
        "vec_id bigint, embedding array<float>")
    plan = _explain(ann.lsh_buckets(emb, persist=False))
    assert "Exchange" not in plan, plan
    assert "posexplode" not in plan.lower(), plan


def test_ann_topk_kernel_never_explodes_vectors(spark):
    """The within-bucket kernel shuffles array-typed vectors into
    per-bucket matmul blocks — the plan must contain no position-explode
    of the embedding column (the r2 kernel pushed D component rows per
    pair through the join)."""
    from webextract import ann, cache

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0, 3.0]) for i in range(24)],
        "vec_id bigint, embedding array<float>")
    df = ann.bucketed_topk(emb, k=2, bucket_cap=8)
    plan = _explain(df)
    assert "posexplode" not in plan.lower(), plan
    cache.release(df)


def test_dedup_clusters_plan_window_free(spark):
    """Duplicate clusters are one hash aggregate over the signature key
    (each document has one key, so the clusters are its buckets): no
    Window exec (a window's per-bucket sort serializes a degenerate
    duplicate cluster into one task) and no edge-list or propagation
    Join."""
    from webextract import cache, dedup

    df = spark.createDataFrame(
        [(i, f"text {i % 3} common words") for i in range(30)],
        "doc_id bigint, text string")
    sig = dedup.minhash_signatures(df, n_hashes=4)
    out = dedup.duplicate_clusters(sig, n_hashes=4)
    plan = _explain(out)
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    cache.release(sig)


def test_gopher_flags_zero_exchange(spark):
    """gopher_quality_flags is pure in-row Catalyst — the rule battery
    must ride the scan with NO shuffle (and no Python UDF stage)."""
    from webextract import textstats

    df = spark.createDataFrame(
        [(i, "the quick brown fox") for i in range(8)],
        "doc_id bigint, text string")
    plan = _explain(textstats.gopher_quality_flags(df))
    assert "Exchange" not in plan, plan
    assert "pythonudf" not in plan.lower(), plan


def test_gopher_flags_split_each_row_once(spark):
    """The optimised gopher plan splits each row exactly twice: once on
    ' ' into words and once on ``line_sep`` into lines. Every statistic
    reads those two arrays; none re-splits the text."""
    from webextract import textstats

    df = spark.createDataFrame(
        [(i, "the quick~~brown fox") for i in range(8)],
        "doc_id bigint, text string")
    plan = textstats.gopher_quality_flags(df, line_sep="~~") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 2, plan
    assert plan.count(",  , -1)") == 1, plan  # words: on ' '
    assert plan.count(", \\~\\~, -1)") == 1, plan  # lines: on line_sep


def test_quality_and_lang_id_split_each_row_once(spark):
    """quality_scores and lang_id_stopwords each split a row into tokens
    exactly once, and lang_id tests stop words with an ``IN`` list, not
    ``array_contains`` over a literal array."""
    from webextract import textstats

    df = spark.createDataFrame(
        [(i, "the cat, và các mat!") for i in range(8)],
        "doc_id bigint, text string")

    def optimized(out):
        return out._jdf.queryExecution().optimizedPlan().toString()

    plan = optimized(textstats.quality_scores(df))
    assert plan.count("split(") == 1, plan
    plan = optimized(textstats.lang_id_stopwords(df))
    assert plan.count("split(") == 1, plan
    assert "array_contains" not in plan, plan


def test_repetition_signals_plan_shape(spark):
    """repetition_signals: two hash aggregations, no Window, the
    dup-gram arm ships an xxhash64 fingerprint instead of the gram text
    (VERDICT r4 #2 — the gram-string shuffle halving), and (r5
    sentinel shape) NO metrics join — the per-doc sentinel row carries
    the line metrics through the gram aggregation, so the whole op is
    scan → explode → two hash aggs: 2 exchanges, input referenced
    once. Pinned so a change can never silently add a shuffle or a
    second input reference."""
    from webextract import textstats

    df = spark.createDataFrame(
        [(i, "a b c a b c") for i in range(8)], "doc_id bigint, text string")
    plan = _explain(textstats.repetition_signals(df))
    assert "Window" not in plan, plan
    assert "xxhash64" in plan.lower(), plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0, plan


def test_dedup_paragraphs_window_free(spark):
    """Paragraph dedup's first-occurrence election is a hash aggregation
    (map-side partial min) whose winner row IS the output row — never a
    per-paragraph window sort, and (r5 sentinel shape) NO joins at all:
    the per-doc sentinel carries the totals through the election, so
    the whole op is scan → explode → two hash aggs — exactly two
    exchanges, input referenced once."""
    from webextract import dedup

    df = spark.createDataFrame(
        [(i, "a\nb\nc") for i in range(8)], "doc_id bigint, text string")
    plan = _explain(dedup.dedup_paragraphs(df))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "partial min" in plan.lower() \
        or "HashAggregate" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 0, plan


def _rank_limit_levels(df) -> list[tuple[str, bool]]:
    """One ``(keys, partial)`` pair per window of ``df``'s physical
    plan, top-down: the partition keys of the Exchange that feeds the
    window, and whether a ``WindowGroupLimit … Partial`` (a top-k in
    every map task) sits directly below that Exchange."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    levels = []
    for i, ln in enumerate(lines):
        if "Window [" not in ln:
            continue
        j = next(k for k in range(i + 1, len(lines))
                 if "Exchange hashpartitioning(" in lines[k])
        keys = re.search(r"hashpartitioning\((.*), \d+\)", lines[j])[1]
        below = lines[j + 1]
        levels.append((keys, "WindowGroupLimit" in below
                       and below.rstrip().endswith("Partial")))
    return levels


def _salt_attr(df) -> str:
    """The attribute the plan binds to the cap's salt expression."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"pmod\(xxhash64\([^()]*\), 1024\) AS (\w+#\d+L?)", plan)
    assert m, plan
    return m[1]


def _assert_salted_rank_limits(df, key: str):
    """No unbounded single-task sort of a mega-bucket: exactly two
    window levels, the first (lower) keyed by the bucket AND the salt,
    the second by the bucket alone, and each fed by an Exchange with a
    partial top-k below it."""
    levels = _rank_limit_levels(df)
    assert len(levels) == 2, levels
    (top, top_partial), (first, first_partial) = levels
    salt = _salt_attr(df)
    assert first.startswith(key) and salt in first, (first, salt)
    assert top.startswith(key) and salt not in top, (top, salt)
    assert top_partial and first_partial, levels


def test_cap_buckets_salted_rank_limits(spark):
    """cap_buckets is two rank-limited windows whose first level holds
    the 1024-way salt, so no task ranks a whole degenerate bucket."""
    from webextract import dedup

    df = spark.createDataFrame(
        [(i, 0, "k") for i in range(250)],
        "doc_id bigint, band int, bkey string")
    capped = dedup.cap_buckets(df, "doc_id", bucket_cap=10)
    _assert_salted_rank_limits(capped, "band#")
    plan = _explain(capped)
    assert "collect_list" not in plan, plan


def test_dedup_paragraphs_splits_each_row_once(spark):
    """Each text is split once; with the default ``min_chars=1`` the
    paragraph filter is ``x != ''`` and walks no paragraph's length."""
    from webextract import dedup

    df = spark.createDataFrame(
        [(i, "a\nb\n\nc") for i in range(8)], "doc_id bigint, text string")
    plan = dedup.dedup_paragraphs(df)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert "length(" not in plan, plan


def test_hygiene_chain_composition_bounded(spark):
    """The pre-training hygiene chain host_quota → dedup_paragraphs →
    gopher_quality_flags composes into ONE plan without pathological
    recomputation (r4 verdict #7): dedup's sentinel election references
    its input exactly ONCE, so the quota subtree runs once and the only
    join in the whole chain is the quota's own semi-join; zero Python
    stages. The plan has 6 exchanges: one per window level of the
    quota's election, two for its semi-join and two for dedup. Run, the
    small winner side broadcasts: 5 exchanges and 2 scans (the election
    and the semi-join's full rows). No exchange keyed by host carries a
    full row. History: 23 exchanges with the winner join (input ×3), 15
    after the min-struct election (×2), 8 with the sentinel shape (×1),
    6 with the rank-limited election and one semi-join (7 run, 3
    scans, before it)."""
    from webextract import dedup, textstats, urls

    docs = spark.createDataFrame(
        [(i, f"https://h{i % 5}.org/p/{i}", "w x\ny z\nw x")
         for i in range(40)],
        "doc_id bigint, url string, text string")
    kept = urls.host_quota(docs, max_per_host=20).select("doc_id", "text")
    out = textstats.gopher_quality_flags(dedup.dedup_paragraphs(kept))
    plan = _explain(out)
    assert "pythonudf" not in plan.lower(), plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 6, plan
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) <= 1, plan
    shuffles = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]\n"
                          r"Arguments: hashpartitioning\((.*)\)", plan)
    for cols, keys in shuffles:
        if keys.startswith("host#"):
            assert "text#" not in cols, (cols, keys)
    out.collect()
    ran = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert ran.count("Exchange hashpartitioning(") <= 5, ran
    assert ran.count("Scan ") == 2, ran


def test_host_quota_salted_rank_limits(spark):
    """host_quota elects through the salted rank-limited cap — a
    mega-host never routes through a single task's sort — and joins
    the winners back once, by url."""
    from webextract import urls

    df = spark.createDataFrame(
        [(f"https://big.org/p/{i}",) for i in range(64)], "url string")
    quota = urls.host_quota(df, max_per_host=4)
    _assert_salted_rank_limits(quota, "host#")
    plan = _explain(quota)
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 1, plan
    assert "Union" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast: the corpus-side gram
    explosion is filtered in place by a BroadcastHashJoin — a
    SortMergeJoin on the GRAM column would shuffle every corpus gram
    at 100 TB. The id-level anti/left join back is deliberately
    hint-free (hit_ids is corpus-proportional): the static plan may
    show a SortMergeJoin there, which AQE converts to broadcast at
    runtime when the contaminated set is small and keeps as a shuffle
    join when it is not — the graceful path either way."""
    from webextract import dedup

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(16)],
        "doc_id bigint, text string")
    bench = spark.createDataFrame([("a b c d e f g h",)], "text string")
    plan = _explain(dedup.decontaminate(docs, bench, n=8), "simple")
    assert "BroadcastHashJoin [token" in plan, plan
    assert "SortMergeJoin [token" not in plan, plan


def test_nfc_and_blocklist_ride_the_scan(spark):
    """Round 5: both new text ops are in-row — NFC is one
    ArrowEvalPython projection (no shuffle), the blocklist flag is pure
    Catalyst (no shuffle, no join: the blocklist is an array literal in
    the plan, not a broadcast relation)."""
    from webextract import textstats

    docs = spark.createDataFrame(
        [(i, "slow café text") for i in range(8)],
        "doc_id bigint, text string")
    plan = _explain(textstats.normalize_nfc(docs))
    assert "Exchange" not in plan, plan
    plan2 = _explain(textstats.content_blocklist(docs, ["slow", "spam"]))
    assert "Exchange" not in plan2, plan2
    assert "Join" not in plan2, plan2
