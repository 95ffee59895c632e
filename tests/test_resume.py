"""Resume / idempotence properties (SURVEY.md §5.2 #3).

- kill-after-K-groups + resume ⇒ byte-identical final table vs an
  uninterrupted run
- re-running a finished job appends nothing (idempotence)
- lineage rows cover every bucket exactly once with sane counters
"""

import pyspark.sql.functions as F

from webextract import runner
from webextract.checkpoint import Catalog

N = 120


def _pages(spark, pages_parquet):
    return spark.read.parquet(pages_parquet).limit(N)


def _final(df):
    rows = df.select("url", "text", "status", "confidence").collect()
    return sorted((r["url"], r["text"], r["status"], r["confidence"]) for r in rows)


def test_kill_resume_equivalence(spark, pages_parquet, tmp_path):
    pages = _pages(spark, pages_parquet)

    # uninterrupted reference run
    full = runner.run_job(spark, pages, str(tmp_path / "full"), commit_groups=4)
    want = _final(full)
    assert len(want) == N

    # killed after 2 of 4 groups
    out = str(tmp_path / "killed")
    partial = runner.run_job(spark, pages, out, commit_groups=4, max_groups=2)
    n_partial = partial.count()
    assert 0 < n_partial < N

    done_before = runner.completed_buckets(spark, Catalog(out))
    assert done_before

    # resume completes the rest
    resumed = runner.run_job(spark, pages, out, commit_groups=4)
    assert _final(resumed) == want


def test_idempotent_rerun(spark, pages_parquet, tmp_path):
    pages = _pages(spark, pages_parquet)
    out = str(tmp_path / "idem")
    first = runner.run_job(spark, pages, out, commit_groups=2)
    n1 = first.count()
    again = runner.run_job(spark, pages, out, commit_groups=2)
    assert again.count() == n1  # no duplicate appends


def test_run_without_commits_returns_extracted_schema(spark, pages_parquet,
                                                      tmp_path):
    # max_groups=0 on a fresh root commits nothing: the empty result
    # still has the columns and types of an extraction
    from webextract import pipeline

    pages = _pages(spark, pages_parquet)
    out = runner.run_job(spark, pages, str(tmp_path / "none"), max_groups=0)
    assert out.count() == 0
    assert out.schema == pipeline.run_extract(pages).schema


def test_reprocess_from_parse_checkpoint(spark, pages_parquet, tmp_path):
    """C4: reprocess derives a new extracted table from the saved
    ``extracted`` text WITHOUT re-reading payloads (the input pages are
    deleted first), and (with an unchanged registry) reproduces the
    original exactly."""
    import shutil

    src = str(tmp_path / "pages.parquet")
    _pages(spark, pages_parquet).write.parquet(src)
    out = str(tmp_path / "job")
    first = runner.run_job(spark, spark.read.parquet(src), out)
    want = _final(first)
    assert len(want) == N
    shutil.rmtree(src)

    redone = runner.reprocess_fields(spark, out)
    assert _final(redone) == want
    cols = ["url", "spans", "blocks", "doc_type", "n_pages", "error"]
    assert sorted(map(tuple, redone.select(*cols).collect())) == \
        sorted(map(tuple, first.select(*cols).collect()))

    lin = Catalog(out).read(spark, runner.LINEAGE_TABLE)
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"final", "reprocess"}


def test_resume_skips_empty_buckets(spark, pages_parquet, tmp_path,
                                    monkeypatch):
    """A bucket with no input rows still gets a lineage row, so a second
    run over a finished catalog runs no commit group at all."""
    from webextract import pipeline

    pages = _pages(spark, pages_parquet).limit(20)
    out = str(tmp_path / "sparse")
    runner.run_job(spark, pages, out, n_buckets=64, commit_groups=8)
    lin = Catalog(out).read(spark, runner.LINEAGE_TABLE)
    counts = {r["partition_id"]: r["input_count"] for r in lin.collect()}
    assert sorted(counts) == list(range(64))
    assert 0 in counts.values()          # some buckets are empty
    assert sum(counts.values()) == 20

    calls = []
    real = pipeline.run_extract_full
    monkeypatch.setattr(pipeline, "run_extract_full",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    again = runner.run_job(spark, pages, out, n_buckets=64, commit_groups=8)
    assert calls == []
    assert again.count() == 20


def test_group_plan_has_no_boundary(spark, pages_parquet, tmp_path,
                                    monkeypatch):
    """A commit group is one bucket filter and one map over the scan
    splits: no exchange and no join between the scan and the map, for
    a fresh group, a resumed one (done buckets are excluded by the
    group's own filter) and a staged one."""
    import io
    from contextlib import redirect_stdout

    from webextract import pipeline

    plans = []
    real = pipeline.run_extract_full

    def spy(pages, body):
        out = real(pages, body)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("simple")
        plans.append(buf.getvalue())
        return out

    monkeypatch.setattr(pipeline, "run_extract_full", spy)
    pages = spark.read.parquet(pages_parquet)
    out = str(tmp_path / "plan")
    runner.run_job(spark, pages, out, commit_groups=4, max_groups=1)
    assert runner.completed_buckets(spark, Catalog(out))
    runner.run_job(spark, pages, out, commit_groups=4, max_groups=1)
    runner.run_job(spark, pages, out, commit_groups=4, max_groups=1,
                   stage_input=True)
    assert len(plans) == 3
    for plan in plans:
        assert "MapInArrow" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan


def test_resume_with_other_keying_raises(spark, pages_parquet, tmp_path,
                                         monkeypatch):
    """Bucket ids mean nothing under another bucket count or keying:
    resuming a catalog with committed buckets under either raises before
    any payload is read, leaves the recorded keying as it was, and the
    recorded keying still resumes to the full table."""
    import pytest

    from webextract import pipeline

    pages = _pages(spark, pages_parquet)
    want = _final(runner.run_job(spark, pages, str(tmp_path / "ref")))
    out = str(tmp_path / "rekey")
    runner.run_job(spark, pages, out, n_buckets=64, max_groups=2)

    calls = []
    real = pipeline.run_extract_full
    monkeypatch.setattr(pipeline, "run_extract_full",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    with pytest.raises(ValueError, match="committed under"):
        runner.run_job(spark, pages, out, n_buckets=16)
    with pytest.raises(ValueError, match="committed under"):
        runner.run_job(spark, pages, out, n_buckets=64, canonical_keys=True)
    assert calls == []
    assert Catalog(out).properties(runner.EXTRACTED_TABLE) == {
        "n_buckets": 64, "canonical_keys": False}
    assert _final(runner.run_job(spark, pages, out, n_buckets=64)) == want


def test_lineage_counters(spark, pages_parquet, tmp_path):
    pages = _pages(spark, pages_parquet)
    out = str(tmp_path / "lin")
    ext = runner.run_job(spark, pages, out, commit_groups=2)
    lin = Catalog(out).read(spark, runner.LINEAGE_TABLE)
    agg = lin.agg(
        F.sum("input_count").alias("n"),
        F.sum("ok_count").alias("ok"),
        F.sum("fail_count").alias("fail"),
        F.countDistinct("partition_id").alias("buckets"),
        F.min("wall_ms").alias("min_wall"),
    ).collect()[0]
    assert agg["n"] == N
    assert agg["ok"] + agg["fail"] == N
    assert agg["fail"] == ext.filter(F.col("status") == "FAILED").count()
    assert agg["min_wall"] >= 0.0
    # every lineage bucket appears once (no double-commit)
    dupes = lin.groupBy("partition_id").count().filter(F.col("count") > 1).count()
    assert dupes == 0


def test_staged_input_equivalence_and_pruning(spark, pages_parquet, tmp_path):
    """stage_input=True: identical output to the scan-per-group path, and
    the per-group read actually prunes to its partition directory (the
    scan-amplification fix — each group job must not re-read everything)."""
    pages = _pages(spark, pages_parquet)
    ref = runner.run_job(spark, pages, str(tmp_path / "ref"), commit_groups=4)
    staged = runner.run_job(spark, pages, str(tmp_path / "staged"),
                            commit_groups=4, stage_input=True)
    assert _final(staged) == _final(ref)
    # staged scratch dir is cleaned up after the run
    import os
    assert not [d for d in os.listdir(tmp_path / "staged")
                if d.startswith("_staged_input_")]


def test_staged_input_kill_resume(spark, pages_parquet, tmp_path):
    pages = _pages(spark, pages_parquet)
    want = _final(runner.run_job(spark, pages, str(tmp_path / "f2"),
                                 commit_groups=4))
    out = str(tmp_path / "k2")
    partial = runner.run_job(spark, pages, out, commit_groups=4, max_groups=2,
                             stage_input=True)
    assert 0 < partial.count() < N
    resumed = runner.run_job(spark, pages, out, commit_groups=4,
                             stage_input=True)
    assert _final(resumed) == want


def test_staged_partition_filter_prunes(spark, pages_parquet, tmp_path):
    """The cgroup filter must reach the scan as a partition filter —
    that is the mechanism that makes staged reads 1/G of the bytes."""
    pages = _pages(spark, pages_parquet)
    staged_dir = str(tmp_path / "prune_probe")
    (pages.select("url", "warc_ts", "html")
     .withColumn("cgroup", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
     .write.partitionBy("cgroup").parquet(staged_dir))
    df = spark.read.parquet(staged_dir).filter(F.col("cgroup") == 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, "filter never reached the scan"
    assert "PartitionFilters: [isnotnull(cgroup" in plan.replace("#", " #") or \
        "cgroup" in plan.split("PartitionFilters")[1][:120]


def test_catalog_concurrent_appends_serialize(spark, tmp_path):
    """Two+ writers racing appends must serialize via the manifest CAS:
    every snapshot survives (round 2's read-modify-write could silently
    drop a concurrent writer's commit)."""
    import threading

    from webextract.checkpoint import Catalog

    cat = Catalog(str(tmp_path / "cc"))
    df = spark.range(5).selectExpr("id as v")
    errs = []

    def writer():
        try:
            for _ in range(4):
                cat.append("t", df)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=writer) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    man = cat.manifest("t")
    assert man["version"] == 12
    assert len(man["parts"]) == len(set(man["parts"])) == 12
    assert cat.read(spark, "t").count() == 60


def test_iceberg_probe(tmp_path):
    """Jar discovery is honest: in this sandbox there is no Iceberg
    runtime (session confs → None ⇒ shim path); if a jar ever appears
    the confs must wire the real catalog."""
    from webextract import checkpoint

    jar = checkpoint.iceberg_jar()
    confs = checkpoint.iceberg_session_confs(str(tmp_path))
    if jar is None:
        assert confs is None
    else:  # pragma: no cover - only on a jar-bearing host
        assert confs["spark.jars"] == jar
        assert "spark.sql.extensions" in confs


def test_delete_where_copy_on_write(spark, tmp_path):
    """S6: row-level delete rewrites ONLY parts containing matches;
    untouched parts carry over by reference, old snapshots stay pinned."""
    cat = Catalog(str(tmp_path / "del"))
    cat.append("t", spark.range(0, 10).selectExpr("id as v"))
    m2 = cat.append("t", spark.range(10, 20).selectExpr("id as v"))
    man = cat.delete_where(spark, "t", "v >= 15")
    assert man["version"] == 3
    assert man["parts"][0] == m2["parts"][0]      # untouched: same part
    assert man["parts"][1] != m2["parts"][1]      # rewritten: new part
    assert sorted(r["v"] for r in cat.read(spark, "t").collect()) \
        == list(range(15))
    assert cat.read(spark, "t", version=2).count() == 20  # pinned read
    # predicate matching nothing: no new snapshot
    assert cat.delete_where(spark, "t", "v > 1000")["version"] == 3
    # deleting a whole part drops it from the snapshot
    man4 = cat.delete_where(spark, "t", "v < 10")
    assert len(man4["parts"]) == 1
    assert cat.read(spark, "t").count() == 5


def test_expire_snapshots_gc(spark, tmp_path):
    """S7 (real TTL): expiring old snapshots garbage-collects part dirs
    nothing references anymore; the live snapshot is untouched."""
    cat = Catalog(str(tmp_path / "ttl"))
    cat.append("t", spark.range(5).selectExpr("id as v"))
    cat.append("t", spark.range(5, 9).selectExpr("id as v"))
    cat.delete_where(spark, "t", "v < 2")
    # default grace window: freshly-written unreferenced parts are NOT
    # collected (they may belong to an in-flight writer's commit)
    safe = cat.expire_snapshots("t", keep_last=1)
    assert safe["expired_versions"] == [1, 2]
    assert safe["removed_parts"] == []
    out = cat.expire_snapshots("t", keep_last=1, grace_sec=0.0)
    assert out["removed_parts"]                    # the rewritten-away part
    assert cat.manifest("t", version=2) is None    # expired snapshot gone
    assert sorted(r["v"] for r in cat.read(spark, "t").collect()) \
        == list(range(2, 9))


def test_stale_staged_dirs_swept(spark, pages_parquet, tmp_path):
    """A SIGKILLed run leaves _staged_input_<run_id> behind (finally
    doesn't run); the next run_job must sweep it."""
    import os

    out = str(tmp_path / "sweep")
    stale = os.path.join(out, "_staged_input_deadbeef")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk.parquet"), "w") as f:
        f.write("x")
    pages = _pages(spark, pages_parquet).limit(8)
    runner.run_job(spark, pages, out, commit_groups=2)
    assert not os.path.exists(stale)


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL are NOT
    matches and must survive the rewrite (a bare NOT(pred) drops them)."""
    cat = Catalog(str(tmp_path / "nulldel"))
    df = spark.createDataFrame([(1,), (5,), (None,)], "v int")
    cat.append("t", df)
    cat.delete_where(spark, "t", "v >= 5")
    got = sorted((r["v"] is None, r["v"] or 0)
                 for r in cat.read(spark, "t").collect())
    assert got == [(False, 1), (True, 0)]  # 5 deleted, 1 and NULL kept


def test_catalog_compact(spark, tmp_path):
    """Compaction rewrites N live parts into one new snapshot; data
    identical, old snapshot still pinned-readable, expire reclaims."""
    cat = Catalog(str(tmp_path / "cp"))
    for lo in (0, 5, 10):
        cat.append("t", spark.range(lo, lo + 5).selectExpr("id as v"))
    man = cat.compact(spark, "t")
    assert man["version"] == 4 and len(man["parts"]) == 1
    assert sorted(r["v"] for r in cat.read(spark, "t").collect()) \
        == list(range(15))
    assert cat.read(spark, "t", version=3).count() == 15  # pinned
    # idempotent-ish: a second compact below min_parts is a no-op
    assert cat.compact(spark, "t")["version"] == 4
    out = cat.expire_snapshots("t", keep_last=1, grace_sec=0.0)
    assert len(out["removed_parts"]) == 3


def test_delete_where_job_count_constant(spark, tmp_path):
    """VERDICT r3 #3: delete_where is ONE classification job + ONE
    rewrite job (plus constant scan/AQE overhead) — the job count must
    not grow with the part count (round 3 probed each part from the
    driver: 2 jobs per part, O(parts) scheduler round-trips)."""
    sc = spark.sparkContext

    def jobs_for(n_parts: int, tag: str) -> tuple[int, dict]:
        cat = Catalog(str(tmp_path / f"jobs{tag}"))
        for lo in range(0, n_parts * 10, 10):
            cat.append("t", spark.range(lo, lo + 10).selectExpr("id as v"))
        group = f"delete-where-jobcount-{tag}"
        sc.setJobGroup(group, "delete_where job-count probe")
        try:
            man = cat.delete_where(spark, "t", "v % 20 = 5")
        finally:
            sc.setJobGroup(None, None)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        got = sorted(r["v"] for r in cat.read(spark, "t").collect())
        assert got == [v for v in range(n_parts * 10) if v % 20 != 5]
        return n, man

    n_small, _ = jobs_for(4, "small")
    n_big, man = jobs_for(16, "big")
    assert n_big == n_small, f"{n_small} jobs @4 parts vs {n_big} @16"
    assert n_big <= 8
    assert len(man["parts"]) == 9          # 8 untouched + 1 merged rewrite


def _variant_pages(spark, n):
    """``n`` pages, each under three spellings of its url that
    canonicalise to one: (rows, url families, pages frame)."""
    import datetime as dt

    from webextract import fixtures

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows, fams = [], []
    for i in range(n):
        _u, _ts, payload, _t, _l = fixtures.gen_page(i * 7 + 3)
        base = f"https://host{i:02d}.example.org/docs/VANBAN_{i:04d}.html"
        fam = [base,
               base.replace("https://", "https://www.")
                   .replace(".org/", ".org:443/"),
               base + "?utm_source=x&"]
        fams.append(fam)
        rows += [(v, ts, bytearray(payload), "", "vi") for v in fam]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string")
    return rows, fams, df


def test_runner_canonical_keys_kill_resume(spark, tmp_path):
    """canonical_keys=True (r4 verdict #6): resume buckets + sorted
    layout key on urls.canonical_url — spelled variants of one page
    co-locate in ONE bucket (and hence one commit group / output
    range), rows themselves are unchanged, and kill/resume is
    equivalent both with the flag and against a flag-off run."""
    from webextract import pipeline, urls

    rows, fams, df = _variant_pages(spark, 40)

    # co-location: one bucket per family under the canonical key; the
    # raw-url key scatters at least one family (P(not) < 1e-90)
    canon_b = {r["url"]: r["bucket"] for r in pipeline.with_bucket(
        df.select("url"), 16, key=urls.canonical_url("url")).collect()}
    raw_b = {r["url"]: r["bucket"] for r in pipeline.with_bucket(
        df.select("url"), 16).collect()}
    for fam in fams:
        assert len({canon_b[v] for v in fam}) == 1, fam
    assert any(len({raw_b[v] for v in fam}) > 1 for fam in fams)

    want = _final(runner.run_job(
        spark, df, str(tmp_path / "ckfull"), n_buckets=16, commit_groups=4,
        canonical_keys=True, sorted_layout=True))
    assert len(want) == len(rows)  # rows unchanged: no collapse

    out = str(tmp_path / "ckkr")
    partial = runner.run_job(spark, df, out, n_buckets=16, commit_groups=4,
                             max_groups=2, canonical_keys=True,
                             sorted_layout=True)
    assert 0 < partial.count() < len(rows)
    resumed = runner.run_job(spark, df, out, n_buckets=16, commit_groups=4,
                             canonical_keys=True, sorted_layout=True)
    assert _final(resumed) == want

    # flag-off equivalence: identical content either way
    off = runner.run_job(spark, df, str(tmp_path / "ckoff"), n_buckets=16,
                         commit_groups=4)
    assert _final(off) == want

    # lineage partition ids ARE the canonical buckets: the buckets with
    # input rows are exactly the canonical ones, and every bucket of the
    # run has a row (empty ones with input_count 0)
    lin = Catalog(out).read(spark, runner.LINEAGE_TABLE)
    parts = {r["partition_id"]
             for r in lin.filter(F.col("input_count") > 0)
             .select("partition_id").distinct().collect()}
    assert parts == set(canon_b.values())
    assert lin.select("partition_id").distinct().count() == 16


def test_reprocess_lineage_buckets_as_the_job_did(spark, tmp_path):
    """reprocess_fields buckets its lineage rows with the bucket count
    and keying run_job recorded, so its rows line up with the job's
    ``final`` rows partition by partition; with no record it keys on
    the raw url over DEFAULT_BUCKETS."""
    import os
    from collections import Counter

    from webextract import pipeline

    _rows, _fams, df = _variant_pages(spark, 12)
    out = str(tmp_path / "rp")
    runner.run_job(spark, df, out, n_buckets=16, commit_groups=2,
                   canonical_keys=True)
    runner.reprocess_fields(spark, out, run_id="rp1")

    def counts(stage, run_id=None):
        lin = Catalog(out).read(spark, runner.LINEAGE_TABLE)
        lin = lin.filter(F.col("stage") == stage)
        if run_id is not None:
            lin = lin.filter(F.col("run_id") == run_id)
        return {r["partition_id"]: r["input_count"] for r in lin.collect()}

    final = counts("final")
    assert sorted(final) == list(range(16))
    assert counts("reprocess", "rp1") == final

    os.remove(os.path.join(out, runner.EXTRACTED_TABLE, "_properties.json"))
    runner.reprocess_fields(spark, out, out_table="extracted_v3",
                            run_id="rp2")
    raw = Counter(r["bucket"] for r in
                  pipeline.with_bucket(df.select("url")).collect())
    got = counts("reprocess", "rp2")
    assert sorted(got) == list(range(pipeline.DEFAULT_BUCKETS))
    assert {b: c for b, c in got.items() if c} == raw
