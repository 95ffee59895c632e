"""M12 — confidence-gated engine cascade
(pipeline.run_extract_cascade_in_batch).

Reference shape: ai_service_local.py:513-537 (local result ≥ threshold →
accept; below → run the expensive engine, keep the strictly-better
result). Ours is deterministic on both arms, so the cascade's exact
output is pinned against the two fixed engines it composes, run
in-process: the full path (oracle.extract_document) and the cheap pass
(candidate 0 of oracle.parse_candidates, fields by fields.extract_spans).
"""

import datetime as dt

from webextract import fields, oracle, pipeline


def _spark_rows(df):
    out = {}
    for r in df.collect():
        d = r.asDict(recursive=True)
        del d["warc_ts"]
        out[d["url"]] = d
    return out


def _oracle_rows(rows):
    return {r["url"]: oracle.extract_document(r["url"], bytes(r["html"]))
            for r in rows}


def _cheap_rows(rows, patterns_only=False):
    """The cascade's cheap pass, built from its parts: candidate 0 (the
    strict profile, or the one PDF candidate) of the document's parse,
    fields over its text."""
    out = {}
    for r in rows:
        url = r["url"]
        full = oracle.extract_document(url, bytes(r["html"]))
        if full["status"] == "COMPLETED":
            cand = oracle.parse_candidates(bytes(r["html"]))["candidates"][0]
            assert cand["profile"] in ("strict", "pdf")
            spans, conf = fields.extract_spans(cand["text"], full["doc_type"],
                                               patterns_only)
            full = dict(full, text=cand["text"], blocks=cand["blocks"],
                        spans=spans, confidence=conf)
        out[url] = full
    return out


def _short_block_pages(spark, n=3):
    """Adversarial docs where the cascade's escalation genuinely wins:
    every content paragraph is < 25 chars, so the strict profile
    (min_chars 25) keeps nothing → confidence 0; the lenient profile
    (min_chars 10) keeps the planted field sentences and recovers
    spans. On the stock fixture corpus strict already ties the full
    ensemble everywhere, so these rows are what make the gate bite."""
    rows = []
    for k in range(n):
        html = ("<html><body><div><a href='/'>home</a></div>"
                f"<p>Số văn bản: {100 + k}/QD</p>"
                f"<p>Ngày 0{k + 1}/02/2025</p>"
                "</body></html>").encode()
        rows.append((f"https://ex.org/cascade/VANBAN_{k}.html",
                     dt.datetime(2025, 1, 1), bytearray(html), "", "vi"))
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")


def _gate_pages(spark, pages_parquet):
    pages = (spark.read.parquet(pages_parquet).limit(100)
             .unionByName(_short_block_pages(spark)))
    return pages, pages.select("url", "html").collect()


def test_cascade_gate_semantics(spark, pages_parquet):
    pages, rows = _gate_pages(spark, pages_parquet)
    strict = _cheap_rows(rows)
    full = _oracle_rows(rows)
    casc = _spark_rows(pipeline.run_extract_cascade_in_batch(pages,
                                                             accept=0.7))
    assert set(casc) == set(strict)
    n_accepted = n_retried = n_improved = 0
    for url, r in casc.items():
        s = strict[url]
        if s["status"] != "COMPLETED" or s["confidence"] >= 0.7:
            n_accepted += 1
            assert r == s          # gate accepted the cheap pass verbatim
        else:
            n_retried += 1
            f = full[url]
            want = f if f["confidence"] > s["confidence"] else s
            assert r == want       # strictly-better wins, cheap pass keeps ties
            assert r["confidence"] >= s["confidence"]
            if r["confidence"] > s["confidence"]:
                n_improved += 1
    # the corpus must exercise both branches AND a genuine escalation win
    assert n_accepted > 0 and n_retried >= 3 and n_improved >= 3


def test_cascade_cheap_fields_gate_semantics(spark, pages_parquet):
    # cheap_fields=True: the cheap pass is strict-profile + patterns-only
    # fields. Same gate contract as the full cascade, pinned against the
    # two fixed engines it composes (r3 verdict #5).
    pages, rows = _gate_pages(spark, pages_parquet)
    cheap = _cheap_rows(rows, patterns_only=True)
    full = _oracle_rows(rows)
    casc = _spark_rows(pipeline.run_extract_cascade_in_batch(
        pages, accept=0.7, cheap_fields=True))
    assert set(casc) == set(cheap)
    n_accepted = n_retried = 0
    for url, r in casc.items():
        c = cheap[url]
        if c["status"] != "COMPLETED" or c["confidence"] >= 0.7:
            n_accepted += 1
            assert r == c
            # accepted rows carry patterns-only spans: no other method
            assert all(s["method"] in ("pattern", "none") for s in r["spans"])
        else:
            n_retried += 1
            f = full[url]
            want = f if f["confidence"] > c["confidence"] else c
            assert r == want
    assert n_accepted > 0 and n_retried >= 3


def test_cascade_accept_zero_equals_cheap_pass(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).limit(80)
    strict = _cheap_rows(pages.select("url", "html").collect())
    casc = _spark_rows(pipeline.run_extract_cascade_in_batch(pages,
                                                             accept=0.0))
    assert casc == strict


def test_cascade_deterministic(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).limit(80)
    one = _spark_rows(pipeline.run_extract_cascade_in_batch(pages,
                                                            accept=0.7))
    two = _spark_rows(pipeline.run_extract_cascade_in_batch(pages,
                                                            accept=0.7))
    assert one == two


def test_candidates_are_strict_first():
    """The cascade's cheap pass is candidate 0: the strict profile."""
    from webextract import boiler, dom

    html = (b"<html><body><p>plain text content with enough characters to"
            b" be kept by every profile</p></body></html>")
    blocks = boiler.blocks_of(dom.parse_html(html))
    assert [c["profile"] for c in boiler.candidates(blocks)] \
        == ["strict", "lenient"]


def test_cascade_parses_each_document_once(spark, pages_parquet,
                                           monkeypatch):
    """At accept 1.01 every COMPLETED document escalates; the escalation
    reuses the cheap pass's parse, so each HTML or PDF document is
    parsed exactly once."""
    _, rows = _gate_pages(spark, pages_parquet)
    calls = []
    for name in ("parse_html", "extract_pdf"):
        real = getattr(oracle, name)
        monkeypatch.setattr(
            oracle, name,
            lambda payload, real=real: calls.append(payload) or real(payload))
    for cheap_fields in (False, True):
        n_parsed = n_escalated = 0
        for r in rows:
            payload = bytes(r["html"])
            calls.clear()
            rec = oracle.extract_document_cascade(r["url"], payload, 1.01,
                                                  cheap_fields)
            if oracle.sniff_kind(payload) in ("html", "pdf") \
                    and len(payload) > 0:
                assert calls == [payload], (r["url"], len(calls))
                n_parsed += 1
                n_escalated += rec["status"] == "COMPLETED"
            else:
                assert calls == []
        assert n_parsed > 90 and n_escalated > 80


def _final(df):
    rows = df.select("url", "text", "status", "confidence").collect()
    return sorted((r["url"], r["text"], r["status"], r["confidence"])
                  for r in rows)


def _runner_kill_resume(spark, pages_parquet, tmp_path, cheap_fields):
    """run_job(cascade=True) with the given cheap_fields: the unchunked
    run and a killed-then-resumed run both give the unchunked cascade's
    table."""
    from webextract import runner

    pages = (spark.read.parquet(pages_parquet).limit(100)
             .unionByName(_short_block_pages(spark)))
    want = _final(pipeline.run_extract_cascade_in_batch(
        pages, accept=0.7, cheap_fields=cheap_fields))
    full = runner.run_job(spark, pages, str(tmp_path / "full"),
                          commit_groups=4, cascade=True,
                          cheap_fields=cheap_fields)
    assert _final(full) == want

    out = str(tmp_path / "killed")
    partial = runner.run_job(spark, pages, out, commit_groups=4,
                             max_groups=2, cascade=True,
                             cheap_fields=cheap_fields)
    assert 0 < partial.count() < 103
    resumed = runner.run_job(spark, pages, out, commit_groups=4,
                             cascade=True, cheap_fields=cheap_fields)
    assert _final(resumed) == want


def test_runner_cascade_kill_resume(spark, pages_parquet, tmp_path):
    _runner_kill_resume(spark, pages_parquet, tmp_path, cheap_fields=False)


def test_runner_cascade_in_batch_kill_resume(spark, pages_parquet, tmp_path):
    # cheap_fields=True must reach the cascade body through run_job
    _runner_kill_resume(spark, pages_parquet, tmp_path, cheap_fields=True)


def test_cascade_multi_snapshot_urls(spark):
    """(url, warc_ts) is the document key: two snapshots of one url —
    one confident, one below the gate — must yield exactly two output
    rows, and the low snapshot escalates to the full-ensemble result."""
    good = ("<html><body><p>" + "Số văn bản: 77/QD và đây là một đoạn "
            "văn dài đủ ký tự để profile strict giữ lại trọn vẹn." * 3
            + "</p></body></html>").encode()
    short = (b"<html><body><p>S\xe1\xbb\x91 v\xc4\x83n b\xe1\xba\xa3n: "
             b"9/QD</p></body></html>")
    rows = [
        ("https://ex.org/snap/VANBAN_0.html", dt.datetime(2025, 1, 1),
         bytearray(good), "", "vi"),
        ("https://ex.org/snap/VANBAN_0.html", dt.datetime(2025, 6, 1),
         bytearray(short), "", "vi"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    out = pipeline.run_extract_cascade_in_batch(pages, accept=0.7).collect()
    assert len(out) == 2
    by_ts = {r["warc_ts"]: r for r in out}
    assert len(by_ts) == 2
    fixed = {r["warc_ts"]: r
             for r in pipeline.run_extract(pages).collect()}
    # the low snapshot's winner matches the full-ensemble result
    low_ts = dt.datetime(2025, 6, 1)
    assert by_ts[low_ts]["confidence"] >= 0.0
    assert by_ts[low_ts]["text"] == fixed[low_ts]["text"]


def test_runner_cascade_with_staged_input(spark, pages_parquet, tmp_path):
    """cascade=True composes with stage_input=True (the staged read
    feeds the cascade map)."""
    from webextract import runner

    pages = (spark.read.parquet(pages_parquet).limit(60)
             .unionByName(_short_block_pages(spark)))
    ref = runner.run_job(spark, pages, str(tmp_path / "c1"),
                         commit_groups=3, cascade=True)
    staged = runner.run_job(spark, pages, str(tmp_path / "c2"),
                            commit_groups=3, cascade=True,
                            stage_input=True)
    assert _final(staged) == _final(ref)
