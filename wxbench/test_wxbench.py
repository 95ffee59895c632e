"""The benchmark's own tests (not part of the program's test suite):

    python3 -m pytest wxbench -q

The slow end-to-end ones start Spark; deselect them with ``-m 'not slow'``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from wxbench import common, compare, inputs, reference, workloads
from wxbench.trace import Tracer

common.import_program()

PDF_WARC_SMALL = {"archives": 4, "per_archive": 60}


def _extracted_rows(n=12):
    from webextract import fixtures, oracle
    docs = [(r[0], r[2]) for r in fixtures.gen_pages(n, start=10**9)]
    rows = [oracle.extract_document(u, p) for u, p in docs]
    return rows, {r["url"]: reference.extracted_digest(r) for r in rows}


def _write(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(path, "part-0.parquet"))


def test_row_check_accepts_the_reference(tmp_path):
    rows, expected = _extracted_rows()
    _write(rows, str(tmp_path / "out"))
    ok, strays, bad = workloads.extracted_check(expected, [str(tmp_path / "out")])
    assert (ok, strays, bad) == (len(rows), 0, [])


@pytest.mark.parametrize("corrupt", ["text", "span", "status", "dup", "drop",
                                     "stray"])
def test_row_check_rejects_a_corrupted_row(tmp_path, corrupt):
    rows, expected = _extracted_rows()
    victim = next(r for r in rows if r["spans"])
    if corrupt == "text":
        victim["text"] += " "
    elif corrupt == "span":
        victim["spans"][0]["end"] += 1
    elif corrupt == "status":
        victim["status"] = "FAILED"
    elif corrupt == "dup":
        rows.append(dict(victim))
    elif corrupt == "drop":
        rows.remove(victim)
    else:
        rows.append({**victim, "url": victim["url"] + "?x"})
    _write(rows, str(tmp_path / "out"))
    ok, strays, bad = workloads.extracted_check(expected, [str(tmp_path / "out")])
    assert ok + (corrupt != "stray") == len(expected) and bad
    assert strays == (corrupt == "stray")


def test_hygiene_reference_quota_and_dedup():
    docs = [(1, "https://www.a.org/1", "p\nq"), (2, "https://a.org:443/2", "q\nr"),
            (3, "https://a.org/3", "s"), (4, "nohost", "p"), (5, "", "q\n\nz")]
    exp = reference.hygiene_reference(docs, max_per_host=2)
    dig = lambda *a: reference.hygiene_digest(reference.gopher_row(*a))  # noqa: E731
    assert exp[1] is None  # a.org keeps its 2 smallest urls: /3 and :443/2
    assert exp[2] == dig(2, "q\nr", 2, 2)
    assert exp[4] == dig(4, "p", 1, 1)  # host-less urls are exempt
    assert exp[5] == dig(5, "z", 2, 1)  # "q" first appeared in doc 2


def test_gopher_row_matches_the_rules():
    text = "\n".join(["the cat of a dog and more words here"] * 8)
    row = reference.gopher_row(1, text, 8, 8)
    assert row["n_words"] == 72 and row["stop_hits"] == 32
    assert row["gopher_pass"] == 1
    assert reference.gopher_row(1, "- a ...", 1, 1)["bullet_line_frac"] == 1.0


def test_tracer_self_time_and_restore():
    import time as _time
    tr = Tracer()
    with tr.wrap(_time, "sleep", "sleep"):
        with tr.span("outer"):
            _time.sleep(0.02)
            _time.sleep(0.01)
    assert _time.sleep.__name__ == "sleep" and not hasattr(_time.sleep, "__wrapped__")
    outer = tr.of("outer")[0]
    assert outer["self"] == pytest.approx(
        (outer["end"] - outer["start"]) - tr.total("sleep"))
    assert all(s["parent"] == outer["id"] for s in tr.of("sleep"))


def test_seeded_inputs_are_deterministic_and_recorded():
    a = inputs.Pending("pdf_warc", 7, PDF_WARC_SMALL).result()
    b = inputs.Pending("pdf_warc", 7, PDF_WARC_SMALL).result()
    assert a.dir == b.dir and a.expected == b.expected
    assert a.meta["archives"] == 4 and a.meta["docs"] == 240
    assert set(a.meta["kind_mix"]) <= set(inputs.PDF_MIX)
    c = inputs.Pending("pdf_warc", 8, PDF_WARC_SMALL).result()
    assert not set(a.expected) & set(c.expected)  # disjoint offsets


def test_a_seed_off_the_mix_is_rejected(monkeypatch):
    monkeypatch.setattr(inputs, "PDF_MIX", {"pdf": 0.5, "scanned": 0.5})
    monkeypatch.setattr(inputs, "_code_key", lambda: "rejecttest")
    with pytest.raises(inputs.InputRejected):
        inputs.Pending("pdf_warc", 9, PDF_WARC_SMALL).result()


def _records(d, values, workload="w", metric="docs_per_s"):
    os.makedirs(d, exist_ok=True)
    for i, v in enumerate(values):
        with open(os.path.join(d, f"r{i}.json"), "w") as f:
            json.dump({"workload": workload, "trace": 0,
                       "metrics": {metric: {"value": v, "unit": "1/s"}}}, f)


@pytest.mark.parametrize("new,want,code", [
    ([100, 101, 99, 100, 102], "unchanged", 0),
    ([70, 71, 69, 70, 72], "worse", 1),
    ([120, 121, 119, 120, 122], "better", 0),
    ([60, 140, 100, 70, 130], "unresolved", 0),
])
def test_compare_verdicts(tmp_path, capsys, new, want, code):
    _records(str(tmp_path / "a"), [100, 101, 99, 100, 102])
    _records(str(tmp_path / "b"), new)
    rc = compare.main([str(tmp_path / "a"), str(tmp_path / "b"), "--benchmark",
                       os.path.join(common.ROOT, "BENCHMARK.json")])
    line = [ln for ln in capsys.readouterr().out.splitlines()
            if "docs_per_s" in ln][0]
    assert line.split()[-1] == want and rc == code


def test_bare_directory_fails_without_a_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, the run must
    exit non-zero and print no result line."""
    shutil.copy(os.path.join(common.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(common.ROOT, "wxbench"), tmp_path / "wxbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "wxbench/run.py", "--workload", "crawl_pages",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


_REAP_PROBE = """
import json, multiprocessing as mp, os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
from wxbench import common
common.become_subreaper()
pool = mp.get_context("spawn").Pool(2)
pool.map(abs, [1, 2])
pool.close(); pool.join(); del pool
tracker = mp.resource_tracker._resource_tracker._pid
orphan = int(subprocess.run(
    ["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
    capture_output=True, text=True).stdout)
t0 = time.monotonic()
common.reap_children(grace_s=5.0)
print(json.dumps({"tracker": tracker, "orphan": orphan,
                  "reap_s": time.monotonic() - t0,
                  "left": common.children_map().get(os.getpid(), [])}))
"""


def test_reap_children_stops_orphans_and_the_resource_tracker():
    """An orphaned grandchild and the spawn pool's resource tracker are
    both stopped and reaped before the process exits."""
    p = subprocess.run([sys.executable, "-c", _REAP_PROBE, common.ROOT],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["tracker"] and got["left"] == []
    # the tracker ignores SIGTERM: it must be closed, not outwaited
    assert got["reap_s"] < 4.0
    for pid in (got["tracker"], got["orphan"]):
        assert not os.path.exists(f"/proc/{pid}")


@pytest.mark.slow
def test_a_corrupted_output_row_fails_the_run(monkeypatch, capsys):
    """End to end on a small crawl_pages: one output row rewritten after
    the Spark job makes the run report correct=false and exit 1."""
    from wxbench import run

    monkeypatch.setattr(workloads.CrawlPages, "size",
                        {"docs": 400, "row_group": 100})
    real_job = workloads.CrawlPages.job

    def corrupting_job(self, spark, out):
        import glob

        import pyarrow.parquet as pq
        real_job(self, spark, out)
        f = sorted(glob.glob(os.path.join(out, "*.parquet")))[0]
        t = pq.read_table(f).to_pylist()
        t[0]["text"] = (t[0]["text"] or "") + "corrupted"
        _write(t, out + "/rewritten")
        os.remove(f)
        shutil.move(out + "/rewritten/part-0.parquet", f)

    monkeypatch.setattr(workloads.CrawlPages, "job", corrupting_job)
    rc = run.main(["--workload", "crawl_pages", "--seed", "3", "--seconds", "1"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and result["correct"] is False and result["failed"] >= 1
    assert result["metrics"]["rows_ok_frac"]["value"] < 1.0
