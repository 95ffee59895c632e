"""The fused ``mapInArrow`` body and what sits in front of it: its Arrow
output types, its in-process (pandas) form, the module's imports, and
the worker import-path trim and heap freeze."""

import gc
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from webextract import fixtures, oracle, pipeline, udfs


def test_arrow_types_match_the_declared_schema(spark):
    declared = to_arrow_schema(
        spark.createDataFrame([], udfs.EXTRACTED_FIELDS_SCHEMA).schema)
    assert declared.names == udfs._EXTRACTED_NAMES
    assert declared.field("spans").type == udfs.SPANS_PA
    assert declared.field("blocks").type == udfs.BLOCKS_PA


def test_udfs_imports_no_pandas():
    """A worker that imports the bodies does not load pandas; the bodies
    read and build Arrow batches only. In one process after ``import
    pyspark.worker``, pandas costs ~38 MB of peak RSS (VmHWM 112 -> 74
    MB on a 4-core x86-64 VM)."""
    code = ("import sys; import pyspark.worker; import webextract.udfs; "
            "print('pandas' in sys.modules)")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, cwd=os.path.dirname(os.path.dirname(__file__)))
    assert out.stdout.strip() == "False", out


def _import_state():
    cache = dict(sys.path_importer_cache)
    return list(sys.path), cache


def _same_import_state(before) -> bool:
    path, cache = before
    return sys.path == path and all(
        sys.path_importer_cache.get(k) is v for k, v in cache.items())


@pytest.fixture
def zipped_imports(tmp_path):
    """Give this process what the trim drops in a worker: a ``.jar`` on
    ``sys.path`` with no Python in it, and a sub-package zipimporter."""
    jar, pkg = str(tmp_path / "nopython.jar"), str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/Example.class", b"")
    with zipfile.ZipFile(pkg, "w") as z:
        z.writestr("wxzipprobe/__init__.py", "")
        z.writestr("wxzipprobe/sub/__init__.py", "")
    saved = list(sys.path)
    sys.path[:0] = [jar, pkg]
    try:
        importlib.import_module("wxzipprobe.sub")
        yield
    finally:
        sys.path[:] = saved
        for name in ("wxzipprobe.sub", "wxzipprobe"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(str(tmp_path))]:
            del sys.path_importer_cache[key]


def test_extract_batches_in_process_takes_pandas_and_keeps_imports(
        zipped_imports):
    before, frozen = _import_state(), gc.get_freeze_count()
    assert any(isinstance(f, zipimport.zipimporter) and f.prefix
               for f in before[1].values())
    docs = [fixtures.gen_page(i) for i in range(12)]
    frame = pd.DataFrame({
        "url": [d[0] for d in docs],
        "warc_ts": [d[1] for d in docs],
        "bucket": pd.array([3] * len(docs), dtype="int32"),
        "html": [d[2] for d in docs],
    })
    rows = pa.Table.from_batches(
        list(udfs.extract_batches(iter([frame])))).to_pylist()
    assert len(rows) == len(docs)
    for (url, _ts, payload, _t, _l), row in zip(docs, rows):
        want = oracle.extract_document(url, payload)
        assert {k: row[k] for k in want} == want
        assert row["bucket"] == 3 and row["bytes_in"] == len(payload)
    assert _same_import_state(before)
    assert gc.get_freeze_count() == frozen


def test_worker_import_path_trim(spark, pages_parquet):
    """After an extraction, a Python worker holds no ``.jar`` on
    ``sys.path`` and no zipimporter, a pyspark module it has not
    imported yet still imports, and its import-time heap was frozen
    once: a later body freezes nothing more. The driver's import state
    is untouched."""
    before = _import_state()
    pages = spark.read.parquet(pages_parquet).limit(64)
    pipeline.run_extract(pages).write.format("noop").mode("overwrite").save()

    def probe(it):
        import gc
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from webextract import udfs
        # whichever worker runs this task, a fused body has run in it
        for _ in udfs.extract_batches(it):
            pass
        zipped = sorted(k for k, f in sys.path_importer_cache.items()
                        if isinstance(f, zipimport.zipimporter))
        # a module of pyspark.zip that this worker has not imported (or
        # no longer has), imported through the trimmed path cache
        fresh = "pyspark.loose_version"
        sys.modules.pop(fresh, None)
        imported = importlib.import_module(fresh).__name__
        frozen = gc.get_freeze_count()
        allocated = [[] for _ in range(1000)]  # noqa: F841 — tracked
        for _ in udfs.extract_batches(iter([])):
            pass
        yield pa.RecordBatch.from_pylist([{
            "jars": [p for p in sys.path if p.endswith(".jar")],
            "zipped": zipped,
            "fresh": fresh, "imported": imported,
            "frozen": frozen, "frozen_after": gc.get_freeze_count(),
        }], schema=pa.schema([("jars", pa.list_(pa.string())),
                              ("zipped", pa.list_(pa.string())),
                              ("fresh", pa.string()),
                              ("imported", pa.string()),
                              ("frozen", pa.int64()),
                              ("frozen_after", pa.int64())]))

    prepped = pipeline.with_bucket(
        spark.read.parquet(pages_parquet).limit(8)
        .select("url", "warc_ts", "html")).repartition(4)
    rows = prepped.mapInArrow(
        probe, "jars array<string>, zipped array<string>, fresh string, "
        "imported string, frozen bigint, frozen_after bigint").collect()
    assert len(rows) == 4
    for r in rows:
        assert r["jars"] == [] and r["zipped"] == [], r
        assert r["imported"] == r["fresh"], r
        # a second freeze would add the 1000 lists allocated since
        assert 0 < r["frozen_after"] <= r["frozen"], r
    assert _same_import_state(before)


def test_worker_trim_after_the_first_is_cheap(spark, pages_parquet):
    """Once a worker has frozen its heap, trim_worker_imports no longer
    asks ``gc.get_freeze_count()``: on CPython 3.11 that call walks the
    whole permanent generation, milliseconds per call in a worker,
    twice per extraction task."""
    def probe(it):
        import gc
        import statistics
        import time

        import pyarrow as pa

        from webextract import udfs
        for _ in udfs.extract_batches(it):
            pass
        calls = []
        count = gc.get_freeze_count
        gc.get_freeze_count = lambda: calls.append(1) or count()
        try:
            ms = []
            for _ in range(7):
                t0 = time.perf_counter()
                udfs.trim_worker_imports()
                ms.append((time.perf_counter() - t0) * 1000.0)
        finally:
            gc.get_freeze_count = count
        yield pa.RecordBatch.from_pylist(
            [{"calls": len(calls), "median_ms": statistics.median(ms)}],
            schema=pa.schema([("calls", pa.int64()),
                              ("median_ms", pa.float64())]))

    prepped = pipeline.with_bucket(
        spark.read.parquet(pages_parquet).limit(8)
        .select("url", "warc_ts", "html")).repartition(4)
    rows = prepped.mapInArrow(probe, "calls bigint, median_ms double") \
        .collect()
    assert len(rows) == 4
    for r in rows:
        assert r["calls"] == 0, r
        assert r["median_ms"] < 0.5, r
