"""Arrow-batched UDF bodies wrapping the oracle components.

The fused body ``extract_batches`` is a ``mapInArrow`` body: it receives
an iterator of pyarrow record batches for ONE physical partition and
yields record batches in the ``EXTRACTED_FIELDS_SCHEMA`` layout. url,
warc_ts and bucket pass through as Arrow columns, the payloads are read
with one ``to_pylist()`` and every output column is built with
``pa.array(..., type)`` — no pandas frame on either side. The M12
cascade body (``cascade_batches``) and the reprocess body
(``respan_batches``) have the same shape. Per-row Python exists only
*inside* a batch loop over documents (the cost model SURVEY.md §7.2
accepts: Arrow in/out, no Python row UDFs, no RDDs).

Lineage side-band (SURVEY.md §4.3): the bodies stamp
``_wall_ms`` = cumulative wall time of this partition's processing so the
driver can aggregate per-partition wall time without a second pass
(reference analogue: the request-latency middleware,
ocr-ai-service/app/main.py:53-68, C5).
"""

from __future__ import annotations

import gc
import sys
import time
import zipfile
import zipimport
from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql.pandas.types import from_arrow_schema

from . import oracle
from .fields import extract_spans

# The extracted row format, spelled once: the bodies build these Arrow
# types (url, warc_ts and bucket pass through from their input), and
# the Spark schema is derived from it.
EXTRACTED_PA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("doc_type", pa.string()),
    ("bucket", pa.int32()),
    ("status", pa.string()),
    ("text", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("name", pa.string()), ("value", pa.string()),
        ("field_type", pa.string()), ("start", pa.int64()),
        ("end", pa.int64()), ("confidence", pa.float64()),
        ("is_required", pa.bool_()), ("method", pa.string())]))),
    ("blocks", pa.list_(pa.struct([
        ("page", pa.int32()), ("score", pa.float64()),
        ("n_chars", pa.int32())]))),
    ("confidence", pa.float64()),
    ("n_pages", pa.int32()),
    ("bytes_in", pa.int64()),
    ("error", pa.string()),
    ("_wall_ms", pa.float64()),
])
EXTRACTED_FIELDS_SCHEMA = from_arrow_schema(EXTRACTED_PA)
_EXTRACTED_NAMES = EXTRACTED_PA.names
SPANS_PA = EXTRACTED_PA.field("spans").type
BLOCKS_PA = EXTRACTED_PA.field("blocks").type


def _holds_python(archive: str) -> bool:
    names = zipimport._zip_directory_cache.get(archive)
    if names is None:
        with zipfile.ZipFile(archive) as z:
            names = z.namelist()
    return any(n.endswith((".py", ".pyc")) for n in names)


_heap_frozen = False  # set by this process's first trim_worker_imports


def trim_worker_imports() -> None:
    """Shrink the fixed per-task work of this Python worker.

    PySpark calls ``importlib.invalidate_caches`` at the start of every
    task, and on CPython 3.11 each cached zipimporter then re-reads its
    whole archive directory: a worker holds two over the spark-core jar
    (no Python in it; it is on PYTHONPATH for Spark builds that ship
    PySpark inside the jar), one per imported sub-package of
    pyspark.zip, and one each for pyspark.zip, py4j and the shipped
    package zip. With Spark 4.1.2 on a 4-core x86-64 VM the 17 importers
    cost ~185 ms of CPU per task; the three prefix-less ones alone still
    cost ~4 ms, none 0.02 ms. So this drops the ``.jar`` entries that
    hold no Python from ``sys.path`` and every zipimporter from
    ``sys.path_importer_cache``; the archives stay on ``sys.path``, and a
    later import recreates an importer from the archive directory
    already in memory. ``sys.modules`` is left alone.

    The daemon also runs ``gc.collect()`` after each task, and a full
    collection walks every tracked object, most of them the import-time
    heap (~73k objects: ~15 ms per task on the same VM, 0.1 ms once
    they are frozen). The first call in a worker moves that heap to the
    permanent generation with ``gc.freeze()``, which collections skip,
    unless something froze a heap before it; later calls do not freeze
    again, so what a task allocates stays collectable. A per-process
    flag remembers that first call: on CPython 3.11
    ``gc.get_freeze_count()`` walks the whole permanent generation,
    ~1.5 ms per call in a test worker on the same VM.

    Only inside a Spark task, so a driver calling a body in-process
    keeps its import state and heap. Cheap enough (a scan of a few dozen
    entries) to run where every body starts, which drops importers that
    other UDF bodies in a reused worker re-created, and where it ends:
    a top-level import walks ``sys.path`` and re-creates the importers,
    and a worker's first body still imports lazily; the next task's
    ``invalidate_caches`` sees what the body left."""
    global _heap_frozen
    if TaskContext.get() is None:
        return
    cache = sys.path_importer_cache
    jars = {p for p in sys.path if p.endswith(".jar") and not _holds_python(p)}
    if jars:
        sys.path[:] = [p for p in sys.path if p not in jars]
    for key, finder in list(cache.items()):
        if key in jars or isinstance(finder, zipimport.zipimporter):
            del cache[key]
    if not _heap_frozen:
        if not gc.get_freeze_count():
            gc.freeze()
        _heap_frozen = True


def extract_batches(it: Iterator[pa.RecordBatch]
                    ) -> Iterator[pa.RecordBatch]:
    """Fused single-pass body: the whole per-document pipeline
    (oracle.extract_document: parse → best-of → fields) in ONE Python
    stage, so candidate texts never cross the Arrow boundary.
    Input batches carry url, warc_ts, bucket, html: Arrow record batches
    (the mapInArrow body), or pandas frames from in-process callers."""
    return _document_batches(it, oracle.extract_document)


def cascade_batches(accept: float, cheap_fields: bool):
    """The fused body for the M12 cascade
    (oracle.extract_document_cascade: cheap pass, below-gate documents
    escalate to the full ensemble inside the same batch). The closure
    ships to executors via cloudpickle like any mapInArrow body."""
    def one(url, payload):
        return oracle.extract_document_cascade(url, payload, accept,
                                               cheap_fields)

    def body(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _document_batches(it, one)
    return body


def _document_batches(it, one) -> Iterator[pa.RecordBatch]:
    """Run ``one(url, payload)`` → extracted record over every document
    of every batch."""
    trim_worker_imports()
    t0 = time.monotonic()
    for batch in it:
        if not isinstance(batch, pa.RecordBatch):
            batch = pa.RecordBatch.from_pandas(batch, preserve_index=False)
        payloads = batch.column("html").to_pylist()
        recs = [one(url, b if b is not None else b"")
                for url, b in zip(batch.column("url").to_pylist(), payloads)]
        wall_ms = (time.monotonic() - t0) * 1000.0
        yield pa.RecordBatch.from_arrays([
            batch.column("url"),
            batch.column("warc_ts"),
            pa.array([r["doc_type"] for r in recs], pa.string()),
            batch.column("bucket"),
            pa.array([r["status"] for r in recs], pa.string()),
            pa.array([r["text"] for r in recs], pa.string()),
            pa.array([r["spans"] for r in recs], SPANS_PA),
            pa.array([r["blocks"] for r in recs], BLOCKS_PA),
            pa.array([r["confidence"] for r in recs], pa.float64()),
            pa.array([r["n_pages"] for r in recs], pa.int32()),
            pa.array([len(b) if b is not None else 0 for b in payloads],
                     pa.int64()),
            pa.array([r["error"] for r in recs], pa.string()),
            pa.array([wall_ms] * len(recs), pa.float64()),
        ], names=_EXTRACTED_NAMES)
    trim_worker_imports()


def respan_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Reprocess body (C4): re-run fields.extract_spans over the saved
    (text, doc_type, status) of extracted rows. Input batches carry
    every EXTRACTED_FIELDS_SCHEMA column but ``_wall_ms``; spans and
    confidence are rebuilt, the rest passes through. NEEDS_OCR and
    FAILED rows keep empty spans and confidence 0.0, as the oracle
    gives them."""
    trim_worker_imports()
    t0 = time.monotonic()
    for batch in it:
        recs = [extract_spans(text, doc_type)
                if status == oracle.STATUS_COMPLETED else ([], 0.0)
                for text, doc_type, status in zip(
                    batch.column("text").to_pylist(),
                    batch.column("doc_type").to_pylist(),
                    batch.column("status").to_pylist())]
        cols = dict(zip(batch.schema.names, batch.columns))
        cols["spans"] = pa.array([r[0] for r in recs], SPANS_PA)
        cols["confidence"] = pa.array([r[1] for r in recs], pa.float64())
        cols["_wall_ms"] = pa.array(
            [(time.monotonic() - t0) * 1000.0] * len(recs), pa.float64())
        yield pa.RecordBatch.from_arrays(
            [cols[c] for c in _EXTRACTED_NAMES], names=_EXTRACTED_NAMES)
    trim_worker_imports()
