"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

A seed maps to a disjoint generator offset: document indices of seed
``s`` and workload slot ``k`` start at ``(s + 1) * 10**9 + k * 10**8``,
so no two (seed, workload) pairs share a document. Generation and the
reference digests run in a ``spawn`` pool of at most ``nproc`` workers
over a fixed number of chunks (the chunking, not the pool size, fixes
the output), outside any timed region. Each input records its
properties; a seed whose properties stray from the documented mix is
rejected (``InputRejected``).

Mixes:

- ``crawl``: the fixture pages mix (``webextract.fixtures``): ~75% HTML,
  20% born-digital PDF, 2% scanned PDF, 2% raw image, 1% broken, with a
  Zipf host head owning ~30% of rows.
- ``pdf_warc``: member-gzip WARC/1.0 archives of PDF-dominant payloads:
  88% born-digital PDF, 4% scanned PDF, 4% raw image, 4% broken, no
  HTML, same host head.
- ``hygiene``: extracted-text rows ``(doc_id, url, text)`` over 300
  Zipf-weighted hosts; a quarter of the paragraph slots draw from a
  shared pool of 1000 paragraphs, so at 6000 documents ~22% of
  paragraphs repeat an earlier one.
"""

from __future__ import annotations

import bisect
import gzip
import hashlib
import itertools
import json
import math
import multiprocessing as mp
import os
import random
import shutil
from collections import Counter

from . import common, reference

GEN_VERSION = 1
SLOTS = {"crawl": 0, "pdf_warc": 1, "resume": 2, "hygiene": 3, "sample": 4}
CRAWL_MIX = {"html": 0.75, "pdf": 0.20, "scanned": 0.02, "image": 0.02,
             "broken": 0.01}
PDF_MIX = {"pdf": 0.88, "scanned": 0.04, "image": 0.04, "broken": 0.04}
HEAD_SHARE = 0.30
CHUNKS = 8
KEEP_SEEDS = 4  # cached seeds kept per input kind; older ones are pruned


class InputRejected(RuntimeError):
    """The seed's generated input strays from the documented mix."""


def offset(seed: int, slot: str) -> int:
    if seed < 0:
        raise ValueError("seed must be >= 0")
    return (seed + 1) * 10**9 + SLOTS[slot] * 10**8


def payload_kind(payload: bytes) -> str:
    """Classify a generated payload from its bytes alone."""
    if payload[:5] == b"%PDF-":
        if b"%%EOF" not in payload[-16:]:
            return "broken"
        return "scanned" if b"/Subtype /Image" in payload else "pdf"
    if payload[:3] == b"\xff\xd8\xff" or payload[:4] == b"\x89PNG":
        return "image"
    return "html"


def _code_key() -> str:
    """Hash of the program sources: the reference digests depend on them."""
    h = hashlib.sha256(str(GEN_VERSION).encode())
    pkg = os.path.join(common.ROOT, "webextract")
    for f in sorted(os.listdir(pkg)):
        if f.endswith(".py"):
            with open(os.path.join(pkg, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


# ------------------------------------------------------------ pool bodies


def _init_worker(root: str) -> None:
    import sys
    if root not in sys.path:
        sys.path.insert(0, root)


def _pages_chunk(start: int, n: int):
    """Rows [start, start + n) of the fixture pages table plus the
    oracle digest of each."""
    from webextract import fixtures, oracle
    rows, refs = [], []
    for i in range(start, start + n):
        row = fixtures.gen_page(i)
        rows.append(row)
        refs.append(reference.extracted_digest(
            oracle.extract_document(row[0], row[2])))
    return rows, refs


def _pdf_payload(i: int) -> tuple[str, bytes]:
    from webextract import fixtures
    r = fixtures.mix(i, 7001) % 100
    if r < 88:
        return "pdf", fixtures.gen_pdf(i)
    if r < 92:
        return "scanned", fixtures.gen_scanned_pdf(i)
    if r < 96:
        return "image", fixtures.gen_image(i)
    return "broken", fixtures.gen_broken(i)


def _warc_record(url: str, ts, payload: bytes) -> bytes:
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n"
            b"Content-Length: %d\r\n\r\n" % len(payload)) + payload
    head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n").encode()
    return gzip.compress(head + http + b"\r\n\r\n", compresslevel=6)


def _warc_chunk(path: str, start: int, n: int):
    """One member-gzip WARC archive of PDF-dominant payloads."""
    import datetime as dt

    from webextract import fixtures, oracle
    refs, kinds, raw = {}, [], 0
    with open(path, "wb") as f:
        for i in range(start, start + n):
            kind, payload = _pdf_payload(i)
            host = ("pdfhost00.example.org" if fixtures.mix(i, 1) % 100 < 30
                    else "pdfhost%02d.example.org" % (1 + fixtures.mix(i, 1) % 39))
            url = f"https://{host}/files/DOC_{i:012d}.pdf"
            ts = fixtures.EPOCH + dt.timedelta(
                seconds=int(fixtures.mix(i, 96) % (365 * 86400)))
            f.write(_warc_record(url, ts, payload))
            refs[url] = reference.extracted_digest(
                oracle.extract_document(url, payload))
            kinds.append((kind, host))
            raw += len(payload)
    return refs, kinds, raw


WORDS = (
    "archive record document storage digital regulation administration "
    "library collection metadata catalogue index search retrieval access "
    "preservation format migration standard policy review version "
    "history source quality language content text paragraph section "
    "chapter volume series report letter decision notice circular "
    "hồ sơ tài liệu lưu trữ quốc gia văn bản quyết định thông tư"
).split()
HYGIENE_HOSTS = 300
POOL_PARAS = 1000
DUP_SLOT_SHARE = 0.25
HOST_CUM = list(itertools.accumulate(
    1.0 / (r + 1) for r in range(HYGIENE_HOSTS)))
STOP_LIST = sorted(reference.STOPWORDS)


def _paragraph(rng: random.Random) -> str:
    n = rng.randint(8, 28)
    toks = rng.choices(WORDS, k=n)
    for k in rng.sample(range(n), min(n, 3)):
        toks[k] = rng.choice(STOP_LIST)
    p = " ".join(toks).capitalize()
    r = rng.random()
    if r < 0.04:
        return "- " + p
    if r < 0.08:
        return p + "..."
    return p + "."


def _hygiene_chunk(seed: int, chunk: int, start: int, n: int):
    pool_rng = random.Random(f"wxbench-pool-{seed}")
    pool = [_paragraph(pool_rng) for _ in range(POOL_PARAS)]
    rng = random.Random(f"wxbench-hygiene-{seed}-{chunk}")
    docs = []
    for doc_id in range(start, start + n):
        host = bisect.bisect_left(HOST_CUM, rng.random() * HOST_CUM[-1])
        port = ":443" if rng.random() < 0.1 else ""
        url = f"https://www.h{host:03d}.example.net{port}/a/{doc_id}"
        paras = [pool[int(POOL_PARAS * rng.random() ** 2)]
                 if rng.random() < DUP_SLOT_SHARE else _paragraph(rng)
                 for _ in range(rng.randint(3, 8))]
        docs.append((doc_id, url, "\n".join(paras)))
    return docs


# ------------------------------------------------------------ properties


def _share_ok(counts: Counter, n: int, mix: dict[str, float]) -> list[str]:
    """Kinds whose share strays more than 5 binomial SDs (+0.2 pp) from
    the documented mix."""
    bad = []
    for kind, p in mix.items():
        tol = 5 * math.sqrt(p * (1 - p) / n) + 0.002
        if abs(counts.get(kind, 0) / n - p) > tol:
            bad.append(f"{kind}={counts.get(kind, 0) / n:.4f} (want {p}±{tol:.4f})")
    extra = set(counts) - set(mix)
    bad.extend(f"unexpected kind {k}" for k in sorted(extra))
    return bad


def _head_ok(share: float, n: int, p: float) -> list[str]:
    tol = 5 * math.sqrt(p * (1 - p) / n) + 0.002
    return ([] if abs(share - p) <= tol
            else [f"host head share {share:.4f} (want {p}±{tol:.4f})"])


# ------------------------------------------------------------ the inputs


class Input:
    """A prepared input: ``dir`` holds the files, ``meta`` the recorded
    properties, ``expected`` the reference digests by key."""

    def __init__(self, d: str):
        self.dir = d
        with open(os.path.join(d, "meta.json")) as f:
            self.meta = json.load(f)
        with open(os.path.join(d, "expected.json")) as f:
            exp = json.load(f)
        self.expected = ({int(k): v for k, v in exp.items()}
                         if self.meta["key"] == "doc_id" else exp)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


class Pending:
    """Input generation in flight in a spawn pool (``result()`` waits)."""

    def __init__(self, kind: str, seed: int, size: dict):
        self.kind, self.seed, self.size = kind, seed, size
        self.dir = os.path.join(
            common.CACHE, f"{kind}-s{seed}-{_code_key()}-"
            + "-".join(f"{k}{v}" for k, v in sorted(size.items())))
        self.pool = None
        self.async_result = None
        if os.path.exists(os.path.join(self.dir, "meta.json")):
            return
        shutil.rmtree(self.dir + ".tmp", ignore_errors=True)
        os.makedirs(self.dir + ".tmp")
        jobs, fn = self._jobs()
        ctx = mp.get_context("spawn")
        self.pool = ctx.Pool(min(common.ncpus(), len(jobs)),
                             initializer=_init_worker,
                             initargs=(common.ROOT,))
        self.async_result = self.pool.starmap_async(fn, jobs)

    def _jobs(self):
        base = offset(self.seed, self.kind)
        if self.kind in ("crawl", "resume"):
            n = self.size["docs"]
            step = -(-n // CHUNKS)
            return ([(base + s, min(step, n - s)) for s in range(0, n, step)],
                    _pages_chunk)
        if self.kind == "pdf_warc":
            per = self.size["per_archive"]
            return ([(os.path.join(self.dir + ".tmp", f"part-{a:03d}.warc.gz"),
                      base + a * per, per)
                     for a in range(self.size["archives"])], _warc_chunk)
        n = self.size["docs"]
        step = -(-n // CHUNKS)
        return ([(self.seed, c, base + s, min(step, n - s))
                 for c, s in enumerate(range(0, n, step))], _hygiene_chunk)

    def close(self) -> None:
        """End the pool's workers and wait for them; drop the pool so its
        semaphores are released before the run stops the resource
        tracker (``common.reap_children``)."""
        if self.pool is not None:
            if self.async_result is not None and self.async_result.ready():
                self.pool.close()
            else:
                self.pool.terminate()
            self.pool.join()
            self.pool = self.async_result = None

    def result(self) -> Input:
        if self.pool is not None:
            try:
                parts = self.async_result.get()
            finally:
                self.close()
            meta, expected = getattr(self, "_finish_" + (
                "pages" if self.kind in ("crawl", "resume") else
                self.kind))(parts)
            problems = meta.pop("problems")
            if problems:
                shutil.rmtree(self.dir + ".tmp", ignore_errors=True)
                raise InputRejected(f"{self.kind} seed {self.seed}: "
                                    + "; ".join(problems))
            meta.update(kind=self.kind, seed=self.seed, size=self.size,
                        gen_version=GEN_VERSION)
            common.write_json(os.path.join(self.dir + ".tmp",
                                           "expected.json"), expected)
            common.write_json(os.path.join(self.dir + ".tmp", "meta.json"),
                              meta)
            shutil.rmtree(self.dir, ignore_errors=True)
            os.replace(self.dir + ".tmp", self.dir)
            _prune(self.kind, self.dir)
        return Input(self.dir)

    def _finish_pages(self, parts):
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = [r for chunk, _ in parts for r in chunk]
        refs = [d for _, chunk in parts for d in chunk]
        schema = pa.schema([("url", pa.string()),
                            ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()),
                            ("lang", pa.string())])
        table = pa.Table.from_arrays(
            [pa.array(list(c)) for c in zip(*rows)], schema=schema)
        path = os.path.join(self.dir + ".tmp", "pages.parquet")
        pq.write_table(table, path, row_group_size=self.size["row_group"])
        n = len(rows)
        kinds = Counter(payload_kind(r[2]) for r in rows)
        hosts = Counter(r[0].split("/")[2] for r in rows)
        head = hosts.most_common(1)[0][1] / n
        meta = {
            "key": "url", "docs": n,
            "kind_mix": {k: round(v / n, 4) for k, v in sorted(kinds.items())},
            "payload_bytes": sum(len(r[2]) for r in rows),
            "file_bytes": os.path.getsize(path),
            "hosts": len(hosts), "host_head_share": round(head, 4),
            "problems": (_share_ok(kinds, n, CRAWL_MIX)
                         + _head_ok(head, n, HEAD_SHARE)
                         + (["duplicate urls"] if len(set(r[0] for r in rows)) != n
                            else [])),
        }
        return meta, dict(zip((r[0] for r in rows), refs))

    def _finish_pdf_warc(self, parts):
        refs = {u: d for r, _, _ in parts for u, d in r.items()}
        kinds = Counter(k for _, ks, _ in parts for k, _ in ks)
        hosts = Counter(h for _, ks, _ in parts for _, h in ks)
        n = sum(kinds.values())
        head = hosts.most_common(1)[0][1] / n
        sizes = sorted(os.path.getsize(os.path.join(self.dir + ".tmp", f))
                       for f in os.listdir(self.dir + ".tmp"))
        meta = {
            "key": "url", "docs": n,
            "kind_mix": {k: round(v / n, 4) for k, v in sorted(kinds.items())},
            "payload_bytes": sum(raw for _, _, raw in parts),
            "file_bytes": sum(sizes), "archives": len(sizes),
            "archive_bytes": {"min": sizes[0], "median": sizes[len(sizes) // 2],
                              "max": sizes[-1]},
            "hosts": len(hosts), "host_head_share": round(head, 4),
            "problems": (_share_ok(kinds, n, PDF_MIX)
                         + _head_ok(head, n, HEAD_SHARE)
                         + (["duplicate urls"] if len(refs) != n else [])),
        }
        return meta, refs

    def _finish_hygiene(self, parts):
        import pyarrow as pa
        import pyarrow.parquet as pq
        docs = [d for chunk in parts for d in chunk]
        n = len(docs)
        table = pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                          "url": [d[1] for d in docs],
                          "text": [d[2] for d in docs]})
        path = os.path.join(self.dir + ".tmp", "texts.parquet")
        pq.write_table(table, path, row_group_size=self.size["row_group"])
        hosts = Counter(reference.host_of(d[1]) for d in docs)
        head = hosts.most_common(1)[0][1] / n
        paras = [p for d in docs for p in d[2].split("\n")]
        dup = 1 - len(set(paras)) / len(paras)
        head_p = 1.0 / HOST_CUM[-1]
        problems = _head_ok(head, n, head_p)
        if not 0.19 <= dup <= 0.25:
            problems.append(f"duplicate-paragraph share {dup:.4f} "
                            "(want 0.19..0.25)")
        meta = {
            "key": "doc_id", "docs": n, "kind_mix": {"text": 1.0},
            "payload_bytes": sum(len(d[2].encode()) for d in docs),
            "file_bytes": os.path.getsize(path),
            "hosts": len(hosts), "host_head_share": round(head, 4),
            "paragraphs": len(paras), "dup_paragraph_share": round(dup, 4),
            "max_per_host": self.size["max_per_host"],
            "problems": problems,
        }
        expected = reference.hygiene_reference(docs, self.size["max_per_host"])
        return meta, expected


def _prune(kind: str, keep: str) -> None:
    """Drop all but the newest KEEP_SEEDS cached inputs of ``kind``."""
    dirs = [os.path.join(common.CACHE, d) for d in os.listdir(common.CACHE)
            if d.startswith(kind + "-s") and not d.endswith(".tmp")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
