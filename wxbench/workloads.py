"""The four workloads. Each one is a closed loop of identical jobs in one
Spark application: ``before_job`` (untimed) → ``job`` (timed) →
``check`` (untimed, every output row against the reference).

- ``crawl_pages``: pages parquet → ``pipeline.run_extract`` → parquet.
- ``pdf_warc``: member-gzip WARC archives → ``warc.extract_warc`` →
  parquet.
- ``resume_job``: ``runner.run_job`` at its defaults resuming a copy of
  a catalog in which half of the commit groups are already committed.
- ``hygiene_text``: text rows → ``urls.host_quota`` →
  ``dedup.dedup_paragraphs`` → ``textstats.gopher_quality_flags`` as
  one plan → parquet.

``BENCHMARK.json`` lists ``crawl_pages`` and ``hygiene_text``: one runs
the Python extraction path, the other bypasses it. ``pdf_warc`` and
``resume_job`` run the same way when named with ``--workload`` but are
not listed, because a run of each takes 45-65 s on 4 cores and the
benchmark's time budget holds two workloads; the layers they stress
(``warc``, ``pdfrun``, ``runner``, ``checkpoint``) are measured in every
traced run (``ledger.py``).
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil

from . import common, inputs, reference

MAX_PER_HOST = 40


def read_rows(paths) -> list[dict]:
    import pyarrow.parquet as pq
    rows = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.parquet")))
        for f in files:
            rows.extend(pq.read_table(f).to_pylist())
    return rows


def extracted_check(expected: dict, paths) -> tuple[int, int, list[str]]:
    return reference.row_check(
        expected, ((r["url"], reference.extracted_digest(r))
                   for r in read_rows(paths)))


class Workload:
    name = ""
    input_kind = ""
    size: dict = {}

    def pending(self, seed: int) -> inputs.Pending:
        return inputs.Pending(self.input_kind, seed, self.size)

    def prepare(self, spark, inp: inputs.Input) -> None:
        """Untimed, once per run, after the last set-up: size the scan
        splits the way a user of ``pipeline.tune_input_splits`` would."""
        from webextract import pipeline
        self.inp = inp
        pipeline.tune_input_splits(spark, inp.meta["file_bytes"])

    def before_job(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def frame(self, spark):
        """The DataFrame a job writes."""
        raise NotImplementedError

    def job(self, spark, out: str) -> None:
        self.frame(spark).write.parquet(out)

    def scan(self, spark):
        """The job's pruned input scan (ledger probe)."""
        from webextract import pipeline
        pages = spark.read.parquet(self.inp.path("pages.parquet"))
        return pipeline.with_bucket(pages.select("url", "warc_ts", "html"))

    def sample(self, k: int) -> list[tuple[str, bytes]]:
        """A seeded sample of ``k`` of the workload's own documents as
        (url, payload), for the in-process oracle probes."""
        import pyarrow.parquet as pq
        t = pq.read_table(self.inp.path("pages.parquet"),
                          columns=["url", "html"])
        idx = sorted(random.Random(self.inp.meta["seed"]).sample(
            range(t.num_rows), min(k, t.num_rows)))
        urls, html = t.column("url"), t.column("html")
        return [(urls[i].as_py(), html[i].as_py()) for i in idx]

    def docs(self) -> int:
        return self.inp.meta["docs"]

    def in_bytes(self) -> int:
        return self.inp.meta["file_bytes"]

    def out_bytes(self, out: str) -> int:
        return common.du(out, ".parquet")

    def check(self, out: str) -> tuple[int, int, list[str]]:
        return extracted_check(self.inp.expected, [out])


class CrawlPages(Workload):
    name = "crawl_pages"
    input_kind = "crawl"
    size = {"docs": 2800, "row_group": 200}

    def frame(self, spark):
        from webextract import pipeline
        return pipeline.run_extract(
            spark.read.parquet(self.inp.path("pages.parquet")))


class PdfWarc(Workload):
    name = "pdf_warc"
    input_kind = "pdf_warc"
    size = {"archives": 8, "per_archive": 400}

    def prepare(self, spark, inp):
        """WARC.gz is not splittable: one task per archive, nothing to
        tune."""
        self.inp = inp

    def frame(self, spark):
        from webextract import warc
        return warc.extract_warc(spark, self.inp.path("*.warc.gz"))

    def scan(self, spark):
        return (spark.read.format("binaryFile")
                .load(self.inp.path("*.warc.gz")).select("content"))

    def sample(self, k):
        from webextract import warc
        docs = []
        for f in sorted(glob.glob(self.inp.path("*.warc.gz"))):
            with open(f, "rb") as fh:
                docs.extend((u, p) for u, _, p in warc.parse_warc(fh.read()))
        rng = random.Random(self.inp.meta["seed"])
        return [docs[i] for i in sorted(rng.sample(range(len(docs)),
                                                   min(k, len(docs))))]


class ResumeJob(CrawlPages):
    name = "resume_job"
    input_kind = "resume"
    size = {"docs": 4000, "row_group": 250}

    def prepare(self, spark, inp):
        """Commit half of the groups into a base catalog, once."""
        from .ledger import commit_half
        super().prepare(spark, inp)
        self.base = os.path.join(common.OUT, "resume-base")
        shutil.rmtree(self.base, ignore_errors=True)
        commit_half(spark, spark.read.parquet(inp.path("pages.parquet")),
                    self.base)
        self.base_bytes = common.du(self.base, ".parquet")
        committed = len(read_rows(self._parts(self.base)))
        self.pending_docs = inp.meta["docs"] - committed

    def before_job(self, out):
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.base, out)

    def job(self, spark, out):
        from webextract import runner
        pages = spark.read.parquet(self.inp.path("pages.parquet"))
        runner.run_job(spark, pages, out)

    def docs(self):
        return self.pending_docs

    def out_bytes(self, out):
        return common.du(out, ".parquet") - self.base_bytes

    @staticmethod
    def _parts(root: str) -> list[str]:
        """Part directories of the latest committed ``extracted``
        snapshot, read from the catalog manifests directly."""
        mdir = os.path.join(root, "extracted", "_manifests")
        versions = [int(f[1:-5]) for f in os.listdir(mdir)
                    if f.startswith("v") and f.endswith(".json")]
        with open(os.path.join(mdir, f"v{max(versions)}.json")) as f:
            man = json.load(f)
        return [os.path.join(root, "extracted", p) for p in man["parts"]]

    def check(self, out):
        return extracted_check(self.inp.expected, self._parts(out))


class HygieneText(Workload):
    name = "hygiene_text"
    input_kind = "hygiene"
    size = {"docs": 6000, "row_group": 500, "max_per_host": MAX_PER_HOST}

    @staticmethod
    def plan(df, max_per_host: int = MAX_PER_HOST):
        from webextract import dedup, textstats, urls
        kept = urls.host_quota(df, max_per_host=max_per_host)
        deduped = dedup.dedup_paragraphs(kept.select("doc_id", "text"))
        return textstats.gopher_quality_flags(deduped).select(
            *reference.HYGIENE_KEYS)

    def frame(self, spark):
        return self.plan(self.scan(spark), self.size["max_per_host"])

    def scan(self, spark):
        return spark.read.parquet(self.inp.path("texts.parquet"))

    def sample(self, k):
        """hygiene_text has no payload documents of its own: the oracle
        probes use crawl-mix pages from this seed's disjoint offset."""
        from webextract import fixtures
        start = inputs.offset(self.inp.meta["seed"], "sample")
        return [(r[0], r[2]) for r in fixtures.gen_pages(k, start)]

    def check(self, out):
        return reference.row_check(
            self.inp.expected, ((r["doc_id"], reference.hygiene_digest(r))
                                for r in read_rows([out])))


WORKLOADS = {w.name: w for w in (CrawlPages, PdfWarc, ResumeJob, HygieneText)}
