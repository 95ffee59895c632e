"""webextract — PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo (phamduykien/doc-ocr, a FastAPI OCR/field-extraction
microservice): deterministic HTML boilerplate stripping + PDF layout
parsing + regex field-span extraction, run as one fused Arrow-batched
``mapInArrow`` pass over a Common-Crawl-style ``pages`` table
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string).

Layering (see SURVEY.md §7):

- ``dom``      — from-scratch one-scan HTML tokenizer → text blocks
- ``boiler``   — text-density / link-density block scoring, best-of-profiles
- ``pdfrun``   — from-scratch PDF subset parser (text runs, reading order)
- ``fields``   — regex field registry + char-span extraction
- ``oracle``   — single-document pure-Python pipeline (golden source)
- ``udfs``     — Arrow-batched wrappers of the oracle components
- ``pipeline`` — the Spark DAG (scan → prune → extract → write; the bucket id)
- ``checkpoint`` — parquet+manifest snapshot catalog shim (commits, snapshots)
- ``skew``     — hot-host detection + salting helpers
- ``runner``   — resumable commit-group job (a bucket filter and one map
  per group) + fields reprocess from the ``extracted`` table (C4)
- ``multimodal`` — opaque-binary media plumbing (decode / features /
  resize plan / frame sampling; stub kernels, real Spark contract)
- ``fixtures`` — deterministic synthetic pages generator (tests + bench)

Training-data-pipeline library (round 2 — DataFrame-in/DataFrame-out,
applicable to any user corpus):

- ``dedup``    — exact / shingle-MinHash-LSH / SimHash dedup, Jaccard
  verification, hot-token dropping, bucket caps, signature-bucket
  clusters, convergent cluster_pairs, end-to-end ``deduplicate``
- ``ann``      — hyperplane-LSH and IVF similarity search, bucketed
  near-dup pairs, exact baselines
- ``textstats`` — token counts, language ID, quality scores, winnowing
  fingerprints, dictionary word segmentation, Gopher repetition
  signals + quality-rule flags (round 4), Unicode NFC normalization +
  C4-style blocklist flags (round 5)
- ``pii``      — email/IPv4/phone redaction with per-label counts
  (round 4)
- ``urls``     — canonical URL normalization, host extraction,
  host-level quota sampling (round 4), leakage-safe host-disjoint
  train/test splits (round 5)
- ``warc``     — raw WARC/1.0 ingestion into the pages table (round 4)
- ``validate`` — field-warning rows (required/date/numeric/low-conf)
- ``cache``    — release() for the persisted intermediates library entry
  points track on their results (round 3; long-lived sessions call it
  after materializing to unpersist the chain)

The byte-identical contract: every operator on the golden text path runs
the SAME Python code in the single-node oracle and inside the Spark
Arrow UDF bodies (shared modules), so the Spark output is byte-identical per
url to the oracle by construction — divergence means a vectorization bug.
"""

__version__ = "0.1.0"

MAX_PAYLOAD_BYTES = 50 * 1024 * 1024  # reference: config/settings.py:31 MAX_FILE_SIZE
