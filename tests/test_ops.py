"""Operator battery spot-check: a fast subset of __spark_entry__
queries compared against their DuckDB oracles at sf0.001, using the same
canonicalization the driver applies (sorted columns, order-insensitive
row hash). The full 75-query sweep at sf0.01 runs via
scripts/check_entry.py (and by the driver per-round)."""

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

FAST_QUERIES = [
    "q1_pricing_summary",
    "region_customer_rollup",
    "window_top_order_per_customer",
    "sessionize_events",
    "cube_order_stats",
    "salted_user_totals",
    "token_counts_by_lang",
    "minhash_signatures",
    "simhash_doc_hashes",
    "cosine_topk_bruteforce",
    "multimodal_binary_meta",
    # round-2 driver-oracled extraction + scale paths: keep the generated
    # SQL replay in lock-step with the Python spec under plain pytest.
    # (The remaining oracled queries — warnings, PDF, simhash pairs, … —
    # run in the full check_entry sweep; these two pin the shared
    # generated-SQL machinery at ~1 min.)
    "extract_field_values",
    "ann_ivf_topk",
    # round 4: F13 dictionary segmentation (generated replace-chain SQL)
    "compound_word_segment",
    # round 4: corpus hygiene — pii_scrub's oracle is generated from
    # PII_PATTERNS (pin the generator); paragraph dedup pins the
    # election/reassembly SQL twin
    "pii_scrub",
    "paragraph_dedup_reassembly",
    "host_quota_sample",
    "gopher_repetition_signals",
    "gopher_quality_flags",
    "decontamination_flags",
    # round 5: scanned-page census (full pipeline, NEEDS_OCR taxonomy),
    # the composed hygiene chain, and the lineage health check (runs a
    # real checkpointed job into a temp dir)
    "payload_kind_census",
    "hygiene_chain",
    "lineage_run_summary",
    "needs_ocr_route",
    # round 5: Unicode NFC (pandas-UDF vs DuckDB utf8proc — two
    # independent UAX #15 implementations) and the C4 blocklist flag
    "unicode_nfc_normalize",
    "content_blocklist_flags",
    "host_disjoint_split",
    # the one cascade plan: no other tier-1 test DuckDB-checks it
    "extract_cascade_in_batch_oracled",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entry.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df):
    from scripts.check_entry import value_hash
    return value_hash(df)


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF_DIR).toPandas()
    ddf = duck.sql(entry.oracle_sql()[name]).df()
    assert _canon(sdf) == _canon(ddf)


def test_every_query_has_callable_and_aliased_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)
    # round 4: the last two rows-only gates gained golden-parquet
    # oracles — every registered query now has a DuckDB oracle
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()
