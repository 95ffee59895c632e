"""URL canonicalization — the dedup/partition key normalizer.

A Common-Crawl-scale corpus holds the same page under many spellings:
fragments, default ports, tracking parameters, ``www.``, trailing
slashes, mixed-case hosts. Exact dedup (U1), the resume bucketing
(pmod(xxhash64(url))), and point lookups (P1) all key on ``url``, so a
canonical form multiplies their effectiveness. The reference has no
URL handling beyond filename prefixes (ocr_service.py:170-179); this
is the web-corpus analogue of its filename normalization.

Deterministic spec (in application order — each step is a plain
Catalyst string op, replayable verbatim in DuckDB SQL; no regex
backreferences, no lookarounds, binary string sort only):

1. strip the fragment (``#…``);
2. split off the query at the first ``?``;
3. lowercase the scheme+authority (host) part only — paths stay
   case-sensitive;
4. drop the scheme's default port (``:80`` http, ``:443`` https);
5. drop a leading ``www.`` (dedup keying, not a fetchable rewrite);
6. drop trailing slashes on the path;
7. drop empty and ``utm_*`` query parameters, sort the rest
   (binary order), re-join with ``&`` (dropped entirely if none
   survive).

``canonical_url`` is a Column → Column expression; everything is
whole-stage-codegen string ops — at 100 TB it rides the scan with
zero shuffle. Oracled by the driver query ``canonical_url_dedup``
(__spark_entry__), which exercises every rule above on synthesized
variants and is replayed in DuckDB from the same spec.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def canonical_url(url: str | Column = "url") -> Column:
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, "#.*$", "")                       # 1
    base = F.regexp_extract(u, "^([^?]*)", 1)                 # 2
    query = F.regexp_extract(u, r"^[^?]*\?(.*)$", 1)
    auth = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1)
    path = F.substring(base, F.length(auth) + 1, F.length(base))
    la = F.lower(auth)                                        # 3
    a = (F.when(la.startswith("https://"),
                F.regexp_replace(la, ":443$", ""))            # 4
         .when(la.startswith("http://"),
               F.regexp_replace(la, ":80$", ""))
         .otherwise(la))
    # 5 — literal PREFIX strip (host_of discipline): the authority is a
    # single token so replace-all could only ever hit once, but
    # startswith+substring makes the prefix intent mechanical (r4 nit);
    # the DuckDB oracle's plain replace stays output-identical
    a = (F.when(a.startswith("https://www."),
                F.concat(F.lit("https://"),
                         F.substring(a, 13, F.length(a))))
         .when(a.startswith("http://www."),
               F.concat(F.lit("http://"),
                        F.substring(a, 12, F.length(a))))
         .otherwise(a))
    path = F.regexp_replace(path, "/+$", "")                  # 6
    kept = F.array_sort(F.filter(                             # 7
        F.split(query, "&"),
        lambda x: (x != "") & ~x.startswith("utm_")))
    q = F.array_join(kept, "&")
    return F.concat(
        a, path,
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def with_canonical_url(df: DataFrame, url_col: str = "url",
                       out_col: str = "canon_url") -> DataFrame:
    """Adds the canonical form; pair with groupBy(out_col) for exact
    URL-level dedup or use it as the bucketing/point-lookup key."""
    return df.withColumn(out_col, canonical_url(url_col))


def host_of(url: str | Column = "url") -> Column:
    """Registrable host of a URL: the authority lowercased, userinfo
    (``user:pass@``) stripped, port stripped, leading ``www.``
    stripped — the grouping key for host-level corpus policies
    (quotas, skew salting, reputation). Userinfo must go first: a
    quota keyed on the raw authority would let ``x@big.org`` spellings
    mint unlimited phantom hosts and bypass ``max_per_host``. Pure
    codegen string ops; empty string for scheme-less inputs."""
    u = F.col(url) if isinstance(url, str) else url
    h = F.lower(F.regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)",
                                 1))
    h = F.regexp_replace(h, "^[^/@]*@", "")
    h = F.regexp_replace(h, ":[0-9]+$", "")
    return F.when(h.startswith("www."),
                  F.substring(h, 5, F.length(h))).otherwise(h)


def host_quota(df: DataFrame, url_col: str = "url",
               max_per_host: int = 1000,
               host_col: str = "host") -> DataFrame:
    """Host-level quota sampling — keep at most ``max_per_host``
    documents per host, deterministically (the ``max_per_host``
    lexicographically-smallest distinct URLs win). The Common-Crawl
    balancing op: without it a handful of mega-hosts dominate the
    token budget. Scheme-less/unparseable URLs (``host_of`` = '') are
    EXEMPT and pass through unquoted — they share no real host, so
    pooling them under one '' bucket would silently discard all but
    ``max_per_host`` of them.

    Scale shape: one election on a slim ``(host, url, _exempt)``
    projection via ``dedup.cap_buckets``, then one semi-join of the
    winning urls back to the full rows. ``_exempt`` is the url itself
    when the host is '' and NULL otherwise, so the election is keyed by
    ``(host, _exempt)``: every exempt url is its own group and ranks
    first, and needs no second pass. ``dense_rank`` counts distinct
    urls, so duplicate URLs count ONCE toward the quota and travel
    together. The cap is two salted rank-limited windows, never one
    per-host window: without relying on Spark's partial top-k, a
    first-level task sorts at most host/1024 slim rows and a
    second-level key sees at most 1024·max_per_host distinct urls, and
    both sorts spill. Full rows are never grouped by host; only the
    semi-join shuffles them, keyed by url. Extra columns ride along;
    adds ``host_col``.

    Composition note: this op references its input subtree TWICE (the
    slim election + the full-row semi-join side) — deliberate, because
    the single-reference alternative would carry payload columns
    through the per-host ranking. Over a parquet scan the second
    reference is a cheap pruned re-scan; over an EXPENSIVE lazy
    upstream, checkpoint/persist the input first (the measured cost of
    multiply-referenced upstreams is in BENCH.md's composed-chain A/B;
    dedup_paragraphs and repetition_signals are single-reference and
    compose freely)."""
    from .dedup import cap_buckets
    if max_per_host < 1:
        raise ValueError("max_per_host must be >= 1")
    h = df.withColumn(host_col, host_of(url_col))
    slim = h.select(host_col, url_col,
                    F.when(F.col(host_col) == "", F.col(url_col))
                    .alias("_exempt"))
    winners = cap_buckets(slim, id_col=url_col, bucket_cap=max_per_host,
                          key_cols=(host_col, "_exempt")).select(url_col)
    return h.join(winners, url_col, "left_semi")


# The DuckDB replay of the same seven steps lives in __spark_entry__
# (`canonical_url_dedup` oracle) as a lateral-alias SELECT chain —
# change the spec here and there together.


def host_split(df: DataFrame, url_col: str = "url",
               test_frac: float = 0.05, salt: str = "",
               split_col: str = "split") -> DataFrame:
    """Leakage-safe train/test split, HOST-disjoint: every page of a
    host lands on the same side, so near-duplicate pages from one site
    (boilerplate variants, mirrored paths) can never straddle the
    split and leak eval text into training — the standard failure of
    row-wise random splits on web corpora. Deterministic and
    engine-portable: the assignment key is the first 4 hex chars of
    ``md5(salt || host)`` compared LEXICOGRAPHICALLY against the
    threshold ``format(round(test_frac * 65536), '04x')`` — md5 is
    uniform over hex strings, both Spark and DuckDB emit lowercase
    hex, and a string compare avoids hex→int conversion (no shared
    hash function or conv() exists across the two dialects; xxhash64
    is Spark-only). A DuckDB replay must use this exact threshold
    string (the `host_disjoint_split` oracle hard-codes '3333' for
    frac 0.2). ``salt`` re-rolls the assignment without touching
    the data. Scheme-less URLs (``host_of`` = '') get 'train' — they
    carry no host to leak through, and the conservative side keeps
    eval clean. In-row, zero shuffle; adds ``host_col``-free
    ``split`` ∈ {'train','test'}. test_frac resolution is 1/65536;
    frac ≥ 1 - 1/131072 rounds to 65536, which cannot be a 4-hex
    string ('10000' would compare as 5 chars and break the
    lexicographic order) — that case short-circuits to all-test."""
    t = max(0, min(65536, round(test_frac * 65536)))
    key = F.substring(F.md5(F.concat(F.lit(salt), host_of(url_col))), 1, 4)
    is_test = F.lit(True) if t >= 65536 else key < F.lit(format(t, "04x"))
    return df.withColumn(
        split_col,
        F.when(host_of(url_col) == "", F.lit("train"))
        .when(is_test, F.lit("test"))
        .otherwise(F.lit("train")))
