"""Skew handling: salted two-phase agg must equal direct groupBy, and the
fixture Zipf head must be detected (SURVEY.md §5.2 #4)."""

import pyspark.sql.functions as F

from webextract import skew, urls


def test_salted_agg_equals_direct(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    df = pages.select("url", F.length("html").alias("nbytes"))
    key = urls.host_of("url")

    direct = {
        r["_k"]: (r["cnt"], r["total"], r["avg_b"])
        for r in df.groupBy(key.alias("_k"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("nbytes").alias("total"),
             F.avg("nbytes").alias("avg_b"))
        .collect()
    }
    salted = {
        r["_key"]: (r["cnt"], r["total"], r["avg_b"])
        for r in skew.salted_agg(
            df, key,
            {"cnt": ("count", "nbytes"), "total": ("sum", "nbytes"),
             "avg_b": ("avg", "nbytes")},
        ).collect()
    }
    assert set(direct) == set(salted)
    for k, (cnt, total, avg_b) in direct.items():
        s_cnt, s_total, s_avg = salted[k]
        assert s_cnt == cnt and s_total == total
        assert abs(s_avg - avg_b) < 1e-9


def test_hot_host_detected(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    hosts = skew.hot_keys(pages, urls.host_of("url"), threshold_frac=0.15)
    assert hosts == ["archive00.example.org"]  # the fixture Zipf head (~30%)


def test_selective_salting_leaves_cold_keys_single(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    df = skew.with_salt(pages, urls.host_of("url"), only_keys=["archive00.example.org"])
    per_host = (
        df.groupBy(urls.host_of("url").alias("h"))
        .agg(F.countDistinct("_salt").alias("salts"))
        .collect()
    )
    by = {r["h"]: r["salts"] for r in per_host}
    assert by["archive00.example.org"] > 1
    assert all(v == 1 for h, v in by.items() if h != "archive00.example.org")
