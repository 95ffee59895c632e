"""Explicit skew handling: hot-key detection + salted two-phase aggregation.

north_rule: "partitioning / shuffle / skew handled explicitly". Fixture
reality (FIXTURES.md): one host owns ~30% of urls — a classic Zipf head.
Per-document extraction is row-local, so skew never corrupts results; it
hurts the *aggregation* side (host stats, lineage) and any groupBy over
host-like keys. Two mechanisms:

1. ``with_salt`` + ``salted_agg``: two-phase aggregation —
   groupBy(key, salt) partial agg → groupBy(key) final merge. The first
   shuffle spreads a hot key over ``n_salts`` reducers; the second merges
   ``n_salts`` tiny partials. Results are exactly equal to a direct
   groupBy (verified against a plain-SQL DuckDB oracle in
   __spark_entry__.queries()['salted_user_totals']).

2. ``hot_keys``: cheap sampled pre-agg to *detect* hot keys when salting
   should be selective (salt only hot keys, leave the long tail alone —
   avoids n_salts× partial-row blowup for millions of cold hosts at
   100 TB scale). ``salted_agg(..., only_keys=...)`` salts just those.

AQE's skew-join splitting covers joins; it does NOT cover skewed
aggregations — hence this module (SURVEY.md §4.2).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

DEFAULT_SALTS = 16


def hot_keys(
    df: DataFrame, key: Column, threshold_frac: float = 0.05,
    sample_frac: float | None = None,
) -> list:
    """Keys owning more than ``threshold_frac`` of (sampled) rows.
    Deterministic sampling via xxhash64 of the key's row — no RNG."""
    src = df
    if sample_frac is not None and 0 < sample_frac < 1:
        k = max(1, int(round(1.0 / sample_frac)))
        src = df.filter(F.pmod(F.xxhash64(key), F.lit(k)) == 0)
    counts = src.groupBy(key.alias("_k")).count()
    total = src.count()
    if total == 0:
        return []
    cut = total * threshold_frac
    return [r["_k"] for r in counts.filter(F.col("count") > cut).collect()]


def with_salt(
    df: DataFrame, key: Column, n_salts: int = DEFAULT_SALTS,
    only_keys: Sequence | None = None,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Add ``_salt``: a 0..n_salts-1 spreading value that varies WITHIN a
    key so a hot key's rows land on n_salts reducers.

    ``id_cols``: the narrow natural-id columns whose hash drives the
    spread (e.g. an event id). Hashing only ids matters at scale: the
    round-1 version hashed every column, which on a pages-like DataFrame
    funneled multi-100KB payload blobs through xxhash64 just to pick a
    4-bit salt. Without id_cols the salt falls back to the row's physical
    position (partition-stable, never touches payload bytes); position is
    fine because salt only steers partitioning — it never appears in a
    result (salted_agg re-merges on the bare key).
    Hot-key-selective when only_keys given (cold keys get salt 0)."""
    if id_cols:
        spread = F.pmod(F.xxhash64(*[F.col(c) for c in id_cols]),
                        F.lit(n_salts)).cast("int")
    else:
        spread = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")
    if only_keys is not None:
        spread = F.when(key.isin(list(only_keys)), spread).otherwise(F.lit(0))
    return df.withColumn("_salt", spread)


def salted_agg(
    df: DataFrame,
    key: Column,
    aggs: dict[str, tuple[str, str]],
    n_salts: int = DEFAULT_SALTS,
    only_keys: Sequence | None = None,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs``: output_name -> (op, column) with op in
    {count, sum, min, max, avg}. avg is decomposed into sum+count partials
    so the merge is exact.
    """
    salted = with_salt(df, key, n_salts, only_keys, id_cols).withColumn("_key", key)
    partial_exprs = []
    final_exprs = []
    for name, (op, col) in aggs.items():
        if op == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"_p_{name}"))
            final_exprs.append(F.sum(f"_p_{name}").alias(name))
        elif op in ("sum", "min", "max"):
            partial_exprs.append(getattr(F, op)(col).alias(f"_p_{name}"))
            final_exprs.append(getattr(F, {"sum": "sum"}.get(op, op))(
                f"_p_{name}").alias(name) if op == "sum"
                else getattr(F, op)(f"_p_{name}").alias(name))
        elif op == "avg":
            partial_exprs.append(F.sum(col).alias(f"_ps_{name}"))
            partial_exprs.append(F.count(col).alias(f"_pc_{name}"))
            final_exprs.append(
                (F.sum(f"_ps_{name}") / F.sum(f"_pc_{name}")).alias(name)
            )
        else:
            raise ValueError(f"unsupported op {op}")
    partial = salted.groupBy("_key", "_salt").agg(*partial_exprs)
    return partial.groupBy("_key").agg(*final_exprs)
