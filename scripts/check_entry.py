"""Driver-mimicking self-check: run every __spark_entry__ query on Spark
and its oracle_sql on DuckDB at sf0.01, compare row count + sorted-column
value hash (order-insensitive), print a PASS/FAIL table.

The extraction oracles share two DuckDB preludes whose field ensemble
(``f_rows``) costs ~30 s each time it runs; the sweep builds each
prelude's ``f_rows`` and ``conf_agg`` once as temp tables and points
those oracles at them. The SQL that computes every value is unchanged.

Usage: python scripts/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def value_hash(df) -> tuple[int, str, list[str]]:
    """(n_rows, hash, sorted_cols) with rows + columns canonicalized.

    Mimics the driver's canonicalizer, including its fragility: the
    driver pandas-sort_values the frame, which raises TypeError on
    unhashable cells (numpy arrays from array<...> columns). We run the
    same sort first so any query that would crash the driver's gate
    crashes HERE, in the local pre-flight (round-1 lesson: extract_flagship
    recorded `err` because this mimic silently str()'d arrays instead)."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df.sort_values(cols)  # driver-parity: raises on unhashable cells
    rows = []
    for tup in df.itertuples(index=False, name=None):
        cells = []
        for v in tup:
            if v is None or (isinstance(v, float) and v != v):
                cells.append("<null>")
            elif isinstance(v, float):
                cells.append(repr(round(v, 6)))
            else:
                cells.append(str(v))
        rows.append("\x1f".join(cells))
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(rows), h, cols


def cache_preludes(con, preludes) -> list[tuple[str, str]]:
    """Materialise each extraction prelude's ``f_rows`` and
    ``conf_agg`` once as temp tables; return ``(prelude, cached)``
    pairs, where ``cached`` keeps the prelude's page CTEs and reads the
    two tables in place of computing them."""
    pairs = []
    for i, full in enumerate(preludes):
        head, rest = full.split("\nf_rows AS MATERIALIZED (", 1)
        conf_agg = rest[rest.index("\nconf_agg AS ("):]
        con.sql(f"CREATE TEMP TABLE _f_rows{i} AS {full}\n"
                "SELECT * FROM f_rows")
        reads = f"{head}\nf_rows AS (SELECT * FROM _f_rows{i}),"
        con.sql(f"CREATE TEMP TABLE _conf_agg{i} AS {reads}{conf_agg}\n"
                "SELECT * FROM conf_agg")
        pairs.append((full, f"{reads}\nconf_agg AS "
                            f"(SELECT * FROM _conf_agg{i})"))
    return pairs


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from webextract import pipeline

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = pipeline.build_session(cpus=8, app="check_entry")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    con = duckdb.connect()
    for t in entry.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    wanted = [oracles[n] for n in qs
              if n in oracles and (not only or n in only)]
    cached = cache_preludes(con, [
        p for p in (entry._EXTRACT_PRELUDE, entry._PDF_PRELUDE)
        if any(p in sql for sql in wanted)])
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # release in finally: 70 queries in one session — a FAILED
            # query must not leave its persisted intermediates contending
            # with the next query's execution (release_all because
            # attribute tracking doesn't survive the .select() most
            # wrappers apply to the library result)
            try:
                sdf = fn(spark, sf_dir).toPandas()
            finally:
                from webextract import cache
                cache.release_all()
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows")
            n_pass += 1
            continue
        try:
            sql = oracles[name]
            for full, reads in cached:
                sql = sql.replace(full, reads)
            ddf = con.sql(sql).df()
        except Exception:
            print(f"FAIL {name}: DUCKDB ERROR")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        sn, sh, sc = value_hash(sdf)
        dn, dh, dc = value_hash(ddf)
        if (sn, sh, sc) == (dn, dh, dc):
            print(f"PASS {name}: {sn} rows {sh}")
            n_pass += 1
        else:
            print(f"FAIL {name}: spark({sn},{sh}) duck({dn},{dh}) cols "
                  f"{'match' if sc == dc else f'{sc} vs {dc}'}")
            if sn and dn and sc == dc:
                import pandas as pd
                s2, d2 = sdf[sorted(sdf.columns)], ddf[sorted(ddf.columns)]
                s2 = s2.sort_values(sorted(sdf.columns)).reset_index(drop=True)
                d2 = d2.sort_values(sorted(ddf.columns)).reset_index(drop=True)
                with pd.option_context("display.width", 200):
                    print("  spark head:", s2.head(3).to_dict("records"))
                    print("  duck  head:", d2.head(3).to_dict("records"))
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
