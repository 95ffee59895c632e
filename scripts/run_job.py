"""spark-submit entrypoint for the extraction job (north_rule contract).

    python -m webextract ... is not used; ship the package explicitly:

    zip=$(python -c "from webextract.pipeline import package_zip; print(package_zip())")
    spark-submit --master local[32] --py-files "$zip" scripts/run_job.py \
        --input /path/to/pages_parquet --output /path/to/out \
        [--commit-groups 8] [--buckets 64]

Reads a pages table (url, warc_ts, html, text, lang), runs the resumable
checkpointed extraction (webextract.runner.run_job), writes the extracted
+ lineage tables under --output via the parquet-manifest catalog, and
prints a one-line JSON summary. Re-running with the same --output resumes
from completed buckets (kill-safe); a finished job is a no-op.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--commit-groups", type=int, default=8)
    ap.add_argument("--max-groups", type=int, default=None)
    ap.add_argument("--stage-input", action="store_true",
                    help="materialize pending input once, partitioned by "
                         "commit group: the only bound on the G-fold "
                         "re-scan, whatever the input's layout (see "
                         "runner.py docstring)")
    ap.add_argument("--sorted-layout", action="store_true",
                    help="range-partition each commit's output by url for "
                         "point-lookup min-max pruning")
    ap.add_argument("--cascade", action="store_true",
                    help="M12 confidence-gated cascade per commit group: "
                         "cheap strict-profile pass, best-of candidate of "
                         "the same parse only below --accept, escalating "
                         "per document inside the fused map")
    ap.add_argument("--accept", type=float, default=0.7,
                    help="cascade confidence gate (with --cascade)")
    ap.add_argument("--canonical-keys", action="store_true",
                    help="key resume buckets + sorted layout on "
                         "canonical_url(url): spelled variants of one "
                         "page co-locate (same commit group / output "
                         "range); rows are unchanged. Resuming an "
                         "--output with the flag (or --buckets) flipped "
                         "is an error")
    ap.add_argument("--cheap-fields", action="store_true",
                    help="the cascade's cheap pass runs the patterns-only "
                         "fields arm (accepts only when every required "
                         "field is pattern-hit; with --cascade)")
    args = ap.parse_args()

    # under spark-submit the session already exists; standalone we build one
    try:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None
    if spark is None:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from webextract import pipeline
        spark = pipeline.build_session()
    else:
        from webextract import pipeline
        pipeline.ship_package(spark)

    from pyspark.sql import functions as F

    from webextract import pipeline, runner

    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(args.input) for f in fs
    ) if os.path.isdir(args.input) else os.path.getsize(args.input)
    pipeline.tune_input_splits(spark, size)

    pages = spark.read.parquet(args.input)
    t0 = time.monotonic()
    out = runner.run_job(
        spark, pages, args.output,
        n_buckets=args.buckets, commit_groups=args.commit_groups,
        max_groups=args.max_groups,
        stage_input=args.stage_input, sorted_layout=args.sorted_layout,
        cascade=args.cascade,
        accept=args.accept,
        cheap_fields=args.cheap_fields,
        canonical_keys=args.canonical_keys,
    )
    # one job, not one count() per status; NEEDS_OCR is classified-ok
    # (the lineage convention), NOT failed
    agg = out.agg(
        F.count("*").alias("n"),
        F.count(F.when(out.status == "COMPLETED", 1)).alias("ok"),
        F.count(F.when(out.status == "NEEDS_OCR", 1)).alias("ocr"),
        F.count(F.when(out.status == "FAILED", 1)).alias("bad"),
    ).collect()[0]
    print(json.dumps({
        "rows": agg["n"], "completed": agg["ok"],
        "needs_ocr": agg["ocr"], "failed": agg["bad"],
        "wall_sec": round(time.monotonic() - t0, 2), "output": args.output,
    }))


if __name__ == "__main__":
    main()
