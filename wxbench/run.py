"""webextract benchmark: one workload, one seed, one Spark application.

    python3 wxbench/run.py --workload crawl_pages --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run generates (or reuses) the
seed's inputs, starts one Spark application at ``local[nproc]``, sets
the session up three times (``setup_s`` is the median), runs an untimed
warm-up job, then times a closed loop of identical jobs: at least three,
and at least ``--seconds`` seconds of job wall time. Every output row of
every timed job is checked against the reference (untimed). With
``--trace 1`` the run instead prints the per-layer ledger (see
``ledger.py``). Before it exits, the run stops every process it started
(the JVM, the PySpark daemon and workers, the input generation pool and
its resource tracker) and waits for each to end.

End-to-end metrics (``--trace 0``):

- ``docs_per_s``: median over timed jobs of input documents / job wall,
  the wall taken net of hypervisor steal (``common.StealClock``);
- ``cpu_ms_per_doc``: median over timed jobs of the user+sys CPU of the
  JVM, the PySpark daemon and its workers per input document;
- ``worker_peak_rss_mb``: the largest ``VmHWM`` of any PySpark Python
  worker, read before the session stops;
- ``rows_ok_frac``: share of expected rows that appear exactly once and
  equal the reference (FAILED / NEEDS_OCR rows included);
- ``out_bytes_per_in_byte``: parquet bytes written per input-file byte;
- ``setup_s``: median of the three set-ups (``pipeline.build_session``,
  package shipping, one warm Python worker per core), net of steal.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The full record
(input properties, every job, every set-up) is written to
``.wxbench/results/``. Exit codes: 0 ok, 1 a row check failed, 2 the
checkout holds no program, 3 the seed's input was rejected.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

from wxbench import common, inputs  # noqa: E402

SETUPS = 3
WARM_JOBS = 1
MIN_JOBS = 3  # the medians then drop one slow job


def run_job(app, wl, out: str) -> dict:
    """One timed job plus its untimed row check."""
    wl.before_job(out)
    cpu0, jvm0 = app.cpu_s()
    with common.StealClock() as clock:
        wl.job(app.spark, out)
    cpu1, jvm1 = app.cpu_s()
    ok, strays, bad = wl.check(out)
    expected = len(wl.inp.expected)
    rec = {"wall_s": clock.wall, "adjusted_s": clock.adjusted,
           "steal_frac": clock.steal_frac, "cpu_s": cpu1 - cpu0,
           "jvm_cpu_s": jvm1 - jvm0, "docs": wl.docs(),
           "in_bytes": wl.in_bytes(), "out_bytes": wl.out_bytes(out),
           "expected": expected, "ok": ok, "strays": strays, "bad": bad}
    shutil.rmtree(out, ignore_errors=True)
    return rec


def timed_loop(app, wl, seconds: float, tag: str = "job") -> list[dict]:
    """At least MIN_JOBS jobs and at least ``seconds`` of job wall time."""
    jobs: list[dict] = []
    while len(jobs) < MIN_JOBS or sum(j["wall_s"] for j in jobs) < seconds:
        jobs.append(run_job(app, wl, os.path.join(
            common.OUT, wl.name, f"{tag}-{len(jobs)}")))
    return jobs


def end_to_end(app, jobs: list[dict]) -> dict:
    return {
        "docs_per_s": (common.median(
            [j["docs"] / j["adjusted_s"] for j in jobs]), "1/s"),
        "cpu_ms_per_doc": (common.median(
            [1000.0 * j["cpu_s"] / j["docs"] for j in jobs]), "ms"),
        "worker_peak_rss_mb": (app.worker_peak_rss_mb(), "MB"),
        "rows_ok_frac": (sum(j["ok"] for j in jobs)
                         / sum(j["expected"] for j in jobs), "frac"),
        "out_bytes_per_in_byte": (common.median(
            [j["out_bytes"] / j["in_bytes"] for j in jobs]), "B/B"),
        "setup_s": (common.median([s["adjusted_s"] for s in app.setups]),
                    "s"),
    }


def parse_args(argv):
    from wxbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        common.import_program()
    except ImportError as e:
        print(f"wxbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from wxbench.session import SparkApp
    from wxbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    cpus = common.ncpus()
    common.spark_env(cpus)
    os.makedirs(common.CACHE, exist_ok=True)
    t_start = time.perf_counter()
    pending = wl.pending(args.seed)
    app = SparkApp(cpus)
    try:
        app.launch_jvm()
        app.setup()  # overlaps input generation when it is not cached
        try:
            inp = pending.result()
        except inputs.InputRejected as e:
            print(f"wxbench: input rejected: {e}", file=sys.stderr)
            return 3
        while len(app.setups) < SETUPS:
            app.setup()
        wl.prepare(app.spark, inp)
        # untimed: the first jobs of a session pay for JIT compilation
        # and for the fresh Python workers' first batches
        warm = [run_job(app, wl, os.path.join(common.OUT, wl.name, f"warm-{k}"))
                for k in range(WARM_JOBS)]
        if args.trace:
            from wxbench import ledger
            jobs, metrics = ledger.run(app, wl, args.seed)
        else:
            jobs = timed_loop(app, wl, args.seconds)
            metrics = end_to_end(app, jobs)
    finally:
        app.shutdown()
        pending.close()

    attempted = sum(j["expected"] for j in jobs)
    failed = sum(j["expected"] - j["ok"] + j["strays"] for j in jobs)
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    record = {"workload": wl.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
              "input": inp.meta, "setups": app.setups,
              "jvm_launch_s": app.jvm_launch_s, "warm_jobs": warm,
              "jobs": jobs, "run_wall_s": time.perf_counter() - t_start,
              **result}
    common.write_json(os.path.join(
        common.RESULTS, f"{wl.name}-s{args.seed}-t{args.trace}-"
        f"{time.strftime('%Y%m%dT%H%M%S')}.json"), record)
    print("# input " + json.dumps(inp.meta, sort_keys=True))
    if failed:
        print("# row check failed: " + json.dumps(
            [j["bad"] for j in jobs if j["bad"]][:3]), file=sys.stderr)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    common.become_subreaper()
    try:
        code = main()
    finally:
        common.reap_children()
    sys.exit(code)
