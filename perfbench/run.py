#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_interleaved --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. One driver process runs the workload as a
closed loop: one client, each job submitted only after the previous one
returned, on ``local[<cores>]`` with no extra driver threads.

``--trace 0`` (end-to-end run):
  1. make or reuse the seeded input (untimed);
  2. set up once — session factory on a fresh JVM + package ship + the
     workload's warm-up job — and report it as setup_s (one set-up per
     run: a repeated set-up costs 5-20 s, which the run's time budget
     does not hold; the median over many runs steadies it);
  3. run jobs back to back until ``--seconds`` have passed (and at least
     the workload's ``min_jobs``), each into a fresh output root; a
     ``cold`` workload times exactly one job, its first on the session;
  4. check every job's output (untimed) and count failures;
  5. print one line per metric, then the JSON result line.

``--trace 1`` (per-layer run): one set-up with the Spark event log on (a
``cold`` workload then runs one untimed job, so every job compared below
runs warm), then a plain job, the workload's traced decomposition
(``Workload.layers``) and a second plain job; the traced job is compared
with the mean of the two plain ones for ``trace.overhead_frac``.
``extract_interleaved`` also times one job at ``local[1]`` for the scaling
baseline. Spans are written to ``.perfbench/trace-<workload>-<seed>.jsonl``
when the run ends.

Everything the run writes lives under ``.perfbench/`` in the checkout.
Exit status 2, without a result line, when the program is not importable
from the current directory.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _setup(wl, work, n_cores, event_log=None):
    """The set-up: session factory on a fresh JVM + package ship + the
    workload's warm-up job. Returns the session and its seconds."""
    import harness

    t0 = time.perf_counter()
    spark = harness.start_session(work, n_cores, event_log)
    wl.setup_warmup(spark)
    return spark, time.perf_counter() - t0


def _run_jobs(wl, spark, seconds):
    """Closed loop: jobs back to back until ``seconds`` have passed. A job
    that raises is recorded as failed and the loop goes on."""
    import harness

    records, peak = [], 0.0
    harness.reset_peak_rss()
    deadline = time.perf_counter() + seconds
    k = 0
    while ((k < wl.min_jobs or time.perf_counter() < deadline)
           and not (wl.cold and k)):
        t0 = time.perf_counter()
        try:
            rec = wl.job(spark, k)
        except Exception as e:  # a failed job is a measured outcome
            rec = {"k": k, "job_s": time.perf_counter() - t0, "ok": False,
                   "why": f"raised {type(e).__name__}: {e}"}
        records.append(rec)
        peak = max(peak, harness.peak_rss_mb())
        k += 1
    return records, peak


def _check(wl, spark, records):
    try:
        wl.check(spark, records)
    except Exception as e:  # an unreadable output fails its jobs
        for rec in records:
            if "why" not in rec:
                rec.update(ok=False, why=f"check raised {type(e).__name__}: {e}")


def end_to_end(wl, args, work, n_cores):
    import harness
    import stats

    spark, setup_s = _setup(wl, work, n_cores)
    try:
        records, peak = _run_jobs(wl, spark, args.seconds)
        _check(wl, spark, records)
    finally:
        harness.stop_session(spark)

    ok = [r for r in records if r.get("ok")]
    basis = ok or records
    job_s = [r["job_s"] for r in basis]
    job_tail = stats.tail(job_s)
    m = {
        "docs_per_s": (
            statistics.median([wl.unit_docs / s for s in job_s]), "1/s",
            f"median of {len(job_s)} {'cold ' if wl.cold else ''}jobs of "
            f"{wl.unit_docs} docs"),
        "job_s_tail": (job_tail[0], "s",
                       f"p{job_tail[1]:.0f} of n={job_tail[2]} jobs"),
        "setup_s": (setup_s, "s", wl.setup_note),
        "peak_rss_mb": (peak, "MB", "sum of per-process peaks, timed jobs"),
    }
    failed = len(records) - len(ok)
    lines = [stats.metric_line(wl.name, k, v, u, note)
             for k, (v, u, note) in m.items()]
    lines.append(stats.metric_line(wl.name, "fail_frac", failed / len(records),
                                   "ratio", f"{failed} of {len(records)} jobs"))
    lines.append(f"{wl.name:<20} job seconds, in order: " + ", ".join(
        f"{r['job_s']:.3f}" for r in records))
    for rec in records:
        if not rec.get("ok"):
            lines.append(f"{wl.name:<20} job {rec['k']} FAILED: {rec.get('why')}")
    return lines, failed == 0, len(records), failed, {
        k: (v, u) for k, (v, u, _) in m.items()}


def per_layer(wl, args, work, n_cores):
    import harness
    import metrics
    import stats
    import tracing

    from complete_ocr_spark import config

    log_dir = os.path.join(work, "eventlog",
                           f"{wl.name}-{args.seed}-{os.getpid()}")
    tracer = tracing.Tracer()
    tracer.wrap(config, "build_spark", "config.build_spark")
    spark, _ = _setup(wl, work, n_cores, event_log=log_dir)
    tracer.close()
    records = []
    try:
        if wl.cold:
            wl.job(spark, "cold")
            wl.drop_output("cold")
        # plain jobs on both sides of the traced one: jobs still speed up
        # as the JVM warms, and the bracket cancels a steady trend
        records.append(wl.job(spark, "plain-0"))
        values = wl.layers(spark, tracer, tracing.EventLog(log_dir))
        records.append(wl.traced_record)
        records.append(wl.job(spark, "plain-1"))
        _check(wl, spark, [records[0], records[2]])
        plain_s = (records[0]["job_s"] + records[2]["job_s"]) / 2
        if wl.name == "extract_interleaved":
            harness.stop_session(spark, keep_jvm=True)
            spark = harness.start_session(work, 1)
            records.append(wl.job(spark, "local1"))
            _check(wl, spark, records[-1:])
            values["spark.scaling_eff_1to4"] = (
                records[-1]["job_s"] / (n_cores * plain_s))
    finally:
        tracer.close()
        harness.stop_session(spark)
    traced = tracer.find("job", "traced")[-1]
    values["config.session_s"] = tracer.total("config.build_spark")
    values["trace.overhead_frac"] = (
        (traced["end"] - traced["start"]) / plain_s - 1.0)
    tracer.write(os.path.join(work, f"trace-{wl.name}-{args.seed}.jsonl"))

    failed = sum(1 for r in records if not r.get("ok", True))
    vals = metrics.per_layer_values(values)
    lines = [stats.metric_line(wl.name, k, v, u) for k, (v, u) in vals.items()]
    for name, (_u, _b, moves, wls) in metrics.PER_LAYER.items():
        lines.append(f"{wl.name:<20} {name:<36} moves {moves} on "
                     f"{', '.join(wls)}")
    return lines, failed == 0, len(records), failed, vals


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import complete_ocr_spark.config  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    import harness
    import stats
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    harness.pin_environment(work)
    n_cores = harness.cores()
    wl = WORKLOADS[args.workload](work, args.seed, n_cores)
    wl.prepare()
    print(f"{wl.name:<20} input {wl.props}", flush=True)
    run = per_layer if args.trace else end_to_end
    try:
        lines, correct, attempted, failed, vals = run(wl, args, work, n_cores)
    finally:
        wl.close()
    for ln in lines:
        print(ln)
    print(stats.result_line(correct, attempted, failed, vals), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
