"""Repository benchmark: spatial join, tile assignment and zonal
disaggregation through the engine's public functions.

    python3 perfbench/run.py --workload tiles_read --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``tiles_read`` and ``disagg_zonal``.  One
invocation starts Spark at ``local[<nproc>]``, builds (or reuses) the seeded
inputs, sets up, checks the physical plan, then runs the workload's job in a
closed loop (one job at a time) for ``--seconds`` seconds and at least
MIN_SAMPLES jobs, checking every job's output.  The last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics:

* ``setup_s``: session start + median zone build and cover over
  SETUP_REPS repetitions + WARMUP_JOBS warm-up jobs;
* ``job_s``: median wall time of the timed jobs;
* ``docs_per_s``: input documents per second at the median job time
  (raster cells are the documents of ``disagg_zonal``);
* ``cells_per_s``: assigned cells per second at the median job time (one
  per geo span for ``tiles_read``, one per raster cell for
  ``disagg_zonal``);
* ``ok_frac``: jobs that completed with correct output over jobs attempted;
* ``peak_rss_mb``: summed peak RSS of the Spark driver, the JVM and the Python
  workers.

``--trace 1`` is a separate, slower run that reports the per-layer metrics
(tracing.py).  Inputs are cached under ``.perfbench/cache``; a full report
with every sample, host facts and a CPU probe lands in
``.perfbench/reports``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _environment() -> None:
    """Workers import the engine from the checkout; every scratch file of
    Spark and Python stays inside it."""
    from perfbench.inputs import ROOT

    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.environ[var] = os.path.join(ROOT, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    # the JVMs would otherwise keep a perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def run_job(wl, spark, log: list):
    """(wall seconds, output errors, result); seconds and result are None
    when the job raised."""
    wl.reset()
    t0 = time.perf_counter()
    try:
        result = wl.job(spark)
    except Exception:  # a failed job is counted, the run goes on
        traceback.print_exc()
        return None, ["job raised"], None
    dt = time.perf_counter() - t0
    errors = wl.check(result)
    log.append({"job_s": dt, "errors": errors})
    return dt, errors, result


def timed_run(wl, seconds: float) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench.workloads import MIN_SAMPLES, SETUP_REPS, WARMUP_JOBS, guard

    report: dict = {"jobs": []}
    phases = report["phases"] = []

    def phase(name):
        phases.append((name, time.perf_counter()))

    phase("start")
    t0 = time.perf_counter()
    spark = host.start_spark(f"local[{host.nproc()}]")
    session_s = time.perf_counter() - t0
    phase("session")
    try:
        report["inputs_build_s"] = wl.prepare(spark)
        phase("inputs")
        zone_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup_zones(rep, SETUP_REPS)
            zone_s.append(time.perf_counter() - t)
        phase("zones")
        warm_s, failed = 0.0, 0
        for _ in range(WARMUP_JOBS):
            dt, errors, _ = run_job(wl, spark, report["jobs"])
            if dt is None:
                raise RuntimeError("warm-up job failed")
            warm_s += dt
            failed += int(bool(errors))
        phase("warm-up")
        guard(wl.pipeline(spark), wl.required_plan)
        phase("guard")
        attempted = WARMUP_JOBS  # warm-up jobs are checked and count too
        samples = []
        t_start = time.perf_counter()
        while (
            time.perf_counter() - t_start < seconds
            or attempted < WARMUP_JOBS + MIN_SAMPLES
        ):
            dt, errors, _ = run_job(wl, spark, report["jobs"])
            attempted += 1
            failed += int(bool(errors))
            if dt is not None:
                samples.append(dt)
        phase("timed")
        report["peak_rss_mb"] = host.tree_peak_rss_mb()
    finally:
        spark.stop()
    phase("stop")
    if not samples:
        raise RuntimeError("no timed job completed")
    job_s = statistics.median(samples)
    report.update(
        session_s=session_s, zone_setup_s=zone_s, warmup_s=warm_s, samples=samples,
    )
    metrics = {
        "setup_s": (session_s + statistics.median(zone_s) + warm_s, "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (wl.docs_per_job / job_s, "1/s"),
        "cells_per_s": (wl.cells_per_job / job_s, "1/s"),
        "ok_frac": ((attempted - failed) / attempted, "frac"),
        "peak_rss_mb": (sum(report["peak_rss_mb"].values()), "MB"),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import gregor_spark  # noqa: F401  the engine under test, from source
    except ImportError as e:
        print(f"perfbench: engine source not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.inputs import ROOT
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _environment()
    wl = WORKLOADS[args.workload](args.seed)
    facts = {"host": host.host_facts(), "cpu_rate_before": host.busy_loop_rate()}
    try:
        if args.trace:
            from perfbench.tracing import traced_run

            result, report = traced_run(wl, args.seconds)
        else:
            result, report = timed_run(wl, args.seconds)
    finally:
        host.shutdown_gateway()
    facts["cpu_rate_after"] = host.busy_loop_rate()
    report.update(facts, args=vars(args), result=result)
    os.makedirs(os.path.join(ROOT, "reports"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(ROOT, "reports", name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
