"""The traced run: per-layer metrics from outside the engine.

A traced invocation first measures the untraced job time and one
``local[1]`` job, then restarts Spark with its event log on, measures the
traced job time and walks the workload's pipeline prefix by prefix.  Each prefix
ends at one layer's public function and is forced into a ``noop`` sink that
keeps every column; a layer's self time is its prefix minus the parent
prefix (best of ``CHAIN_REPS``).  Spark-driver-only calls (``get_spark``,
``ZoneSet.cover``, plan building, the geometry kernels replayed on the
job's own kernel input) get spans of their own.  Every Spark action runs
under ``setJobGroup(<span id>)`` so the event-log parser can attribute task
metrics to spans.  Spans stay in memory and are written once, at the end,
to ``.perfbench/trace/<run id>/spans.jsonl``.

Every metric in LAYER_METRICS is reported for every workload; one whose
layer the workload does not run reads 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

from . import eventlog, host
from .inputs import BOUNDS, ROOT
from .workloads import (
    RES,
    SETUP_REPS,
    WARMUP_JOBS,
    guard,
    materialize,
    salt_threshold,
)

CHAIN_REPS = 2
JOB_REPS = 3

#: name -> unit of every per-layer metric (mirrored in BENCHMARK.json)
LAYER_METRICS = {
    "session.start_s": "s",
    "session.scaling_eff": "ratio",
    "zones.cover_s": "s",
    "zones.cover_rows": "count",
    "zones.boundary_frac": "frac",
    "sources.scan_s": "s",
    "sources.scan_mb": "MB",
    "sources.files": "count",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "tiles.extract_s": "s",
    "tiles.geo_spans": "count",
    "tiles.hist_s": "s",
    "spatial_join.assign_s": "s",
    "spatial_join.salted_assign_s": "s",
    "spatial_join.kernel_rows": "count",
    "spatial_join.candidate_rows": "count",
    "spatial_join.refine_yield": "frac",
    "spatial_join.hot_cells": "count",
    "spatial_join.hot_frac": "frac",
    "spatial_join.shuffle_mb": "MB",
    "spatial_join.salted_shuffle_mb": "MB",
    "spatial_join.task_skew": "ratio",
    "kernels.pip_s": "s",
    "kernels.points_per_s": "1/s",
    "kernels.edge_tests": "count",
    "assign.assign_s": "s",
    "assign.rows": "count",
    "disaggregate.apportion_s": "s",
    "disaggregate.conservation_err": "frac",
    "aggregate.zonal_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.write_mb": "MB",
    "checkpoint.resume_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.cpu_util": "frac",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
}


class Tracer:
    """In-memory spans; Spark work inside a span is tagged with its id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sc = None  # set while the event log is on

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "run_id": self.run_id,
            "name": name,
            "parent": parent,
            "start": time.time(),
        }
        self.spans.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _prefix_chain(tr: Tracer, prefixes, before_rep=None) -> tuple[dict, dict]:
    """Run ``(name, parent, action)`` prefixes CHAIN_REPS times.  Returns
    (fastest span per name, self time per name): a prefix's self time is
    its fastest duration minus its parent prefix's, and its span records
    the parent span of the same repetition."""
    best: dict[str, dict] = {}
    for _ in range(CHAIN_REPS):
        if before_rep is not None:
            before_rep()
        ids: dict[str, str] = {}
        for name, parent, action in prefixes:
            with tr.span(name, parent=ids.get(parent)) as sp:
                sp["result"] = action()
            ids[name] = sp["id"]
            if name not in best or sp["dur_s"] < best[name]["dur_s"]:
                best[name] = sp
    own = {
        name: best[name]["dur_s"] - (best[parent]["dur_s"] if parent else 0.0)
        for name, parent, _ in prefixes
    }
    return best, own


def _kernel_probe(tr: Tracer, zones, px, py, zid) -> dict:
    """Replay the raster-rule claim kernel on the job's own kernel input
    (boundary-cell candidates, grouped by zone as the join does)."""
    from gregor_spark.geo import kernels as K

    lookup = zones.geometry_lookup()
    pip_s, edges = 0.0, 0
    with tr.span("geo.kernels.claims_raster_cell_rings"):
        for z in np.unique(zid):
            m = zid == z
            rings = lookup[int(z)]
            t = time.perf_counter()
            K.claims_raster_cell_rings(px[m], py[m], rings)
            pip_s += time.perf_counter() - t
            edges += int(m.sum()) * sum(len(r[0]) for r in rings)
    return {
        "kernels.pip_s": pip_s,
        "kernels.points_per_s": len(px) / pip_s if pip_s > 0 else 0.0,
        "kernels.edge_tests": edges,
    }


def _tiles_counts(wl, spark, tr: Tracer, docs, rows) -> dict:
    """Candidate, kernel and hot-cell counts of the tile join, computed
    with plain Spark next to the engine's own path."""
    from pyspark.sql import functions as F

    from gregor_spark.model.localdf import local_df
    from gregor_spark.operators.spatial_join import hot_cells, with_cell_id
    from gregor_spark.operators.tiles import extract_geo_points

    with tr.span("counts"):
        keyed = with_cell_id(extract_geo_points(docs), RES, BOUNDS, x="lon", y="lat")
        cover = local_df(spark, wl.cover, "zone_id long, cell_id long, _full boolean")
        cand = keyed.join(F.broadcast(cover), "cell_id")
        n_cand = cand.count()
        bnd = cand.filter(~F.col("_full")).select("lon", "lat", "zone_id").toPandas()
        bcells = cover.filter(~F.col("_full")).select("cell_id").distinct()
        n_kernel = keyed.join(F.broadcast(bcells), "cell_id").count()
        hot = hot_cells(keyed, salt_threshold(wl.n_docs)).collect()
    assigned = sum(r["n_spans"] for r in rows if r["zone_id"] is not None)
    out = {
        "tiles.geo_spans": wl.geo_spans,
        "spatial_join.kernel_rows": n_kernel,
        "spatial_join.candidate_rows": n_cand,
        "spatial_join.refine_yield": assigned / n_cand if n_cand else 0.0,
        "spatial_join.hot_cells": len(hot),
        "spatial_join.hot_frac": sum(r["_n"] for r in hot) / wl.geo_spans,
    }
    out.update(
        _kernel_probe(
            tr, wl.zones, bnd["lon"].to_numpy(np.float64),
            bnd["lat"].to_numpy(np.float64), bnd["zone_id"].to_numpy(np.int64),
        )
    )
    return out


def chain_tiles(wl, spark, tr: Tracer) -> dict:
    """The timed job's prefixes, then the ingest path on a committed copy of
    the corpus: ``write_table``, the salted partitioned join (plan-guarded)
    and a checkpointed side table, which the timed job never runs."""
    from gregor_spark.operators.tiles import extract_geo_points
    from gregor_spark.sources.iceberg_like import read_manifest

    from .workloads import INGEST_PLAN

    read, extract = "sources.read_table", "operators.tiles.extract_geo_points"
    assign, salted = "operators.spatial_join.assign", "operators.spatial_join.assign_salted"
    best, own = _prefix_chain(tr, [
        (read, None, lambda: materialize(wl.docs(spark))),
        (extract, read, lambda: materialize(extract_geo_points(wl.docs(spark)))),
        (assign, extract, lambda: materialize(wl.tiled(spark, wl.docs(spark)))),
        ("operators.tiles.histogram", assign, lambda: wl.job(spark)),
        ("sources.write_table", None, lambda: wl.ingest_commit(spark)),
        (salted, extract, lambda: materialize(wl.ingest_salted(spark))),
        ("plans.checkpoint.stage_salted", salted, lambda: wl.ingest_side_table(spark)),
        ("plans.checkpoint.resume", None,
         lambda: materialize(wl.ingest_side_table(spark))),
        # checkpoint the finished side table again under a new stage: the
        # stage minus the resume scan of the same data is the layer's own
        # write + manifest time, free of the join that built the data
        ("plans.checkpoint.run_stage", "plans.checkpoint.resume",
         lambda: wl.ingest_recheckpoint(spark)),
    ], before_rep=wl.reset)
    with tr.span("plan.build"):
        salted_df = wl.ingest_salted(spark)
    guard(salted_df, INGEST_PLAN)
    rows = best["operators.tiles.histogram"]["result"]
    m = {
        "sources.scan_s": own[read],
        "tiles.extract_s": own[extract],
        "spatial_join.assign_s": own[assign],
        "tiles.hist_s": own["operators.tiles.histogram"],
        "sources.write_s": own["sources.write_table"],
        "spatial_join.salted_assign_s": own[salted],
        "checkpoint.write_s": own["plans.checkpoint.run_stage"],
        "checkpoint.resume_s": own["plans.checkpoint.resume"],
    }
    files = read_manifest(wl.corpus)["snapshots"][-1]["files"]
    m["sources.files"] = len(files)
    # Spark's input-bytes counter undercounts this parquet reader, so the
    # scanned volume is the size of the files the snapshot lists
    m["sources.scan_mb"] = sum(
        os.path.getsize(os.path.join(wl.corpus, f["path"])) for f in files
    ) / eventlog.MB
    m.update(_tiles_counts(wl, spark, tr, wl.docs(spark), rows))
    groups = {
        "assign": best[assign]["id"],
        "salted": best[salted]["id"],
        "write": best["sources.write_table"]["id"],
        "checkpoint": best["plans.checkpoint.run_stage"]["id"],
    }
    errors = wl.check(rows) + wl.ingest_checks(spark, rows)
    return {"metrics": m, "groups": groups, "errors": errors}


def chain_disagg(wl, spark, tr: Tracer) -> dict:
    from gregor_spark.operators.assign import assign_cells_df

    def assigned():
        return assign_cells_df(wl.cells(spark), wl.zones, keep_unassigned=False)

    scan, assign = "raster.scan", "operators.assign.assign_cells_df"
    disagg = "operators.disaggregate.disaggregate_polygon_to_raster"
    agg = "operators.aggregate.aggregate_raster_to_polygon"
    best, own = _prefix_chain(tr, [
        (scan, None, lambda: materialize(wl.cells(spark))),
        (assign, scan, lambda: materialize(assigned())),
        (disagg, assign, lambda: materialize(wl.disaggregated(spark, wl.cells(spark)))),
        (agg, disagg, lambda: wl.job(spark)),
    ])
    rows = best[agg]["result"]
    with tr.span("plan.build"):
        wl.pipeline(spark)
    with tr.span("counts"):
        n_assigned = assigned().count()
    px, py = wl.cell_centers()
    from gregor_spark.geo import kernels as K

    ids, rings = wl.zones.zone_ids, wl.zones.rings_list()
    with tr.span("geo.kernels.assign_cells_rings") as k:
        K.assign_cells_rings(px, py, ids, rings)
    m = {
        "assign.assign_s": own[assign],
        "assign.rows": n_assigned,
        "disaggregate.apportion_s": own[disagg],
        "disaggregate.conservation_err": wl.conservation_err(rows),
        "aggregate.zonal_s": own[agg],
        "kernels.pip_s": k["dur_s"],
        "kernels.points_per_s": len(px) / k["dur_s"],
        "kernels.edge_tests": len(px) * sum(len(xs) for zr in rings for xs, _, _ in zr),
    }
    return {"metrics": m, "groups": {}, "errors": wl.check(rows)}


def _timed_jobs(wl, spark, tr: Tracer | None, reps: int):
    """(job seconds, span ids, jobs with wrong output, last result)."""
    times, ids, bad, result = [], [], 0, None
    for _ in range(reps):
        wl.reset()
        if tr is None:
            t0 = time.perf_counter()
            result = wl.job(spark)
            times.append(time.perf_counter() - t0)
        else:
            with tr.span("job") as sp:
                result = wl.job(spark)
            times.append(sp["dur_s"])
            ids.append(sp["id"])
        bad += int(bool(wl.check(result)))
    return times, ids, bad, result


def traced_run(wl, seconds: float) -> tuple[dict, dict]:
    """``seconds`` is unused: a traced run does a fixed amount of work."""
    n = host.nproc()
    run_id = f"{wl.name}-s{wl.seed}-{int(time.time() * 1000)}"
    out_dir = os.path.join(ROOT, "trace", run_id)
    ev_dir = os.path.join(out_dir, "eventlog")
    os.makedirs(ev_dir)
    tr = Tracer(run_id)
    m = {k: 0.0 for k in LAYER_METRICS}
    attempted = failed = 0

    # ---- untraced: session, setup, job time, then one local[1] job
    with tr.span("session.get_spark") as sp:
        spark = host.start_spark(f"local[{n}]")
    m["session.start_s"] = sp["dur_s"]
    try:
        with tr.span("inputs"):
            wl.prepare(spark)
        cover_s = []
        for rep in range(SETUP_REPS):
            with tr.span("model.zones.cover") as sp:
                wl.setup_zones(rep, SETUP_REPS)
            cover_s.append(sp["dur_s"])
        _, _, bad, _ = _timed_jobs(wl, spark, None, WARMUP_JOBS)
        guard(wl.pipeline(spark), wl.required_plan)
        untraced, _, bad2, _ = _timed_jobs(wl, spark, None, JOB_REPS)
        attempted += WARMUP_JOBS + JOB_REPS
        failed += bad + bad2
    finally:
        spark.stop()
    if wl.uses_cover:
        m["zones.cover_s"] = statistics.median(cover_s)
        m["zones.cover_rows"] = len(wl.cover)
        m["zones.boundary_frac"] = sum(1 for c in wl.cover if not c[2]) / len(wl.cover)
    spark = host.start_spark("local[1]")
    try:
        one, _, bad, _ = _timed_jobs(wl, spark, None, 2)  # the first warms workers
        attempted += 2
        failed += bad
    finally:
        spark.stop()
    m["session.scaling_eff"] = one[-1] / (n * statistics.median(untraced))

    # ---- traced: event log on; job time first (after one warm-up job that
    # starts the new Python workers; the JVM is already warm), then the
    # prefix chain
    spark = host.start_spark(
        f"local[{n}]",
        extra={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    try:
        tr.sc = spark.sparkContext
        _, _, bad, _ = _timed_jobs(wl, spark, tr, 1)
        traced, job_ids, bad2, _ = _timed_jobs(wl, spark, tr, JOB_REPS)
        chain = (chain_disagg if wl.name == "disagg_zonal" else chain_tiles)(wl, spark, tr)
        attempted += 2 + JOB_REPS
        failed += bad + bad2 + int(bool(chain["errors"]))
    finally:
        tr.sc = None
        spark.stop()
    m.update(chain["metrics"])
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)

    groups = eventlog.parse(eventlog.find_log(ev_dir))
    g = chain["groups"]
    if "assign" in g:
        m["spatial_join.shuffle_mb"] = groups[g["assign"]]["shuffle_write_mb"]
        m["spatial_join.task_skew"] = eventlog.task_skew(groups[g["assign"]])
        m["spatial_join.salted_shuffle_mb"] = groups[g["salted"]]["shuffle_write_mb"]
    if "write" in g:
        m["sources.write_mb"] = groups[g["write"]]["output_mb"]
    if "checkpoint" in g:
        m["checkpoint.write_mb"] = groups[g["checkpoint"]]["output_mb"]
    k = int(np.argsort(traced)[len(traced) // 2])  # the median traced job
    job = groups[job_ids[k]]
    m.update({
        "spark.jobs": job["jobs"],
        "spark.stages": job["stages"],
        "spark.tasks": job["tasks"],
        "spark.cpu_s": job["cpu_s"],
        "spark.gc_s": job["gc_s"],
        "spark.cpu_util": job["cpu_s"] / (traced[k] * n),
        "spark.spill_mb": job["spill_mb"],
    })
    for rec in tr.spans:
        rec.pop("result", None)
    tr.write(os.path.join(out_dir, "spans.jsonl"))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in m.items()},
    }
    report = {
        "run_id": run_id,
        "untraced_job_s": untraced,
        "local1_job_s": one,
        "traced_job_s": traced,
        "event_log_groups": {
            k: {kk: vv for kk, vv in v.items() if kk != "stage_task_s"}
            for k, v in groups.items()
        },
    }
    return result, report
