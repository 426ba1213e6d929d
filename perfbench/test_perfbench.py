"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import eventlog, oracle  # noqa: E402
from perfbench.inputs import BOUNDS, Tessellation  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from gregor_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    ev = tmp_path_factory.mktemp("eventlog")
    s = get_spark(
        app="perfbench-selftest",
        master="local[2]",
        extra={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(ev),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    s.eventlog_dir = str(ev)
    yield s
    s.stop()


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("g", [8, 16])
def test_tessellation_tiles_the_bounds(seed, g):
    from gregor_spark.geo import kernels as K

    t = Tessellation(seed, g)
    areas = [K.signed_area(*t.quad(z)) for z in range(g * g)]
    minx, miny, maxx, maxy = BOUNDS
    assert min(areas) > 0  # every quad simple and counter-clockwise
    assert sum(areas) == pytest.approx((maxx - minx) * (maxy - miny), rel=1e-12)
    assert t.zone_set().total_bounds() == BOUNDS


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_oracle_agrees_with_kernels(seed):
    from gregor_spark.geo import kernels as K

    t = Tessellation(seed, 16)
    zones = t.zone_set()
    rng = np.random.default_rng(seed)
    minx, miny, maxx, maxy = BOUNDS
    px = rng.uniform(minx - 0.1, maxx + 0.1, 20_000)
    py = rng.uniform(miny - 0.1, maxy + 0.1, 20_000)
    # vertices and edge midpoints sit on boundaries: the oracle skips them
    xs, ys = t.quad(37)
    px = np.concatenate([px, xs, (xs + np.roll(xs, -1)) / 2])
    py = np.concatenate([py, ys, (ys + np.roll(ys, -1)) / 2])
    got = K.assign_cells_rings(px, py, zones.zone_ids, zones.rings_list())
    checked, bad = oracle.mismatches(t, px, py, got)
    assert bad == 0
    assert len(px) - 8 <= checked < len(px)
    assert (oracle.expected_zones(t, px, py) == oracle.OUTSIDE).any()
    # a wrong assignment is caught
    _, bad = oracle.mismatches(t, px, py, np.where(got >= 0, (got + 1) % 256, got))
    assert bad > 0


def test_plan_guard(spark):
    from gregor_spark.operators.tiles import assign_tiles, tile_histogram
    from gregor_spark.sources.documents import generate_documents

    from perfbench.workloads import (
        INGEST_PLAN, DisaggZonal, PlanGuardError, TilesRead, guard,
        hist_with_sample,
    )

    zones = Tessellation(0, 4).zone_set()
    docs = generate_documents(spark, 200, BOUNDS, seed=1, skew=0.2)

    def tiled(**kw):
        return assign_tiles(docs, 7, BOUNDS, zones=zones, keep_unassigned=True, **kw)

    broadcast = tiled(broadcast_cover=True)
    # tile_histogram never reads zone_id, so Catalyst drops the UDF
    with pytest.raises(PlanGuardError):
        guard(tile_histogram(broadcast), TilesRead.required_plan)
    guard(hist_with_sample(broadcast, 1, 10), TilesRead.required_plan)

    salted = tiled(broadcast_cover=False, salt_threshold=5, salt_factor=4)
    with pytest.raises(PlanGuardError):
        guard(tile_histogram(salted), INGEST_PLAN)
    guard(salted, INGEST_PLAN)
    with pytest.raises(PlanGuardError):
        guard(broadcast, DisaggZonal.required_plan)

    from gregor_spark.operators.aggregate import aggregate_raster_to_polygon
    from gregor_spark.operators.disaggregate import disaggregate_polygon_to_raster

    from perfbench.inputs import raster_cells

    cells = spark.createDataFrame(raster_cells(0, 20).to_pandas())
    dis = disaggregate_polygon_to_raster(zones, cells, proxy_column="value")
    guard(aggregate_raster_to_polygon(dis, zones, value="disaggregated"),
          DisaggZonal.required_plan)


def test_eventlog_known_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("selftest-known", "three tasks, no shuffle")
    assert sc.parallelize(range(300), 3).map(lambda x: x * 2).sum() == 89_700
    sc.setLocalProperty("spark.jobGroup.id", None)
    logs = os.listdir(spark.eventlog_dir)
    assert len(logs) == 1  # the job end flushed the in-progress log
    g = eventlog.parse(os.path.join(spark.eventlog_dir, logs[0]))["selftest-known"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 3)
    assert g["shuffle_write_mb"] == 0.0
    assert g["run_s"] > 0


def test_eventlog_arithmetic(tmp_path):
    def task(stage, launch, finish, cpu_ns, gc_ms, spilled, written):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Executor Run Time": finish - launch,
                "JVM GC Time": gc_ms,
                "Memory Bytes Spilled": spilled,
                "Disk Bytes Spilled": 0,
                "Output Metrics": {"Bytes Written": written},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        task(0, 0, 1000, 5e8, 100, eventlog.MB, 0),
        task(0, 0, 3000, 5e8, 0, 0, 2 * eventlog.MB),
        task(1, 0, 2500, 0, 0, 0, 0),
        task(1, 0, 2500, 0, 0, 0, 0),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2]},
        task(2, 0, 9000, 1e9, 0, 0, 0),  # untagged: ignored
    ]
    p = tmp_path / "log"
    p.write_text("".join(json.dumps(e) + "\n" for e in events))
    g = eventlog.parse(str(p))["a"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 4)
    assert g["cpu_s"] == pytest.approx(1.0)
    assert g["gc_s"] == pytest.approx(0.1)
    assert g["spill_mb"] == pytest.approx(1.0)
    assert g["output_mb"] == pytest.approx(2.0)
    # busiest stage is stage 1 (5 s of task time): max 2.5 / median 2.5
    assert eventlog.task_skew(g) == pytest.approx(1.0)


def test_benchmark_json_names_what_the_benchmark_reports():
    from perfbench.tracing import LAYER_METRICS
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS
    assert [m["name"] for m in spec["end_to_end"]] == [
        "setup_s", "job_s", "docs_per_s", "cells_per_s", "ok_frac", "peak_rss_mb",
    ]
