"""End-to-end Spark operator tests against the reference goldens
(test_belongs_to.py / test_disaggregate.py / test_aggregate.py ported
row-for-row through the DataFrame engine)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gregor_spark.geo import kernels as K
from gregor_spark.model import fixtures as FX
from gregor_spark.model.raster import RasterMeta, collect_to_grid, raster_df, uniform_proxy_df, clip_bbox
from gregor_spark.model.zones import ZoneSet
from gregor_spark.operators.aggregate import (
    aggregate_point_to_polygon,
    aggregate_raster_to_polygon,
)
from gregor_spark.operators.assign import (
    assign_cells_df,
    assign_points_within_df,
    explode_points_within_df,
    zone_sums_df,
)
from gregor_spark.operators.disaggregate import (
    DisaggregationError,
    disaggregate_polygon_to_point,
    disaggregate_polygon_to_polygon,
    disaggregate_polygon_to_raster,
)

META = RasterMeta(**FX.RASTER_META)


@pytest.fixture(scope="module")
def cells(spark):
    return raster_df(spark, META, FX.RASTER_VALUES).cache()


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(
        FX.POINTS, "point_id long, x double, y double, weight double"
    ).cache()


def _golden_to_array(g):
    return np.array([[-1 if v is None else v for v in row] for row in g])


@pytest.mark.parametrize(
    "seg,golden",
    [
        (FX.SEG_2X2, FX.GOLDEN_BELONGS_2X2),
        (FX.SEG_3X3, FX.GOLDEN_BELONGS_3X3),
        (FX.SEG_OVERLAP, FX.GOLDEN_BELONGS_OVERLAP),
    ],
    ids=["2x2", "3x3", "overlap"],
)
def test_belongs_to_spark(spark, cells, seg, golden):
    zones = ZoneSet.from_fixture(seg)
    got = collect_to_grid(assign_cells_df(cells, zones), META, "zone_id")
    got = np.where(np.isnan(got), -1, got).astype(int)
    np.testing.assert_array_equal(got, _golden_to_array(golden))


def test_aggregate_raster_to_polygon_sum(spark, cells):
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    rows = aggregate_raster_to_polygon(cells, zones, "sum").collect()
    got = {r["zone_id"]: r["sum_value"] for r in rows}
    assert got == pytest.approx(FX.GOLDEN_ZONAL_SUM_2X2)


def test_aggregate_raster_to_polygon_minmax(spark, cells):
    """min/max dispatch goldens — pins the zonal_minmax contract query's
    behavior now that it sits past the driver's 50-query verification
    window (see entry_queries._WINDOW_TAIL)."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    lo = {
        r["zone_id"]: r["min_value"]
        for r in aggregate_raster_to_polygon(cells, zones, "min").collect()
    }
    hi = {
        r["zone_id"]: r["max_value"]
        for r in aggregate_raster_to_polygon(cells, zones, "max").collect()
    }
    # nodata=0 excluded; zone cell values from FX.RASTER_VALUES quadrants:
    # zone 0: {1.0, .75, 1.0}; zone 1: {.5, .5}; zone 2: {.75};
    # zone 3: {.25, .75, .25, .75}
    assert lo == pytest.approx({0: 0.75, 1: 0.5, 2: 0.75, 3: 0.25})
    assert hi == pytest.approx({0: 1.0, 1: 0.5, 2: 0.75, 3: 0.75})


def test_aggregate_raster_extras_majority_minority_unique_percentile(spark, cells):
    """rasterstats-extras dispatch (r6): majority/minority with the
    smallest-value tie rule, unique counts, numpy-linear percentiles —
    hand-derived from the FX.RASTER_VALUES quadrants (nodata=0 excluded:
    zone 0 {1.0,.75,1.0}, zone 1 {.5,.5}, zone 2 {.75},
    zone 3 {.25,.75,.25,.75})."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)

    def col(stats, name):
        return {
            r["zone_id"]: r[name]
            for r in aggregate_raster_to_polygon(cells, zones, stats, out=name).collect()
        }

    # zone 3 ties 2-vs-2 on both counts → smallest value wins both ways
    assert col("majority", "mj") == pytest.approx({0: 1.0, 1: 0.5, 2: 0.75, 3: 0.25})
    assert col("minority", "mn") == pytest.approx({0: 0.75, 1: 0.5, 2: 0.75, 3: 0.25})
    assert col("unique", "uq") == {0: 2, 1: 1, 2: 1, 3: 2}
    want = {
        0: float(np.percentile([1.0, 0.75, 1.0], 75)),
        1: 0.5,
        2: 0.75,
        3: float(np.percentile([0.25, 0.75, 0.25, 0.75], 75)),
    }
    assert col("percentile_75", "p75") == pytest.approx(want)
    with pytest.raises(ValueError):
        aggregate_raster_to_polygon(cells, zones, "percentile_x")
    with pytest.raises(ValueError):
        aggregate_raster_to_polygon(cells, zones, "nope")


def test_aggregate_raster_nodata_excluded(spark, cells):
    """nodata=0 pixels excluded from count/mean (rasterstats semantics,
    reference aggregate.py:40-54)."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    got = {
        r["zone_id"]: r["count_value"]
        for r in aggregate_raster_to_polygon(cells, zones, "count").collect()
    }
    # zone 0 cells: 1.0, 0, 0.75, 1.0 -> 3 nonzero; zone 1: 0,0,.5,.5 -> 2
    # zone 2: .75,0,0,0 -> 1; zone 3: .25,.75,.25,.75 -> 4
    assert got == {0: 3, 1: 2, 2: 1, 3: 4}


def test_disaggregate_polygon_to_raster_golden(spark, cells):
    zones = ZoneSet.from_fixture(FX.SEG_2X2, values={z: 2.0 for z in range(4)})
    out = disaggregate_polygon_to_raster(zones, cells)
    grid = collect_to_grid(out, META, "disaggregated")
    grid = np.where(np.isnan(grid), 0.0, grid)  # unassigned/empty -> 0
    np.testing.assert_allclose(grid, FX.GOLDEN_DISAGG_2X2, atol=1e-7)
    # conservation: coarsen(2,2).sum() == [[2,2],[2,2]]
    coarse = grid.reshape(2, 2, 2, 2).sum(axis=(1, 3))
    np.testing.assert_allclose(coarse, np.full((2, 2), 2.0), atol=1e-7)


def test_disaggregate_polygon_to_point_conservation(spark, points):
    zones = ZoneSet.from_fixture(
        [FX.SEG_2X2[0], FX.SEG_2X2[2], FX.SEG_2X2[3]], values={0: 1.0, 2: 5.0, 3: 7.0}
    )
    out = disaggregate_polygon_to_point(zones, points)
    total = out.groupBy().sum("disaggregated").collect()[0][0]
    assert total == pytest.approx(13.0)


def test_disaggregate_point_raises_on_empty_zone(spark, points):
    zones = ZoneSet.from_fixture(FX.SEG_2X2, values={0: 1.0, 1: 3.0, 2: 5.0, 3: 7.0})
    # zone 1 contains no fixture points -> reference raises (disaggregate.py:195-199)
    with pytest.raises(DisaggregationError, match="without any proxy point"):
        disaggregate_polygon_to_point(zones, points)


def test_aggregate_point_to_polygon(spark, points):
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    rows = aggregate_point_to_polygon(points, zones, "count").collect()
    got = {r["zone_id"]: r["count_weight"] for r in rows}
    # points per zone: 0 -> {3,6,9}, 2 -> {0,1,2,5}, 3 -> {4,7,8}; zone 1 empty -> NULL
    assert got == {0: 3, 1: None, 2: 4, 3: 3}
    sums = {
        r["zone_id"]: r["sum_weight"]
        for r in aggregate_point_to_polygon(points, zones, "sum").collect()
    }
    w = {p[0]: p[3] for p in FX.POINTS}
    assert sums[0] == pytest.approx(w[3] + w[6] + w[9])
    assert sums[1] is None


def test_polygon_to_polygon_conservation(spark):
    src = ZoneSet.from_fixture(FX.SEG_2X2, values={0: 2.0, 1: 4.0, 2: 6.0, 3: 8.0})
    tgt = ZoneSet.from_fixture(FX.SEG_3X3)
    pairs = disaggregate_polygon_to_polygon(src, tgt)
    # total mass conserved for sources overlapping any target
    total = pairs.groupBy().sum("apportioned").collect()[0][0]
    assert total == pytest.approx(2.0 + 4.0 + 6.0 + 8.0)
    # cross-check one cell: src 0 ([-0.25,0.75]x[10.75,11.75]) ∩ tgt 0
    # ([0,0.5]x[11,11.5]) = 0.25 deg²; src0 ∩ all 3x3 targets = 0.75x0.75
    row = pairs.filter("src_zone = 0 AND tgt_zone = 0").collect()[0]
    assert row["area"] == pytest.approx(0.25)
    assert row["apportioned"] == pytest.approx(2.0 * 0.25 / 0.5625)


def test_uniform_proxy_and_clip(spark):
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    proxy = uniform_proxy_df(spark, zones.total_bounds(), (4, 4))
    assert proxy.count() == 16
    rows = proxy.orderBy("row", "col").collect()
    assert rows[0]["x"] == pytest.approx(0.0)
    assert rows[0]["y"] == pytest.approx(11.5)
    assert rows[0]["value"] == 1.0
    clipped = clip_bbox(proxy, -0.25, 9.75, 0.75, 10.75)
    assert clipped.count() == 4  # the SW quadrant of centers


# ------------------------------------------------ assignment reuse (tags)


def _passes(df):
    """Python assignment passes in ``df``'s physical plan."""
    return df._jdf.queryExecution().executedPlan().toString().count("MapInPandas")


def _zone_col(df):
    return {(r["row"], r["col"]): r["zone_id"] for r in df.collect()}


@pytest.fixture(scope="module")
def fine_cells(spark):
    """A 9x9 seeded proxy whose cell centres lie on a 0.25-degree lattice
    over the fixture extent, so the fixtures' shared edges and vertices
    pass through cell centres."""
    rng = np.random.default_rng(3)
    meta = RasterMeta(width=9, height=9, origin_x=-0.375, origin_y=11.875, pixel=0.25)
    return raster_df(spark, meta, 0.5 + rng.random((9, 9))).cache()


@pytest.mark.parametrize("seg", [FX.SEG_2X2, FX.SEG_3X3, FX.SEG_HOLED], ids=["2x2", "3x3", "holed"])
def test_round_trip_plans_two_passes_and_conserves(spark, fine_cells, seg):
    """disaggregate → aggregate over the same zones assigns each cell once
    (plus the normalization pass) and returns every zone's value; the sums
    equal those of a forced fresh assignment."""
    zones = ZoneSet.from_fixture(seg, values={z.zone_id: 1.0 + z.zone_id for z in seg})
    disagg = disaggregate_polygon_to_raster(zones, fine_cells)
    assert _passes(disagg) == 2
    trip = aggregate_raster_to_polygon(disagg, zones, "sum", value="disaggregated")
    assert _passes(trip) == 2
    got = {r["zone_id"]: r["sum_disaggregated"] for r in trip.collect()}
    assert got == pytest.approx(zones.values, rel=1e-12)
    fresh = aggregate_raster_to_polygon(
        disagg.withColumn("x", F.col("x") + 0), zones, "sum", value="disaggregated"
    )
    assert _passes(fresh) == 3
    want = {r["zone_id"]: r["sum_disaggregated"] for r in fresh.collect()}
    assert got == pytest.approx(want, rel=1e-12)


def test_assignment_reused_only_for_the_same_tags(spark, fine_cells):
    """A tagged input skips the pass for its own zone set and is assigned
    afresh for another zone set, for the ``within`` output, for swapped
    x/y aliases and for a recomputed coordinate; every result matches a
    fresh assignment of the plain cells."""
    z2, z3 = ZoneSet.from_fixture(FX.SEG_2X2), ZoneSet.from_fixture(FX.SEG_3X3)
    tagged = assign_cells_df(fine_cells, z2)
    want2, want3 = _zone_col(tagged), _zone_col(assign_cells_df(fine_cells, z3))

    again = assign_cells_df(tagged, z2)
    assert _passes(again) == 1 and _zone_col(again) == want2
    kept = assign_cells_df(tagged, z2, keep_unassigned=False)
    assert _passes(kept) == 1
    assert _zone_col(kept) == {k: v for k, v in want2.items() if v is not None}

    other = assign_cells_df(tagged, z3)
    assert _passes(other) == 2 and _zone_col(other) == want3

    # tagged x/y, but zone_id now holds the strict-interior result
    within = assign_points_within_df(tagged, z2)
    redo = assign_cells_df(within, z2)
    assert _passes(redo) == 3 and _zone_col(redo) == want2

    swapped = tagged.select(
        "row", "col", F.col("y").alias("x"), F.col("x").alias("y"), "value", "zone_id"
    )
    redo = assign_cells_df(swapped, z2)
    assert _passes(redo) == 2
    assert _zone_col(redo) == _zone_col(
        assign_cells_df(swapped.withColumn("x", F.col("x") + 0), z2)
    )

    shifted = tagged.withColumn("x", F.col("x") + 0)
    redo = assign_cells_df(shifted, z2)
    assert _passes(redo) == 2 and _zone_col(redo) == want2


def test_assignment_tags_survive_parquet(spark, fine_cells, tmp_path):
    zones = ZoneSet.from_fixture(FX.SEG_3X3)
    tagged = assign_cells_df(fine_cells, zones)
    path = str(tmp_path / "assigned")
    tagged.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.schema["zone_id"].metadata["gregor.axis"] == "zone"
    again = assign_cells_df(back, zones)
    assert _passes(again) == 0
    assert _zone_col(again) == _zone_col(tagged)


def test_disaggregate_reuses_tagged_proxy(spark, fine_cells, tmp_path):
    """A proxy stored with its assignment is not assigned again: only the
    normalization pass runs, and the apportioned values equal those of
    the plain proxy."""
    zones = ZoneSet.from_fixture(FX.SEG_3X3, values={z: 2.0 + z for z in range(9)})
    plain = disaggregate_polygon_to_raster(zones, fine_cells)
    path = str(tmp_path / "proxy")
    assign_cells_df(fine_cells, zones).write.parquet(path)
    reused = disaggregate_polygon_to_raster(zones, spark.read.parquet(path))
    assert _passes(reused) == 1

    def vals(df):
        return {(r["row"], r["col"]): r["disaggregated"] for r in df.collect()}

    assert vals(reused) == pytest.approx(vals(plain), rel=1e-12)


def test_zone_sums_df_matches_groupby_sum(spark):
    """Partial per-batch sums add up to ``F.sum`` per zone, nulls skipped;
    a zone whose proxies are all null sums to null."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    rng = np.random.default_rng(5)
    rows = []
    for i in range(400):
        x, y = rng.uniform(-0.25, 1.75), rng.uniform(9.75, 11.75)
        in_zone1 = x > 0.75 and y > 10.75
        w = None if in_zone1 or i % 7 == 0 else float(rng.random())
        rows.append((x, y, w))
    df = spark.createDataFrame(rows, "x double, y double, w double").repartition(3)
    got = {r["zone_id"]: r["total"] for r in zone_sums_df(df, zones, "w").collect()}
    want = {
        r["zone_id"]: r["s"]
        for r in assign_cells_df(df, zones, keep_unassigned=False)
        .groupBy("zone_id").agg(F.sum("w").alias("s")).collect()
    }
    assert want[1] is None and got[1] is None
    assert got == pytest.approx(want, rel=1e-12)


def test_explode_points_within_keeps_row_order(spark):
    """One row per (point, containing zone), grouped by ascending zone id
    and in input order within a zone, on overlapping zones."""
    zones = ZoneSet.from_fixture(FX.SEG_OVERLAP)
    rng = np.random.default_rng(11)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-0.5, 2.0, 300), rng.uniform(9.5, 12.0, 300))
    )]
    df = spark.createDataFrame(pts, "pid long, x double, y double").coalesce(1)
    got = [(r["zone_id"], r["pid"]) for r in explode_points_within_df(df, zones).collect()]
    px = np.array([p[1] for p in pts])
    py = np.array([p[2] for p in pts])
    want = [
        (int(z), i)
        for z, rings in sorted(zip(zones.zone_ids, zones.rings_list()), key=lambda t: t[0])
        for i in np.flatnonzero(K.points_within_rings(px, py, rings))
    ]
    assert got == want
