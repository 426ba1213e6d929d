"""Proxy-weighted disaggregation operators (reference
src/gregor/disaggregate.py).

The reference's O(#polygons) Python accumulation loop
(disaggregate.py:56-65) collapses into ONE join + groupBy + column
arithmetic: ``out = zone_value * proxy / zone_norm``.  Mass conservation
(zonal sum of output == input value per zone) is the invariant tested by
the reference (test_disaggregate.py:29-31) and by tests/ here.

Scale shape: 2 shuffles max — the normalization groupBy (partial-agg,
O(zones) rows moved) and its join back (broadcast: norms are O(zones)).
Fact-side data never shuffles on the broadcast assignment path.  The
raster path crosses into Python twice: the tagged assignment of every
cell, and the normalization pass (``zone_sums_df``) that ships only
``(x, y, proxy)`` in and per-batch zone sums out.  Its output keeps the
assignment tags, so ``aggregate_raster_to_polygon`` over the same zones
reuses the assignment instead of running a third pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model.zones import ZoneSet
from .assign import assign_cells_df, assign_points_within_df, zone_sums_df


class DisaggregationError(ValueError):
    """Raised for the reference's validation failures: a point in more
    than one polygon (disaggregate.py:189-191), or a polygon containing no
    proxy points (disaggregate.py:195-199 ``raise Warning``)."""


def disaggregate_polygon_to_raster(
    zones: ZoneSet,
    proxy_cells: DataFrame,
    value_column: str = "value",
    proxy_column: str = "value",
    out: str = "disaggregated",
    data_crs: str | None = None,
    proxy_crs: str | None = None,
    to_data_crs: bool = False,
) -> DataFrame:
    """Apportion each zone's value over its raster cells ∝ proxy weight
    (reference disaggregate_polygon_to_raster, disaggregate.py:8-71).

    Returns cells(row, col, x, y, zone_id, <out>); cells outside every
    zone are dropped (reference leaves them 0/NaN; zonal semantics are
    identical — conservation holds either way).  With ``to_data_crs`` the
    RESULT's coordinates are reprojected back to the data CRS (reference
    disaggregate.py:67-69) — one vectorized pandas-UDF pass over the
    output, values untouched.
    """
    spark = proxy_cells.sparkSession
    if data_crs and proxy_crs and data_crs != proxy_crs:
        # reference aligns data -> proxy CRS with a printed warning
        # (disaggregate.py:40-44); zones are driver-side so the reprojection
        # is a numpy pass, never a fact-table job
        from ..geo.crs import reproject_zones

        print(
            f"Data CRS ({data_crs}) differs from proxy CRS ({proxy_crs}). "
            "Reprojecting data."
        )
        zones = reproject_zones(zones, data_crs, proxy_crs)
    assigned = assign_cells_df(proxy_cells, zones, keep_unassigned=False)
    norm = zone_sums_df(proxy_cells, zones, proxy_column, total="_norm")
    zvals = zones.values_df(spark, "_zone_value")
    result = (
        assigned.join(F.broadcast(norm), "zone_id")
        .join(F.broadcast(zvals), "zone_id")
        # zones whose norm is 0 produce NULL (0/0) — reference drops
        # no-cell polygons at disaggregate.py:52; 0-proxy cells yield 0
        .withColumn(
            out,
            F.col("_zone_value") * F.col(proxy_column) / F.nullif(F.col("_norm"), F.lit(0.0)),
        )
        .drop("_norm", "_zone_value")
    )
    if to_data_crs and data_crs and proxy_crs and data_crs != proxy_crs:
        from ..geo.crs import reproject_df

        result = reproject_df(result, proxy_crs, data_crs)
    return result


def disaggregate_polygon_to_point(
    zones: ZoneSet,
    points: DataFrame,
    proxy_column: str = "weight",
    out: str = "disaggregated",
    validate: bool = True,
    data_crs: str | None = None,
    proxy_crs: str | None = None,
    to_data_crs: bool = False,
) -> DataFrame:
    """Apportion zone values over proxy points ∝ point weight (reference
    disaggregate_polygon_to_point, disaggregate.py:150-219).

    Reference validation semantics (enforced when ``validate``):
    * every point must lie strictly inside EXACTLY one polygon
      (assert at disaggregate.py:189-192) → DisaggregationError;
    * every polygon (with a value) must contain ≥1 point
      (raise at disaggregate.py:195-199) → DisaggregationError.
    Validation is one extra job over pre-aggregated counts — O(zones)
    rows to the driver, never the fact table.

    CRS semantics mirror the reference: zone geometry is aligned to the
    points' CRS for the containment test (disaggregate.py:177-181, a
    driver-side numpy pass over the small zone layer), and with
    ``to_data_crs`` the RESULT's point coordinates are reprojected back to
    the data CRS (disaggregate.py:215-217).
    """
    spark = points.sparkSession
    if data_crs and proxy_crs and data_crs != proxy_crs:
        from ..geo.crs import reproject_zones

        print(
            f"Data CRS ({data_crs}) differs from proxy CRS ({proxy_crs}). "
            "Reprojecting data."
        )
        zones = reproject_zones(zones, data_crs, proxy_crs)
    assigned = assign_points_within_df(points, zones, out="zone_id", hits="n_zones")
    if validate:
        bad = assigned.filter(F.col("n_zones") != 1).limit(1).count()
        if bad:
            raise DisaggregationError(
                "each point must lie strictly inside exactly one polygon "
                "(reference disaggregate.py:189-192)"
            )
        zone_ids_with_values = set(zones.values.keys()) or {
            int(z) for z in zones.zone_ids
        }
        present = {
            r[0] for r in assigned.select("zone_id").distinct().collect() if r[0] is not None
        }
        empty = zone_ids_with_values - present
        if empty:
            raise DisaggregationError(
                f"polygons without any proxy point: {sorted(empty)} "
                "(reference disaggregate.py:195-199)"
            )
    assigned = assigned.filter(F.col("zone_id").isNotNull()).drop("n_zones")
    norm = assigned.groupBy("zone_id").agg(F.sum(proxy_column).alias("_norm"))
    zvals = zones.values_df(spark, "_zone_value")
    result = (
        assigned.join(F.broadcast(norm), "zone_id")
        .join(F.broadcast(zvals), "zone_id")
        .withColumn(
            out,
            F.col("_zone_value") * F.col(proxy_column) / F.nullif(F.col("_norm"), F.lit(0.0)),
        )
        .drop("_norm", "_zone_value")
    )
    if to_data_crs and data_crs and proxy_crs and data_crs != proxy_crs:
        from ..geo.crs import reproject_df

        result = reproject_df(result, proxy_crs, data_crs)
    return result


def _rings_intersection_area(src_rings, tgt_rings) -> float:
    """Exact area(src ∩ tgt) for ring-list geometry — holed, multi-part,
    CONCAVE rings all exact (the reference handles arbitrary shapely
    geometry via GDAL, reference disaggregate.py:137-142, and its flagship
    example disaggregates NUTS admin boundaries, which are concave).

    Dispatch per target ring, cheapest exact kernel first: axis-aligned
    boxes → rect Sutherland–Hodgman; convex rings → polygon
    Sutherland–Hodgman; concave rings → ear-clip triangulation + SH per
    triangle (kernels.intersection_area_general_rings).  Target holes
    subtract; exact under GeoJSON validity (holes nest, parts disjoint)."""
    from ..geo import kernels as K

    total = 0.0
    for tx, ty, t_hole in tgt_rings:
        minx, miny, maxx, maxy = K.polygon_bbox(tx, ty)
        is_box = (
            len(tx) == 4
            and set(map(float, tx)) <= {minx, maxx}
            and set(map(float, ty)) <= {miny, maxy}
        )
        if is_box:
            a = K.intersection_area_rect_rings(src_rings, minx, miny, maxx, maxy)
        elif K.is_convex_ring(tx, ty):
            a = K.intersection_area_convex_rings(src_rings, tx, ty)
        else:
            a = K.intersection_area_general_rings(src_rings, tx, ty)
        total += -a if t_hole else a
    return max(total, 0.0)


def disaggregate_polygon_to_polygon_distributed(
    src_zones: ZoneSet,
    tgt_zones: ZoneSet,
    res: int | None = None,
    bounds: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Cover-join variant of polygon→polygon disaggregation — the scale
    path for large segmentations: candidate (src, tgt) pairs come from a
    Morton cell-cover equi-join (covers are conservative supersets, so no
    intersecting pair is ever missed), and the exact clip kernel runs
    per-pair inside an Arrow-batched UDF on executors.  The driver never
    loops over S×T (the O(S×T) double loop was round-1's scale-killer).

    Same output contract as ``disaggregate_polygon_to_polygon``:
    (src_zone, tgt_zone, area, apportioned) — parity-tested on fixtures.
    """
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import types as T

    from ..geo import cells as C
    from ..model.localdf import local_df

    if bounds is None:
        sb = src_zones.total_bounds()
        tb = tgt_zones.total_bounds()
        bounds = (
            min(sb[0], tb[0]), min(sb[1], tb[1]),
            max(sb[2], tb[2]), max(sb[3], tb[3]),
        )
    if res is None:
        import math

        from ..plans.strategy import choose_resolution

        typical = math.sqrt(
            max(
                (bounds[2] - bounds[0]) * (bounds[3] - bounds[1])
                / max(len(tgt_zones), 1),
                1e-12,
            )
        )
        res = choose_resolution(bounds, typical, bounds, target_cells_per_zone=16)
    spark = SparkSession.getActiveSession()
    s_cover = local_df(
        spark,
        [(z, c) for z, c, _f in src_zones.cover(res, bounds)],
        "src_zone long, cell_id long",
    )
    t_cover = local_df(
        spark,
        [(z, c) for z, c, _f in tgt_zones.cover(res, bounds)],
        "tgt_zone long, cell_id long",
    )
    cand = (
        s_cover.join(t_cover, "cell_id").select("src_zone", "tgt_zone").distinct()
    )
    s_lookup = src_zones.geometry_lookup()
    t_lookup = tgt_zones.geometry_lookup()

    def clip(batches):
        for pdf in batches:
            areas = [
                _rings_intersection_area(s_lookup[int(s)], t_lookup[int(t)])
                for s, t in zip(pdf["src_zone"], pdf["tgt_zone"])
            ]
            out = pdf.copy()
            out["area"] = pd.Series(areas, index=pdf.index, dtype="float64")
            yield out[out["area"] > 0.0]

    schema = T.StructType(
        [
            T.StructField("src_zone", T.LongType()),
            T.StructField("tgt_zone", T.LongType()),
            T.StructField("area", T.DoubleType()),
        ]
    )
    pairs = cand.mapInPandas(clip, schema=schema)
    vals = local_df(
        spark,
        [(int(z), float(src_zones.values.get(int(z), float("nan")))) for z in src_zones.zone_ids],
        "src_zone long, _sv double",
    )
    # per-source normalization as a WINDOW sum: reuses the single pass over
    # `pairs` (a groupBy+join-back would re-run the cover join and the clip
    # kernel a second time — `pairs` is the expensive stage here)
    from pyspark.sql.window import Window

    ta = F.sum("area").over(Window.partitionBy("src_zone"))
    return (
        pairs.withColumn("_ta", ta)
        .join(F.broadcast(vals), "src_zone")
        .withColumn("apportioned", F.col("_sv") * F.col("area") / F.col("_ta"))
        .drop("_ta", "_sv")
        .select("src_zone", "tgt_zone", "area", "apportioned")
    )


def disaggregate_polygon_to_polygon(
    src_zones: ZoneSet,
    tgt_zones: ZoneSet,
    weight: str = "area",
) -> DataFrame:
    """Re-apportion values between two segmentations by intersection area.

    Not a single named function in the reference — it is the composition
    O1→O5 its docs perform (docs/examples/disaggregate-to-raster.py:
    disaggregate NUTS0 → raster → re-aggregate NUTS3); see SURVEY.md §2
    name note.  Implemented exactly (intersection-area apportioning)
    rather than via an intermediate grid: value flows src→tgt
    ∝ area(src ∩ tgt) / area(src ∩ all targets).

    Zone layers are driver-side; the pair table is built with the numpy
    clip kernel and returned as a DataFrame.  (For massive zone sets the
    same shape runs as a cover-join, see spatial_join.py.)
    """
    rows = []
    src_rings = src_zones.rings_list()
    tgt_rings = tgt_zones.rings_list()
    for si, sz in enumerate(src_zones.zone_ids):
        for ti, tz in enumerate(tgt_zones.zone_ids):
            a = _rings_intersection_area(src_rings[si], tgt_rings[ti])
            if a > 0:
                rows.append((int(sz), int(tz), float(a)))
    if not rows:
        raise DisaggregationError("no source/target intersections")
    by_src: dict[int, float] = {}
    for (s, _t, a) in rows:
        by_src[s] = by_src.get(s, 0.0) + a
    out = [
        (
            s,
            t,
            a,
            float(src_zones.values.get(s, float("nan"))) * a / by_src[s],
        )
        for (s, t, a) in rows
    ]
    # small driver-side table → DataFrame; callers groupBy(tgt) to finish
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(
        out, "src_zone long, tgt_zone long, area double, apportioned double"
    )
