"""Zonal aggregation operators (reference src/gregor/aggregate.py).

Both collapse to: assignment → ``groupBy(zone_id).agg(...)`` → left join
back onto the zone list.

Scale shape: one shuffle (the agg); the assignment itself is
shuffle-free on the broadcast path, and the O(zones) aggregate is
broadcast into the join back.  Partial aggregation (map-side combine) is
automatic for sum/count/min/max/mean, so the shuffle moves O(zones)
rows, not O(cells) — the property that keeps this viable at 100 TB.
Cells that already carry an assignment tag for the same zones (the
output of ``disaggregate_polygon_to_raster``) are not assigned again, so
the disaggregate → aggregate round trip runs no Python pass here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model.zones import ZoneSet
from .assign import assign_cells_df, explode_points_within_df

_STATS = {
    "sum": F.sum,
    "mean": F.mean,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "median": lambda c: F.median(c),
    "std": F.stddev,
}


def aggregate_raster_to_polygon(
    cells: "DataFrame | str",
    zones: ZoneSet,
    stats: str = "sum",
    value: str = "value",
    nodata: float | None = 0.0,
    out: str | None = None,
) -> DataFrame:
    """Zonal statistics (reference ``aggregate_raster_to_polygon``,
    aggregate.py:9-88, backed there by rasterstats.zonal_stats).

    Pixel↔polygon rule: center-in-polygon, a pixel is never split
    (documented in the reference's skipped tests, test_aggregate.py:38-41).
    ``nodata`` cells are excluded from the statistic, matching
    zonal_stats(nodata=...) (aggregate.py:47-54).  Zones with no cells
    appear with NULL (reference rebuilds on the polygon frame).

    Beyond the _STATS aggregates, the rasterstats extras are accepted
    (the strings ``zonal_stats`` takes, reference aggregate.py:47-54):
    ``majority`` / ``minority`` (most/least frequent value; ties break
    to the SMALLEST value — deterministic where rasterstats inherits
    numpy ordering), ``unique`` (distinct value count), and
    ``percentile_<q>`` (linear-interpolated, numpy semantics — e.g.
    ``percentile_75``).  majority/minority run as a two-level agg
    (value-count partial-agg on (zone, value), then an O(zones×values)
    reduce), so a hot value pre-aggregates map-side like every other
    path here.

    Returns DataFrame(zone_id, <out>).
    """
    if isinstance(cells, str):
        # reference dispatcher accepts a file path (aggregate.py:9-37);
        # here: a parquet long-form cell table
        from pyspark.sql import SparkSession

        cells = SparkSession.getActiveSession().read.parquet(cells)
    out = out or f"{stats}_{value}"
    assigned = assign_cells_df(cells, zones, out="zone_id", keep_unassigned=False)
    if nodata is not None:
        assigned = assigned.filter(F.col(value) != F.lit(nodata))
    if stats in _STATS:
        agg = assigned.groupBy("zone_id").agg(_STATS[stats](F.col(value)).alias(out))
    elif stats == "unique":
        agg = assigned.groupBy("zone_id").agg(
            F.countDistinct(value).alias(out)
        )
    elif stats in ("majority", "minority"):
        vc = assigned.groupBy("zone_id", value).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        if stats == "majority":  # max count, tie → smallest value
            t = vc.groupBy("zone_id").agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col(value)).alias("nv"))
                ).alias("t")
            )
            agg = t.select("zone_id", (-F.col("t.nv")).alias(out))
        else:  # min count, tie → smallest value
            t = vc.groupBy("zone_id").agg(
                F.min(F.struct(F.col("cnt"), F.col(value).alias("v"))).alias(
                    "t"
                )
            )
            agg = t.select("zone_id", F.col("t.v").alias(out))
    elif stats.startswith("percentile_"):
        try:
            q = float(stats[len("percentile_"):]) / 100.0
        except ValueError:
            raise ValueError(f"bad percentile spec {stats!r}")
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"percentile out of range in {stats!r}")
        agg = assigned.groupBy("zone_id").agg(
            F.percentile(F.col(value), F.lit(q)).alias(out)
        )
    else:
        raise ValueError(
            f"unsupported stats {stats!r}; one of {sorted(_STATS)} + "
            "majority/minority/unique/percentile_<q>"
        )
    zone_ids = zones.values_df_ids(cells.sparkSession)
    return zone_ids.join(F.broadcast(agg), "zone_id", "left").select("zone_id", out)


def aggregate_point_to_polygon(
    points: DataFrame,
    zones: ZoneSet,
    aggfunc: str = "sum",
    value: str = "weight",
    x: str = "x",
    y: str = "y",
    out: str | None = None,
) -> DataFrame:
    """Point→polygon aggregation (reference aggregate.py:91-145).

    Reference semantics preserved: inner spatial join with predicate
    ``within`` (strict interior — boundary points and points outside all
    polygons are dropped, aggregate.py:121) emitting ONE ROW PER
    CONTAINING POLYGON (``gpd.sjoin`` row-per-match, so a point inside
    overlapping zones counts once per zone), then groupby-agg, then a
    LEFT join back so zones without points yield NULL (aggregate.py:143).
    """
    if aggfunc not in _STATS:
        raise ValueError(f"unsupported aggfunc {aggfunc!r}")
    out = out or f"{aggfunc}_{value}"
    assigned = explode_points_within_df(points, zones, x=x, y=y)
    agg = assigned.groupBy("zone_id").agg(_STATS[aggfunc](F.col(value)).alias(out))
    zone_ids = zones.values_df_ids(points.sparkSession)
    return zone_ids.join(F.broadcast(agg), "zone_id", "left").select("zone_id", out)
