"""Assignment operators — which zone does each cell/point belong to.

This is the engine's version of the reference's ``get_belongs_to_matrix``
(disaggregate.py:112-147, the per-polygon GDAL rasterize loop) and of its
per-point containment scan (disaggregate.py:184-186) / spatial join
(aggregate.py:121): ONE vectorized pass over Arrow batches instead of an
O(polygons) loop of full-raster masks.

Two physical strategies (SURVEY.md §4):

* **broadcast path** (here): zones ship inside the pandas-UDF closure —
  zero shuffle, embarrassingly parallel over fact partitions.  Right
  whenever the zone layer fits comfortably in executor memory (the common
  case: admin boundaries are ~MBs against a 100 TB fact table).
* **partitioned path** (operators/spatial_join.py): cell-cover shuffle
  join with explicit salting, for zone layers too large or too hot to
  broadcast.

Both produce identical assignments (determinism test in
tests/test_spatial_join.py).

Scale shape: one Arrow-batched Python pass per assignment, and an
assignment that is already valid is reused instead of recomputed.
``assign_cells_df`` tags ``x``, ``y`` and the zone column with Spark
column metadata naming the zone set (its geometry digest), the rule and
the axis; those tags ride along through selects, filters, joins and
parquet round trips, while any recomputed column loses them.  An input
whose columns carry the tags for the same zone set skips the pass, so a
disaggregate → aggregate round trip crosses into Python twice (the
assignment and the normalization sums of ``disaggregate_polygon_to_raster``)
instead of three times.  Inside a batch the kernels sort the points by x
once and test each zone only against the points in its padded bbox.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..geo import kernels as K
from ..model.zones import ZoneSet


#: column-metadata keys of an assignment tag (see :func:`assign_cells_df`)
TAG_ZONES, TAG_RULE, TAG_AXIS = "gregor.zones", "gregor.rule", "gregor.axis"


def _with_long_col(schema: T.StructType, name: str) -> T.StructType:
    return T.StructType(schema.fields + [T.StructField(name, T.LongType(), True)])


def _tagged(schema: T.StructType, digest: str, axes: dict) -> T.StructType:
    """``schema`` with the raster-rule assignment tag on each column named
    in ``axes`` (column name -> axis), merged into its metadata."""
    return T.StructType([
        T.StructField(
            f.name,
            f.dataType,
            f.nullable,
            {**f.metadata, TAG_ZONES: digest, TAG_RULE: "raster", TAG_AXIS: axes[f.name]},
        )
        if f.name in axes
        else f
        for f in schema.fields
    ])


def _is_assigned(df: DataFrame, digest: str, x: str, y: str, out: str) -> bool:
    """True iff ``x``, ``y`` and ``out`` carry the tags that
    :func:`_tagged` writes for the zone set with geometry digest
    ``digest`` (``ZoneSet._geom_digest``), each naming its own axis."""
    fields = {f.name: f for f in df.schema.fields}
    for name, axis in ((x, "x"), (y, "y"), (out, "zone")):
        md = fields[name].metadata if name in fields else {}
        if (md.get(TAG_ZONES), md.get(TAG_RULE), md.get(TAG_AXIS)) != (digest, "raster", axis):
            return False
    return True


def _zone_ids(zid: np.ndarray) -> pd.arrays.IntegerArray:
    """Kernel output (-1 = unassigned) as a nullable Int64 column."""
    return pd.arrays.IntegerArray(zid, zid < 0)


def assign_cells_df(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
    keep_unassigned: bool = True,
) -> DataFrame:
    """Raster-rule assignment (pixel-center claims, last-id-wins).

    Adds ``out`` (nullable long).  With ``keep_unassigned=False`` rows in
    no zone are dropped (the inner-join semantics most downstream ops
    want; reference drops them via ``dropna`` at disaggregate.py:52).

    ``x``, ``y`` and ``out`` of the result carry the assignment tag
    (module docstring).  An input already tagged for ``zones`` on these
    three columns is returned as is (after the ``keep_unassigned``
    filter): its ``out`` is exactly what this pass would compute.  The
    tag is a promise about column values, so code that rewrites one of
    them through a plain rename or alias must drop the column's metadata.
    """
    digest = zones._geom_digest()
    if _is_assigned(df, digest, x, y, out):
        return df if keep_unassigned else df.filter(df[out].isNotNull())
    ids = zones.zone_ids
    rings = zones.rings_list()
    if out in df.columns:  # re-assignment replaces a stale column
        df = df.drop(out)
    schema = _tagged(_with_long_col(df.schema, out), digest, {x: "x", y: "y", out: "zone"})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            zid = K.assign_cells_rings(
                pdf[x].to_numpy(np.float64), pdf[y].to_numpy(np.float64), ids, rings
            )
            pdf[out] = _zone_ids(zid)
            yield pdf

    result = df.mapInPandas(run, schema=schema)
    if not keep_unassigned:
        result = result.filter(result[out].isNotNull())
    return result


def zone_sums_df(
    df: DataFrame,
    zones: ZoneSet,
    value: str,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
    total: str = "total",
) -> DataFrame:
    """Per-zone sums of ``value`` under the raster rule, in ONE Python
    pass that returns O(zones) rows per Arrow batch instead of every
    cell: each batch yields its ``(out, partial sum)`` rows, and a
    ``groupBy(out)`` adds the partials.  Only ``x``, ``y`` and ``value``
    cross into Python.  Nulls are skipped as ``F.sum`` skips them; a zone
    whose values are all null sums to null; zones without cells are
    absent."""
    from pyspark.sql import functions as F

    ids = zones.zone_ids
    rings = zones.rings_list()
    schema = T.StructType([
        T.StructField(out, T.LongType(), False),
        T.StructField(total, T.DoubleType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            zid = K.assign_cells_rings(
                pdf[x].to_numpy(np.float64), pdf[y].to_numpy(np.float64), ids, rings
            )
            hit = zid >= 0
            part = pdf[value][hit].astype(np.float64).groupby(zid[hit]).sum(min_count=1)
            yield pd.DataFrame({
                out: part.index.to_numpy(np.int64), total: part.to_numpy(np.float64)
            })

    parts = df.select(x, y, value).mapInPandas(run, schema=schema)
    return parts.groupBy(out).agg(F.sum(total).alias(total))


def assign_points_within_df(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
    hits: str = "n_zones",
) -> DataFrame:
    """Strict-interior (shapely ``within``) assignment.

    Adds ``out`` (lowest matching zone id, null if none) and ``hits``
    (match count) so callers can enforce the reference's cardinality
    semantics: O4's exactly-one assert (disaggregate.py:189-192) or O6's
    inner-join drop (aggregate.py:121).
    """
    ids = zones.zone_ids
    rings = zones.rings_list()
    for c in (out, hits):
        if c in df.columns:
            df = df.drop(c)
    schema = _with_long_col(_with_long_col(df.schema, out), hits)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            zid, n = K.assign_points_within_rings(
                pdf[x].to_numpy(np.float64), pdf[y].to_numpy(np.float64), ids, rings
            )
            pdf[out] = _zone_ids(zid)
            pdf[hits] = n
            yield pdf

    return df.mapInPandas(run, schema=schema)


def explode_points_within_df(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
) -> DataFrame:
    """ONE OUTPUT ROW PER (point, containing zone) match — the reference's
    ``gpd.sjoin(predicate='within')`` emits a row for every containing
    polygon (aggregate.py:121), so with overlapping zones a point counts
    once per zone.  Points matching no zone are dropped (inner join).

    Vectorized per zone within each Arrow batch (same cost shape as
    ``assign_points_within_df``); output order within a batch is by zone
    then point, deterministic.
    """
    ids = zones.zone_ids
    rings = zones.rings_list()
    if out in df.columns:
        df = df.drop(out)
    schema = _with_long_col(df.schema, out)
    order = np.argsort(np.asarray(ids, dtype=np.int64), kind="stable")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = pdf[x].to_numpy(np.float64)
            py = pdf[y].to_numpy(np.float64)
            candidates = K.bbox_pruner(px, py, rings)
            parts = []
            for k in order:
                idx = candidates(k)
                idx = np.sort(idx[K.points_within_rings(px[idx], py[idx], rings[k])])
                if len(idx):
                    zid = np.full(len(idx), ids[k], dtype=np.int64)
                    parts.append(pdf.iloc[idx].assign(**{out: _zone_ids(zid)}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return df.mapInPandas(run, schema=schema)


# ----------------------------------------------- pure-expression path
#
# Catalyst-only twin of the broadcast path: the zone layer becomes ONE
# literal array<struct<zone_id, rings>> expression and the whole
# even-odd/boundary/west-wall evaluation runs inside whole-stage codegen
# (functions/geometry.py PIP folds) — no Python worker, no Arrow hop.
# Right for small zone layers (the literal expression tree grows with
# vertex count; big/hot layers belong to the partitioned spatial join).
# Parity with the pandas-UDF kernels is pytest-asserted on the golden
# fixtures and random dyadic points (tests/test_geometry_cols.py).


def _zones_literal_sql(zones: ZoneSet) -> str:
    """SQL literal for array<struct<zone_id: bigint, rings:
    array<struct<xs: array<double>, ys: array<double>, ccw: boolean>>>>.

    ``ccw`` — the ring's effective interior orientation, (signed_area >
    0) XOR hole — is folded in HERE, driver-side: it is constant per
    ring, and computing it inside the expression would nest a
    signed-area fold into every edge step of the PIP evaluation."""

    def arr(v) -> str:
        return "array(" + ", ".join(f"{float(x)!r}D" for x in v) + ")"

    zs = []
    for zid, rings in zip(zones.zone_ids, zones.rings_list()):
        rs = ", ".join(
            "named_struct('xs', {x}, 'ys', {y}, 'ccw', {c})".format(
                x=arr(xs),
                y=arr(ys),
                c="true" if (K.signed_area(xs, ys) > 0) != bool(hole) else "false",
            )
            for xs, ys, hole in rings
        )
        zs.append(f"named_struct('zone_id', {int(zid)}L, 'rings', array({rs}))")
    return "array(" + ", ".join(zs) + ")"


def assign_cells_df_expr(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
    keep_unassigned: bool = True,
) -> DataFrame:
    """Raster-rule assignment with zero Python in the hot path: claim
    mask per zone via the expression PIP, last-id-wins via array_max
    over the claiming zones (same semantics as :func:`assign_cells_df`,
    parity-tested)."""
    from pyspark.sql import functions as F

    from ..functions.geometry import point_claims_zone

    if out in df.columns:
        df = df.drop(out)
    Z = F.expr(_zones_literal_sql(zones))
    px, py = df[x], df[y]
    claiming = F.filter(Z, lambda z: point_claims_zone(px, py, z["rings"]))
    zid = F.array_max(F.transform(claiming, lambda z: z["zone_id"]))
    result = df.withColumn(out, zid)
    if not keep_unassigned:
        result = result.filter(result[out].isNotNull())
    return result


def assign_points_within_df_expr(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
    hits: str = "n_zones",
) -> DataFrame:
    """Strict-interior assignment, expression path: lowest matching id +
    hit count (same contract as :func:`assign_points_within_df`)."""
    from pyspark.sql import functions as F

    from ..functions.geometry import point_within_zone

    for c in (out, hits):
        if c in df.columns:
            df = df.drop(c)
    Z = F.expr(_zones_literal_sql(zones))
    px, py = df[x], df[y]
    within = F.filter(Z, lambda z: point_within_zone(px, py, z["rings"]))
    zid = F.array_min(F.transform(within, lambda z: z["zone_id"]))
    return df.withColumn(out, zid).withColumn(
        hits, F.size(within).cast("long")
    )
