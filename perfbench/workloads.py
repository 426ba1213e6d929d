"""The benchmark workloads: ``tiles_read`` and ``disagg_zonal``.

Each workload builds its inputs from the seed, runs one *job* per timed
iteration through the engine's public functions, and checks the job's
output.  Every job consumes the zone assignment (the histogram is keyed by
``zone_id``, the conservation check reads every zone's sum), so Catalyst
can never prune the join or the geometry kernels away; ``guard`` verifies
that on the physical plan before timing.

Sizes fit one 4-core / 15 GB host: a job takes a few seconds, so a run of
~10 s yields several samples.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import oracle
from .inputs import (
    BOUNDS,
    ROOT,
    Tessellation,
    corpus_table,
    proxy_raster,
    raster_cells,
)

RES = 7  # Morton resolution of the tile / cover grid: 128 x 128 cells
N_BUCKETS = 16
SALT_FACTOR = 16
SAMPLE_TARGET = 3000  # spans sampled per job for the oracle check
MIN_CHECKED = 2000
CONSERVATION_TOL = 1e-9
SETUP_REPS = 3  # zone build + cover repetitions in set-up (median reported)
WARMUP_JOBS = 3  # jobs run before timing; the first ones still JIT-compile
MIN_SAMPLES = 3  # timed jobs per run, even when --seconds runs out first


#: what the salted partitioned path must plan: the cover join and the refine UDF
INGEST_PLAN = [
    ("a join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ("the refine UDF (ArrowEvalPython)", r"ArrowEvalPython"),
]


class PlanGuardError(RuntimeError):
    """The physical plan lacks the operator the workload must time."""


def plan_text(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def guard(df: DataFrame, required: list[tuple[str, str]]) -> None:
    """Raise unless every ``(label, regex)`` matches the physical plan."""
    text = plan_text(df)
    missing = [label for label, pat in required if not re.search(pat, text)]
    if missing:
        raise PlanGuardError(f"plan lacks {', '.join(missing)}:\n{text}")


def materialize(df: DataFrame) -> None:
    """Run ``df`` into a sink that keeps every column, so nothing is pruned."""
    df.write.format("noop").mode("overwrite").save()


def salt_threshold(n_docs: int) -> int:
    """Cells holding more spans than this are salted.  The hot corner holds
    ~0.008 spans per doc per res-7 cell and a cold cell ~0.0001, so n/1000
    separates them at any corpus size."""
    return max(1, n_docs // 1000)


# ---------------------------------------------------------- tile histogram


def hist_with_sample(tiled: DataFrame, seed: int, every: int) -> DataFrame:
    """(zone_id, cell_id) span/doc histogram plus, per group, the seeded
    sample of its spans' coordinates — one aggregation, so the sample
    carries the zone id the engine assigned."""
    picked = F.pmod(F.xxhash64("doc_id", "offset", F.lit(seed)), F.lit(every)) == 0
    return tiled.groupBy("zone_id", "cell_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.approx_count_distinct("doc_id").alias("n_docs"),
        F.collect_list(F.when(picked, F.struct("lon", "lat"))).alias("sample"),
    )


def check_hist(rows, geo_spans: int, tess: Tessellation) -> list[str]:
    errors = []
    total = sum(r["n_spans"] for r in rows)
    if total != geo_spans:
        errors.append(f"histogram holds {total} spans, corpus has {geo_spans}")
    px, py, zid = [], [], []
    for r in rows:
        z = -1 if r["zone_id"] is None else r["zone_id"]
        for p in r["sample"]:
            px.append(p["lon"])
            py.append(p["lat"])
            zid.append(z)
    checked, bad = oracle.mismatches(tess, px, py, zid)
    if checked < MIN_CHECKED:
        errors.append(f"only {checked} sampled spans checked (< {MIN_CHECKED})")
    if bad:
        errors.append(f"{bad} of {checked} sampled spans in the wrong zone")
    return errors


def zone_hist(tiled: DataFrame) -> dict:
    rows = tiled.groupBy("zone_id", "cell_id").count().collect()
    return {(r["zone_id"], r["cell_id"]): r["count"] for r in rows}


# ---------------------------------------------------------- workloads


class Workload:
    name = ""
    grid = 16  # zone tessellation is grid x grid quads
    uses_cover = False
    required_plan: list[tuple[str, str]] = []

    def __init__(self, seed: int):
        self.seed = seed
        self.work = os.path.join(ROOT, "work", self.name)
        self.tess: Tessellation | None = None
        self.zones = None
        self.cover = None

    def setup_zones(self, rep: int, reps: int) -> None:
        """Build the zone layer (and its cover).  Earlier repetitions use
        another tessellation of the same size, so the cover memo in
        ``ZoneSet.cover`` misses every time; the last one is the real one."""
        variant = 0 if rep == reps - 1 else rep + 1
        tess = Tessellation(self.seed, self.grid, variant)
        zones = tess.zone_set()
        cover = zones.cover(RES, BOUNDS) if self.uses_cover else None
        self.tess, self.zones, self.cover = tess, zones, cover

    def reset(self) -> None:
        """Remove the previous job's outputs (outside the timed region)."""
        shutil.rmtree(self.work, ignore_errors=True)


class TilesRead(Workload):
    """The read-heavy north path: scan the committed corpus, extract geo
    spans, assign tiles and zones through the planner's broadcast cover
    (one pandas UDF, no shuffle join), and collect the (zone, cell)
    histogram.  The write, salting and checkpoint layers are exercised by
    ``ingest_*`` below, which only the traced run calls."""

    name = "tiles_read"
    n_docs = 50_000
    uses_cover = True
    required_plan = [("the assignment UDF (ArrowEvalPython)", r"ArrowEvalPython")]

    def prepare(self, spark) -> float:
        self.corpus, meta, secs = corpus_table(spark, self.seed, self.n_docs, N_BUCKETS)
        self.geo_spans = meta["geo_spans"]
        self.table = os.path.join(self.work, "table")
        self.ckpt = os.path.join(self.work, "checkpoint")
        return secs

    @property
    def docs_per_job(self) -> int:
        return self.n_docs

    @property
    def cells_per_job(self) -> int:
        return self.geo_spans

    @property
    def sample_every(self) -> int:
        return max(1, self.geo_spans // SAMPLE_TARGET)

    def docs(self, spark, table: str | None = None) -> DataFrame:
        from gregor_spark.sources.iceberg_like import read_table

        return read_table(spark, table or self.corpus).select("doc_id", "spans")

    def tiled(self, spark, docs: DataFrame, salted: bool = False) -> DataFrame:
        from gregor_spark.operators.tiles import assign_tiles

        if salted:
            join = {
                "broadcast_cover": False,
                "salt_threshold": salt_threshold(self.n_docs),
                "salt_factor": SALT_FACTOR,
            }
        else:
            join = {"broadcast_cover": True}
        return assign_tiles(
            docs, RES, BOUNDS, zones=self.zones, keep_unassigned=True, **join
        )

    def pipeline(self, spark) -> DataFrame:
        tiled = self.tiled(spark, self.docs(spark))
        return hist_with_sample(tiled, self.seed, self.sample_every)

    def job(self, spark):
        return self.pipeline(spark).collect()

    def check(self, rows) -> list[str]:
        return check_hist(rows, self.geo_spans, self.tess)

    # -- the ingest path on the same corpus (traced run only)

    def ingest_commit(self, spark) -> None:
        """Commit a copy of the corpus as a new table with ``write_table``."""
        from gregor_spark.sources.iceberg_like import write_table

        write_table(self.docs(spark), self.table, bucket_by="doc_id", n_buckets=N_BUCKETS)

    def ingest_salted(self, spark) -> DataFrame:
        return self.tiled(spark, self.docs(spark, self.table), salted=True)

    def ingest_side_table(self, spark) -> DataFrame:
        """The salted assignment written (or resumed) as a checkpointed
        side table."""
        from gregor_spark.plans.checkpoint import CheckpointedRun

        return CheckpointedRun(spark, self.ckpt).run_stage(
            "tiles", lambda: self.ingest_salted(spark)
        )

    def ingest_recheckpoint(self, spark) -> DataFrame:
        """Checkpoint the finished side table again as a second stage."""
        from gregor_spark.plans.checkpoint import CheckpointedRun

        side = self.ingest_side_table(spark)
        return CheckpointedRun(spark, self.ckpt).run_stage("tiles_copy", lambda: side)

    def ingest_checks(self, spark, rows) -> list[str]:
        """The salted path on the committed copy: its checkpoint holds every
        geo span, hot cells exist, and its zone histogram equals the
        broadcast one in ``rows``."""
        from gregor_spark.plans.checkpoint import CheckpointedRun

        errors = []
        manifest_rows = CheckpointedRun(spark, self.ckpt).stage_manifest("tiles")["rows"]
        if manifest_rows != self.geo_spans:
            errors.append(
                f"checkpoint manifest lists {manifest_rows} rows, corpus has "
                f"{self.geo_spans} geo spans"
            )
        per_cell: dict[int, int] = {}
        for r in rows:
            per_cell[r["cell_id"]] = per_cell.get(r["cell_id"], 0) + r["n_spans"]
        if not any(n > salt_threshold(self.n_docs) for n in per_cell.values()):
            errors.append("no hot cells: the salted path would not salt")
        broadcast = {(r["zone_id"], r["cell_id"]): r["n_spans"] for r in rows}
        if zone_hist(self.ingest_side_table(spark)) != broadcast:
            errors.append("salted and broadcast zone histograms differ")
        return errors


class DisaggZonal(Workload):
    """Gregor's own round trip: apportion each zone's value over a proxy
    raster (``disaggregate_polygon_to_raster``), then sum it back per zone
    (``aggregate_raster_to_polygon``).  Both assign every cell with the full
    PIP kernel in ``operators.assign``; no corpus, no Morton join."""

    name = "disagg_zonal"
    grid = 8
    width = 500
    required_plan = [("the pandas map node (MapInPandas)", r"MapInPandas")]

    def prepare(self, spark) -> float:
        self.raster, meta, secs = proxy_raster(spark, self.seed, self.width)
        return secs

    @property
    def docs_per_job(self) -> int:
        return self.width * self.width

    cells_per_job = docs_per_job

    def cells(self, spark) -> DataFrame:
        return spark.read.parquet(self.raster)

    def disaggregated(self, spark, cells: DataFrame) -> DataFrame:
        from gregor_spark.operators.disaggregate import disaggregate_polygon_to_raster

        return disaggregate_polygon_to_raster(self.zones, cells, proxy_column="value")

    def pipeline(self, spark) -> DataFrame:
        from gregor_spark.operators.aggregate import aggregate_raster_to_polygon

        return aggregate_raster_to_polygon(
            self.disaggregated(spark, self.cells(spark)), self.zones, stats="sum",
            value="disaggregated",
        )

    def job(self, spark):
        return self.pipeline(spark).collect()

    def conservation_err(self, rows) -> float:
        got = {r["zone_id"]: r["sum_disaggregated"] for r in rows}
        worst = 0.0
        for z, v in self.tess.values.items():
            s = got.get(z)
            worst = max(worst, float("inf") if s is None else abs(s - v) / v)
        return worst

    def check(self, rows) -> list[str]:
        err = self.conservation_err(rows)
        if err > CONSERVATION_TOL:
            return [f"zone conservation off by {err:.3g} (relative)"]
        return []

    def cell_centers(self) -> tuple[np.ndarray, np.ndarray]:
        cells = raster_cells(self.seed, self.width)
        return cells["x"].to_numpy(), cells["y"].to_numpy()


WORKLOADS = {w.name: w for w in (TilesRead, DisaggZonal)}
