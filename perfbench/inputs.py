"""Seeded benchmark inputs: the zone tessellation, the document corpus and
the proxy raster.

Everything is a pure function of (seed, size).  Spark-written inputs are
cached under ``<checkout>/.perfbench/cache/<kind>-s<seed>-n<size>``; a
``_DONE.json`` marker, written last, makes a half-written entry invisible
to the next run.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

BOUNDS = (-0.25, 9.75, 1.75, 11.75)
JITTER = 0.4  # of the grid spacing; < 0.5 keeps every quad simple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, ".perfbench")
CACHE = os.path.join(ROOT, "cache")
KEEP_ENTRIES = 12  # cached inputs kept per kind (oldest pruned first)


class Tessellation:
    """A g x g grid of quads over BOUNDS whose shared vertices are
    jittered, so the quads tile the bounds exactly (no gaps, no overlap)
    and some of them are non-convex.  Outer-edge vertices move only along
    their edge and the four corners stay fixed.

    Quad (i, j) has zone id ``i * g + j`` and the counter-clockwise ring
    ``V[i, j], V[i+1, j], V[i+1, j+1], V[i, j+1]`` (i along x, j along y).
    ``variant`` draws another tessellation of the same size from the seed.
    """

    def __init__(self, seed: int, g: int, variant: int = 0):
        self.g = g
        self.bounds = BOUNDS
        minx, miny, maxx, maxy = BOUNDS
        self.dx = (maxx - minx) / g
        self.dy = (maxy - miny) / g
        rng = np.random.default_rng([seed % 2**63, g, variant])
        ii, jj = np.meshgrid(np.arange(g + 1), np.arange(g + 1), indexing="ij")
        jx = rng.uniform(-JITTER, JITTER, ii.shape)
        jy = rng.uniform(-JITTER, JITTER, ii.shape)
        jx[0, :] = jx[g, :] = 0.0  # west/east edges: slide along y only
        jy[:, 0] = jy[:, g] = 0.0  # south/north edges: slide along x only
        self.vx = minx + (ii + jx) * self.dx
        self.vy = miny + (jj + jy) * self.dy
        self.vx[g, :] = maxx  # exact outer edges, no rounding drift
        self.vy[:, g] = maxy
        self.values = {
            int(z): float(v)
            for z, v in enumerate(rng.uniform(100.0, 1000.0, g * g))
        }

    def quad(self, zone_id: int) -> tuple[np.ndarray, np.ndarray]:
        i, j = divmod(int(zone_id), self.g)
        idx = ((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1))
        return (
            np.array([self.vx[a, b] for a, b in idx]),
            np.array([self.vy[a, b] for a, b in idx]),
        )

    def zone_set(self):
        from gregor_spark.model.zones import ZoneSet

        ids = np.arange(self.g * self.g, dtype=np.int64)
        rings = [self.quad(z) for z in ids]
        return ZoneSet(ids, [r[0] for r in rings], [r[1] for r in rings], dict(self.values))


# ------------------------------------------------------------------ cache


def _entry(kind: str, seed: int, size: int) -> str:
    return os.path.join(CACHE, f"{kind}-s{seed}-n{size}")


def cached(kind: str, seed: int, size: int, build, verify) -> tuple[str, dict, float]:
    """(data path, metadata, build seconds) for an input, building it with
    ``build(data_path)`` on a miss.  Every call ends with
    ``verify(data_path) -> metadata``, a full scan that must reproduce the
    recorded metadata, so a hit and a miss leave the session equally warm
    and a damaged entry is rebuilt.  Build seconds (0.0 on a hit) are
    reported apart from ``setup_s``."""
    entry = _entry(kind, seed, size)
    data, done = os.path.join(entry, "data"), os.path.join(entry, "_DONE.json")
    if os.path.exists(done):
        with open(done) as f:
            meta = json.load(f)
        if verify(data) == meta:
            os.utime(done)  # recency for pruning
            return data, meta, 0.0
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(entry)
    t0 = time.perf_counter()
    build(data)
    secs = time.perf_counter() - t0
    meta = verify(data)
    with open(done, "w") as f:
        json.dump(meta, f)
    _prune(kind)
    return data, meta, secs


def _prune(kind: str) -> None:
    entries = []
    for name in os.listdir(CACHE):
        done = os.path.join(CACHE, name, "_DONE.json")
        if name.startswith(kind + "-") and os.path.exists(done):
            entries.append((os.path.getmtime(done), name))
    for _, name in sorted(entries)[:-KEEP_ENTRIES]:
        shutil.rmtree(os.path.join(CACHE, name), ignore_errors=True)


# ------------------------------------------------------------------ corpora
#
# Inputs are generated with numpy and written with pyarrow, so building one
# costs no Spark job; only committing the corpus goes through the engine.

SKEW = 0.2  # share of docs whose geo spans fall in the hot corner
HOT_FRAC = 0.05  # hot corner: this share of the bounds along each axis
FILES = 8  # parquet files per generated input, so scans split evenly
_KINDS = np.array(["text", "geo", "media"])
_WORDS = np.array(
    "glacier delta basin ridge plateau estuary moraine fjord tundra steppe "
    "mesa butte arroyo playa terrace scarp outwash drumlin esker kame".split()
)


def documents(seed: int, n_docs: int):
    """Interleaved text/geo/media documents as an Arrow table
    ``(doc_id, spans array<struct<kind, text, media_ref, offset>>)``; geo
    spans carry ``"<lon>,<lat>"`` inside BOUNDS, SKEW of the docs in the
    hot corner."""
    import pyarrow as pa

    rng = np.random.default_rng([seed % 2**63, n_docs, 1])
    n_spans = rng.integers(2, 9, n_docs)
    total = int(n_spans.sum())
    starts = np.concatenate([[0], np.cumsum(n_spans)])
    doc = np.repeat(np.arange(n_docs), n_spans)
    j = np.arange(total) - starts[doc]
    kind = rng.integers(0, 3, total)
    offset = (j * 10 + rng.integers(0, 10, total)).astype(np.int32)
    hot = (rng.random(n_docs) < SKEW)[doc]
    minx, miny, maxx, maxy = BOUNDS
    span_x = np.where(hot, HOT_FRAC * (maxx - minx), maxx - minx)
    span_y = np.where(hot, HOT_FRAC * (maxy - miny), maxy - miny)
    lon = minx + rng.random(total) * span_x
    lat = miny + rng.random(total) * span_y
    word = _WORDS[rng.integers(0, len(_WORDS), total)]
    text = np.full(total, "", dtype=object)
    media = np.full(total, "", dtype=object)
    geo = np.flatnonzero(kind == 1)
    text[geo] = [f"{x:.6f},{y:.6f}" for x, y in zip(lon[geo], lat[geo])]
    txt = kind == 0
    text[txt] = word[txt]
    for k in np.flatnonzero(kind == 2):
        media[k] = f"m://doc{doc[k]:012d}/{offset[k]}"
    spans = pa.StructArray.from_arrays(
        [
            pa.array(_KINDS[kind]),
            pa.array(text, type=pa.string()),
            pa.array(media, type=pa.string()),
            pa.array(offset, type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    return pa.table({
        "doc_id": pa.array([f"doc{i:012d}" for i in range(n_docs)]),
        "spans": pa.ListArray.from_arrays(pa.array(starts, type=pa.int32()), spans),
    })


def write_files(table, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-table.num_rows // FILES)
    for k in range(FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def count_geo_spans(df) -> int:
    """Geo spans counted with plain Spark SQL — independent of
    ``operators.tiles.extract_geo_points``."""
    from pyspark.sql import functions as F

    n = df.select(
        F.sum(F.size(F.filter("spans", lambda s: s["kind"] == "geo")))
    ).first()[0]
    return int(n or 0)


def corpus_table(spark, seed: int, n_docs: int, n_buckets: int):
    """The document corpus, committed once with ``write_table``."""
    from gregor_spark.sources.iceberg_like import read_table, write_table

    def build(path):
        src = path + ".src"
        write_files(documents(seed, n_docs), src)
        write_table(spark.read.parquet(src), path, bucket_by="doc_id", n_buckets=n_buckets)
        shutil.rmtree(src)

    def verify(path):
        return {"docs": n_docs, "geo_spans": count_geo_spans(read_table(spark, path))}

    return cached("corpus", seed, n_docs, build, verify)


def raster_cells(seed: int, width: int):
    """A width x width proxy raster over BOUNDS as a long-form Arrow table
    (row, col, x, y, value): pixel centres, seeded weights in [0.5, 1.5)."""
    import pyarrow as pa

    minx, miny, maxx, maxy = BOUNDS
    k = np.arange(width * width)
    row, col = k // width, k % width
    rng = np.random.default_rng([seed % 2**63, width, 2])
    return pa.table({
        "row": pa.array(row, type=pa.int32()),
        "col": pa.array(col, type=pa.int32()),
        "x": minx + (col + 0.5) * ((maxx - minx) / width),
        "y": maxy - (row + 0.5) * ((maxy - miny) / width),
        "value": 0.5 + rng.random(width * width),
    })


def proxy_raster(spark, seed: int, width: int):
    """The proxy raster of ``raster_cells`` as parquet."""
    from pyspark.sql import functions as F

    def build(path):
        write_files(raster_cells(seed, width), path)

    def verify(path):
        row = spark.read.parquet(path).agg(F.count("*"), F.min("value")).first()
        return {"cells": int(row[0]), "min_value": float(row[1])}

    return cached("raster", seed, width, build, verify)
