"""The benchmark's two workloads over the spatial core.

Each workload generates its inputs from the seed once (``generate``),
writes them to parquet and hands the program only those files.
``setup`` may run several times in one process (the run reports the
median) and builds what the timed path needs but does not measure;
``job`` is one timed call into the library that ends in one
materialising Spark action; ``check`` compares a job's output with a
reference that never goes through the code being measured.  Calls into
the index build and broadcast run in tracer spans, so a traced run can
time them.  ``kernels`` runs the layers' kernels in this process on the
rows the Spark jobs saw, for the traced run's Spark-overhead factors.
"""

from __future__ import annotations

import pickle
import shutil
import time
import zlib

import numpy as np
import pyarrow as pa
from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from simplepolygon_spark.cells import cover_ring
from simplepolygon_spark.decompose import decompose
from simplepolygon_spark.geom import point_in_ring_batch, rings_overlap
from simplepolygon_spark.operators.decompose import decompose_polygons
from simplepolygon_spark.operators.overlap import overlap_join
from simplepolygon_spark.operators.tiling import (
    broadcast_index,
    build_interval_index,
    pip_join,
)

# All inputs live in this lon/lat window.  It is small next to the world
# so that a footprint ring spans tens of level-10 cells, not thousands.
WINDOW = (-40.0, -20.0, 40.0, 20.0)
# Rows per Arrow batch; session.get_spark sets the same
# spark.sql.execution.arrow.maxRecordsPerBatch.
ARROW_BATCH = 10_000


def materialise(df, *aggs):
    """Run one Spark action that computes every output row and returns
    the row count plus ``aggs``, gathered by an Observation.  A noop
    write adds no exchange of its own (``.count()`` would add a
    one-row-per-partition shuffle), so shuffle metrics belong to the
    program alone."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get


def key_digest(*cols, where=None):
    """Order-free digest of a frame's rows (those matching ``where``):
    the sum of CRC-32s of each row's key columns joined by ':'.
    ``str_digest`` computes the same value in Python."""
    crc = F.crc32(F.concat_ws(":", *[F.col(c).cast("string") for c in cols]))
    if where is not None:
        crc = F.when(where, crc)
    return F.coalesce(F.sum(crc), F.lit(0)).alias("digest")


def str_digest(keys) -> int:
    return sum(zlib.crc32(":".join(map(str, k)).encode()) for k in keys)


def brute_force_pip(lon, lat, rings) -> set:
    """{(point, ring number)} for points strictly inside each ring: a
    bounding-box filter, then the ray-cast kernel.  No cover, no index."""
    hits = set()
    for k, ring in enumerate(rings):
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        m = np.flatnonzero(
            (lon >= lo[0]) & (lon <= hi[0]) & (lat >= lo[1]) & (lat <= hi[1])
        )
        if m.size:
            hits.update((int(p), k) for p in m[point_in_ring_batch(lon[m], lat[m], ring)])
    return hits


def ring_arrays(table) -> list:
    """(polygon_id, ring_index, float64 [n, 2]) per row of a rings table."""
    d = table.to_pydict()
    return [
        (p, int(r), np.asarray(c, dtype=np.float64))
        for p, r, c in zip(d["polygon_id"], d["ring_index"], d["coords"])
    ]


class Workload:
    name = ""
    item = ""  # what one unit of throughput is
    # Layers that run in set-up, not on the timed path; a traced run
    # reads their Spark time from its set-up pass.
    SETUP_LAYERS = ()

    def __init__(self, spark, seed: int, work: str, nproc: int, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.tracer = tracer
        self.reference = None

    def path(self, name: str) -> str:
        return f"{self.work}/{name}"

    def rng(self, stream: int):
        return np.random.default_rng([self.seed, stream])

    def write(self, table, name: str):
        shutil.rmtree(self.path(name), ignore_errors=True)
        inputs.write_parquet(table, self.path(name), self.nproc)
        return self.spark.read.parquet(self.path(name))

    def close(self) -> None:
        pass


def timed(fn, items) -> float:
    t = time.perf_counter()
    for x in items:
        fn(x)
    return time.perf_counter() - t


def dimension_kernels(polygons, rings, level: int) -> dict:
    """``decompose`` over the input polygons and ``cover_ring`` over the
    decomposed rings, one core, in this process; with the counts of what
    they read and produced."""
    covers = []
    c = inputs.counts(polygons)
    return {
        "decompose.kernel_s": timed(lambda p: decompose(p[1]), polygons),
        "decompose.polygons": c["polygons"],
        "decompose.vertices": c["input_vertices"],
        "decompose.rings_out": len(rings),
        "cells.cover_s": timed(lambda r: covers.append(cover_ring(r, max_level=level)), rings),
        "cells.rings": len(rings),
        "cells.intervals": sum(len(cv) for cv in covers),
        "cells.full_intervals": int(sum(cv[:, 2].sum() for cv in covers if len(cv))),
    }


def index_stats(idx) -> dict:
    return {
        "tiling.index_intervals": idx.stats.get("n_intervals", 0),
        "tiling.index_csr_entries": idx.stats.get("csr_entries", 0),
        "tiling.index_bytes": len(pickle.dumps(idx, protocol=pickle.HIGHEST_PROTOCOL)),
    }


class PointJoin(Workload):
    """A new, dirty footprint layer becomes a broadcast level-10 index in
    set-up (decompose, cover, collect, CSR build, broadcast); millions of
    points then probe it: scan, Arrow hand-off, lookup and refine, no
    shuffle."""

    name = "point_join"
    item = "points"
    FOOTPRINT_GRID = 6
    DIRTY = 150
    POINTS = 1_000_000
    BOUNDARY_SHARE = 0.4
    LEVEL = 10
    SAMPLE_STRIDE = 32  # rows with image_id % 32 == 0 are checked
    DECOMPOSE_STRIDE = 16  # every 16th polygon is re-decomposed in process
    SETUP_LAYERS = ("decompose", "cells", "tiling")

    def generate(self) -> None:
        footprints = inputs.scaled_footprints(self.FOOTPRINT_GRID, WINDOW)
        # The small dirty polygons give decompose its work in set-up; the
        # probe's points cluster on the footprint edges, and few uniform
        # points land near a dirty polygon, so they add little to the
        # timed jobs.
        self.polygons = footprints + inputs.dirty_polygons(
            self.rng(0), self.DIRTY, WINDOW, 0.15
        )
        rng = self.rng(1)
        nb = int(self.POINTS * self.BOUNDARY_SHARE)
        blon, blat = inputs.boundary_points(rng, footprints, nb, 0.01)
        x0, y0, x1, y1 = WINDOW
        lon = np.concatenate([rng.uniform(x0, x1, self.POINTS - nb), blon])
        lat = np.concatenate([rng.uniform(y0, y1, self.POINTS - nb), blat])
        order = rng.permutation(self.POINTS)
        self.lon, self.lat = lon[order], lat[order]
        keep = slice(0, None, self.SAMPLE_STRIDE)  # image_id is the row number
        self.sample = (np.arange(self.POINTS)[keep], self.lon[keep], self.lat[keep])
        self.tables = {
            "points": inputs.points_table(self.lon, self.lat),
            "dimension": inputs.polygon_table(self.polygons),
        }

    def setup(self) -> None:
        self.close()
        self.points = self.write(self.tables["points"], "points")
        self.dim = self.write(self.tables["dimension"], "dimension")
        self.rings = decompose_polygons(self.dim).persist()
        with self.tracer.span("tiling.build"):
            self.index = build_interval_index(self.rings, cover_level=self.LEVEL)
        with self.tracer.span("tiling.broadcast"):
            self.bc = broadcast_index(self.spark, self.index)

    def close(self) -> None:
        if getattr(self, "bc", None) is not None:
            self.bc.destroy()
            self.rings.unpersist()
            self.bc = None

    def fingerprint(self) -> dict:
        return {
            **inputs.counts(self.polygons),
            "rings": len(self.index.rings),
            "points": self.POINTS,
        }

    def items(self) -> int:
        return self.POINTS

    def job(self):
        s = (F.col("image_id").cast("long") % self.SAMPLE_STRIDE) == 0
        return materialise(
            pip_join(self.points, self.bc),
            F.sum(F.when(s, 1).otherwise(0)).alias("sample_rows"),
            key_digest("image_id", "polygon_id", "ring_index", where=s),
        )

    def digest(self, out) -> str:
        return f"rows={out['rows']},sample_digest={out['digest']}"

    def _reference(self):
        """(decompose matches, sampled pair count, sampled pair digest):
        every DECOMPOSE_STRIDE-th polygon decomposed in process must equal
        the distributed decompose's rings vertex for vertex; the sampled
        points go through a brute force over those rings, not the index."""
        rings = ring_arrays(
            self.rings.select("polygon_id", "ring_index", "coords").toArrow()
        )
        got = {}
        for pid, ridx, c in rings:
            got.setdefault(pid, {})[ridx] = c
        same = True
        for pid, poly in self.polygons[:: self.DECOMPOSE_STRIDE]:
            want = [np.asarray(f["coords"], np.float64) for f in decompose(poly)]
            have = got.get(pid, {})
            same &= sorted(have) == list(range(len(want))) and all(
                np.array_equal(have[k], w) for k, w in enumerate(want)
            )
        ids, lon, lat = self.sample
        hits = brute_force_pip(lon, lat, [r for _, _, r in rings])
        keys = [(ids[p], rings[k][0], rings[k][1]) for p, k in hits]
        return same, len(keys), str_digest(keys)

    def check(self, out) -> bool:
        if self.reference is None:
            self.reference = self._reference()
            self.total_rows = out["rows"]  # later jobs must agree with it
        same, rows, digest = self.reference
        return same and (out["sample_rows"], out["digest"]) == (rows, digest) and (
            out["rows"] == self.total_rows
        )

    def kernels(self, out) -> dict:
        """Lookup and refine over every point, in Arrow-batch-sized
        chunks as ``pip_join`` feeds them."""
        idx = self.index
        lookup_s = refine_s = 0.0
        cand = full = kept = 0
        for s in range(0, self.POINTS, ARROW_BATCH):
            x, y = self.lon[s : s + ARROW_BATCH], self.lat[s : s + ARROW_BATCH]
            t0 = time.perf_counter()
            pt, rid, fl = idx.lookup(x, y)
            t1 = time.perf_counter()
            pt, rid = idx.refine(x, y, pt, rid, fl)
            t2 = time.perf_counter()
            lookup_s += t1 - t0
            refine_s += t2 - t1
            cand += len(fl)
            full += int(fl.sum())
            kept += len(pt)
        refined = cand - full
        return {
            **dimension_kernels(self.polygons, idx.rings, self.LEVEL),
            **index_stats(idx),
            "tiling.lookup_s": lookup_s,
            "tiling.refine_s": refine_s,
            "tiling.candidates": cand,
            "tiling.full_accepted": full,
            "tiling.refined": refined,
            "tiling.refine_hits": kept - full,
            "tiling.refine_hit_rate": (kept - full) / refined if refined else 0.0,
        }


def translate(rings, dx: float, dy: float) -> list:
    return [[[x + dx, y + dy] for x, y in r] for r in rings]


class Overlap(Workload):
    """Two decomposed ring layers, B a jittered copy of A shifted by half
    a grid cell, joined on ring-interior overlap through level-8 covers,
    a bucket shuffle and the exact refine."""

    name = "overlap"
    item = "rings"
    GRID = 12
    LEVEL = 8
    JITTER = 0.05  # standard deviation, as a share of a grid cell
    SETUP_LAYERS = ("decompose",)

    def generate(self) -> None:
        x0, y0, x1, y1 = WINDOW
        cw, ch = (x1 - x0) / self.GRID, (y1 - y0) / self.GRID
        rng = self.rng(0)
        j = self.JITTER
        self.polygons = [
            (pid, translate(r, rng.normal(0, j * cw), rng.normal(0, j * ch)))
            for pid, r in inputs.scaled_footprints(self.GRID, WINDOW)
        ]
        self.table = inputs.polygon_table(self.polygons)
        self.shift = {
            pid: (cw / 2 + rng.normal(0, j * cw), ch / 2 + rng.normal(0, j * ch))
            for pid, _ in self.polygons
        }

    def setup(self) -> None:
        """Layer A is the program's decompose of the polygons; layer B is
        A moved by each polygon's shift."""
        self.src = self.write(self.table, "polygons")
        a_tbl = decompose_polygons(self.src).select(
            "polygon_id", "ring_index", "coords"
        ).toArrow()
        self.a = ring_arrays(a_tbl)
        self.b = [(p, r, c + self.shift[p]) for p, r, c in self.a]
        coords = a_tbl.schema.field("coords")
        b_tbl = a_tbl.set_column(
            a_tbl.schema.get_field_index("coords"),
            coords,
            pa.array([c.tolist() for _, _, c in self.b], coords.type),
        )
        self.a_df = self.write(a_tbl, "a")
        self.b_df = self.write(b_tbl, "b")

    def fingerprint(self) -> dict:
        return {**inputs.counts(self.polygons), "rings": len(self.a) + len(self.b), "points": 0}

    def items(self) -> int:
        return len(self.a) + len(self.b)

    def job(self):
        return materialise(
            overlap_join(self.a_df, self.b_df, cover_level=self.LEVEL),
            key_digest("a_polygon_id", "a_ring_index", "b_polygon_id", "b_ring_index"),
        )

    def digest(self, out) -> str:
        return f"pairs={out['rows']},digest={out['digest']}"

    def _reference(self):
        """Every bbox-overlapping (A, B) ring pair through the exact
        predicate."""
        box = lambda c: (*c.min(axis=0), *c.max(axis=0))  # noqa: E731
        bb = np.array([box(c) for _, _, c in self.b])
        keys = []
        for pa_, ra, ca in self.a:
            ax0, ay0, ax1, ay1 = box(ca)
            near = np.flatnonzero(
                (bb[:, 0] <= ax1) & (bb[:, 2] >= ax0) & (bb[:, 1] <= ay1) & (bb[:, 3] >= ay0)
            )
            for k in near:
                pb, rb, cb = self.b[k]
                if rings_overlap(ca, cb):
                    keys.append((pa_, ra, pb, rb))
        return len(keys), str_digest(keys)

    def check(self, out) -> bool:
        if self.reference is None:
            self.reference = self._reference()
        return (out["rows"], out["digest"]) == self.reference

    def kernels(self, out) -> dict:
        """Decompose over the polygons of layer A, the cover over both
        layers' rings."""
        rings = [c for _, _, c in self.a + self.b]
        m = dimension_kernels(self.polygons, rings, self.LEVEL)
        m["decompose.rings_out"] = len(self.a)
        m["overlap.pairs"] = out["rows"]
        return m


WORKLOADS = {w.name: w for w in (PointJoin, Overlap)}
