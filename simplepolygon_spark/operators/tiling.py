"""Cell-cover tiling: compressed cell→ring interval index + PIP join.

The scale architecture (SURVEY.md §2.3 J5, §3.4; Raster-Intervals idea
from PAPERS.md):

1. ``build_interval_index`` — the *dimension* side.  Decomposed simple
   rings (rings_out) are covered with FULL/PARTIAL quadkey cells (one
   ``cells.cover_rings`` kernel call per Arrow batch of rings, on the
   executors for a DataFrame and once over all rings for a list),
   compressed into sorted Morton [lo, hi] ranges,
   flattened into an elementary-segment stabbing structure (CSR), and
   **broadcast** to every executor.  Size: O(cells of all rings) — the
   polygon layer is small next to the 10^12-row image table by design.

2. ``pip_join`` — the *fact* side.  Images stream through ``mapInArrow``
   with **no shuffle**: each Arrow batch computes its points' cells
   (numpy bit-math, identical to the JVM/SQL cell expression), stabs
   the broadcast index (two searchsorted + CSR gather, fully
   vectorized), accepts FULL-cell hits outright, and refines only
   PARTIAL-cell candidates with the exact ray-cast PIP kernel.

3. ``pip_join_relational`` — the no-broadcast fallback: points enter
   ``crosswalk.interval_join`` as [cell, cell] ranges against the covers.

At 1000 executors this plan reads the image table once, moves no image
bytes across the network, and does O(log m) work per image — the only
driver-side step is building/broadcasting the index from the (small)
ring layer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession

from ..cells import MAX_LEVEL, RingError, cell_of_point, cover_rings
from ..geom import point_in_ring_batch, ring_mats


@dataclass
class IntervalIndex:
    """Broadcastable compressed cell→ring interval index."""

    ring_keys: list  # (polygon_id, ring_index)
    rings: list  # list of float64 [N,2] coordinate arrays
    bp: np.ndarray  # elementary-segment breakpoints (sorted int64)
    seg_ptr: np.ndarray  # CSR pointers into seg_ids per elementary segment
    seg_ids: np.ndarray  # interval ids active in each elementary segment
    iv_ring: np.ndarray  # interval id -> ring id
    iv_full: np.ndarray  # interval id -> FULL flag (bool)
    max_level: int = MAX_LEVEL
    stats: dict = field(default_factory=dict)
    centroids: np.ndarray = field(default_factory=lambda: np.zeros((0, 2)))

    def __post_init__(self):
        # vectorized ring-key lookups for the hot join path
        self.ring_pid = np.array([k[0] for k in self.ring_keys], dtype=object)
        self.ring_ridx = np.array([k[1] for k in self.ring_keys], dtype=np.int32)

    def lookup(self, lon: np.ndarray, lat: np.ndarray):
        """Vectorized stabbing: points → candidate (point_idx, ring_id,
        full) triples. A point may hit several rings."""
        if len(self.bp) == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z, np.zeros(0, dtype=bool)
        cells = cell_of_point(lon, lat, self.max_level).astype(np.int64)
        pos = np.searchsorted(self.bp, cells, side="right") - 1
        valid = pos >= 0
        pos = np.where(valid, pos, 0)
        start = self.seg_ptr[pos]
        stop = self.seg_ptr[pos + 1]
        cnt = np.where(valid, stop - start, 0)
        pt_idx = np.repeat(np.arange(len(cells), dtype=np.int64), cnt)
        # gather the CSR slices: offsets within each slice
        total = int(cnt.sum())
        if total == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z, np.zeros(0, dtype=bool)
        offs = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(cnt) - cnt, cnt
        )
        iv = self.seg_ids[np.repeat(start, cnt) + offs]
        return pt_idx, self.iv_ring[iv], self.iv_full[iv]

    def overlap_batch(self, qlo: np.ndarray, qhi: np.ndarray):
        """Fully vectorized interval-overlap for many query ranges at
        once: one CSR gather over all queries (np.repeat offsets), then
        a single np.unique dedup of (query, ring) pairs — no Python loop
        over queries."""
        if len(self.bp) == 0 or len(qlo) == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z
        qlo = np.asarray(qlo, np.int64)
        qhi = np.asarray(qhi, np.int64)
        k0 = np.maximum(np.searchsorted(self.bp, qlo, side="right") - 1, 0)
        k1 = np.searchsorted(self.bp, qhi, side="right") - 1
        valid = k1 >= 0
        a = self.seg_ptr[np.where(valid, k0, 0)]
        b = self.seg_ptr[np.where(valid, k1, -1) + 1]
        cnt = np.where(valid, np.maximum(b - a, 0), 0)
        total = int(cnt.sum())
        if total == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z
        q_rep = np.repeat(np.arange(len(qlo), dtype=np.int64), cnt)
        offs = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        iv = self.seg_ids[np.repeat(a, cnt) + offs]
        rid = self.iv_ring[iv]
        # dedup (query, ring) — intervals spanning several segments and
        # several intervals of one ring both collapse here
        key = q_rep * np.int64(len(self.rings)) + rid
        uniq = np.unique(key)
        return uniq // len(self.rings), uniq % len(self.rings)

    def refine(self, lon, lat, pt_idx, ring_id, full):
        """Exact-PIP refine of PARTIAL candidates; FULL pass through.
        Returns filtered (pt_idx, ring_id)."""
        keep = np.array(full, dtype=bool, copy=True)
        part = ~keep
        if part.any():
            pi, ri = pt_idx[part], ring_id[part]
            ok = np.zeros(len(pi), dtype=bool)
            for r in np.unique(ri):
                m = ri == r
                ok[m] = point_in_ring_batch(lon[pi[m]], lat[pi[m]], self.rings[r])
            keep[part] = ok
        return pt_idx[keep], ring_id[keep]


def build_interval_index(
    rings_out: DataFrame | list, cover_level: int = 11
) -> IntervalIndex:
    """Build the broadcastable index from a rings_out DataFrame (or an
    already-collected list of Rows/dicts with polygon_id, ring_index,
    coords).

    Only rings with positive *net* winding participate by default
    semantics of "the cleaned polygon interior": callers filter upstream
    if they want a different layer (we index whatever is passed in).
    """
    if isinstance(rings_out, DataFrame):
        # TWO actions read the ring layer (the distributed cover pass
        # and the coordinate collect) — persist for their duration so an
        # expensive upstream (e.g. a full decompose_polygons) is not
        # executed twice for callers who did not think to cache
        sl = rings_out.storageLevel
        caller_cached = sl.useMemory or sl.useDisk
        if not caller_cached:
            rings_out = rings_out.persist()
        try:
            # compute covers on the executors (one Arrow pass over the
            # ring layer) — the driver only collects compressed intervals
            covers = _covers_distributed(rings_out, cover_level)
            tbl = rings_out.select("polygon_id", "ring_index", "coords").toArrow()
        finally:
            if not caller_cached:
                rings_out.unpersist()
        pts, starts = ring_mats(tbl.column("coords").combine_chunks())
        rings = [pts[starts[i] : starts[i + 1]] for i in range(tbl.num_rows)]
        ring_keys = list(
            zip(tbl.column("polygon_id").to_pylist(), tbl.column("ring_index").to_pylist())
        )
        # ring id = row of the collected layer: one hash lookup of every
        # cover's (polygon_id, ring_index) in the layer's keys
        rid = pc.index_in(_ring_key(covers), value_set=_ring_key(tbl))
        rid = rid.to_numpy().astype(np.int64)
        lo, hi, full = (covers.column(c).to_numpy() for c in ("lo", "hi", "full"))
        order = np.lexsort((lo, rid))
        rid, lo, hi, full = rid[order], lo[order], hi[order], full[order]
    else:
        rows = list(rings_out)
        ring_keys = [(row["polygon_id"], int(row["ring_index"])) for row in rows]
        rings = [_ring_array(row["coords"]) for row in rows]
        starts = np.zeros(len(rings) + 1, dtype=np.int64)
        np.cumsum([len(r) for r in rings], out=starts[1:])
        pts = np.concatenate(rings) if rings else np.zeros((0, 2))
        try:
            rid, lo, hi, full = cover_rings(pts, starts, cover_level)
        except RingError as e:
            raise e.naming(*ring_keys[e.row]) from None

    centroids = (
        np.array([r[:-1].mean(axis=0) for r in rings])
        if rings
        else np.zeros((0, 2))
    )
    if not len(lo):
        return IntervalIndex(
            ring_keys,
            rings,
            np.zeros(0, np.int64),
            np.zeros(1, np.int64),
            np.zeros(0, np.int64),
            np.zeros(0, np.int64),
            np.zeros(0, bool),
            centroids=centroids,
        )

    # elementary segments between all endpoints; sweep with +1/-1 events
    events = np.concatenate([lo, hi + 1])
    bp = np.unique(events)
    n_iv = len(lo)
    # For each elementary segment [bp[k], bp[k+1]-1] find active intervals.
    # CSR built by bucketing each interval onto the segments it spans.
    seg_of_lo = np.searchsorted(bp, lo, side="right") - 1
    seg_of_hi = np.searchsorted(bp, hi, side="right") - 1
    span = seg_of_hi - seg_of_lo + 1
    tot = int(span.sum())
    iv_rep = np.repeat(np.arange(n_iv, dtype=np.int64), span)
    seg_rep = np.arange(tot, dtype=np.int64) - np.repeat(np.cumsum(span) - span, span) + np.repeat(seg_of_lo, span)
    order = np.argsort(seg_rep, kind="stable")
    seg_sorted = seg_rep[order]
    ids_sorted = iv_rep[order]
    counts = np.bincount(seg_sorted, minlength=len(bp))
    seg_ptr = np.zeros(len(bp) + 1, dtype=np.int64)
    np.cumsum(counts, out=seg_ptr[1:])

    idx = IntervalIndex(
        ring_keys,
        rings,
        bp,
        seg_ptr,
        ids_sorted,
        rid,
        full.astype(bool),
        stats={
            "n_rings": len(rings),
            "n_intervals": n_iv,
            "n_full": int(full.sum()),
            "n_segments": len(bp),
            "csr_entries": tot,
        },
        centroids=centroids,
    )
    return idx


def _ring_key(t: pa.Table) -> pa.Array:
    """One string per row: polygon_id and ring_index, unit-separated."""
    ridx = pc.cast(t.column("ring_index"), pa.string())
    return pc.binary_join_element_wise(t.column("polygon_id"), ridx, "\x1f").combine_chunks()


def _ring_array(coords) -> np.ndarray:
    r = np.asarray(coords, dtype=np.float64)
    return r.reshape(0, 2) if r.size == 0 else r


def _covers_distributed(rings_out: DataFrame, cover_level: int) -> pa.Table:
    """The (polygon_id, ring_index, lo, hi, full) covers of the ring
    layer, computed on the executors by the single cover kernel
    (crosswalk.covers_df, so the broadcast-index build and the
    relational fallbacks can never drift apart), collected as Arrow."""
    from .crosswalk import covers_df

    df = rings_out.repartition(
        max(rings_out.sparkSession.sparkContext.defaultParallelism, 8)
    )
    return covers_df(df, cover_level).toArrow()


def broadcast_index(spark: SparkSession, index: IntervalIndex):
    return spark.sparkContext.broadcast(index)


def pip_join(
    points: DataFrame,
    index_bc,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """points(id, lon, lat, ...) ⨝ broadcast ring index → tile assignments.

    Output: (id_col, lon, lat, polygon_id, ring_index) — one row per
    (point, containing simple ring). Strict interior semantics
    (boundary points excluded), matching the reference's
    booleanPointInPolygon(ignoreBoundary=true) parent test.
    """
    out_schema = pa.schema(
        [
            pa.field(id_col, pa.string()),
            pa.field("lon", pa.float64()),
            pa.field("lat", pa.float64()),
            pa.field("polygon_id", pa.string()),
            pa.field("ring_index", pa.int32()),
        ]
    )

    def run(batches):
        idx: IntervalIndex = index_bc.value
        for batch in batches:
            tbl = batch
            ids = tbl.column(id_col).to_numpy(zero_copy_only=False)
            lon = tbl.column(lon_col).to_numpy(zero_copy_only=False).astype(np.float64)
            lat = tbl.column(lat_col).to_numpy(zero_copy_only=False).astype(np.float64)
            # invalid coordinates (NaN/inf or outside the lon/lat world
            # window) must never match: the cell computation CLIPS onto
            # boundary cells, so a lon=190 point would otherwise land in
            # the easternmost column and be FULL-cell-accepted with no
            # geometry check, while the same point in a PARTIAL cell is
            # rejected — an accept/reject inconsistency on bad data
            ok = (
                np.isfinite(lon) & np.isfinite(lat)
                & (lon >= -180.0) & (lon <= 180.0)
                & (lat >= -90.0) & (lat <= 90.0)
            )
            if not ok.all():
                ids, lon, lat = ids[ok], lon[ok], lat[ok]
            pt_idx, ring_id, full = idx.lookup(lon, lat)
            pt_idx, ring_id = idx.refine(lon, lat, pt_idx, ring_id, full)
            if len(pt_idx) == 0:
                continue
            pids = idx.ring_pid[ring_id]
            ridxs = idx.ring_ridx[ring_id]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[pt_idx], pa.string()),
                    pa.array(lon[pt_idx]),
                    pa.array(lat[pt_idx]),
                    pa.array(pids, pa.string()),
                    pa.array(ridxs, pa.int32()),
                ],
                schema=out_schema,
            )  # all columns assembled by fancy indexing — no per-row Python

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    spark_schema = StructType(
        [
            StructField(id_col, StringType()),
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("polygon_id", StringType()),
            StructField("ring_index", IntegerType()),
        ]
    )
    return points.select(id_col, lon_col, lat_col).mapInArrow(run, spark_schema)


# ---------------------------------------------------------------------------
# Relational fallback: PIP join without a broadcast index
# ---------------------------------------------------------------------------


def pip_join_relational(
    points: DataFrame,
    rings_out: DataFrame,
    cover_level: int = 10,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """PIP join for ring layers too large to broadcast as an
    IntervalIndex — ``crosswalk.interval_join`` of each point's
    max-level cell, the range [cell, cell], against the distributed
    FULL/PARTIAL cover ranges (covers_df, never collected).  A ring's
    merged intervals are disjoint, so a point matches ≤ 1 interval per
    ring — no dedup needed, no cartesian.
      FULL intervals accept outright (Raster-Intervals shortcut);
      PARTIAL candidates join the ring geometry by (polygon_id,
          ring_index) — only candidate rows ever carry coordinates —
          and refine with the vectorized strict ray-cast, grouped per
          ring inside each Arrow batch.

    Output contract identical to ``pip_join``."""
    from pyspark.sql import functions as F

    from ..functions.cells_sql import cell_sql_expr
    from ..geom import ring_mats
    from .crosswalk import BUCKET_LEVEL, covers_df, interval_join

    # same invalid-coordinate rejection as pip_join's kernel: the cell
    # expression clips, so out-of-window/NaN points would otherwise be
    # FULL-cell-accepted on boundary cells (pushed-down filter — prunes
    # before the cell math)
    valid = (
        ~F.isnan(F.col(lon_col)) & ~F.isnan(F.col(lat_col))
        & (F.col(lon_col) >= -180.0) & (F.col(lon_col) <= 180.0)
        & (F.col(lat_col) >= -90.0) & (F.col(lat_col) <= 90.0)
    )
    pts = points.where(valid).select(
        id_col,
        lon_col,
        lat_col,
        F.expr(cell_sql_expr(lon_col, lat_col, MAX_LEVEL)).alias("a_lo"),
    ).withColumn("a_hi", F.col("a_lo"))
    cov = covers_df(rings_out, cover_level).select(
        F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi"), "full", "polygon_id", "ring_index"
    )
    cand = interval_join(pts, cov, BUCKET_LEVEL).select(
        id_col, lon_col, lat_col, "full", "polygon_id", "ring_index"
    )

    # attach ring geometry to PARTIAL candidates only, in the SAME plan
    # branch (a split into accepted/partial DataFrames would compute the
    # candidate subtree twice — Spark only reuses exchanges it can see
    # are identical, and the two filters break that)
    rg = rings_out.select(
        F.col("polygon_id").alias("r_pid"),
        F.col("ring_index").alias("r_ridx"),
        "coords",
    )
    # output columns are ALWAYS named lon/lat, matching pip_join's
    # hardcoded output schema — the two paths are drop-in replacements
    # for each other, so custom lon_col/lat_col input names must not
    # leak into the output contract
    withco = cand.join(
        rg,
        (cand.polygon_id == rg.r_pid)
        & (cand.ring_index == rg.r_ridx)
        & (cand.full == 0),
        "left",
    ).select(
        F.col(id_col).cast("string").alias(id_col),
        F.col(lon_col).cast("double").alias("lon"),
        F.col(lat_col).cast("double").alias("lat"),
        "full",
        "polygon_id",
        "ring_index",
        "coords",
    )
    cols = [id_col, "lon", "lat", "polygon_id", "ring_index"]
    out_schema = (
        f"{id_col} string, lon double, lat double, "
        "polygon_id string, ring_index int"
    )

    def refine(batches):
        for batch in batches:
            keep = batch.column("full").to_numpy(zero_copy_only=False) == 1
            part = np.flatnonzero(~keep)
            if len(part):
                sub = batch.take(pa.array(part))
                pts, starts = ring_mats(sub.column("coords"))
                lon = sub.column("lon").to_numpy(zero_copy_only=False)
                lat = sub.column("lat").to_numpy(zero_copy_only=False)
                # group the candidates per ring: one ray-cast call each
                pid = sub.column("polygon_id").to_numpy(zero_copy_only=False)
                ridx = sub.column("ring_index").to_numpy(zero_copy_only=False)
                keys = [("polygon_id", "ascending"), ("ring_index", "ascending")]
                order = np.asarray(pc.sort_indices(sub, sort_keys=keys), np.int64)
                p, r = pid[order], ridx[order]
                cut = np.flatnonzero((p[1:] != p[:-1]) | (r[1:] != r[:-1])) + 1
                for rows in np.split(order, cut):
                    ring = pts[starts[rows[0]] : starts[rows[0] + 1]]
                    keep[part[rows]] = point_in_ring_batch(lon[rows], lat[rows], ring)
            if keep.any():
                yield batch.filter(pa.array(keep)).select(cols)

    return withco.mapInArrow(refine, out_schema)
