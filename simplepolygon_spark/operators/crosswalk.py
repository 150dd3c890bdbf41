"""Raster↔vector crosswalk: tile bounds → covering cells → rings
(SURVEY.md §2.3 J7; BASELINE.json:6).

Each image tile (its bbox) is rasterized to the quadkey cells it
overlaps at ``level``; each cell is an interval [lo, hi] at max level,
pushed through the broadcast interval index's batched overlap query.
The whole batch is processed with numpy — tile→cell expansion via
repeat/arange arithmetic, overlap via one CSR gather + unique — no
Python loop over tiles or cells.  Output links every tile to its cells
and the rings whose cover those cells overlap; cells overlapping no
ring emit one NULL-ring row so the raster side stays complete.

Also home of what the three relational spatial joins (crosswalk,
PIP, overlap) share: ``covers_df`` and ``interval_join``, their one
candidate-generation primitive.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells import MAX_LEVEL, RingError, cell_range_at_max, cover_rings, spread_bits
from ..geom import ring_mats


def _bbox_cells(lon0, lat0, lon1, lat1, level: int):
    """All Morton cells at ``level`` overlapping one bbox (test oracle +
    small-scale helper)."""
    n = 1 << level
    ix0 = int(np.clip(np.floor((lon0 + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((lon1 + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((lat0 + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat1 + 90.0) / 180.0 * n), 0, n - 1))
    ix = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx = np.repeat(ix, len(iy))
    gy = np.tile(iy, len(ix))
    return (spread_bits(gx) | (spread_bits(gy) << np.uint64(1))).astype(np.int64)


def _bbox_cells_batch(b0, b1, b2, b3, level: int, ids=None):
    """(tile_idx, cell_id) for every cell of every tile bbox — vectorized
    variable-length expansion with repeat/arange arithmetic.

    Inverted or non-finite bboxes are rejected up front (mirroring
    tile_cells_df's SQL-side guard): a doubly-inverted bbox would pass
    the repeat arithmetic and silently emit garbage cells, a singly-
    inverted one dies deep in numpy with no tile attribution."""
    bad = (
        ~(np.isfinite(b0) & np.isfinite(b1) & np.isfinite(b2) & np.isfinite(b3))
        | (b0 > b2)
        | (b1 > b3)
    )
    if bad.any():
        k = int(np.nonzero(bad)[0][0])
        who = f"tile {ids[k]!r}" if ids is not None else f"batch row {k}"
        raise ValueError(
            f"inverted bbox or non-finite bounds at {who}: "
            f"lon [{b0[k]}, {b2[k]}], lat [{b1[k]}, {b3[k]}]"
        )
    n = np.int64(1 << level)
    ix0 = np.clip(np.floor((b0 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ix1 = np.clip(np.floor((b2 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy0 = np.clip(np.floor((b1 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    iy1 = np.clip(np.floor((b3 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    per_tile = nx * ny
    total = int(per_tile.sum())
    if total == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    tile_idx = np.repeat(np.arange(len(b0), dtype=np.int64), per_tile)
    # flat position within each tile's nx×ny block (x-major like
    # _bbox_cells: gx varies slowest)
    flat = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(per_tile) - per_tile, per_tile
    )
    ny_rep = np.repeat(ny, per_tile)
    gx = np.repeat(ix0, per_tile) + flat // ny_rep
    gy = np.repeat(iy0, per_tile) + flat % ny_rep
    cells = (spread_bits(gx) | (spread_bits(gy) << np.uint64(1))).astype(np.int64)
    return tile_idx, cells


def crosswalk(
    images: DataFrame,
    index_bc,
    level: int = 12,
    id_col: str = "image_id",
) -> DataFrame:
    """images(id, lon_min, lat_min, lon_max, lat_max) →
    (id, cell_id, polygon_id nullable, ring_index nullable)."""
    schema = f"{id_col} string, cell_id long, polygon_id string, ring_index int"

    def run(batches):
        idx = index_bc.value
        for batch in batches:
            ids = np.asarray(batch.column(id_col).to_pylist(), dtype=object)
            b0 = batch.column("lon_min").to_numpy(zero_copy_only=False)
            b1 = batch.column("lat_min").to_numpy(zero_copy_only=False)
            b2 = batch.column("lon_max").to_numpy(zero_copy_only=False)
            b3 = batch.column("lat_max").to_numpy(zero_copy_only=False)
            if len(ids) == 0:
                continue
            tile_idx, cells = _bbox_cells_batch(b0, b1, b2, b3, level, ids=ids)
            lo, hi = cell_range_at_max(cells, level, idx.max_level)
            qi, rid = idx.overlap_batch(lo, hi)
            # hit rows
            hit_tiles = tile_idx[qi]
            hit_cells = cells[qi]
            # miss rows: (tile, cell) pairs with no overlapping ring
            miss = np.ones(len(cells), dtype=bool)
            miss[qi] = False
            mi = np.nonzero(miss)[0]
            out_tile = np.concatenate([hit_tiles, tile_idx[mi]])
            out_cell = np.concatenate([hit_cells, cells[mi]])
            pids = np.concatenate(
                [idx.ring_pid[rid], np.full(len(mi), None, dtype=object)]
            )
            ridx = pa.concat_arrays(
                [
                    pa.array(idx.ring_ridx[rid], pa.int32()),
                    pa.nulls(len(mi), pa.int32()),
                ]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[out_tile], pa.string()),
                    pa.array(out_cell, pa.int64()),
                    pa.array(pids, pa.string()),
                    ridx,
                ],
                names=[id_col, "cell_id", "polygon_id", "ring_index"],
            )

    return images.select(
        id_col, "lon_min", "lat_min", "lon_max", "lat_max"
    ).mapInArrow(run, schema)


# ---------------------------------------------------------------------------
# Relational spatial joins: one interval join on Morton buckets
# ---------------------------------------------------------------------------

# bucket level of the relational PIP and crosswalk joins (overlap_join
# derives its own from the cover spans)
BUCKET_LEVEL = 6


def bucket_melt(df: DataFrame, side: str, bucket_level: int) -> DataFrame:
    """One row per level-``bucket_level`` Morton bucket that the
    max-level range [``{side}_lo``, ``{side}_hi``] spans, in column
    ``{side}_bucket``."""
    shift = 2 * (MAX_LEVEL - bucket_level)
    return df.withColumn(
        f"{side}_bucket",
        F.explode(
            F.sequence(
                F.shiftright(f"{side}_lo", shift), F.shiftright(f"{side}_hi", shift)
            )
        ),
    )


def interval_join(
    a: DataFrame, b: DataFrame, bucket_level: int, how: str = "inner"
) -> DataFrame:
    """Every pair of overlapping max-level Morton ranges, ``a``'s
    [a_lo, a_hi] against ``b``'s [b_lo, b_hi] — the candidate step of
    every relational spatial join here (a ring cover is a set of ranges,
    a point is [cell, cell], a level-L tile cell is
    [cell << 2(MAX_LEVEL-L), ((cell+1) << 2(MAX_LEVEL-L)) - 1]).

    Both sides melt onto the buckets their range spans and equi-join on
    the bucket with the range overlap as residual.  An overlapping pair
    meets in every bucket both ranges span, so it is kept only in the
    bucket of ``greatest(a_lo, b_lo)`` — replicate, then report once
    (EDBT'15 overlapping interval join): each pair comes out exactly
    once, at any bucket level.  The output has every column of both
    sides.  ``how="left"`` keeps ``a``'s unmatched rows (NULL ``b``
    columns) correct only when each ``a`` range lies in one bucket."""
    shift = 2 * (MAX_LEVEL - bucket_level)
    ma = bucket_melt(a, "a", bucket_level)
    mb = bucket_melt(b, "b", bucket_level)
    a_lo, a_hi, b_lo, b_hi = (F.col(c) for c in ("a_lo", "a_hi", "b_lo", "b_hi"))
    on = (
        (F.col("a_bucket") == F.col("b_bucket"))
        & (a_lo <= b_hi)
        & (b_lo <= a_hi)
        & (F.shiftright(F.greatest(a_lo, b_lo), shift) == F.col("a_bucket"))
    )
    return ma.join(mb, on, how).drop("a_bucket", "b_bucket")


def covers_df(rings_out: DataFrame, cover_level: int = 8) -> DataFrame:
    """(polygon_id, ring_index, lo, hi, full) — the ring cover as a
    DataFrame, computed on the executors and NEVER collected: one
    ``cells.cover_rings`` call per Arrow batch, the rings read straight
    from the Arrow coords buffers (``geom.ring_mats``).  A ring with no
    vertex or a non-finite coordinate fails the job with a
    ``ValueError`` naming its polygon_id and ring_index."""

    def run(batches):
        for batch in batches:
            pts, starts = ring_mats(batch.column("coords"))
            try:
                row, lo, hi, full = cover_rings(pts, starts, cover_level)
            except RingError as e:
                pid, ridx = (batch.column(c)[e.row].as_py() for c in ("polygon_id", "ring_index"))
                raise e.naming(pid, ridx) from None
            if not len(row):
                continue
            row = pa.array(row)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("polygon_id").take(row),
                    batch.column("ring_index").take(row).cast(pa.int32()),
                    pa.array(lo),
                    pa.array(hi),
                    pa.array(full.astype(np.int32)),
                ],
                names=["polygon_id", "ring_index", "lo", "hi", "full"],
            )

    schema = "polygon_id string, ring_index int, lo long, hi long, full int"
    return rings_out.select("polygon_id", "ring_index", "coords").mapInArrow(run, schema)


def tile_cells_df(
    images: DataFrame,
    level: int,
    id_col: str = "image_id",
    max_cells_per_tile: int = 65536,
    antimeridian: str = "error",
) -> DataFrame:
    """(id, cell_id): every level-``level`` Morton cell overlapping each
    tile bbox — pure JVM column expressions (sequence + explode + the
    shared Morton spread SQL), no Python in the expansion.

    ``max_cells_per_tile`` guards against the single-row skew bomb: one
    continent-sized (or corrupt) bbox at level 12 would otherwise
    explode to ~16.7M rows.  Oversized tiles FAIL LOUDLY (raise_error
    carrying the tile id) rather than being silently dropped — callers
    with legitimately huge tiles pre-coarsen the level or pre-split.

    ``antimeridian``:
      'error' (default): lon_min > lon_max fails loudly — a negative
        axis extent would make nx*ny non-positive (sailing past the
        product cap) while ``sequence(start, stop)`` happily generates
        the DESCENDING full-span range, re-creating the very explosion
        the cap exists to prevent.
      'split': lon_min > lon_max is interpreted as a dateline-crossing
        tile; its x-range becomes the union [ix(lon_min), n-1] ∪
        [0, ix(lon_max)] (one conditional concat of two sequences —
        still pure JVM), with the cell cap applied to the SUMMED width.
    A latitude inversion (lat_min > lat_max) has no wrap interpretation
    and always fails loudly."""
    from ..functions.cells_sql import _spread_sql

    if antimeridian not in ("error", "split"):
        raise ValueError(f"antimeridian={antimeridian!r}: use 'error' or 'split'")
    n = 1 << level

    def axis(coord, off, extent):
        return (
            f"greatest(0L, least({n - 1}L, "
            f"CAST(floor((({coord}) + {off}) / {extent} * {n}) AS BIGINT)))"
        )

    ix0, ix1 = axis("lon_min", 180.0, 360.0), axis("lon_max", 180.0, 360.0)
    wraps = "(lon_min > lon_max)"
    if antimeridian == "split":
        nx = (
            f"(CASE WHEN {wraps} THEN ({n - 1} - {ix0} + 1) + ({ix1} + 1) "
            f"ELSE {ix1} - {ix0} + 1 END)"
        )
        lon_bad = "FALSE"
        ixs = (
            f"CASE WHEN {wraps} THEN concat(sequence({ix0}, {n - 1}L), "
            f"sequence(0L, {ix1})) ELSE sequence({ix0}, {ix1}) END"
        )
    else:
        nx = f"({ix1} - {ix0} + 1)"
        lon_bad = f"({nx} <= 0)"
        ixs = f"sequence({ix0}, {ix1})"
    ny = f"({axis('lat_max', 90.0, 180.0)} - {axis('lat_min', 90.0, 180.0)} + 1)"
    guard = (
        f"CASE WHEN {lon_bad} OR {ny} <= 0 THEN "
        f"raise_error(concat('tile ', {id_col}, ' has an inverted bbox "
        f"(lon_min > lon_max or lat_min > lat_max)')) "
        f"WHEN {nx} * {ny} > {max_cells_per_tile} THEN "
        f"raise_error(concat('tile ', {id_col}, ' expands to ', "
        f"CAST({nx} * {ny} AS STRING), ' cells at level {level} "
        f"(cap {max_cells_per_tile})')) ELSE {id_col} END"
    )

    return (
        images.select(
            F.expr(guard).alias(id_col),
            F.expr(ixs).alias("ixs"),
            F.expr(f"sequence({axis('lat_min', 90.0, 180.0)}, {axis('lat_max', 90.0, 180.0)})").alias("iys"),
        )
        .select(id_col, F.explode("ixs").alias("ix"), F.col("iys"))
        .select(id_col, "ix", F.explode("iys").alias("iy"))
        .select(
            id_col,
            F.expr(f"({_spread_sql('ix')} | ({_spread_sql('iy')} << 1))").alias("cell_id"),
        )
    )


def crosswalk_relational(
    images: DataFrame,
    rings_out: DataFrame,
    level: int = 12,
    cover_level: int = 8,
    id_col: str = "image_id",
) -> DataFrame:
    """Crosswalk WITHOUT a broadcast index, for when the ring layer
    outgrows executor memory: each level-``level`` tile cell enters
    ``interval_join`` as its max-level range against the ring cover
    ranges, as a left join so a cell overlapping no ring keeps its
    NULL-ring row.  The bucket level is ``min(BUCKET_LEVEL, level)``,
    which keeps each cell in one bucket — the condition the left join's
    NULL rows need.  ``distinct`` folds a ring's several intervals
    meeting one cell.  The shuffle moves (id, cell) pairs and
    (bucket, interval) rows — never geometry; no cartesian anywhere."""
    shift = 2 * (MAX_LEVEL - level)
    cells = tile_cells_df(images, level, id_col).select(
        id_col,
        "cell_id",
        F.shiftleft("cell_id", shift).alias("a_lo"),
        (F.shiftleft(F.col("cell_id") + 1, shift) - 1).alias("a_hi"),
    )
    cov = covers_df(rings_out, cover_level).select(
        F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi"), "polygon_id", "ring_index"
    )
    joined = interval_join(cells, cov, min(BUCKET_LEVEL, level), how="left")
    return joined.select(id_col, "cell_id", "polygon_id", "ring_index").distinct()
