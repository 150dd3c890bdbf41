"""From-scratch 64-bit quadkey (Morton) cell index — numpy side.

H3/S2-style hierarchical cells demanded by the north rule
(BASELINE.json:6,14), built from public bit-interleaving math (no h3/s2
libraries exist in the sandbox; SURVEY.md §7.0):

* A cell at level L is the Morton interleave of the L-bit x/y indices of
  a point on the [-180,180]×[-90,90] lon/lat window.
* Hierarchy is prefix arithmetic: ``parent = cell >> 2Δ``; the children
  of a cell occupy the contiguous Morton range
  ``[cell << 2Δ, ((cell+1) << 2Δ) - 1]`` — which is what makes the
  compressed cell→ring *interval* index (Raster-Intervals style,
  PAPERS.md) a set of [lo, hi] ranges at max level.

The same encoding exists as Spark column expressions in
``simplepolygon_spark.functions.cells_sql`` (JVM-side, codegen-friendly)
and as ANSI SQL for the DuckDB oracle — all three are tested equal.

Ring covers come from one kernel, ``cover_rings``: a batched,
level-synchronous FULL/PARTIAL descent over the (ring, cell) frontier of
a whole Arrow batch of rings, with numpy passes per level instead of
Python work per cell.  ``cover_ring`` is its one-ring form.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 16  # 65536 × 65536 grid; 32 bits of Morton code

_MASKS = (
    0x0000FFFF0000FFFF,
    0x00FF00FF00FF00FF,
    0x0F0F0F0F0F0F0F0F,
    0x3333333333333333,
    0x5555555555555555,
)


def spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 32 bits of v (Morton spread)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(_MASKS[0])
    v = (v | (v << np.uint64(8))) & np.uint64(_MASKS[1])
    v = (v | (v << np.uint64(4))) & np.uint64(_MASKS[2])
    v = (v | (v << np.uint64(2))) & np.uint64(_MASKS[3])
    v = (v | (v << np.uint64(1))) & np.uint64(_MASKS[4])
    return v


def _interleave(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Morton cell ids of integer grid indices."""
    return (spread_bits(ix) | (spread_bits(iy) << np.uint64(1))).astype(np.int64)


def xy_indices(lon: np.ndarray, lat: np.ndarray, level: int = MAX_LEVEL):
    """Integer grid indices of lon/lat at ``level`` (clipped to the window)."""
    n = np.int64(1) << np.int64(level)
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def cell_of_point(lon, lat, level: int = MAX_LEVEL) -> np.ndarray:
    """Morton cell id(s) of point(s) at ``level`` (vectorized)."""
    ix, iy = xy_indices(np.atleast_1d(lon), np.atleast_1d(lat), level)
    return _interleave(ix, iy)


def parent_cell(cell: np.ndarray, from_level: int, to_level: int) -> np.ndarray:
    """Ancestor of ``cell`` (at from_level) at coarser ``to_level``."""
    return np.asarray(cell, np.int64) >> np.int64(2 * (from_level - to_level))


def cell_range_at_max(cell: np.ndarray, level: int, max_level: int = MAX_LEVEL):
    """[lo, hi] Morton range at ``max_level`` covered by ``cell`` at ``level``."""
    shift = np.int64(2 * (max_level - level))
    c = np.asarray(cell, np.int64)
    return c << shift, ((c + 1) << shift) - 1


def cell_bounds(cell: int, level: int):
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    c = np.uint64(cell)
    ix = _compact_bits(c)
    iy = _compact_bits(c >> np.uint64(1))
    n = float(1 << level)
    return (
        float(ix) / n * 360.0 - 180.0,
        float(iy) / n * 180.0 - 90.0,
        float(ix + 1) / n * 360.0 - 180.0,
        float(iy + 1) / n * 180.0 - 90.0,
    )


def _compact_bits(v) -> np.uint64:
    v = np.asarray(v).astype(np.uint64) & np.uint64(_MASKS[4])
    v = (v | (v >> np.uint64(1))) & np.uint64(_MASKS[3])
    v = (v | (v >> np.uint64(2))) & np.uint64(_MASKS[2])
    v = (v | (v >> np.uint64(4))) & np.uint64(_MASKS[1])
    v = (v | (v >> np.uint64(8))) & np.uint64(_MASKS[0])
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


# ---------------------------------------------------------------------------
# cell cover of rings: batched, level-synchronous FULL/PARTIAL descent
# ---------------------------------------------------------------------------

FULL = 1
PARTIAL = 0

# Elements per block of a (cell, ring edge) expansion.  The kernel's
# temporaries are a few dozen arrays of this length, so its memory stays
# near O(edges + frontier) however many cells meet however many edges.
_BLOCK = 1 << 17


class RingError(ValueError):
    """A ring ``cover_rings`` cannot cover; ``row`` is its batch row."""

    def __init__(self, row: int, reason: str):
        super().__init__(f"cover_rings: batch row {row}: {reason}")
        self.row = row
        self.reason = reason

    def naming(self, polygon_id, ring_index) -> ValueError:
        """The same failure, naming the ring by its layer key."""
        return ValueError(
            f"cover: polygon_id={polygon_id!r} ring_index={ring_index}: {self.reason}"
        )


def _blocks(counts: np.ndarray):
    """Walk the expansion in which item i repeats ``counts[i]`` times,
    ``_BLOCK`` elements at a time: yields (item, rank within item)."""
    ends = np.cumsum(counts)
    total = int(ends[-1]) if len(ends) else 0
    for t0 in range(0, total, _BLOCK):
        t = np.arange(t0, min(t0 + _BLOCK, total), dtype=np.int64)
        i = np.searchsorted(ends, t, side="right")
        yield i, t - (ends[i] - counts[i])


def _check_rings(pts: np.ndarray, starts: np.ndarray):
    """Raise ``RingError`` for the first ring with no vertex or with a
    non-finite coordinate.  Runs before any per-ring reduction:
    ``np.minimum.reduceat`` would hand an empty ring its neighbour's
    vertex, and an infinite one would cover cells to the antimeridian."""
    n = len(starts) - 1
    hollow = np.flatnonzero(np.diff(starts) <= 0)
    v = np.flatnonzero(~np.isfinite(pts).all(axis=1))
    nonfinite = np.searchsorted(starts, v, side="right") - 1
    r0 = hollow[0] if len(hollow) else n
    r1 = nonfinite[0] if len(nonfinite) else n
    if min(r0, r1) < n:
        if r0 <= r1:
            raise RingError(int(r0), "ring has no vertices")
        raise RingError(int(r1), "non-finite coordinate")


def cover_rings(
    pts, starts, max_level: int, start_level: int = 4, abs_max: int = MAX_LEVEL
):
    """FULL/PARTIAL cell covers of a batch of rings, one level at a time.

    Ring i is ``pts[starts[i]:starts[i + 1]]`` (the layout of
    ``geom.ring_mats``).  Returns int64 arrays ``(row, lo, hi, full)``:
    Morton ranges at ``abs_max`` level, ``row`` ascending and ``lo``
    ascending within a row, adjacent same-flag ranges merged.  ``full``
    is 1 when the range lies entirely inside the ring, so a PIP refine
    can be skipped (the Raster-Intervals shortcut).

    The seeds are the ``start_level`` cells over each ring's bounding
    box.  At every level, one vectorized pass over the whole (ring,
    cell) frontier classifies each cell:

    * outside the ring's bounding box (strict): dropped;
    * touched by a ring edge ``pts[k] → pts[k + 1]`` (inclusive edge-box
      prefilter, then the four corners not strictly on one side of the
      edge's line): PARTIAL, split into its four children below
      ``max_level``, emitted at it;
    * otherwise: FULL when its center is inside the ring by
      ``geom.point_in_ring``'s ray cast (closing vertex stripped, edges
      ``(r[i], r[i - 1])``, boundary counts as outside), else dropped.

    A child's box lies inside its parent's, so a child is tested only
    against the edges that touched its parent's box.  Every (cell, edge)
    expansion runs in blocks of ``_BLOCK`` elements.  A ring with no
    vertex or a non-finite coordinate raises ``RingError``.
    """
    pts = np.asarray(pts, dtype=np.float64)
    if pts.size == 0:
        pts = pts.reshape(0, 2)
    if pts.ndim != 2 or pts.shape[1] != 2:
        raise ValueError(f"cover_rings: pts must be (n, 2), got {pts.shape}")
    starts = np.asarray(starts, dtype=np.int64)
    _check_rings(pts, starts)
    empty = np.zeros(0, np.int64)
    if len(starts) < 2:
        return empty, empty, empty, empty
    x, y = pts[:, 0], pts[:, 1]
    first, nv = starts[:-1], np.diff(starts)
    bx0, bx1 = np.minimum.reduceat(x, first), np.maximum.reduceat(x, first)
    by0, by1 = np.minimum.reduceat(y, first), np.maximum.reduceat(y, first)
    # edge k runs pts[k] → pts[k + 1]; ring i owns edges first[i] .. last - 1
    ex0, ex1 = np.minimum(x[:-1], x[1:]), np.maximum(x[:-1], x[1:])
    ey0, ey1 = np.minimum(y[:-1], y[1:]), np.maximum(y[:-1], y[1:])
    edx, edy = x[1:] - x[:-1], y[1:] - y[:-1]
    # ray-cast vertices: the closing vertex is not its own vertex
    last = starts[1:] - 1
    nray = nv - ((x[first] == x[last]) & (y[first] == y[last]))

    # seeds: the start_level cells over each ring's bounding box
    s = 1 << start_level
    ix0, ix1, iy0, iy1 = (
        np.clip(np.floor((b + off) / ext * s), 0, s - 1).astype(np.int64)
        for b, off, ext in (
            (bx0, 180.0, 360.0),
            (bx1, 180.0, 360.0),
            (by0, 90.0, 180.0),
            (by1, 90.0, 180.0),
        )
    )
    h = iy1 - iy0 + 1
    count = (ix1 - ix0 + 1) * h
    ring = np.repeat(np.arange(len(first)), count)
    k = np.arange(len(ring)) - np.repeat(np.cumsum(count) - count, count)
    cell = _interleave(ix0[ring] + k // h[ring], iy0[ring] + k % h[ring])

    level = start_level
    carried = None  # (parent rank, edge) pairs that touched a parent box
    out = []
    while len(cell):
        cx = _compact_bits(cell).astype(np.float64)
        cy = _compact_bits(cell >> np.int64(1)).astype(np.float64)
        n = float(1 << level)
        c0, c1 = cx / n * 360.0 - 180.0, cy / n * 180.0 - 90.0
        c2, c3 = (cx + 1) / n * 360.0 - 180.0, (cy + 1) / n * 180.0 - 90.0
        live = ~(
            (c2 < bx0[ring]) | (c0 > bx1[ring]) | (c3 < by0[ring]) | (c1 > by1[ring])
        )
        crossed = np.zeros(len(cell), bool)
        kept = []
        for i, e in _candidates(carried, live, ring, first, nv):
            m = (ex0[e] <= c2[i]) & (ex1[e] >= c0[i]) & (ey0[e] <= c3[i]) & (ey1[e] >= c1[i])
            i, e = i[m], e[m]
            kept.append((i, e))
            x1, y1, dx, dy = x[e], y[e], edx[e], edy[e]
            pos = np.ones(len(i), bool)
            neg = np.ones(len(i), bool)
            for px, py in ((c0, c1), (c0, c3), (c2, c1), (c2, c3)):
                side = dx * (py[i] - y1) - dy * (px[i] - x1)
                pos &= side > 0
                neg &= side < 0
            crossed[i[~(pos | neg)]] = True

        flat = np.flatnonzero(live & ~crossed)
        if len(flat):
            inside = _centers_inside(
                (c0[flat] + c2[flat]) / 2.0,
                (c1[flat] + c3[flat]) / 2.0,
                first[ring[flat]],
                nray[ring[flat]],
                x,
                y,
            )
            lo, hi = cell_range_at_max(cell[flat[inside]], level, abs_max)
            out.append((ring[flat[inside]], lo, hi, np.full(len(lo), FULL)))
        if level >= max_level:
            lo, hi = cell_range_at_max(cell[crossed], level, abs_max)
            out.append((ring[crossed], lo, hi, np.full(len(lo), PARTIAL)))
            break
        rank = np.cumsum(crossed) - 1
        i = np.concatenate([i for i, _ in kept]) if kept else empty
        e = np.concatenate([e for _, e in kept]) if kept else empty
        split = crossed[i]
        carried = (rank[i[split]], e[split])
        ring = np.repeat(ring[crossed], 4)
        cell = ((cell[crossed] << np.int64(2))[:, None] + np.arange(4)).ravel()
        level += 1
    return _merge_runs(out)


def _candidates(carried, live, ring, first, nv):
    """(frontier cell, edge) blocks to test: at the seed level every edge
    of each live cell's ring, below it the four children of each
    (parent rank, edge) pair that touched a parent box."""
    if carried is None:
        for i, j in _blocks(np.where(live, nv[ring] - 1, 0)):
            yield i, first[ring[i]] + j
    else:
        rank, edge = carried
        for p, j in _blocks(np.full(len(rank), 4)):
            yield 4 * rank[p] + j, edge[p]


def _centers_inside(px, py, first, nray, x, y) -> np.ndarray:
    """``geom.point_in_ring(p, ring, True)`` of point k against the ring
    whose ray-cast vertices are ``x/y[first[k] : first[k] + nray[k]]``,
    for all k at once: same edge order, same float expressions."""
    hits = np.zeros(len(px), np.int64)
    on = np.zeros(len(px), bool)
    for k, i in _blocks(nray):
        vi = first[k] + i
        vj = np.where(i == 0, vi + nray[k] - 1, vi - 1)
        xi, yi, xj, yj = x[vi], y[vi], x[vj], y[vj]
        u, v = px[k], py[k]
        on[
            k[
                (v * (xi - xj) + yi * (xj - u) + yj * (u - xi) == 0)
                & ((xi - u) * (xj - u) <= 0)
                & ((yi - v) * (yj - v) <= 0)
            ]
        ] = True
        with np.errstate(all="ignore"):  # masked where yi == yj
            hit = ((yi > v) != (yj > v)) & (u < (xj - xi) * (v - yi) / (yj - yi) + xi)
        hits += np.bincount(k[hit], minlength=len(px))
    return (hits % 2 == 1) & ~on


def _merge_runs(out: list):
    """Concatenate the per-level (row, lo, hi, flag) pieces, sort by row
    then lo, and merge each row's runs of adjacent same-flag ranges."""
    if not out:
        return tuple(np.zeros(0, np.int64) for _ in range(4))
    row, lo, hi, full = (np.concatenate([o[k] for o in out]) for k in range(4))
    if not len(row):
        return row, lo, hi, full
    order = np.lexsort((lo, row))
    row, lo, hi, full = row[order], lo[order], hi[order], full[order]
    head = np.ones(len(row), bool)
    head[1:] = (row[1:] != row[:-1]) | (lo[1:] != hi[:-1] + 1) | (full[1:] != full[:-1])
    start = np.flatnonzero(head)
    end = np.append(start[1:], len(row)) - 1
    return row[start], lo[start], hi[end], full[start]


def cover_ring(
    ring, max_level: int = 12, start_level: int = 4, abs_max: int = MAX_LEVEL
):
    """``cover_rings`` of one ring as an int64 array of [lo, hi, full]
    rows, sorted by ``lo``."""
    pts = np.asarray(ring, dtype=np.float64)
    _, lo, hi, full = cover_rings(pts, [0, len(pts)], max_level, start_level, abs_max)
    return np.stack([lo, hi, full], axis=1)
