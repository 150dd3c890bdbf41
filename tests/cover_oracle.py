"""The recursive FULL/PARTIAL ring cover, one cell at a time: the
identity oracle for ``cells.cover_rings``.

Each cell popped from a Python stack is classified on its own: dropped
when it misses the ring's bounding box, PARTIAL (split, or emitted at
``max_level``) when a ring edge touches it, else FULL when its center is
inside the ring by ``geom.point_in_ring`` and dropped when it is not.
The sorted cells are then merged into runs of adjacent same-flag ranges.
The batched kernel must reproduce this output array for array.
"""

from __future__ import annotations

import numpy as np

from simplepolygon_spark.cells import (
    FULL,
    MAX_LEVEL,
    PARTIAL,
    cell_bounds,
    cell_range_at_max,
    spread_bits,
)
from simplepolygon_spark.geom import point_in_ring


def _segments_intersect_box(ring: np.ndarray, lon0, lat0, lon1, lat1) -> bool:
    """Does any ring edge intersect / touch the box? Conservative bbox +
    separating-axis check per edge, vectorized."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    # quick reject on edge bboxes
    m = (
        (np.minimum(x1, x2) <= lon1)
        & (np.maximum(x1, x2) >= lon0)
        & (np.minimum(y1, y2) <= lat1)
        & (np.maximum(y1, y2) >= lat0)
    )
    if not m.any():
        return False
    x1, y1, x2, y2 = x1[m], y1[m], x2[m], y2[m]
    # exact segment-box test: the segment's line must leave all four box
    # corners strictly on one side, else it crosses/touches the box.  A
    # corner exactly ON the line (cross product 0) makes both all>0 and
    # all<0 false, so the touch case needs no separate accumulator.
    dx, dy = x2 - x1, y2 - y1
    sides = np.stack(
        [
            dx * (cy - y1) - dy * (cx - x1)
            for cx, cy in ((lon0, lat0), (lon0, lat1), (lon1, lat0), (lon1, lat1))
        ]
    )
    crosses = ~(np.all(sides > 0, axis=0) | np.all(sides < 0, axis=0))
    return bool(np.any(crosses))


def cover_ring_oracle(
    ring, max_level: int = 12, start_level: int = 4, abs_max: int = MAX_LEVEL
):
    """FULL/PARTIAL cell cover of one simple ring by recursive descent.

    Returns an int64 array of [lo, hi, full] rows: Morton ranges at
    ``abs_max`` level, ``full``=1 when the cell lies entirely inside the
    ring (PIP refine can be skipped — the Raster-Intervals shortcut).

    Descent: classify each candidate cell against the ring — OUT (center
    outside and no edge crosses), FULL (center inside and no edge
    crosses), else PARTIAL → subdivide until ``max_level``.
    """
    ring = np.asarray(ring, dtype=np.float64)

    lon_min, lat_min = ring[:, 0].min(), ring[:, 1].min()
    lon_max, lat_max = ring[:, 0].max(), ring[:, 1].max()

    # seed: cells at start_level overlapping the bbox
    n0 = 1 << start_level
    ix0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * n0), 0, n0 - 1))
    ix1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * n0), 0, n0 - 1))
    iy0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * n0), 0, n0 - 1))
    iy1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * n0), 0, n0 - 1))
    stack = [
        (start_level, int(spread_bits(np.array([ix]))[0] | (spread_bits(np.array([iy]))[0] << np.uint64(1))))
        for ix in range(ix0, ix1 + 1)
        for iy in range(iy0, iy1 + 1)
    ]

    out = []
    while stack:
        level, cell = stack.pop()
        b = cell_bounds(cell, level)
        # disjoint from ring bbox?
        if b[2] < lon_min or b[0] > lon_max or b[3] < lat_min or b[1] > lat_max:
            continue
        crossed = _segments_intersect_box(ring, *b)
        if not crossed:
            cx, cy = (b[0] + b[2]) / 2.0, (b[1] + b[3]) / 2.0
            if point_in_ring((cx, cy), ring, True):
                lo, hi = cell_range_at_max(cell, level, abs_max)
                out.append((int(lo), int(hi), FULL))
            # else fully outside: drop
            continue
        if level >= max_level:
            lo, hi = cell_range_at_max(cell, level, abs_max)
            out.append((int(lo), int(hi), PARTIAL))
            continue
        base = cell << 2
        stack.extend((level + 1, base + k) for k in range(4))

    if not out:
        return np.zeros((0, 3), dtype=np.int64)
    arr = np.array(sorted(out), dtype=np.int64)
    # merge adjacent ranges with the same full-flag
    merged = [arr[0].tolist()]
    for lo, hi, fl in arr[1:]:
        if lo == merged[-1][1] + 1 and fl == merged[-1][2]:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi, fl])
    return np.array(merged, dtype=np.int64)
