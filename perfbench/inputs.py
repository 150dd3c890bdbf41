"""Seeded input generators for the spatial-core benchmark.

Everything here is a pure function of its arguments: the same seed gives
the same coordinates bit for bit, on any host, with or without optional
checkouts next to the repository.  The program under test only ever sees
what these functions return, written to parquet by the workloads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from simplepolygon_spark.sources.fixtures import NORTH_STAR_FIXTURES
from simplepolygon_spark.sources.footprints import WINDOW, footprint_rows

# The in-repo fixtures only.  "unclosed" decomposes to the same rings as
# "8-shape" (the kernel closes it), so it would add nothing but a
# duplicate; fixtures loaded from outside the repository never enter.
FIXTURES = {k: v for k, v in NORTH_STAR_FIXTURES.items() if k != "unclosed"}


def scaled_footprints(grid: int, window: tuple) -> list[tuple]:
    """``footprint_rows(grid)`` over the in-repo fixtures, mapped affinely
    from the library's world window onto ``window``.  Scaling keeps each
    ring a few dozen level-10 cells wide, so the cover stays a layer of
    the workload rather than all of it."""
    lon0, lat0, lon1, lat1 = WINDOW
    w0, h0 = lon1 - lon0, lat1 - lat0
    x0, y0, x1, y1 = window
    sx, sy = (x1 - x0) / w0, (y1 - y0) / h0
    out = []
    for pid, rings in footprint_rows(grid, fixtures=FIXTURES):
        out.append(
            (
                pid,
                [
                    [[x0 + (p[0] - lon0) * sx, y0 + (p[1] - lat0) * sy] for p in r]
                    for r in rings
                ],
            )
        )
    return out


def _star_ring(rng, cx, cy, radius, n, swaps):
    """A closed ring of ``n`` vertices around (cx, cy), at 0.6 to 1 times
    ``radius``; ``swaps`` adjacent vertex pairs are exchanged, which makes
    the ring cross itself."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
    rad = radius * rng.uniform(0.6, 1.0, n)
    pts = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    for k in rng.choice(n - 1, size=swaps, replace=False):
        pts[[k, k + 1]] = pts[[k + 1, k]]
    return np.vstack([pts, pts[:1]]).tolist()


def dirty_polygons(rng, count: int, window: tuple, radius: float) -> list[tuple]:
    """``count`` self-crossing polygons centred uniformly in ``window``.
    Polygon i has 40 + 7i mod 50 outer vertices with three crossings and
    1 + i mod 2 holes of 8 to 13 vertices with one crossing each; the
    counts do not depend on the seed, so neither does the work."""
    x0, y0, x1, y1 = window
    out = []
    for i in range(count):
        cx = rng.uniform(x0 + radius, x1 - radius)
        cy = rng.uniform(y0 + radius, y1 - radius)
        rings = [_star_ring(rng, cx, cy, radius, 40 + 7 * i % 50, 3)]
        for h in range(1 + i % 2):
            # holes stay inside the outer ring: 0.2r radius, 0.2r offset
            hx = cx + rng.uniform(-0.2, 0.2) * radius
            hy = cy + rng.uniform(-0.2, 0.2) * radius
            rings.append(_star_ring(rng, hx, hy, 0.2 * radius, 8 + (i + h) % 6, 1))
        out.append((f"dirty-{i}", rings))
    return out


def boundary_points(rng, polygons: list[tuple], n: int, jitter: float):
    """``n`` points scattered around the input ring edges: a random edge,
    a random position along it, then Gaussian jitter."""
    edges = np.array(
        [
            [a[0], a[1], b[0], b[1]]
            for _, rings in polygons
            for r in rings
            for a, b in zip(r[:-1], r[1:])
        ],
        dtype=np.float64,
    )
    e = edges[rng.integers(0, len(edges), n)]
    t = rng.uniform(0.0, 1.0, n)
    lon = e[:, 0] + t * (e[:, 2] - e[:, 0]) + rng.normal(0.0, jitter, n)
    lat = e[:, 1] + t * (e[:, 3] - e[:, 1]) + rng.normal(0.0, jitter, n)
    return lon, lat


def polygon_table(polygons: list[tuple]) -> pa.Table:
    return pa.table(
        {
            "polygon_id": pa.array([p for p, _ in polygons], pa.string()),
            "rings": pa.array(
                [r for _, r in polygons], pa.list_(pa.list_(pa.list_(pa.float64())))
            ),
        }
    )


def points_table(lon: np.ndarray, lat: np.ndarray) -> pa.Table:
    """(image_id string, lon, lat); ``image_id`` is the row number."""
    ids = pa.array(np.arange(len(lon), dtype=np.int64)).cast(pa.string())
    return pa.table({"image_id": ids, "lon": lon, "lat": lat})


def write_parquet(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as ``parts`` equal files under directory ``path``,
    so the scan has one split per core from the start."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet")
        )


def counts(polygons: list[tuple]) -> dict:
    return {
        "polygons": len(polygons),
        "input_rings": sum(len(r) for _, r in polygons),
        "input_vertices": sum(len(ring) - 1 for _, r in polygons for ring in r),
    }
