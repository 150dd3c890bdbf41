"""kNN join parity (vectorized broadcast top-k vs relational window
formulation vs numpy brute force) and crosswalk oracle checks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from simplepolygon_spark.cells import cell_range_at_max, cover_ring
from simplepolygon_spark.operators.crosswalk import _bbox_cells, crosswalk
from simplepolygon_spark.operators.decompose import decompose_polygons
from simplepolygon_spark.operators.knn import knn_join, knn_join_window
from simplepolygon_spark.operators.tiling import broadcast_index, build_interval_index
from simplepolygon_spark.sources.footprints import WINDOW, footprints_df


def _setup(spark, grid=2, cover_level=8):
    rows = decompose_polygons(footprints_df(spark, grid=grid)).collect()
    idx = build_interval_index(rows, cover_level=cover_level)
    return rows, idx, broadcast_index(spark, idx)


def _pts_df(spark, n=500, seed=23):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"q{i:05d}" for i in range(n)],
                "lon": rng.uniform(WINDOW[0], WINDOW[2], n),
                "lat": rng.uniform(WINDOW[1], WINDOW[3], n),
            }
        )
    ).repartition(4)


def test_knn_matches_bruteforce_and_window(spark):
    rows, idx, bc = _setup(spark)
    pts = _pts_df(spark)
    k = 3
    got = knn_join(pts, bc, k=k).toPandas()
    assert set(got.groupby("image_id").size()) == {k}

    # numpy brute-force oracle on distances
    pdf = pts.toPandas()
    cents = idx.centroids
    d2 = (pdf.lon.to_numpy()[:, None] - cents[None, :, 0]) ** 2 + (
        pdf.lat.to_numpy()[:, None] - cents[None, :, 1]
    ) ** 2
    got_g = got.sort_values(["image_id", "rank"]).groupby("image_id")
    for qi, iid in enumerate(pdf.image_id):
        expect = np.sort(d2[qi])[:k]
        mine = got_g.get_group(iid)["dist"].to_numpy() ** 2
        assert np.allclose(np.sort(mine), expect, rtol=1e-12)

    # relational window formulation agrees on the (id, ring) sets
    cent_rows = [
        (idx.ring_keys[r][0], int(idx.ring_keys[r][1]), float(cents[r, 0]), float(cents[r, 1]))
        for r in range(len(cents))
    ]
    cdf = spark.createDataFrame(
        cent_rows, "polygon_id string, ring_index int, cx double, cy double"
    )
    win = knn_join_window(pts, cdf, k=k).toPandas()
    a = set(map(tuple, got[["image_id", "polygon_id", "ring_index"]].itertuples(index=False)))
    b = set(map(tuple, win[["image_id", "polygon_id", "ring_index"]].itertuples(index=False)))
    assert a == b


def test_knn_boundary_ties_match_window_exactly(spark):
    """Four rings exactly equidistant from the query point, k=2: the
    Arrow path must keep the same two rows as the window oracle's
    ORDER BY dist, polygon_id, ring_index — not an arbitrary
    argpartition subset (round-1 advice)."""
    def square(cx, cy):
        return [
            [cx - 0.1, cy - 0.1], [cx + 0.1, cy - 0.1],
            [cx + 0.1, cy + 0.1], [cx - 0.1, cy + 0.1], [cx - 0.1, cy - 0.1],
        ]

    # centroids at (±1, 0), (0, ±1): all at distance exactly 1 from origin
    rows = [
        {"polygon_id": pid, "ring_index": ri, "coords": square(cx, cy)}
        for pid, ri, cx, cy in [
            ("pD", 0, 1.0, 0.0), ("pB", 1, -1.0, 0.0),
            ("pB", 0, 0.0, 1.0), ("pA", 0, 0.0, -1.0),
        ]
    ]
    idx = build_interval_index(rows, cover_level=6)
    bc = broadcast_index(spark, idx)
    pts = spark.createDataFrame(
        [("q0", 0.0, 0.0)], "image_id string, lon double, lat double"
    )
    got = (
        knn_join(pts, bc, k=2)
        .toPandas()
        .sort_values("rank")[["polygon_id", "ring_index"]]
        .values.tolist()
    )
    cdf = spark.createDataFrame(
        [(r["polygon_id"], r["ring_index"], float(np.mean([p[0] for p in r["coords"][:-1]])),
          float(np.mean([p[1] for p in r["coords"][:-1]])))
         for r in rows],
        "polygon_id string, ring_index int, cx double, cy double",
    )
    win = (
        knn_join_window(pts, cdf, k=2)
        .toPandas()
        .sort_values("rank")[["polygon_id", "ring_index"]]
        .values.tolist()
    )
    assert got == win == [["pA", 0], ["pB", 0]]


def test_crosswalk_matches_bruteforce(spark):
    rows, idx, bc = _setup(spark, grid=2, cover_level=9)
    n = 60
    rng = np.random.default_rng(41)
    lon = rng.uniform(WINDOW[0], WINDOW[2], n)
    lat = rng.uniform(WINDOW[1], WINDOW[3], n)
    tiles = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"t{i:04d}" for i in range(n)],
                "lon_min": lon - 0.5,
                "lat_min": lat - 0.5,
                "lon_max": lon + 0.5,
                "lat_max": lat + 0.5,
            }
        )
    ).repartition(4)
    level = 10
    got = {
        (r.image_id, r.cell_id, r.polygon_id, r.ring_index)
        for r in crosswalk(tiles, bc, level=level).collect()
    }

    # independent oracle: per-ring covers computed directly, interval
    # overlap by linear scan
    covers = []
    for row in rows:
        ring = np.asarray([list(c) for c in row["coords"]])
        covers.append(
            (row["polygon_id"], row["ring_index"], cover_ring(ring, max_level=9, abs_max=idx.max_level))
        )
    expected = set()
    for i in range(n):
        for c in _bbox_cells(lon[i] - 0.5, lat[i] - 0.5, lon[i] + 0.5, lat[i] + 0.5, level):
            lo, hi = cell_range_at_max(np.array([c]), level, idx.max_level)
            lo, hi = int(lo[0]), int(hi[0])
            any_hit = False
            for pid, ridx, cov in covers:
                if any(l_ <= hi and h_ >= lo for l_, h_, _f in cov):
                    expected.add((f"t{i:04d}", int(c), pid, ridx))
                    any_hit = True
            if not any_hit:
                expected.add((f"t{i:04d}", int(c), None, None))

    assert got == expected


@pytest.mark.parametrize("level", [4, 5, 10])
def test_crosswalk_relational_fallback_equals_broadcast(spark, level):
    """The cell-bucket equi-join path (no broadcast index) must produce
    exactly the broadcast crosswalk's rows, and its plan must be an
    equi-join on the bucket key (no cartesian) — also for tile levels
    coarser than the bucket level, where each tile cell spans several
    buckets."""
    from simplepolygon_spark.operators.crosswalk import crosswalk_relational
    from simplepolygon_spark.sources.images import images_df

    rings = decompose_polygons(footprints_df(spark, grid=2))
    idx = build_interval_index(rings.collect(), cover_level=8)
    bc = broadcast_index(spark, idx)
    imgs = images_df(spark, 300, partitions=4, with_bytes=False)

    a = crosswalk(imgs, bc, level=level)
    b = crosswalk_relational(imgs, rings, level=level, cover_level=8)
    rows_a = {(r.image_id, r.cell_id, r.polygon_id, r.ring_index) for r in a.collect()}
    rows_b = {(r.image_id, r.cell_id, r.polygon_id, r.ring_index) for r in b.collect()}
    assert rows_a == rows_b
    assert len(rows_a) > 0

    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
