"""The batched cover kernel ``cells.cover_rings``: array identity with the
recursive one-ring descent (``cover_oracle``), bounded memory, typed
rejection of degenerate rings, and one interval index from both inputs
of ``build_interval_index``."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from cover_oracle import cover_ring_oracle
from simplepolygon_spark import cells
from simplepolygon_spark.cells import FULL, RingError, cover_ring, cover_rings
from simplepolygon_spark.decompose import decompose
from simplepolygon_spark.operators.crosswalk import covers_df
from simplepolygon_spark.operators.decompose import POLYGONS_SCHEMA, decompose_polygons
from simplepolygon_spark.operators.tiling import build_interval_index
from simplepolygon_spark.sources.fixtures import NORTH_STAR_FIXTURES
from simplepolygon_spark.sources.footprints import footprint_rows


def _batch(rings):
    rings = [np.asarray(r, np.float64).reshape(-1, 2) for r in rings]
    starts = np.zeros(len(rings) + 1, np.int64)
    np.cumsum([len(r) for r in rings], out=starts[1:])
    pts = np.concatenate(rings) if rings else np.zeros((0, 2))
    return pts, starts


def _assert_identical(rings, max_level, start_level=4):
    row, lo, hi, full = cover_rings(*_batch(rings), max_level, start_level)
    assert all(a.dtype == np.int64 for a in (row, lo, hi, full))
    assert np.all(np.diff(row) >= 0), "row must ascend"
    cut = np.searchsorted(row, np.arange(len(rings) + 1))
    for k, ring in enumerate(rings):
        want = cover_ring_oracle(ring, max_level=max_level, start_level=start_level)
        s = slice(cut[k], cut[k + 1])
        got = np.stack([lo[s], hi[s], full[s]], axis=1)
        assert got.shape == want.shape and np.array_equal(got, want), (k, ring)


def _grid(i, level, lat=False):
    """The level-``level`` grid line ``i``, by ``cell_bounds``' formula."""
    n = float(1 << level)
    return i / n * 180.0 - 90.0 if lat else i / n * 360.0 - 180.0


@st.composite
def _ring(draw, max_level):
    """One ring a few to a few dozen ``max_level`` cells wide, of one of
    the shapes the kernel must agree with the oracle on."""
    kind = draw(
        st.sampled_from(["random", "snapped", "box", "one", "collinear", "edge"])
    )
    cw, ch = 360.0 / (1 << max_level), 180.0 / (1 << max_level)
    ext = draw(st.floats(0.2, 12.0))
    cx = draw(st.floats(-185.0, 185.0))
    cy = draw(st.floats(-95.0, 95.0))
    n = draw(st.integers(2, 12))
    if kind == "random":  # self-crossing in general
        u = draw(st.lists(st.floats(-1.0, 1.0), min_size=2 * n, max_size=2 * n))
        pts = [[cx + ext * cw * a, cy + ext * ch * b] for a, b in zip(u[::2], u[1::2])]
    elif kind in ("snapped", "box"):
        lv = draw(st.integers(0, max_level))
        span = max(1, int(ext * (1 << lv) / (1 << max_level)) + 1)
        ix = int(np.floor((cx + 180.0) / 360.0 * (1 << lv)))
        iy = int(np.floor((cy + 90.0) / 180.0 * (1 << lv)))
        if kind == "box":
            x0, x1 = _grid(ix, lv), _grid(ix + span, lv)
            y0, y1 = _grid(iy, lv, True), _grid(iy + span, lv, True)
            pts = [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
        else:
            k = draw(
                st.lists(st.integers(-span, span), min_size=2 * n, max_size=2 * n)
            )
            pts = [
                [_grid(ix + a, lv), _grid(iy + b, lv, True)]
                for a, b in zip(k[::2], k[1::2])
            ]
    elif kind == "one":
        return [[cx, cy]]
    elif kind == "collinear":  # zero area
        t = draw(st.lists(st.floats(-1.0, 1.0), min_size=n, max_size=n))
        dx, dy = draw(st.floats(-1.0, 1.0)), draw(st.floats(-1.0, 1.0))
        pts = [[cx + ext * cw * a * dx, cy + ext * ch * a * dy] for a in t]
    else:  # straddling the world window's edge
        sx, sy = draw(st.sampled_from([-1.0, 1.0])), draw(st.sampled_from([-1.0, 1.0]))
        px, py = 180.0 * sx, 90.0 * sy
        pts = [
            [px - ext * cw, py - ext * ch],
            [px + ext * cw, py - ext * ch],
            [px + ext * cw, py + ext * ch],
            [px - ext * cw, py + ext * ch],
        ]
    if draw(st.booleans()):  # closed, or left unclosed
        pts = pts + [pts[0]]
    return pts


@st.composite
def _batches(draw):
    max_level = draw(st.integers(1, 12))
    start_level = draw(st.integers(0, 6))  # may exceed max_level
    rings = draw(st.lists(_ring(max_level), min_size=0, max_size=5))
    return rings, max_level, start_level


@settings(
    max_examples=250,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(_batches())
def test_cover_rings_identical_to_recursive_descent(batch):
    rings, max_level, start_level = batch
    _assert_identical(rings, max_level, start_level)


@pytest.mark.parametrize("level,block", [(8, None), (10, None), (8, 5)])
def test_cover_rings_identical_on_footprint_layer(monkeypatch, level, block):
    """A mixed-size batch of real decomposed rings, one kernel call; with
    a tiny block size every (cell, edge) expansion spans many blocks."""
    if block is not None:
        monkeypatch.setattr(cells, "_BLOCK", block)
    rings = [
        f["coords"]
        for _, poly in footprint_rows(3, fixtures=NORTH_STAR_FIXTURES)
        for f in decompose(poly)
    ]
    _assert_identical(rings, level)


def test_cover_rings_empty_batch():
    for a in cover_rings(np.zeros((0, 2)), [0], 8):
        assert a.dtype == np.int64 and a.shape == (0,)


def test_cover_ring_is_the_one_ring_batch():
    ring = [[10, 10], [30, 12], [28, 35], [12, 30], [10, 10]]
    row, lo, hi, full = cover_rings(*_batch([ring]), 9)
    assert np.array_equal(cover_ring(ring, max_level=9), np.stack([lo, hi, full], 1))


def test_cover_rings_memory_is_bounded():
    """One closed 20,000-vertex circle at level 12: the (cell, edge)
    expansion runs in fixed-size blocks."""
    a = np.linspace(0.0, 2.0 * np.pi, 20_000, endpoint=False)
    ring = np.stack([10.0 + 5.0 * np.cos(a), 5.0 + 5.0 * np.sin(a)], axis=1)
    ring = np.vstack([ring, ring[:1]])
    tracemalloc.start()
    try:
        row, lo, hi, full = cover_rings(ring, [0, len(ring)], 12)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 256 * 2**20, f"peak {peak / 2**20:.0f} MiB"
    assert (full == FULL).any() and (full != FULL).any()


_SQUARE = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]
_BAD = {
    "nan": ([[0.0, 0.0], [4.0, float("nan")], [4.0, 4.0], [0.0, 0.0]], "non-finite"),
    "inf": ([[0.0, 0.0], [float("inf"), 0.0], [4.0, 4.0], [0.0, 0.0]], "non-finite"),
    "empty": ([], "no vertices"),
}


@pytest.mark.parametrize("case", sorted(_BAD))
def test_cover_rings_rejects_degenerate_ring_by_row(case):
    bad, why = _BAD[case]
    with pytest.raises(RingError, match=f"batch row 1: .*{why}") as e:
        cover_rings(*_batch([_SQUARE, bad, _SQUARE]), 8)
    assert e.value.row == 1
    with pytest.raises(ValueError, match=why):
        cover_ring(bad, max_level=8)


@pytest.mark.parametrize("case", sorted(_BAD))
def test_covers_df_names_degenerate_ring(spark, case):
    bad, why = _BAD[case]
    df = spark.createDataFrame(
        [("ok", 0, _SQUARE), ("bad", 2, bad)],
        "polygon_id string, ring_index int, coords array<array<double>>",
    ).coalesce(1)
    with pytest.raises(Exception, match=f"polygon_id='bad' ring_index=2: .*{why}"):
        covers_df(df, 8).collect()
    with pytest.raises(ValueError, match=f"polygon_id='bad' ring_index=2: .*{why}"):
        build_interval_index(df.collect(), cover_level=8)


def _intervals(idx):
    """{(lo, hi, ring key, full)} rebuilt from the index's CSR."""
    n = len(idx.iv_ring)
    seg = np.repeat(np.arange(len(idx.bp)), np.diff(idx.seg_ptr))
    first = np.full(n, len(idx.bp), np.int64)
    last = np.full(n, -1, np.int64)
    np.minimum.at(first, idx.seg_ids, seg)
    np.maximum.at(last, idx.seg_ids, seg)
    lo, hi = idx.bp[first], idx.bp[last + 1] - 1
    return {
        (int(a), int(b), idx.ring_keys[r], bool(f))
        for a, b, r, f in zip(lo, hi, idx.iv_ring, idx.iv_full)
    }


def test_build_interval_index_same_from_dataframe_and_rows(spark):
    polygons = spark.createDataFrame(
        footprint_rows(2, fixtures=NORTH_STAR_FIXTURES), POLYGONS_SCHEMA
    )
    rings = decompose_polygons(polygons).persist()
    try:
        from_df = build_interval_index(rings, cover_level=9)
        from_rows = build_interval_index(rings.collect(), cover_level=9)
    finally:
        rings.unpersist()
    assert from_df.stats["n_intervals"] > 0
    assert np.array_equal(from_df.bp, from_rows.bp)
    assert _intervals(from_df) == _intervals(from_rows)
    assert sorted(from_df.ring_keys) == sorted(from_rows.ring_keys)
