"""Property tests, part 5: the DBNet post-processing primitives (A1/A3/A4/A5).

Golden tests pin the reference vectors from dbnet.rs; these pin the
definitions on random inputs: binarize is strict-greater thresholding,
box_score_fast equals an independently-computed masked mean,
get_mini_boxes returns a corner-ordered min-area rect whose sides match
its reported min side, and unclip's offset region contains the source box.

The differential tests at the end keep the pixel-based per-row extremes,
which boxes_from_bitmap read from every pixel of every component before
``component_row_extremes`` read them off the labelled runs, as the
reference the run-based extremes must equal exactly.
"""

from __future__ import annotations

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import assume, given, settings, strategies as st  # noqa: E402

from mit_spark.operators.contours import (  # noqa: E402
    component_row_extremes,
    connected_components,
    fill_polygon_mask,
    polygon_perimeter,
)
from mit_spark.operators.dbnet_post import (  # noqa: E402
    binarize,
    box_score_fast,
    get_mini_boxes,
    unclip,
)
from mit_spark.operators.geometry import convex_hull, polygon_area  # noqa: E402

COMMON = settings(max_examples=60, deadline=None)


@COMMON
@given(st.integers(2, 30), st.integers(2, 30), st.integers(0, 2**32 - 1),
       st.floats(0.0, 1.0))
def test_binarize_is_strict_greater(h, w, seed, thr):
    pred = np.random.RandomState(seed).rand(h, w).astype(np.float32)
    bm = binarize(pred, thr)
    np.testing.assert_array_equal(bm, pred > thr)


quad_strategy = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 60)), min_size=4, max_size=4
).map(lambda pts: np.array(pts, dtype=np.float64))


@COMMON
@given(quad_strategy, st.integers(0, 2**32 - 1))
def test_box_score_fast_equals_independent_masked_mean(poly, seed):
    """Recompute the score from the definition with an independent ROI
    construction: full-size mask (no ROI shift). box_score_fast fills in
    the ROI-LOCAL frame (mirroring dbnet.rs:151-222), and the scanline's
    float crossing arithmetic can flip a single boundary pixel between
    the two frames — so the property is the masked mean within a
    few-boundary-pixel tolerance, over the hull (the pipeline's actual
    call contract: boxes_from_bitmap always passes a convex hull)."""
    hull = convex_hull(poly)
    assume(len(hull) >= 3)
    pred = np.random.RandomState(seed).rand(64, 64).astype(np.float32)
    got = box_score_fast(pred, hull)
    full_mask = fill_polygon_mask(hull, 64, 64)
    cnt = int(full_mask.sum())
    want = 0.0 if cnt == 0 else float(pred[full_mask].astype(np.float64).sum() / cnt)
    tol = 3.0 / max(cnt, 1)  # up to 3 flipped boundary pixels, pred <= 1
    assert got == pytest.approx(want, abs=tol)


@COMMON
@given(quad_strategy)
def test_get_mini_boxes_side_lengths_match_reported_min(poly):
    box, sside = get_mini_boxes(poly)
    assert box.shape == (4, 2)
    d01 = float(np.linalg.norm(box[1] - box[0]))
    d12 = float(np.linalg.norm(box[2] - box[1]))
    assert sside == pytest.approx(min(d01, d12), rel=1e-4, abs=1e-3)
    # the rect encloses every input point
    hull = convex_hull(box.astype(np.float64))
    if len(hull) >= 3:
        area_rect = polygon_area(hull.astype(np.float64))
        area_pts_hull = polygon_area(convex_hull(poly).astype(np.float64))
        assert area_rect >= area_pts_hull - 1e-3


@COMMON
@given(quad_strategy, st.floats(1.0, 3.0))
def test_unclip_contains_source_box(poly, ratio):
    hull = convex_hull(poly)
    assume(len(hull) >= 3 and polygon_area(hull.astype(np.float64)) > 1.0)
    out = unclip(hull, ratio)
    assert len(out) >= len(hull)
    out_hull = convex_hull(out)
    # containment: every source vertex inside the unclipped hull
    n = len(out_hull)
    for v in hull:
        for i in range(n):
            a, b = out_hull[i], out_hull[(i + 1) % n]
            cr = (b[0] - a[0]) * (v[1] - a[1]) - (b[1] - a[1]) * (v[0] - a[0])
            assert cr >= -1e-6 * (1 + abs(cr))
    # the offset delta is area*ratio/perimeter — the expansion must grow
    # the perimeter but by no more than the round-join circumference bound
    assume(polygon_perimeter(hull) > 0)
    assert polygon_perimeter(out_hull) >= polygon_perimeter(hull) - 1e-6


# ---------------------------------------------------------------------------
# differential: run-based row extremes vs the pixel-based reference


def _row_extremes(comp: np.ndarray) -> np.ndarray:
    """The pixel-based reduction that component_row_extremes replaced:
    component pixels (x, y) -> per-row (min x, y), (max x, y)."""
    ys = comp[:, 1]
    xs = comp[:, 0]
    order = np.argsort(ys, kind="stable")
    ys_s, xs_s = ys[order], xs[order]
    row_starts = np.searchsorted(ys_s, np.unique(ys_s))
    out = []
    bounds = list(row_starts) + [len(ys_s)]
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        seg = xs_s[lo:hi]
        y = ys_s[lo]
        out.append((seg.min(), y))
        out.append((seg.max(), y))
    return np.array(out, dtype=np.int64)


def _assert_extremes_match(bm: np.ndarray) -> None:
    want = [_row_extremes(c) for c in connected_components(bm)]
    got = component_row_extremes(bm)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and g.shape == w.shape
        assert np.array_equal(g, w)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(0, 2**32 - 1),
    st.floats(0.05, 0.95),
    st.integers(0, 6),
    st.integers(0, 6),
)
def test_component_row_extremes_equal_pixel_reference(h, w, seed, density, top, left):
    """Random bitmaps (mid densities give several runs per row, many of
    them joined only diagonally), placed away from the map's origin so the
    ink bounding-box crop is exercised."""
    bm = np.zeros((h + top + 3, w + left + 2), dtype=bool)
    bm[top : top + h, left : left + w] = np.random.RandomState(seed).rand(h, w) < density
    _assert_extremes_match(bm)


@pytest.mark.parametrize(
    "bm",
    [
        np.zeros((5, 7), dtype=bool),  # empty
        np.eye(6, dtype=bool),  # one component joined only diagonally
        np.eye(6, dtype=bool)[::-1],  # the anti-diagonal
        np.array([[1, 0, 1, 0, 1], [1, 1, 1, 1, 1]], dtype=bool),  # comb: 3 runs, 1 row
        np.array([[1, 1, 1, 1, 1], [1, 0, 0, 0, 1], [1, 0, 1, 0, 1]], dtype=bool),  # U + dot
        np.ones((1, 1), dtype=bool),  # one pixel
    ],
)
def test_component_row_extremes_edge_cases(bm):
    _assert_extremes_match(bm)
