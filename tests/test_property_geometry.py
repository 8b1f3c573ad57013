"""Property tests, part 3: the unclip/offset and corner-canonicalization
geometry (dbnet_post's A5 + O2 building blocks).

The goldens pin the reference vectors (textlines.rs cases verbatim in
test_geometry.py); these pin the geometric invariants on random inputs:
an offset polygon must CONTAIN its source and stay within the offset
radius, corner canonicalization must be a permutation, and the scalar
measures must transform correctly under similarity maps — the failure
modes a vectorization or orientation bug produces.

The differential tests at the end keep the per-vertex offset loop and the
hull-based quad area, which the vectorized offset and the convex-quad
area fast path replaced, as references that the new code must equal
bit for bit.
"""

from __future__ import annotations

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import assume, given, settings, strategies as st  # noqa: E402

from mit_spark.operators.contours import (  # noqa: E402
    min_area_rect,
    offset_polygon_round,
    polygon_perimeter,
)
from mit_spark.operators.geometry import Quad, convex_hull, polygon_area, sort_pnts  # noqa: E402

COMMON = settings(max_examples=60, deadline=None)


def _convex_poly(seed: int, n: int) -> np.ndarray:
    """Random convex polygon = hull of random integer points."""
    rng = np.random.RandomState(seed)
    pts = rng.randint(0, 100, size=(n, 2)).astype(np.float64)
    return convex_hull(pts)


def _dist_point_to_poly_boundary(q: np.ndarray, poly: np.ndarray) -> float:
    """Min distance from q to the polygon's boundary segments."""
    best = np.inf
    n = len(poly)
    for i in range(n):
        a, b = poly[i], poly[(i + 1) % n]
        ab = b - a
        denom = float(ab @ ab)
        t = 0.0 if denom == 0 else float(np.clip((q - a) @ ab / denom, 0, 1))
        best = min(best, float(np.linalg.norm(q - (a + t * ab))))
    return best


def _inside_convex(poly: np.ndarray, q: np.ndarray, eps: float = 1e-6) -> bool:
    n = len(poly)
    sign = 0
    for i in range(n):
        a, b = poly[i], poly[(i + 1) % n]
        cr = (b[0] - a[0]) * (q[1] - a[1]) - (b[1] - a[1]) * (q[0] - a[0])
        if abs(cr) <= eps:
            continue
        s = 1 if cr > 0 else -1
        if sign == 0:
            sign = s
        elif s != sign:
            return False
    return True


@COMMON
@given(st.integers(0, 2**32 - 1), st.integers(4, 12), st.floats(0.5, 20.0))
def test_offset_polygon_contains_source_within_radius(seed, n, delta):
    poly = _convex_poly(seed, n)
    assume(len(poly) >= 3)
    out = offset_polygon_round(poly, delta)
    assert len(out) >= len(poly)
    hull_out = convex_hull(out)
    # 1) every source vertex strictly inside the offset hull
    for v in poly:
        assert _inside_convex(hull_out, v, eps=1e-6)
    # 2) every offset sample within delta of the source boundary
    #    (arc samples sit on vertex circles of radius exactly delta)
    for q in out:
        d = _dist_point_to_poly_boundary(q, poly)
        assert d <= delta + 1e-6, f"sample {q} at {d} > delta {delta}"


@COMMON
@given(st.integers(0, 2**32 - 1), st.integers(4, 12), st.floats(0.5, 20.0))
def test_offset_polygon_orientation_invariant_measures(seed, n, delta):
    """CW input must offset to the same REGION as CCW input (the function
    normalizes orientation): compare hull area + perimeter, not point
    order."""
    poly = _convex_poly(seed, n)
    assume(len(poly) >= 3)
    a = convex_hull(offset_polygon_round(poly, delta))
    b = convex_hull(offset_polygon_round(poly[::-1].copy(), delta))
    assert polygon_area(a.astype(np.float32)) == pytest.approx(
        polygon_area(b.astype(np.float32)), rel=1e-4, abs=1e-3
    )
    assert polygon_perimeter(a) == pytest.approx(polygon_perimeter(b), rel=1e-4)


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 200)),
        min_size=4,
        max_size=4,
    )
)
def test_sort_pnts_is_a_permutation(pts):
    arr = np.array(pts, dtype=np.int64)
    out, vertical = sort_pnts(arr)
    assert isinstance(vertical, bool)
    assert out.shape == (4, 2)
    assert sorted(map(tuple, out.tolist())) == sorted(map(tuple, arr.tolist()))
    # determinism
    out2, v2 = sort_pnts(arr)
    assert np.array_equal(out, out2) and v2 == vertical


@COMMON
@given(st.integers(0, 2**32 - 1), st.integers(3, 20), st.integers(1, 5))
def test_measures_under_integer_scaling(seed, n, k):
    """Similarity transforms: scale by k multiplies perimeter by k and
    area by k^2; min_area_rect dims scale by k."""
    poly = _convex_poly(seed, n)
    assume(len(poly) >= 3)
    big = poly * k
    assert polygon_perimeter(big) == pytest.approx(k * polygon_perimeter(poly), rel=1e-9)
    assert polygon_area(big.astype(np.float64)) == pytest.approx(
        k * k * polygon_area(poly.astype(np.float64)), rel=1e-6
    )
    _, w0, h0 = min_area_rect(poly)
    _, w1, h1 = min_area_rect(big)
    assert w0 * h0 * k * k == pytest.approx(w1 * h1, rel=1e-4, abs=1e-6)


@COMMON
@given(st.integers(0, 2**32 - 1), st.integers(3, 20))
def test_min_area_rect_rot90_invariant(seed, n):
    """Rotating the point set by 90 degrees must not change the minimal
    area (the rectangle rotates with it)."""
    poly = _convex_poly(seed, n)
    rot = np.stack([-poly[:, 1], poly[:, 0]], axis=1)
    _, w0, h0 = min_area_rect(poly)
    _, w1, h1 = min_area_rect(rot)
    assert w0 * h0 == pytest.approx(w1 * h1, rel=1e-4, abs=1e-6)


# ---------------------------------------------------------------------------
# differential: replaced implementations as references


def _offset_polygon_round_loop(poly: np.ndarray, delta: float, arc_steps: int = 8) -> np.ndarray:
    """The per-vertex, per-angle loop that offset_polygon_round replaced."""
    p = np.asarray(poly, dtype=np.float64)
    n = len(p)
    if n < 3 or delta <= 0:
        return p.copy()
    area2 = float(
        np.dot(p[:, 0], np.roll(p[:, 1], -1)) - np.dot(p[:, 1], np.roll(p[:, 0], -1))
    )
    if area2 < 0:
        p = p[::-1]
    out = []
    for i in range(len(p)):
        prev_ = p[i - 1]
        cur = p[i]
        nxt = p[(i + 1) % len(p)]
        e0 = cur - prev_
        e1 = nxt - cur
        l0, l1 = np.hypot(*e0), np.hypot(*e1)
        if l0 == 0 or l1 == 0:
            continue
        n0 = np.array([e0[1], -e0[0]]) / l0
        n1 = np.array([e1[1], -e1[0]]) / l1
        a0 = np.arctan2(n0[1], n0[0])
        a1 = np.arctan2(n1[1], n1[0])
        da = a1 - a0
        while da < 0:
            da += 2 * np.pi
        while da > 2 * np.pi:
            da -= 2 * np.pi
        steps = max(int(np.ceil(da / (np.pi / arc_steps))), 1)
        angles = a0 + da * np.arange(steps + 1) / steps
        for a in angles:
            out.append(cur + delta * np.array([np.cos(a), np.sin(a)]))
    return np.array(out, dtype=np.float64)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.integers(3, 16),
    st.floats(1e-6, 60.0),
    st.sampled_from([3, 8, 16]),
    st.booleans(),
    st.booleans(),
)
def test_offset_polygon_round_equals_per_vertex_loop(seed, n, delta, arc_steps, flip, real):
    """Random convex polygons in both orientations, on the integer grid
    (as unclip sees them) and off it."""
    rng = np.random.RandomState(seed)
    if real:
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        poly = rng.uniform(-500, 500, 2) + rng.uniform(1, 300) * np.stack(
            [np.cos(ang), np.sin(ang)], axis=1
        )
    else:
        poly = _convex_poly(seed, n)
    if flip:
        poly = poly[::-1]
    want = _offset_polygon_round_loop(poly, delta, arc_steps)
    got = offset_polygon_round(poly, delta, arc_steps)
    assert got.shape == want.shape
    assert np.array_equal(got, want)


@pytest.mark.parametrize(
    "poly",
    [
        [[0, 0], [0, 0], [5, 0], [5, 5]],  # repeated vertex: its arc is skipped
        [[0, 0], [4, 0], [8, 0], [8, 3]],  # collinear vertex
        [[0, 0], [10, 0], [0, 10], [10, 10]],  # bow-tie
        [[2, 2], [2, 2], [2, 2]],  # every vertex skipped
    ],
)
def test_offset_polygon_round_degenerate_equals_loop(poly):
    poly = np.array(poly, dtype=np.float64)
    want = _offset_polygon_round_loop(poly, 1.5)
    got = offset_polygon_round(poly, 1.5)
    assert got.shape == want.shape
    assert np.array_equal(got, want)


def _quad_area_via_hull(pts: np.ndarray) -> float:
    """The hull-based area that Quad.area's convex fast path replaced."""
    return polygon_area(convex_hull(np.asarray(pts).astype(np.float64)))


def _raw_quad(pts) -> Quad:
    """A Quad holding ``pts`` in the given corner order (no canonical sort),
    so bow-ties and other non-canonical orders reach Quad.area."""
    q = Quad([[0, 0], [1, 0], [1, 1], [0, 1]], 1.0)
    q.pts = np.asarray(pts, dtype=np.int64).reshape(4, 2)
    return q


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.tuples(st.integers(-4, 4), st.integers(-4, 4)), min_size=4, max_size=4),
    st.sampled_from([1, 7, 4000]),
    st.booleans(),
)
def test_quad_area_equals_hull_area(pts, scale, canonical):
    """Small grids make collinear, repeated and crossed corners common; the
    scale takes coordinates up to image size."""
    pts = np.array(pts, dtype=np.int64) * scale
    q = Quad(pts, 1.0) if canonical else _raw_quad(pts)
    want = _quad_area_via_hull(q.pts)
    got = q.area()
    assert got == want and type(got) is type(want)


@pytest.mark.parametrize(
    "pts,area",
    [
        ([[0, 0], [10, 0], [10, 5], [0, 5]], 50.0),  # convex, CW in image coords
        ([[0, 5], [10, 5], [10, 0], [0, 0]], 50.0),  # convex, the other way
        ([[0, 0], [10, 10], [10, 0], [0, 10]], 100.0),  # bow-tie: area of its hull
        ([[0, 0], [5, 0], [10, 0], [0, 4]], 20.0),  # collinear corner
        ([[0, 0], [0, 0], [6, 0], [0, 6]], 18.0),  # repeated corner
        ([[0, 0], [4, 4], [8, 8], [2, 2]], 0.0),  # all on one line
        ([[3, 3], [3, 3], [3, 3], [3, 3]], 0.0),  # one point
        ([[0, 0], [10, 0], [2, 2], [0, 10]], 50.0),  # concave: area of its hull
    ],
)
def test_quad_area_degenerate_and_bow_tie(pts, area):
    q = _raw_quad(pts)
    assert q.area() == _quad_area_via_hull(q.pts) == area
