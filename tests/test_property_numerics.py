"""Property-based tests (hypothesis) for the pure-numpy numerics that the
flagship detect path and the media codecs are built on.

The golden tests (test_imageops / test_contours / test_*_codec) pin the
reference vectors; these tests pin the ALGEBRA on randomized inputs —
each property is checked against a small brute-force reference written
directly from the definition, so a vectorization bug that happens to
preserve the goldens still fails here.

No SparkSession: everything here is worker-side payload code, so the
module runs in milliseconds and exercises the exact functions the Arrow
UDFs call (batched_detect -> detector -> dbnet_post -> contours/imageops;
multimodal -> png/jpeg/wav codecs).
"""

from __future__ import annotations

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from mit_spark.operators.contours import (  # noqa: E402
    connected_components,
    min_area_rect,
)
from mit_spark.operators.geometry import convex_hull, polygon_area  # noqa: E402
from mit_spark.operators.imageops import resize  # noqa: E402
from mit_spark.operators.png_codec import decode_png, encode_png  # noqa: E402
from mit_spark.operators.wav_codec import decode_wav, encode_wav  # noqa: E402

COMMON = settings(max_examples=60, deadline=None)


# ---------------------------------------------------------------------------
# connected_components vs brute-force BFS (8-connectivity)


def _bfs_components(bm: np.ndarray) -> set[frozenset]:
    h, w = bm.shape
    seen = np.zeros_like(bm, dtype=bool)
    comps = set()
    for y in range(h):
        for x in range(w):
            if not bm[y, x] or seen[y, x]:
                continue
            stack, comp = [(x, y)], set()
            seen[y, x] = True
            while stack:
                cx, cy = stack.pop()
                comp.add((cx, cy))
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        nx, ny = cx + dx, cy + dy
                        if 0 <= nx < w and 0 <= ny < h and bm[ny, nx] and not seen[ny, nx]:
                            seen[ny, nx] = True
                            stack.append((nx, ny))
            comps.add(frozenset(comp))
    return comps


@COMMON
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(0, 2**32 - 1),
    st.floats(0.1, 0.9),
)
def test_connected_components_matches_bfs(h, w, seed, density):
    bm = np.random.RandomState(seed).rand(h, w) < density
    got = {frozenset(map(tuple, c.tolist())) for c in connected_components(bm)}
    assert got == _bfs_components(bm)


@COMMON
@given(st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**32 - 1))
def test_connected_components_partition_is_exact(h, w, seed):
    """Components partition the True pixels: disjoint and covering."""
    bm = np.random.RandomState(seed).rand(h, w) < 0.5
    comps = connected_components(bm)
    all_pts = [tuple(p) for c in comps for p in c.tolist()]
    assert len(all_pts) == len(set(all_pts)) == int(bm.sum())
    for x, y in all_pts:
        assert bm[y, x]


@COMMON
@given(
    st.integers(1, 16),
    st.integers(1, 16),
    st.integers(0, 2**32 - 1),
    st.floats(0.1, 0.9),
    st.integers(0, 9),
    st.integers(0, 9),
)
def test_connected_components_order_and_offset(h, w, seed, density, top, left):
    """The output order is part of the contract (boxes_from_bitmap's
    max_candidates cut and the candidate order depend on it): components
    by their first pixel in row-major order, each component's pixels
    row-major. Ink placed anywhere in a larger map gives the same
    components, shifted."""
    ink = np.random.RandomState(seed).rand(h, w) < density
    bm = np.zeros((h + top + 2, w + left + 5), dtype=bool)
    bm[top : top + h, left : left + w] = ink
    comps = connected_components(bm)
    for c in comps:
        assert c.dtype == np.int64 and c.shape[1] == 2
        keys = [(y, x) for x, y in c.tolist()]
        assert keys == sorted(set(keys))
    firsts = [(int(c[0, 1]), int(c[0, 0])) for c in comps]
    assert firsts == sorted(firsts)
    base = connected_components(ink)
    assert len(base) == len(comps)
    for b, c in zip(base, comps):
        assert np.array_equal(b + np.array([left, top]), c)


# ---------------------------------------------------------------------------
# convex_hull / min_area_rect geometry properties


def _inside_hull(hull: np.ndarray, p: np.ndarray, eps: float = 1e-7) -> bool:
    n = len(hull)
    if n == 1:
        return bool(np.allclose(hull[0], p, atol=1e-9))
    for i in range(n):
        a, b = hull[i], hull[(i + 1) % n]
        cross = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
        if cross < -eps * (1.0 + abs(cross)):
            return False
    return True


points_strategy = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(-50, 50)), min_size=1, max_size=40
)


@COMMON
@given(points_strategy)
def test_convex_hull_contains_all_points(pts):
    arr = np.array(pts, dtype=np.float64)
    hull = convex_hull(arr)
    # hull vertices are input points
    in_set = {tuple(p) for p in arr.tolist()}
    for v in hull.tolist():
        assert tuple(v) in in_set
    for p in arr:
        assert _inside_hull(hull, p)


@COMMON
@given(points_strategy)
def test_min_area_rect_encloses_and_beats_aabb(pts):
    arr = np.array(pts, dtype=np.float64)
    corners, w, h = min_area_rect(arr)
    assert w >= 0 and h >= 0
    # encloses every input point (project onto the rect's axes)
    c = corners.astype(np.float64)
    if w > 0 and h > 0:
        u = (c[1] - c[0]) / np.linalg.norm(c[1] - c[0])
        v = (c[3] - c[0]) / np.linalg.norm(c[3] - c[0])
        rel = arr - c[0]
        du, dv = rel @ u, rel @ v
        eps = 1e-4 * (1 + max(w, h))
        assert du.min() >= -eps and du.max() <= w + eps
        assert dv.min() >= -eps and dv.max() <= h + eps
        # min-area: never worse than the axis-aligned bounding box
        aabb = np.ptp(arr[:, 0]) * np.ptp(arr[:, 1])
        assert w * h <= aabb * (1 + 1e-9) + 1e-9


@COMMON
@given(points_strategy)
def test_polygon_area_nonnegative_on_hull(pts):
    arr = np.array(pts, dtype=np.float64)
    hull = convex_hull(arr)
    if len(hull) >= 3:
        assert polygon_area(hull.astype(np.float32)) >= 0.0


# ---------------------------------------------------------------------------
# bilinear resize vs the per-pixel scalar definition (bit-exact)


def _resize_bilinear_naive(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Direct per-output-pixel evaluation of the same half-pixel-center
    convention (coord = (i+0.5)*src/dst - 0.5, clamp-to-edge, f32 lerp,
    +0.5 truncate) — scalar, no shared temporaries with the fast path.

    Every lerp term is forced to float32: NumPy scalar promotion widens
    ``1 - np.float32`` to float64, which computes a DIFFERENT value at
    exact .5 rounding boundaries — the pipeline is deliberately all-f32
    (see the frac comment in imageops._bilinear_axis_coords), so the
    reference must be too."""
    one = np.float32(1)
    half = np.float32(0.5)
    h, w = img.shape[:2]
    out = np.empty((height, width) + img.shape[2:], dtype=np.uint8)
    sy, sx = h / height, w / width  # pre-divided scale, as the fast path does
    for oy in range(height):
        y = (oy + 0.5) * sy - 0.5
        y0 = int(np.floor(y))
        fy = np.float32(y - y0)
        y0c, y1c = min(max(y0, 0), h - 1), min(max(y0 + 1, 0), h - 1)
        for ox in range(width):
            x = (ox + 0.5) * sx - 0.5
            x0 = int(np.floor(x))
            fx = np.float32(x - x0)
            x0c, x1c = min(max(x0, 0), w - 1), min(max(x0 + 1, 0), w - 1)
            r0 = img[y0c, x0c].astype(np.float32) * (one - fy) + img[y1c, x0c].astype(
                np.float32
            ) * fy
            r1 = img[y0c, x1c].astype(np.float32) * (one - fy) + img[y1c, x1c].astype(
                np.float32
            ) * fy
            val = r0 * (one - fx) + r1 * fx + half
            out[oy, ox] = val.astype(np.uint8)
    return out


@COMMON
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(1, 16),
    st.integers(1, 16),
    st.integers(0, 2**32 - 1),
    st.booleans(),
)
def test_resize_bilinear_matches_scalar_definition(sh, sw, dh, dw, seed, rgb):
    shape = (sh, sw, 3) if rgb else (sh, sw)
    img = np.random.RandomState(seed).randint(0, 256, shape, dtype=np.uint8)
    got = resize(img, dw, dh, "bilinear")
    want = _resize_bilinear_naive(img, dw, dh)
    assert got.shape == want.shape
    np.testing.assert_array_equal(got, want)


@COMMON
@given(st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**32 - 1))
def test_resize_identity_is_noop(h, w, seed):
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
    np.testing.assert_array_equal(resize(img, w, h, "bilinear"), img)


# ---------------------------------------------------------------------------
# codec roundtrips on randomized payloads


@COMMON
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(0, 4),
    st.integers(0, 2**32 - 1),
    st.booleans(),
)
def test_png_roundtrip_all_filters(h, w, filt, seed, rgb):
    shape = (h, w, 3) if rgb else (h, w)
    img = np.random.RandomState(seed).randint(0, 256, shape, dtype=np.uint8)
    back = decode_png(encode_png(img, filter_type=filt))
    if not rgb:
        back = back[..., 0] if back.ndim == 3 else back
    np.testing.assert_array_equal(back.reshape(shape), img)


@COMMON
@given(
    st.integers(1, 400),
    st.integers(1, 4),
    st.integers(0, 2**32 - 1),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_lossless(n, ch, seed, rate):
    samples = (
        np.random.RandomState(seed)
        .randint(-(2**15), 2**15, (n, ch))
        .astype(np.int16)
    )
    got_rate, back = decode_wav(encode_wav(samples, rate=rate))
    assert got_rate == rate
    np.testing.assert_array_equal(back.reshape(n, ch), samples.reshape(n, ch))
