"""Quadrilateral geometry — numpy ports of the reference's canonical-order
and accessor semantics.

Parity sources (read-only reference, /root/reference/):
  * sort_pnts + vertical flag  crates/interface/src/detectors/textlines.rs:75-147
  * structure / aspect / area  crates/interface/src/detectors/textlines.rs:33-69
  * roll_rows (start-corner roll) crates/util/src/dbnet.rs:38-53

Integer semantics matter (SURVEY.md §7 "hard parts"):
  * Rust `(a + b) / 2` on i64 truncates toward zero -> ``trunc_div``
  * Rust `f as i64` truncates toward zero       -> ``trunc_i64``
  * Rust `f.round()` rounds half away from zero -> ``rust_round``
All functions are pure numpy/python — shared verbatim by the single-process
oracle and the Spark pandas-UDF path, so span-sequence equality is exact.
"""

from __future__ import annotations

import numpy as np


# ---------------------------------------------------------------------------
# integer semantics helpers


def trunc_div(a: int, b: int) -> int:
    """Rust integer division: truncates toward zero (Python // floors)."""
    q = abs(a) // abs(b)
    if (a < 0) != (b < 0):
        q = -q
    return q


def trunc_i64(x):
    """Rust `as i64`: truncate toward zero. Works on scalars and arrays."""
    return np.trunc(np.asarray(x)).astype(np.int64)


def rust_round(x):
    """Rust f32/f64 `round()`: half away from zero (numpy rounds half-even)."""
    x = np.asarray(x, dtype=np.float64)
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


# ---------------------------------------------------------------------------
# canonical corner order (textlines.rs:75-147)


def sort_pnts(pts: np.ndarray) -> tuple[np.ndarray, bool]:
    """Canonicalize 4 corners and derive the vertical flag.

    The mean of the two "long side" pairwise vectors (ranks 8 and 10 of the
    16 pairwise vectors sorted by norm) gives the text-line direction;
    vertical iff |mean_x| <= |mean_y|. Then:
      vertical:   sort by y; top pair left->right, bottom pair right->left
      horizontal: sort by x; left pair top->bottom, right pair top->bottom,
                  emitted [left_top, right_top, right_bottom, left_bottom]
    Both yield clockwise-from-top-left [TL, TR, BR, BL].
    """
    pts = np.asarray(pts, dtype=np.int64).reshape(4, 2)

    # 16 pairwise vectors p[i] - p[j], row-major in (i, j)
    diff = (pts[:, None, :] - pts[None, :, :]).reshape(16, 2)
    norms = np.sqrt((diff[:, 0] ** 2 + diff[:, 1] ** 2).astype(np.float64))
    order = np.argsort(norms, kind="stable")

    long_ids = [int(order[8]), int(order[10])]
    v0 = diff[long_ids[0]].copy()
    v1 = diff[long_ids[1]]
    if int(v0[0]) * int(v1[0]) + int(v0[1]) * int(v1[1]) < 0:
        v0 = -v0
    mean_x = abs((int(v0[0]) + int(v1[0])) / 2.0)
    mean_y = abs((int(v0[1]) + int(v1[1])) / 2.0)
    vertical = mean_x <= mean_y

    if vertical:
        by_y = pts[np.argsort(pts[:, 1], kind="stable")]
        top = by_y[:2][np.argsort(by_y[:2, 0], kind="stable")]          # L->R
        bottom = by_y[2:][np.argsort(-by_y[2:, 0], kind="stable")]      # R->L
        out = np.vstack([top, bottom])
    else:
        by_x = pts[np.argsort(pts[:, 0], kind="stable")]
        left = by_x[:2][np.argsort(by_x[:2, 1], kind="stable")]         # T->B
        right = by_x[2:][np.argsort(by_x[2:, 1], kind="stable")]        # T->B
        out = np.vstack([left[0], right[0], right[1], left[1]])
    return out, bool(vertical)


# ---------------------------------------------------------------------------
# convex hull + shoelace (Quadrilateral::polygon/area, textlines.rs:33-44)


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns CCW hull vertices (no repeat).

    Runs on python float tuples with the cross product inlined: the chain
    is inherently sequential, and per-point numpy scalar indexing made this
    one of the detect path's hottest functions (~100k cross() calls per 80
    images). Python floats ARE IEEE-754 doubles, so the arithmetic and the
    <= 0 comparisons are bit-identical to the previous numpy version;
    sorted(set(...)) of tuples gives the same lexicographic dedup+order as
    np.unique(axis=0)."""
    a = np.asarray(points, dtype=np.float64)
    # tolist() yields native python floats in one C pass — same IEEE-754
    # doubles, same lexicographic dedup/order, ~4x less per-call overhead
    # than per-element float() on numpy scalars
    pts = sorted(set(map(tuple, a.tolist())))
    if len(pts) <= 2:
        return np.array(pts, dtype=np.float64).reshape(-1, 2)

    lower: list = []
    for p in pts:
        px, py = p
        while len(lower) >= 2:
            ox, oy = lower[-2]
            ax, ay = lower[-1]
            if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                lower.pop()
            else:
                break
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        px, py = p
        while len(upper) >= 2:
            ox, oy = upper[-2]
            ax, ay = upper[-1]
            if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                upper.pop()
            else:
                break
        upper.append(p)
    return np.array(lower[:-1] + upper[:-1], dtype=np.float64)


def polygon_area(poly: np.ndarray) -> float:
    """Unsigned shoelace area of a simple polygon."""
    p = np.asarray(poly, dtype=np.float64)
    if len(p) < 3:
        return 0.0
    x, y = p[:, 0], p[:, 1]
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


# ---------------------------------------------------------------------------
# Quadrilateral (textlines.rs:3-70)


class Quad:
    """Canonicalized text-region quadrilateral (pts int64 [TL,TR,BR,BL])."""

    __slots__ = ("pts", "score", "vertical", "_area")

    def __init__(self, pts, score: float):
        p, v = sort_pnts(np.asarray(pts, dtype=np.int64).reshape(4, 2))
        self.pts = p
        self.score = float(score)
        self.vertical = v
        self._area: float | None = None

    def area(self) -> float:
        """Convex-hull unsigned area (textlines.rs:33-44). Memoized: pts
        are fixed at construction and the O-family filters re-query area
        for the same quad several times per image.

        When the corners, in order, turn strictly the same way at every
        vertex, they are a strictly convex quad and are their own hull: the
        shoelace sum is then taken directly, in exact integer arithmetic,
        which is the value the float64 hull path computes exactly for
        coordinates below 2**25. Any other quad (collinear or repeated
        corners, a bow-tie) goes through the hull."""
        if self._area is None:
            (x0, y0), (x1, y1), (x2, y2), (x3, y3) = self.pts.tolist()
            turns = (
                (x1 - x0) * (y2 - y1) - (y1 - y0) * (x2 - x1),
                (x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2),
                (x3 - x2) * (y0 - y3) - (y3 - y2) * (x0 - x3),
                (x0 - x3) * (y1 - y0) - (y0 - y3) * (x1 - x0),
            )
            if all(t > 0 for t in turns) or all(t < 0 for t in turns):
                twice = x0 * y1 - x1 * y0 + x1 * y2 - x2 * y1 + x2 * y3 - x3 * y2 + x3 * y0 - x0 * y3
                self._area = abs(twice) / 2.0
            else:
                self._area = polygon_area(convex_hull(self.pts.astype(np.float64)))
        return self._area

    def structure(self) -> np.ndarray:
        """Midpoints of (p0,p1),(p2,p3),(p1,p2),(p3,p0) with Rust i64 `/2`."""
        p = self.pts
        mids = []
        for a, b in ((0, 1), (2, 3), (1, 2), (3, 0)):
            mids.append(
                (
                    trunc_div(int(p[a, 0]) + int(p[b, 0]), 2),
                    trunc_div(int(p[a, 1]) + int(p[b, 1]), 2),
                )
            )
        return np.array(mids, dtype=np.int64)

    def aspect_ratio(self) -> float:
        """horizontal_len / vertical_len of the structure vectors
        (textlines.rs:57-69)."""
        s = self.structure().astype(np.float64)
        v1 = s[1] - s[0]  # vertical
        v2 = s[3] - s[2]  # horizontal
        vertical_len = float(np.hypot(v1[0], v1[1]))
        horizontal_len = float(np.hypot(v2[0], v2[1]))
        return horizontal_len / vertical_len


# ---------------------------------------------------------------------------
# row roll (dbnet.rs:38-53) — numpy np.roll has identical semantics


def roll_rows(arr: np.ndarray, shift: int) -> np.ndarray:
    """Rotate rows down by ``shift`` (negative rolls up); == np.roll axis 0."""
    if arr.shape[0] == 0:
        return arr.copy()
    return np.roll(arr, shift, axis=0)
