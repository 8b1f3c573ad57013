"""DBNet segmentation post-processing — numpy port of SegDetectorRepresenter.

Parity source: /root/reference/crates/util/src/dbnet.rs
  binarize              :55-57    pred > thresh elementwise
  call                  :70-101   slice channel 0, loop batch
  get_mini_boxes        :113-149  min-area rect + x-sort corner ordering
  box_score_fast        :151-222  masked mean of prob inside contour polygon
  boxes_from_bitmap     :224-297  candidate loop, thresholds, rescale, roll
  unclip                :300-324  round-join polygon offset,
                                  delta = signed_area * ratio / perimeter
  defaults              :327-337  min_size=3, thresh=0.6, box_thresh=0.8,
                                  max_candidates=1000, unclip=2.2
  (wired at runtime from DefaultOptions: dbnet/src/lib.rs:165-171)

Deliberate deviation, documented per SURVEY.md §2.5 A5: the reference
computes the offset delta on a 100x-scaled copy of the path but applies it
to the UNSCALED polygon (dbnet.rs:307-317), inflating delta 100x. We use the
standard DBNet delta (area * unclip_ratio / perimeter at original scale).
Equality in this engine is oracle == pipeline and both use this module.

"Contours" here are connected components of the thresholded map; the score
and the mini box are computed over the component's convex hull, which for
text blobs matches cv2's outer-contour behaviour. boxes_from_bitmap never
builds a component's pixels: contours.component_row_extremes reads each
component's leftmost and rightmost pixel per row straight off the labelled
runs, and those extremes carry the whole hull. That one hull per component
feeds both the score polygon and the min-area rectangle.
"""

from __future__ import annotations

import numpy as np

from mit_spark.operators.contours import (
    component_row_extremes,
    fill_polygon_mask,
    min_area_rect,
    min_area_rect_of_hull,
    offset_polygon_round,
    polygon_perimeter,
)
from mit_spark.operators.geometry import convex_hull, polygon_area, roll_rows, rust_round, trunc_i64


def binarize(pred: np.ndarray, thresh: float) -> np.ndarray:
    """dbnet.rs:55-57."""
    return pred > thresh


def get_mini_boxes(points: np.ndarray) -> tuple[np.ndarray, float]:
    """dbnet.rs:113-149: min-area rect corners ordered
    [left-top, right-top, right-bottom, left-bottom] via the x-sort +
    pairwise-y rules; returns (4x2 float32, min side length)."""
    return _mini_box(*min_area_rect(points))


def _mini_box(corners: np.ndarray, w: float, h: float) -> tuple[np.ndarray, float]:
    """get_mini_boxes' corner ordering, given ``min_area_rect``'s output."""
    order = np.argsort(corners[:, 0], kind="stable")
    pv = corners[order]
    if pv[1, 1] > pv[0, 1]:
        i1, i4 = 0, 1
    else:
        i1, i4 = 1, 0
    if pv[3, 1] > pv[2, 1]:
        i2, i3 = 2, 3
    else:
        i2, i3 = 3, 2
    box = np.stack([pv[i1], pv[i2], pv[i3], pv[i4]]).astype(np.float32)
    return box, float(min(w, h))


def box_score_fast(pred: np.ndarray, contour_poly: np.ndarray) -> float:
    """dbnet.rs:151-222: mean of ``pred`` inside the filled polygon, over the
    clamped bounding-box ROI."""
    h, w = pred.shape
    xs = contour_poly[:, 0]
    ys = contour_poly[:, 1]
    xmin = int(np.clip(np.floor(xs.min()), 0, w - 1))
    xmax = int(np.clip(np.ceil(xs.max()), 0, w - 1))
    ymin = int(np.clip(np.floor(ys.min()), 0, h - 1))
    ymax = int(np.clip(np.ceil(ys.max()), 0, h - 1))
    bw = xmax - xmin + 1
    bh = ymax - ymin + 1
    shifted = contour_poly - np.array([xmin, ymin], dtype=np.float64)
    mask = fill_polygon_mask(shifted, bw, bh)
    roi = pred[ymin : ymax + 1, xmin : xmax + 1]
    cnt = int(mask.sum())
    if cnt == 0:
        return 0.0
    return float(roi[mask].astype(np.float64).sum() / cnt)


def unclip(box: np.ndarray, unclip_ratio: float) -> np.ndarray:
    """dbnet.rs:300-324 semantics with standard-DBNet delta (see module doc):
    round-join outward offset by area * ratio / perimeter."""
    poly = np.asarray(box, dtype=np.float64)
    perim = polygon_perimeter(poly)
    if perim <= 0:
        return poly
    delta = polygon_area(poly) * unclip_ratio / perim
    return offset_polygon_round(poly, delta)


def boxes_from_bitmap(
    pred: np.ndarray,
    bitmap: np.ndarray,
    dest_width: int,
    dest_height: int,
    *,
    min_size: float = 3.0,
    box_thresh: float = 0.8,
    max_candidates: int = 1000,
    unclip_ratio: float = 2.2,
) -> tuple[np.ndarray, np.ndarray]:
    """dbnet.rs:224-297. Returns (boxes (N,4,2) int64, scores (N,) float64);
    rejected candidates keep zero rows/scores exactly like the reference
    (filtered later by filter_boxes_and_adjust)."""
    height, width = bitmap.shape
    # per-row x-extremes carry each component's full convex hull — avoids
    # building and hulling hundreds of thousands of interior pixels
    comps = component_row_extremes(bitmap)
    num = min(len(comps), max_candidates)
    boxes = np.zeros((num, 4, 2), dtype=np.int64)
    scores = np.zeros(num, dtype=np.float64)

    for index in range(num):
        # one hull per component serves both the score polygon and the
        # min-area rectangle
        hull = convex_hull(comps[index].astype(np.float64))
        points, sside = _mini_box(*min_area_rect_of_hull(hull))
        if sside < min_size:
            continue
        score = box_score_fast(pred, hull)
        if box_thresh > score:
            continue

        expanded = unclip(points.astype(np.float64), unclip_ratio)
        # reference: Point::new(x as i32, y as i32) — truncation toward zero
        expanded_i = trunc_i64(expanded).astype(np.float64)
        box, sside = get_mini_boxes(expanded_i)
        if sside < min_size + 2.0:
            continue

        x = np.clip(rust_round(box[:, 0] / width * dest_width), 0.0, float(dest_width))
        y = np.clip(rust_round(box[:, 1] / height * dest_height), 0.0, float(dest_height))
        out = np.stack([x, y], axis=1)
        startidx = int(np.argmin(out.sum(axis=1)))
        out = roll_rows(out, 4 - startidx)
        scores[index] = score
        boxes[index] = out.astype(np.int64)

    return boxes, scores


def representer_call(
    pred_batch: np.ndarray,
    shapes: list[tuple[int, int]],
    *,
    thresh: float,
    box_thresh: float,
    min_size: float = 3.0,
    max_candidates: int = 1000,
    unclip_ratio: float = 2.2,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """SegDetectorRepresenter::call (dbnet.rs:70-101): slice channel 0,
    binarize, per-batch-item boxes_from_bitmap. ``shapes`` is
    [(dest_height, dest_width), ...] like Batch.shape."""
    pred = pred_batch[:, 0, :, :]
    seg = binarize(pred, thresh)
    boxes_batch, scores_batch = [], []
    for bi, (dh, dw) in enumerate(shapes[: pred.shape[0]]):
        b, s = boxes_from_bitmap(
            pred[bi],
            seg[bi],
            dw,
            dh,
            min_size=min_size,
            box_thresh=box_thresh,
            max_candidates=max_candidates,
            unclip_ratio=unclip_ratio,
        )
        boxes_batch.append(b)
        scores_batch.append(s)
    return boxes_batch, scores_batch


def filter_boxes_and_adjust(boxes: np.ndarray, ratio_w: float, ratio_h: float) -> np.ndarray:
    """dbnet/src/lib.rs:224-253: drop all-zero rows, scale by (ratio_w,
    ratio_h), truncate back to i64."""
    if boxes.size == 0:
        return np.zeros((0, 4, 2), dtype=np.int64)
    keep = boxes.reshape(boxes.shape[0], -1).sum(axis=1) > 0
    polys = boxes[keep].astype(np.float64)
    polys = polys * np.array([ratio_w, ratio_h], dtype=np.float64)
    return trunc_i64(polys)
