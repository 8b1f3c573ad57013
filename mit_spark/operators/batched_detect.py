"""Cross-IMAGE forward batch packing for the media UDF (VERDICT r3 #7).

The reference batches detector forwards WITHIN one image (patch rearrange,
det_arrange.rs:95-129 packs up to max_batch_size=4 patches per ONNX call)
but never ACROSS images — each RawImage runs its own session.run. With a
real model the per-call overhead dominates small pages, so the Spark media
UDF packs same-shaped resized tensors from DIFFERENT images in the Arrow
batch into shared (<=max_batch_size, H, W, C) forward calls, behind the
same ForwardFn seam (operators/forward.py). Packing is possible because
resize_aspect_ratio pads every image to a multiple of 256 per side
(imageops.py resize_aspect_ratio), collapsing the corpus into a handful of
distinct tensor shapes.

Streaming: a shape group runs its forward, post-processing, OCR and
reading order as soon as it holds max_batch_size spans, then drops its
images and tensors; the partial groups run after the last span. So a
worker holds at most (distinct shapes x max_batch_size) rendered spans,
however long the Arrow batch, and the forward calls are the same as if the
whole batch had been staged first.

Output parity: phase A is detect_pre + infer_pre, phase C is infer_post +
detect_post — the exact single-image functions detector.detect composes —
so (kind, text, media_ref, order) rows are identical to the per-span path;
tests/test_batched_detect.py asserts row equality AND a strictly lower
forward-call count.

auto_rotate note: common.rs:40-44 makes the rerun fire unconditionally and
DISCARD the first pass (see detector.detect); the rerun differs only by
auto_rotate=False, so this path computes the rerun directly — one forward
where the per-span path spends two, with bit-identical output.

Poison isolation (SURVEY.md §2.10) is preserved at span granularity: a
failing span in phase A/C errors alone, and a forward that raises on a
PACKED batch falls back to per-image forwards so only the poisoned image
errors — one bad payload can never take its batch-mates down with it.
"""

from __future__ import annotations

import numpy as np

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators.detector import (
    detect,
    detect_post,
    detect_pre,
    infer_post,
    infer_pre,
)
from mit_spark.operators.forward import ForwardFn, get_forward
from mit_spark.operators.ocr import decode_quads
from mit_spark.operators.ordering import SPAN_STRIDE, reading_order, span_order
from mit_spark.operators.rearrange import should_rearrange
from mit_spark.synth import render_media


def effective_pre(pre: PreprocessorOptions) -> PreprocessorOptions:
    """The preprocessor flags the (always-firing) auto-rotate rerun actually
    runs with — auto_rotate stripped, everything else kept
    (detectors/mod.rs:59-67)."""
    if not pre.auto_rotate:
        return pre
    return PreprocessorOptions(
        invert=pre.invert,
        gamma_correct=pre.gamma_correct,
        rotate=pre.rotate,
        auto_rotate=False,
    )


def _error_row(span: tuple, e: Exception) -> tuple:
    doc_id, ref, off = span
    message = f"{type(e).__name__}: {e}"[:500]
    return (doc_id, "error", message, str(ref), int(off) * SPAN_STRIDE)


def _media_rows(span: tuple, img: np.ndarray, quads: list) -> list[tuple]:
    """OCR + reading order exactly as oracle.extract_media_span."""
    doc_id, ref, off = span
    ref, off = str(ref), int(off)
    if not quads:
        return [(doc_id, "media", "", ref, span_order(off, 0))]
    ranks = reading_order(quads)
    texts = decode_quads(img, quads)
    return [
        (doc_id, "media", text, ref, order)
        for order, text in sorted(
            (span_order(off, int(r)), t) for r, t in zip(ranks, texts)
        )
    ]


def extract_media_spans_batched(
    spans: list[tuple],
    opts: DetectorOptions,
    pre: PreprocessorOptions,
    *,
    forward: ForwardFn | None = None,
    fault_refs: frozenset = frozenset(),
) -> list[tuple]:
    """[(doc_id, media_ref, offset)] -> rows
    (doc_id, kind, text, media_ref, order), packing forwards across spans.

    One streaming pass over the span list:
      A. per span: render + detect_pre + infer_pre -> (tensor, ctx), appended
         to its tensor shape's group; spans on the rearrange path (already
         patch-batched internally) run the single-image detect directly.
      B. a group that reaches opts.max_batch_size runs as one stacked
         forward call; on a packed-call exception, each image is retried
         alone so only the poisoned one errors.
      C. per span of that call: infer_post + detect_post -> quads, then OCR
         + reading order exactly as oracle.extract_media_span; the group's
         images and tensors are dropped.
    After the last span, the partial groups run in sorted-shape order.
    Chunks are group-by-shape then arrival order, as if the whole list had
    been staged first; rows come back in input-span order.
    """
    forward = forward or get_forward("synthetic")
    pre_eff = effective_pre(pre)

    rows_by_idx: list[list[tuple]] = [[] for _ in spans]
    groups: dict[tuple, list] = {}  # shape -> [(idx, img, add_border, img_h, tensor, ctx)]

    def run_chunk(chunk: list) -> None:
        heads = None
        if len(chunk) > 1:
            try:
                db, mask = forward(np.stack([it[4] for it in chunk]))
                heads = [(db[j : j + 1], mask[j : j + 1]) for j in range(len(chunk))]
            except Exception:  # noqa: BLE001 — fall back to per-image
                heads = None
        for j, (idx, img, add_border, img_h, tensor, ctx) in enumerate(chunk):
            try:
                if heads is None:
                    db_j, mask_j = forward(tensor[None, ...])
                else:
                    db_j, mask_j = heads[j]
                quads, mask2d = infer_post(db_j, mask_j, ctx, opts)
                quads, _m = detect_post(quads, mask2d, add_border, pre_eff, img_h)
            except Exception as e:  # noqa: BLE001 — poison isolation
                rows_by_idx[idx] = [_error_row(spans[idx], e)]
                continue
            rows_by_idx[idx] = _media_rows(spans[idx], img, quads)

    for idx, (_doc_id, ref, _off) in enumerate(spans):
        try:
            if str(ref) in fault_refs:
                raise RuntimeError("fault injection")
            img = render_media(str(ref))
            work, add_border, img_h = detect_pre(img, pre_eff)
            if should_rearrange(work, opts.detect_size):
                quads, _mask = detect(img, forward, opts, pre_eff)
                staged = None
            else:
                tensor, ctx = infer_pre(work, opts)
                staged = (idx, img, add_border, img_h, tensor, ctx)
        except Exception as e:  # noqa: BLE001 — poison isolation
            rows_by_idx[idx] = [_error_row(spans[idx], e)]
            continue
        if staged is None:
            rows_by_idx[idx] = _media_rows(spans[idx], img, quads)
            continue
        group = groups.setdefault(tensor.shape, [])
        group.append(staged)
        if len(group) == opts.max_batch_size:
            run_chunk(groups.pop(tensor.shape))
    for shape in sorted(groups):
        run_chunk(groups.pop(shape))

    return [row for rows in rows_by_idx for row in rows]
