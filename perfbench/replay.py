"""Single-process replay of the media UDF's worker layers.

Replays the benchmark corpus's media spans through the same public functions
``batched_detect.extract_media_spans_batched`` composes -- render_media ->
detect_pre -> infer_pre -> forward (packed by tensor shape) -> infer_post ->
detect_post -> reading_order / decode_quads -- with a span around each call.
The replay must yield the batched path's rows exactly; ``rows_equal`` says
whether it did.

Run it as its own process with ``session.WORKER_ENV`` already in the
environment (glibc reads ``MALLOC_*`` only at start-up):

    python3 perfbench/replay.py --seed 1
"""

from __future__ import annotations

import argparse
import cProfile
import json
import math
import os
import pstats
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from mit_spark.config import DetectorOptions, PreprocessorOptions  # noqa: E402
from mit_spark.operators.batched_detect import effective_pre, extract_media_spans_batched  # noqa: E402
from mit_spark.operators.contours import connected_components  # noqa: E402
from mit_spark.operators.dbnet_post import binarize  # noqa: E402
from mit_spark.operators.detector import detect, detect_post, detect_pre, infer_post, infer_pre  # noqa: E402
from mit_spark.operators.forward import get_forward  # noqa: E402
from mit_spark.operators.ocr import decode_quads  # noqa: E402
from mit_spark.operators.ordering import reading_order, span_order  # noqa: E402
from mit_spark.operators.rearrange import should_rearrange  # noqa: E402
from mit_spark.plans.pipeline import media_task_count  # noqa: E402
from mit_spark.synth import render_media  # noqa: E402
from perfbench.run import DETECT_SIZE, PARALLELISM  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

# worker layers, each the span around one public call; their sum should
# cover the batched path's wall time
LAYERS = {
    "synth.render_media": "synth.render_ms_per_span",
    "detector.detect_pre": "detector.pre_ms_per_span",
    "detector.rearrange": None,
    "detector.infer_pre": "imageops.resize_ms_per_span",
    "forward": "forward.ms_per_span",
    "detector.infer_post": "dbnet_post.ms_per_span",
    "detector.detect_post": "detector.post_ms_per_span",
    "ordering.reading_order": "ordering.ms_per_span",
    "ocr.decode_quads": "ocr.ms_per_span",
}


def replay_chunk(spans, opts, pre, forward, tracer: Tracer, count: dict | None = None) -> list[tuple]:
    """Rows for one UDF batch, layer by layer. ``count`` (when given)
    accumulates connected components per image, outside the layer spans."""
    pre_eff = effective_pre(pre)
    staged, quads_by_idx = [], {}
    for idx, (_doc, ref, _off) in enumerate(spans):
        with tracer.span("synth.render_media"):
            img = render_media(str(ref))
        with tracer.span("detector.detect_pre"):
            work, add_border, img_h = detect_pre(img, pre_eff)
        if should_rearrange(work, opts.detect_size):
            with tracer.span("detector.rearrange"):
                quads_by_idx[idx] = (img, detect(img, forward, opts, pre_eff)[0])
            continue
        with tracer.span("detector.infer_pre"):
            tensor, ctx = infer_pre(work, opts)
        staged.append((idx, img, add_border, img_h, tensor, ctx))

    groups = defaultdict(list)
    for item in staged:
        groups[item[4].shape].append(item)
    for _shape, items in sorted(groups.items()):
        for i0 in range(0, len(items), opts.max_batch_size):
            chunk = items[i0 : i0 + opts.max_batch_size]
            with tracer.span("forward"):
                if len(chunk) > 1:
                    db, mask = forward(np.stack([it[4] for it in chunk]))
                    heads = [(db[j : j + 1], mask[j : j + 1]) for j in range(len(chunk))]
                else:
                    heads = [forward(chunk[0][4][None, ...])]
            for (idx, img, add_border, img_h, _t, ctx), (db_j, mask_j) in zip(chunk, heads):
                if count is not None:
                    with tracer.span("count.components"):
                        bitmap = binarize(db_j[:, 0, :, :], opts.text_threshold)[0]
                        count["components"] += len(connected_components(bitmap))
                with tracer.span("detector.infer_post"):
                    quads, mask2d = infer_post(db_j, mask_j, ctx, opts)
                with tracer.span("detector.detect_post"):
                    quads, _m = detect_post(quads, mask2d, add_border, pre_eff, img_h)
                quads_by_idx[idx] = (img, quads)

    rows = []
    for idx, (doc_id, ref, off) in enumerate(spans):
        ref, off = str(ref), int(off)
        img, quads = quads_by_idx[idx]
        if not quads:
            rows.append((doc_id, "media", "", ref, span_order(off, 0)))
            continue
        with tracer.span("ordering.reading_order"):
            ranks = reading_order(quads)
        with tracer.span("ocr.decode_quads"):
            texts = decode_quads(img, quads)
        for order, text in sorted((span_order(off, int(r)), t) for r, t in zip(ranks, texts)):
            rows.append((doc_id, "media", text, ref, order))
    return rows


def _chunks(spans, size):
    return [spans[i : i + size] for i in range(0, len(spans), size)]


def run(spans: list[tuple], parallelism: int, opts: DetectorOptions) -> dict:
    pre = PreprocessorOptions()
    n = len(spans)
    # one chunk per Spark media task, as the UDF sees them at this parallelism
    chunks = _chunks(spans, max(1, math.ceil(n / media_task_count(parallelism))))
    base_forward = get_forward("synthetic")
    calls = {"forward": 0}

    def counting_forward(batch):
        calls["forward"] += 1
        return base_forward(batch)

    extract_media_spans_batched(spans[:8], opts, pre)  # warm-up: imports, allocator arenas

    # the three passes interleave chunk by chunk, rotating which goes first,
    # so a drift in host speed lands on all three alike
    off, tracer = Tracer(enabled=False), Tracer()
    count = {"components": 0}
    wall = {"batched": 0.0, "untraced": 0.0, "traced": 0.0}
    batched_rows, replay_rows = [], []

    def batched(c):
        batched_rows.extend(extract_media_spans_batched(c, opts, pre, forward=counting_forward))

    def untraced(c):
        replay_chunk(c, opts, pre, base_forward, off)

    def traced(c):
        with tracer.span("replay.chunk"):
            replay_rows.extend(replay_chunk(c, opts, pre, base_forward, tracer, count))

    passes = [("batched", batched), ("untraced", untraced), ("traced", traced)]
    for i, c in enumerate(chunks):
        for name, fn in passes[i % 3:] + passes[: i % 3]:
            t0 = time.perf_counter()
            fn(c)
            wall[name] += time.perf_counter() - t0
    batched_s, untraced_s = wall["batched"], wall["untraced"]
    traced_s = wall["traced"] - tracer.total("count.components")

    prof = cProfile.Profile()
    prof.enable()
    for c in chunks:
        extract_media_spans_batched(c, opts, pre)
    prof.disable()
    resize_calls = hull_calls = 0
    for (filename, _line, func), row in pstats.Stats(prof).stats.items():
        if filename.endswith(os.path.join("operators", "imageops.py")) and func.startswith("resize"):
            resize_calls += row[1]
        if filename.endswith(os.path.join("operators", "geometry.py")) and func == "convex_hull":
            hull_calls += row[1]

    layer_sum = sum(tracer.total(name) for name in LAYERS)
    metrics = {
        "batched_detect.ms_per_span": 1e3 * batched_s / n,
        "batched_detect.coverage": layer_sum / batched_s,
        "forward.calls_per_span": calls["forward"] / n,
        "imageops.resize_calls_per_span": resize_calls / n,
        "geometry.convex_hull_calls_per_span": hull_calls / n,
        "contours.components_per_span": count["components"] / n,
        "trace.overhead_ms_per_span": 1e3 * (traced_s - untraced_s) / n,
    }
    for name, metric in LAYERS.items():
        if metric:
            metrics[metric] = 1e3 * tracer.total(name) / n
    return {
        "metrics": metrics,
        "rows_equal": replay_rows == batched_rows,
        "media_spans": n,
        "chunks": len(chunks),
        "tracer": tracer,
    }


def main() -> int:
    from perfbench import corpus

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace-out", default=None, help="write the replay's spans here")
    args = ap.parse_args()
    opts = DetectorOptions(detect_size=DETECT_SIZE, emit_mask=False)
    out = run(corpus.media_spans(corpus.compose(args.seed)), PARALLELISM, opts)
    if args.trace_out:
        out["tracer"].write(args.trace_out)
    print(json.dumps({k: out[k] for k in ("metrics", "rows_equal", "media_spans", "chunks")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
