"""The worker replay reproduces the batched UDF rows, and its counts repeat."""

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators.batched_detect import extract_media_spans_batched
from mit_spark.operators.forward import get_forward
from perfbench import corpus, replay
from perfbench.trace import Tracer

OPTS = DetectorOptions(detect_size=512, emit_mask=False)
COUNTS = (
    "forward.calls_per_span",
    "imageops.resize_calls_per_span",
    "geometry.convex_hull_calls_per_span",
    "contours.components_per_span",
)


def _spans(n=24):
    return corpus.media_spans(corpus.compose(1))[:n]


def test_replay_rows_equal_batched_rows():
    spans = _spans()
    pre = PreprocessorOptions()
    want = extract_media_spans_batched(spans, OPTS, pre)
    tracer = Tracer()
    got = replay.replay_chunk(spans, OPTS, pre, get_forward("synthetic"), tracer)
    assert got == want
    assert {s["name"] for s in tracer.spans} >= {"synth.render_media", "forward", "ocr.decode_quads"}


def test_run_reports_equal_rows_and_repeatable_counts():
    spans = _spans()
    a, b = replay.run(spans, 3, OPTS), replay.run(spans, 3, OPTS)
    assert a["rows_equal"] and b["rows_equal"]
    assert {k: a["metrics"][k] for k in COUNTS} == {k: b["metrics"][k] for k in COUNTS}
    assert set(a["metrics"]) >= {m for m in replay.LAYERS.values() if m}
