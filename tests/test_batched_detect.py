"""Cross-image forward batch packing (operators/batched_detect.py): the
packed path must emit EXACTLY the per-span rows with strictly fewer
forward calls, and a poisoned image inside a packed call must error alone."""

import numpy as np
import pytest

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators import batched_detect
from mit_spark.operators.batched_detect import extract_media_spans_batched
from mit_spark.operators.detector import detect_pre, infer_pre
from mit_spark.operators.forward import synthetic_forward
from mit_spark.operators.ordering import SPAN_STRIDE
from mit_spark.oracle import extract_media_span
from mit_spark.synth import gen_docs, render_media

OPTS = DetectorOptions(detect_size=512)
PRE = PreprocessorOptions()


def _spans(n_docs=6):
    spans = []
    for d in gen_docs(n_docs):
        for s in d["spans"]:
            if s["kind"] == "media":
                spans.append((d["doc_id"], s["media_ref"], s["offset"]))
    assert len(spans) >= 8, "need enough media spans to pack"
    return spans


def _counting_forward():
    calls = {"n": 0, "images": 0}

    def fw(batch):
        calls["n"] += 1
        calls["images"] += batch.shape[0]
        return synthetic_forward(batch)

    return fw, calls


def _per_span_rows(spans, opts, pre):
    rows = []
    for doc_id, ref, off in spans:
        for s in extract_media_span(str(ref), int(off), opts, pre):
            rows.append((doc_id, s["kind"], s["text"], s["media_ref"], s["order"]))
    return rows


def test_rows_equal_and_fewer_forward_calls():
    spans = _spans()
    fw, calls = _counting_forward()
    got = extract_media_spans_batched(spans, OPTS, PRE, forward=fw)
    want = _per_span_rows(spans, OPTS, PRE)
    assert got == want
    # per-span path = one forward per span; packing must beat it
    assert calls["images"] == len(spans)
    assert calls["n"] < len(spans), (
        f"{calls['n']} calls for {len(spans)} spans — nothing was packed"
    )
    # and no call exceeded the reference's ONNX batch cap
    assert calls["n"] >= -(-len(spans) // OPTS.max_batch_size)


def test_auto_rotate_output_parity_with_fewer_calls():
    """auto_rotate's rerun always fires and discards pass 1 (common.rs:40-44)
    — the batched path computes pass 2 directly: identical rows, and fewer
    forwards than even the non-auto-rotate per-span count."""
    pre = PreprocessorOptions(auto_rotate=True)
    spans = _spans()
    fw, calls = _counting_forward()
    got = extract_media_spans_batched(spans, OPTS, pre, forward=fw)
    assert got == _per_span_rows(spans, OPTS, pre)  # oracle runs the rerun
    assert calls["images"] == len(spans)  # not 2x len(spans)


def test_packed_call_failure_falls_back_to_single_images():
    """A forward that rejects every PACKED call must not lose any output:
    the per-image retry recomputes each batch-mate alone, so the rows are
    identical to the per-span path."""
    spans = _spans()

    def fw(batch):
        if batch.shape[0] > 1:
            raise RuntimeError("packed call rejected")
        return synthetic_forward(batch)

    got = extract_media_spans_batched(spans, OPTS, PRE, forward=fw)
    assert got == _per_span_rows(spans, OPTS, PRE)


def test_phase_a_fault_injection_isolates_span():
    spans = _spans()
    bad = str(spans[2][1])
    got = extract_media_spans_batched(
        spans, OPTS, PRE, fault_refs=frozenset([bad])
    )
    err_rows = [r for r in got if r[1] == "error"]
    assert len(err_rows) == sum(1 for s in spans if str(s[1]) == bad)
    assert all(r[3] == bad for r in err_rows)
    assert err_rows[0][4] % SPAN_STRIDE == 0
    # all other spans unaffected
    ok_want = _per_span_rows([s for s in spans if str(s[1]) != bad], OPTS, PRE)
    assert [r for r in got if r[1] != "error"] == ok_want


def test_single_poison_image_errors_alone_in_packed_call():
    """Forward raises iff the batch (packed or single) contains the poison
    image — the per-image fallback then errors exactly that span."""
    spans = _spans()
    poison_ref = str(spans[1][1])
    from mit_spark.operators.detector import detect_pre, infer_pre
    from mit_spark.synth import render_media

    work, _, _ = detect_pre(render_media(poison_ref), PRE)
    poison_tensor, _ = infer_pre(work, OPTS)
    psum = poison_tensor.astype(np.int64).sum()

    def fw(batch):
        for i in range(batch.shape[0]):
            if batch[i].astype(np.int64).sum() == psum and batch[i].shape == poison_tensor.shape:
                raise RuntimeError("poison image")
        return synthetic_forward(batch)

    got = extract_media_spans_batched(spans, OPTS, PRE, forward=fw)
    poison_offs = {int(o) for d, r, o in spans if str(r) == poison_ref}
    err_rows = [r for r in got if r[1] == "error"]
    assert {r[4] // SPAN_STRIDE for r in err_rows} == poison_offs
    ok_want = _per_span_rows([s for s in spans if str(s[1]) != poison_ref], OPTS, PRE)
    assert [r for r in got if r[1] != "error"] == ok_want


def test_streaming_runs_each_full_group_before_the_last_render(monkeypatch):
    """A shape group runs its forward as soon as it holds max_batch_size
    spans: the calls are exactly the group-by-shape-then-chunk calls of
    staging the whole list, the first fires before the last span is
    rendered, at most (shapes x max_batch_size) rendered spans wait at any
    call, and the rows equal the per-span oracle."""
    opts = DetectorOptions(detect_size=640)  # 3 tensor shapes here; 512 gives one
    mbs = opts.max_batch_size
    spans = [("stream", f"stream-{i}", i) for i in range(22)]

    idx_of_tensor = {}
    by_shape: dict[tuple, list[int]] = {}
    for i, (_doc, ref, _off) in enumerate(spans):
        work, _, _ = detect_pre(render_media(ref), PRE)
        tensor, _ = infer_pre(work, opts)
        idx_of_tensor[hash(tensor.tobytes())] = i
        by_shape.setdefault(tensor.shape, []).append(i)
    assert len(idx_of_tensor) == len(spans)
    assert len(by_shape) >= 2
    assert max(len(ix) for ix in by_shape.values()) >= 3 * mbs
    want_calls = sorted(
        tuple(ix[k : k + mbs]) for ix in by_shape.values() for k in range(0, len(ix), mbs)
    )

    renders = []

    def counting_render(ref):
        renders.append(ref)
        return render_media(ref)

    calls = []  # (spans rendered so far, span indices in the call)

    def fw(batch):
        calls.append((len(renders), tuple(idx_of_tensor[hash(b.tobytes())] for b in batch)))
        return synthetic_forward(batch)

    monkeypatch.setattr(batched_detect, "render_media", counting_render)
    got = extract_media_spans_batched(spans, opts, PRE, forward=fw)

    assert sorted(ix for _n, ix in calls) == want_calls
    assert calls[0][0] < len(spans), "first forward waited for the last render"
    forwarded = 0
    for n_rendered, ix in calls:
        assert n_rendered - forwarded <= len(by_shape) * mbs
        forwarded += len(ix)
    assert got == _per_span_rows(spans, opts, PRE)
