"""The output checker accepts the oracle's own output and rejects broken copies."""

import pytest

from mit_spark.config import DetectorOptions, PipelineConfig
from mit_spark.oracle import extract_docs
from mit_spark.synth import gen_docs
from perfbench import checker

CFG = PipelineConfig(detector=DetectorOptions(detect_size=512, emit_mask=False))


@pytest.fixture(scope="module")
def docs():
    # small docs with text and media spans, several glyphs per image
    return [d for d in gen_docs(12, prefix="chk") if any(s["kind"] == "media" for s in d["spans"])][:4]


@pytest.fixture(scope="module")
def oracle(docs):
    return extract_docs(docs, CFG)


def test_correct_output_passes(docs, oracle):
    res = checker.check(docs, oracle, oracle)
    assert res["correct_docs"] == len(docs) and res["failed_media_spans"] == 0, res


def test_negative_controls_fail(docs, oracle):
    controls = checker.corrupted(oracle)
    assert {what for what, _ in controls} == {"text edited", "reading order swapped"}
    for what, bad in controls:
        assert checker.check(docs, bad, oracle)["correct_docs"] == len(docs) - 1, what
    assert checker.negative_control_ok(docs, oracle, oracle)


def test_missing_media_span_counts_as_failed(docs, oracle):
    d0 = oracle[0]
    ref = next(s["media_ref"] for s in d0["spans"] if s["kind"] == "media")
    dropped = [dict(d0, spans=[s for s in d0["spans"] if s["media_ref"] != ref])] + oracle[1:]
    res = checker.check(docs, dropped, oracle)
    assert res["failed_media_spans"] == 1 and res["correct_docs"] == len(docs) - 1


def test_missing_and_extra_docs_are_wrong(docs, oracle):
    res = checker.check(docs, oracle[1:] + [{"doc_id": "nope", "spans": []}], oracle)
    assert res["correct_docs"] == len(docs) - 1 and res["docs"] == len(docs) + 1

