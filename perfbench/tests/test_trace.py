"""Tracer self time, SQL metric parsing, and the corpus's fixed composition."""

import time

import pytest

from perfbench import corpus
from perfbench.trace import Tracer, parse_metric


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("outer"):
        time.sleep(0.02)
        with t.span("inner"):
            time.sleep(0.03)
    selfs = t.self_times()
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and inner["run"] == outer["run"]
    assert selfs[inner["id"]] == pytest.approx(inner["end"] - inner["start"])
    assert selfs[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


@pytest.mark.parametrize(
    "text,value",
    [
        ("542", 542.0),
        ("15.7 KiB", 15.7 * 1024),
        ("210 ms", 0.21),
        ("1.2 s", 1.2),
        ("total (min, med, max (stageId: taskId))\n100.7 KiB (438.0 B, 1452.0 B, 15.3 KiB (stage 36.0: task 272))", 100.7 * 1024),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_every_seed_has_the_same_composition():
    a, b = corpus.counts(corpus.compose(1)), corpus.counts(corpus.compose(5))
    assert a == b == {"docs": 50, "spans": 473, "media_spans": 250, "heavy_docs": 1}
    assert corpus.compose(5) == corpus.compose(5)
    assert corpus.media_spans(corpus.text_only(corpus.compose(5))) == []
