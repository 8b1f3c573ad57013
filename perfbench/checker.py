"""Output checker, run outside every timed region.

A document is correct when its output spans
  * are sorted by ``order`` and cover exactly its input spans;
  * carry the generator's truth: ``synth.make_text_span`` clean text for a
    text span, and for a media span the multiset of glyph texts of
    ``synth.media_truth`` with ranks 0..n-1;
  * equal the single-process numpy oracle (``oracle.extract_docs``) span for
    span, which fixes the reading order inside each image.

A media span with no output row is a failed operation: the pipeline turns a
raising span into a ``kind='error'`` row and drops it before the regroup.
"""

from __future__ import annotations

from mit_spark.operators.ordering import SPAN_STRIDE
from mit_spark.synth import make_text_span, media_truth

FIELDS = ("kind", "text", "media_ref", "order")


def _key(span) -> tuple:
    return tuple(span[f] for f in FIELDS)


def check_doc(doc: dict, out_spans: list[dict] | None, oracle_spans: list[dict]) -> tuple[bool, int, str]:
    """(correct, failed media spans, reason) for one input document."""
    out_spans = out_spans or []
    by_offset: dict[int, list] = {}
    for s in out_spans:
        by_offset.setdefault(s["order"] // SPAN_STRIDE, []).append(s)
    failed = sum(
        1 for s in doc["spans"] if s["kind"] == "media" and s["offset"] not in by_offset
    )
    orders = [s["order"] for s in out_spans]
    if orders != sorted(orders):
        return False, failed, "spans not sorted by order"
    if set(by_offset) != {s["offset"] for s in doc["spans"]}:
        return False, failed, "output offsets differ from input offsets"
    for span in doc["spans"]:
        off, got = span["offset"], by_offset[span["offset"]]
        if span["kind"] == "text":
            want = [("text", make_text_span(doc["doc_id"], off)[1], "", off * SPAN_STRIDE)]
            if [_key(s) for s in got] != want:
                return False, failed, f"text span {off} differs from generator truth"
        else:
            truth = sorted(r[4] for r in media_truth(span["media_ref"])["rects"])
            if sorted(s["text"] for s in got) != truth:
                return False, failed, f"media span {off} glyph texts differ from generator truth"
            if [(s["kind"], s["media_ref"], s["order"]) for s in got] != [
                ("media", span["media_ref"], off * SPAN_STRIDE + r) for r in range(len(got))
            ]:
                return False, failed, f"media span {off} kind/ref/ranks wrong"
    if [_key(s) for s in out_spans] != [_key(s) for s in oracle_spans]:
        return False, failed, "differs from oracle.extract_docs"
    return True, failed, ""


def check(docs: list[dict], out_docs: list[dict], oracle: list[dict]) -> dict:
    """Check every input doc; output docs not in the input count as wrong."""
    out_by_id = {d["doc_id"]: d["spans"] for d in out_docs}
    oracle_by_id = {d["doc_id"]: d["spans"] for d in oracle}
    n_ok, failed, reasons = 0, 0, {}
    for doc in docs:
        ok, f, why = check_doc(doc, out_by_id.get(doc["doc_id"]), oracle_by_id[doc["doc_id"]])
        n_ok += ok
        failed += f
        if not ok:
            reasons[doc["doc_id"]] = why
    extra = sorted(set(out_by_id) - {d["doc_id"] for d in docs})
    for doc_id in extra:
        reasons[doc_id] = "not an input document"
    return {
        "docs": len(docs) + len(extra),
        "correct_docs": n_ok,
        "media_spans": sum(s["kind"] == "media" for d in docs for s in d["spans"]),
        "failed_media_spans": failed,
        "reasons": dict(list(reasons.items())[:5]),
    }


def corrupted(out_docs: list[dict]) -> list[tuple[str, list[dict]]]:
    """Negative controls: copies of the output with one document broken,
    as (what was broken, output). Each must fail ``check``."""
    controls = []
    for d in out_docs:
        texts = [i for i, s in enumerate(d["spans"]) if s["kind"] == "text"]
        if texts:
            spans = [dict(s) for s in d["spans"]]
            spans[texts[0]]["text"] += " x"
            controls.append(("text edited", [dict(x, spans=spans) if x is d else x for x in out_docs]))
            break
    for d in out_docs:
        spans = [dict(s) for s in d["spans"]]
        pair = [
            i for i in range(len(spans) - 1)
            if spans[i]["kind"] == "media" and spans[i]["media_ref"] == spans[i + 1]["media_ref"]
            and spans[i]["text"] != spans[i + 1]["text"]
        ]
        if pair:
            i = pair[0]
            spans[i]["text"], spans[i + 1]["text"] = spans[i + 1]["text"], spans[i]["text"]
            controls.append(("reading order swapped", [dict(x, spans=spans) if x is d else x for x in out_docs]))
            break
    return controls


def negative_control_ok(docs: list[dict], out_docs: list[dict], oracle: list[dict]) -> bool:
    """True when every corrupted copy of a correct output is caught."""
    controls = corrupted(out_docs)
    return bool(controls) and all(
        check(docs, bad, oracle)["correct_docs"] < len(docs) for _, bad in controls
    )

