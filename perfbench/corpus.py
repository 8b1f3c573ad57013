"""Seeded benchmark corpus with a fixed composition.

``--seed`` picks the doc_id prefix; spans come from ``synth.gen_doc``. Left
to chance, the media-span count of a 50-doc draw swings by several percent
from seed to seed (one heavy doc alone carries 64-256 images), and that swing
would show up as run-to-run spread in docs/s. So every seed draws the same
*kinds* of documents: the light docs fill the (text spans, media spans)
histogram of a fixed reference draw, and the heavy doc has exactly
``HEAVY_MEDIA`` images. Doc, span and media-span counts are then identical
for every seed; only the document contents differ.
"""

from __future__ import annotations

import collections
import os

from mit_spark.synth import gen_doc

REF_PREFIX = "ref"
N_LIGHT = 49  # light docs per corpus: the generator's 49 light : 1 heavy
HEAVY_MEDIA = 160  # images in the heavy doc, the mean of the generator's 64..256
MAX_SCAN = 200_000  # doc numbers tried before a composition is declared unreachable


def _doc_id(prefix: str, no: int) -> str:
    return f"{prefix}-{no:08d}"


def _kind(spans: list[dict]) -> tuple[int, int]:
    n_media = sum(s["kind"] == "media" for s in spans)
    return len(spans) - n_media, n_media


def _is_heavy(no: int) -> bool:
    return no % 50 == 49


def reference_histogram() -> collections.Counter:
    """(n_text, n_media) histogram of the first N_LIGHT light docs of REF_PREFIX."""
    hist: collections.Counter = collections.Counter()
    no = 0
    while sum(hist.values()) < N_LIGHT:
        if not _is_heavy(no):
            hist[_kind(gen_doc(_doc_id(REF_PREFIX, no)))] += 1
        no += 1
    return hist


def compose(seed: int) -> list[dict]:
    """The seed's corpus: N_LIGHT light docs matching the reference histogram
    plus one heavy doc with HEAVY_MEDIA images, as {doc_id, spans} rows."""
    prefix = f"b{seed}"
    need = reference_histogram()
    docs = []
    for no in range(MAX_SCAN):
        if not need:
            break
        if _is_heavy(no):
            continue
        spans = gen_doc(_doc_id(prefix, no))
        k = _kind(spans)
        if need.get(k, 0) > 0:
            docs.append({"doc_id": _doc_id(prefix, no), "spans": spans})
            need[k] -= 1
            if need[k] == 0:
                del need[k]
    heavy = None
    for no in range(49, MAX_SCAN, 50):
        spans = gen_doc(_doc_id(prefix, no))
        if _kind(spans)[1] == HEAVY_MEDIA:
            heavy = {"doc_id": _doc_id(prefix, no), "spans": spans}
            break
    if heavy is None or need:
        raise RuntimeError(f"seed {seed}: composition not reached in {MAX_SCAN} doc numbers")
    return docs + [heavy]


def text_only(docs: list[dict]) -> list[dict]:
    """The same documents with their media spans removed (docs left with no
    span at all are dropped: explode would emit nothing for them)."""
    out = []
    for d in docs:
        spans = [s for s in d["spans"] if s["kind"] == "text"]
        if spans:
            out.append({"doc_id": d["doc_id"], "spans": spans})
    return out


def media_spans(docs: list[dict]) -> list[tuple[str, str, int]]:
    """(doc_id, media_ref, offset) for every media span, in corpus order."""
    return [
        (d["doc_id"], s["media_ref"], s["offset"])
        for d in docs
        for s in d["spans"]
        if s["kind"] == "media"
    ]


def counts(docs: list[dict]) -> dict:
    spans = [s for d in docs for s in d["spans"]]
    return {
        "docs": len(docs),
        "spans": len(spans),
        "media_spans": sum(s["kind"] == "media" for s in spans),
        "heavy_docs": sum(_is_heavy(int(d["doc_id"].rsplit("-", 1)[1])) for d in docs),
    }


def materialize(path: str, docs: list[dict]) -> None:
    """Write ``docs`` to ``path`` with the engine's DOCS schema, the stand-in
    for an Iceberg table. Written afresh by every run, so the file always
    holds what ``compose`` gives for the current code."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from mit_spark.schema import DOCS

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=to_arrow_schema(DOCS)), path)
