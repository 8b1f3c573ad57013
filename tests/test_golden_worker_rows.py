"""Golden digests of the media UDF's worker rows.

The oracle and the Spark path import the same operators (resize, DBNet
post, geometry), so oracle == pipeline cannot see numeric drift in those
kernels: both sides would drift together. These digests pin, for a fixed
span set, the exact rows of ``extract_media_spans_batched`` together with
the quads (corners, score, vertical flag) it computed on the way -- the
rows alone are the same at every detect_size, since OCR reads the glyphs
back from the page -- and, at the two cheaper sizes, the quads and mask of
``detect``. A kernel rewrite must leave every digest unchanged; a
deliberate output change must update them in the same commit and say why.

detect_size 2048 is ``DetectorOptions``' default and the CLI default.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators import batched_detect
from mit_spark.operators.batched_detect import extract_media_spans_batched
from mit_spark.operators.detector import detect
from mit_spark.operators.forward import synthetic_forward
from mit_spark.synth import gen_docs, render_media


def _spans(n: int = 8) -> list[tuple]:
    spans = [
        (d["doc_id"], s["media_ref"], s["offset"])
        for d in gen_docs(12, prefix="golden")
        for s in d["spans"]
        if s["kind"] == "media"
    ]
    return spans[:n]


SPANS = _spans()

ROWS_SHA256 = {
    (512, False): "491c535961f4d9a490445bf00caa1f29f8ebd2856f4ba5c022d8372affbe1369",
    (512, True): "ac9742c6fc278675994d585b748acaee503ef6fe5556d8fa86976f8521e62af5",
    (1024, False): "33c723594ea31ee90fee9f0259eaea4224668a5646f0493bf19b1e4a1e11e21b",
    (1024, True): "090a7e9b22b24234d4ff6b7c9bc74a0b94e8e53acf52a0d88b52146b2fa4fbae",
    (2048, False): "50b70a1a86ccfb8f7baedf691b03bf1197f831a63609bf8702b2b709117327fd",
    (2048, True): "4f3cb2e173e8a00ec1db29962ac8687c92a89781e69c3661cfb78db9dac57deb",
}

DETECT_SHA256 = {
    512: "dfe2b82d64f3e87c9db31daf23bb57f46429bc166ac744afdcb88630675a4460",
    1024: "5d8efaf9c597287b4a32b24b6996d025f800bdf3c950347f30fe68db3bc28f62",
}


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def test_span_set_is_fixed():
    assert len(SPANS) == 8
    assert SPANS[0] == ("golden-00000002", "m7026e2d09f5bb8e6", 0)


def _quad_fields(quads) -> list:
    return [(q.pts.tolist(), q.score, q.vertical) for q in quads]


@pytest.mark.parametrize("detect_size,rotate", sorted(ROWS_SHA256))
def test_batched_rows_digest(detect_size, rotate, monkeypatch):
    seen = []
    media_rows = batched_detect._media_rows

    def recording_media_rows(span, img, quads):
        seen.append((span, _quad_fields(quads)))
        return media_rows(span, img, quads)

    monkeypatch.setattr(batched_detect, "_media_rows", recording_media_rows)
    opts = DetectorOptions(detect_size=detect_size, emit_mask=False)
    rows = extract_media_spans_batched(SPANS, opts, PreprocessorOptions(rotate=rotate))
    assert not [r for r in rows if r[1] == "error"]
    assert len(seen) == len(SPANS)
    assert _digest((rows, sorted(seen))) == ROWS_SHA256[(detect_size, rotate)]


@pytest.mark.parametrize("detect_size", sorted(DETECT_SHA256))
def test_detect_quads_and_mask_digest(detect_size):
    opts = DetectorOptions(detect_size=detect_size)
    out = []
    for _doc, ref, _off in SPANS:
        quads, mask = detect(render_media(ref), synthetic_forward, opts)
        out.append(
            (
                _quad_fields(quads),
                [q.area() for q in quads],
                mask.shape,
                hashlib.sha256(np.ascontiguousarray(mask).tobytes()).hexdigest(),
            )
        )
    assert _digest(out) == DETECT_SHA256[detect_size]
