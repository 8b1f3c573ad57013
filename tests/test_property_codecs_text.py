"""Property tests, part 2: the lossy codec bounds and the cross-engine
text-clean agreement.

* JPEG is lossy — equality is the wrong property; the right ones are
  determinism, shape/dtype preservation, and a quality-monotone error
  bound on smooth content (DCT is near-exact on gradients).
* AVI/MJPG stores per-frame JPEG blobs, so each decoded frame must be
  BIT-IDENTICAL to the standalone jpeg roundtrip of that frame — the
  container adds framing, never pixels.
* clean_text_py and clean_text_sql are two of the three engines that
  must agree exactly (the third, Catalyst, is pinned by the driver
  oracle gate at three scales); fuzzing py-vs-DuckDB here covers the
  malformed-markup space the fixed corpus can't.
"""

from __future__ import annotations

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
duckdb = pytest.importorskip("duckdb")
from hypothesis import given, settings, strategies as st  # noqa: E402

from mit_spark.functions.textclean import clean_text_py, clean_text_sql  # noqa: E402
from mit_spark.operators.avi_codec import decode_avi_mjpg, encode_avi_mjpg  # noqa: E402
from mit_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg  # noqa: E402

COMMON = settings(max_examples=40, deadline=None)


# ---------------------------------------------------------------------------
# JPEG: determinism + smooth-content error bound


def _gradient_image(h: int, w: int, seed: int, rgb: bool) -> np.ndarray:
    """Smooth content: a random affine gradient (+tiny noise), the case
    where baseline JPEG at q>=75 is near-exact."""
    rng = np.random.RandomState(seed)
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    base = rng.uniform(40, 200) + rng.uniform(-1, 1) * x + rng.uniform(-1, 1) * y
    img = np.clip(base + rng.randn(h, w), 0, 255).astype(np.uint8)
    if rgb:
        img = np.stack([img, np.roll(img, 1, axis=1), 255 - img], axis=2)
    return img


@COMMON
@given(
    st.integers(8, 40),
    st.integers(8, 40),
    st.integers(0, 2**32 - 1),
    st.booleans(),
)
def test_jpeg_smooth_content_error_bound(h, w, seed, rgb):
    img = _gradient_image(h, w, seed, rgb)
    blob = encode_jpeg(img, quality=90)
    back = decode_jpeg(blob)
    assert back.dtype == np.uint8
    assert back.shape[:2] == (h, w)
    got = back if rgb else back[..., 0] if back.ndim == 3 else back
    want = img if rgb else img
    if rgb:
        err = np.abs(got.astype(np.int16) - want.astype(np.int16)).max()
        # chroma subsample + quantization on a smooth gradient
        assert err <= 24, f"max err {err} at q90 on smooth content"
    else:
        err = np.abs(got.astype(np.int16) - want.astype(np.int16)).max()
        assert err <= 12, f"max err {err} at q90 on smooth gray gradient"
    # determinism: encode twice, identical bytes
    assert encode_jpeg(img, quality=90) == blob


@COMMON
@given(st.integers(8, 24), st.integers(8, 24), st.integers(0, 2**32 - 1))
def test_jpeg_quality_monotone_size(h, w, seed):
    """Higher quality never makes the smooth-content stream smaller by
    more than noise — q25 <= q95 stream size on the same image (coarser
    quantization shortens the entropy stream)."""
    img = _gradient_image(h, w, seed, rgb=True)
    lo = len(encode_jpeg(img, quality=25))
    hi = len(encode_jpeg(img, quality=95))
    assert lo <= hi + 64  # headers dominate tiny images; allow slack


# ---------------------------------------------------------------------------
# AVI/MJPG: container framing adds no pixels


@COMMON
@given(
    st.integers(1, 5),
    st.integers(8, 24),
    st.integers(8, 24),
    st.integers(0, 2**32 - 1),
)
def test_avi_frames_equal_jpeg_roundtrip(n, h, w, seed):
    rng = np.random.RandomState(seed)
    frames = [
        np.clip(
            rng.uniform(0, 255) + np.mgrid[0:h, 0:w][1] * rng.uniform(-2, 2), 0, 255
        ).astype(np.uint8)
        for _ in range(n)
    ]
    frames = [np.stack([f, f, f], axis=2) for f in frames]
    blob = encode_avi_mjpg(frames, fps=10, quality=60)
    decoded = decode_avi_mjpg(blob)
    assert len(decoded) == n
    for f, d in zip(frames, decoded):
        want = decode_jpeg(encode_jpeg(f, quality=60))
        np.testing.assert_array_equal(d, want)


# ---------------------------------------------------------------------------
# text-clean: python `re` vs DuckDB RE2 on randomized malformed markup


_FRAGMENTS = [
    "<nav>", "</nav>", "<script>", "</script>", "<footer>", "</footer>",
    "<p>", "</p>", "<div class=x>", "<br/>", "<", ">", "</",
    "menu", "hello world", "a", "Z9", "x=1;", "...", "&amp;",
    " ", "  ", "\t", "\n", "\r\n",
]

markup_strategy = st.lists(
    st.sampled_from(_FRAGMENTS), min_size=0, max_size=30
).map("".join)


_DUCK = duckdb.connect()
_CLEAN_SQL = f"SELECT {clean_text_sql('?')}"


@settings(max_examples=120, deadline=None)
@given(markup_strategy)
def test_clean_text_py_matches_duckdb(s):
    want = _DUCK.execute(_CLEAN_SQL, [s]).fetchone()[0]
    assert clean_text_py(s) == want


def test_clean_text_three_engine_agreement_randomized(spark):
    """All THREE engines — Catalyst (Java regex), python `re`, DuckDB
    (RE2) — must agree on 500 seeded random markup strings in one batch:
    the leftmost-first alternation + tag/ws-collapse semantics must not
    depend on the regex engine (the pattern list deliberately avoids
    backreferences; this is the fuzz companion to the fixed-corpus oracle
    entries)."""
    import numpy as np
    from pyspark.sql import functions as F

    from mit_spark.functions.textclean import clean_text_col

    rng = np.random.RandomState(7)
    frags = _FRAGMENTS + ["<nav>deep<script>x</script></nav>", "</nav><nav>"]
    strings = [
        "".join(rng.choice(frags, size=rng.randint(0, 40)))
        for _ in range(500)
    ]
    want_py = [clean_text_py(s) for s in strings]

    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, s string")
    got_spark = {
        r["i"]: r["c"]
        for r in df.select("i", clean_text_col(F.col("s")).alias("c")).collect()
    }
    assert [got_spark[i] for i in range(len(strings))] == want_py

    got_duck = [_DUCK.execute(_CLEAN_SQL, [s]).fetchone()[0] for s in strings]
    assert got_duck == want_py
