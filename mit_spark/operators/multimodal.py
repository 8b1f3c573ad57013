"""Multimodal binary columns — image/video/audio as opaque ``binary``
payloads with typed metadata, plus decode / resize / frame-sample /
feature-extract operators over ``mapInPandas`` (training-data-pipeline
operator set; SURVEY.md §1.1 RawImage mapping).

The reference decodes PNG/JPEG from disk (``RawImage::new``,
crates/interface/src/image/mod.rs:155-177). The engine carries multi-frame
media through a deterministic raw container (``MITB``: magic + kind + dims
+ frame count + packed u8 payload); the real-codec seam
(`decode_external`) decodes PNG and baseline JPEG — the two formats the
reference's ``image`` crate reads for its fixtures — via the pure-stdlib
codecs in operators/png_codec.py and operators/jpeg_codec.py (no PIL);
JPEG streams outside the baseline 4:4:4 subset fall back to PIL when
present. Audio flows as RIFF/PCM WAV (operators/wav_codec.py) and video
as Motion-JPEG AVI (operators/avi_codec.py), so ALL THREE modalities run
real formats end-to-end; other codecs (H.264 etc.) stay env-gated behind
cv2/av with a clearly marked ``NotImplementedError``. Everything
Spark-side — schemas, Arrow batch shape, partition strategy, UDF
signatures — is codec-agnostic; `media_table_png`/`media_table_jpeg`/
`audio_table`/`video_table` + the stats UDFs run every real-codec path
end-to-end under the SQL oracle gate.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mit_spark.plans.pipeline import media_task_count

_MAGIC = b"MITB"
_KINDS = {"image": b"I", "video": b"V", "audio": b"A"}
_KINDS_INV = {v: k for k, v in _KINDS.items()}

MEDIA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("content", BinaryType(), False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), False),
                    StructField("width", IntegerType(), False),
                    StructField("height", IntegerType(), False),
                    StructField("channels", IntegerType(), False),
                    StructField("n_frames", IntegerType(), False),
                ]
            ),
            False,
        ),
    ]
)

FRAME = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("content", BinaryType(), False),
    ]
)

CHANNEL_STATS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("channel", IntegerType(), False),
        StructField("mean", DoubleType(), False),
        StructField("std", DoubleType(), False),
    ]
)


# ---------------------------------------------------------------------------
# codec


def encode_media(frames: np.ndarray, kind: str = "image") -> bytes:
    """Pack (F,H,W,C) or (H,W,C) uint8 into the MITB container."""
    if frames.ndim == 3:
        frames = frames[None]
    f, h, w, c = frames.shape
    header = _MAGIC + _KINDS[kind] + struct.pack("<HHBH", w, h, c, f)
    return header + frames.astype(np.uint8).tobytes()


def decode_media(data: bytes) -> tuple[str, np.ndarray]:
    """Unpack MITB container -> (kind, (F,H,W,C) uint8)."""
    if data[:4] != _MAGIC:
        raise ValueError("not a MITB container (use decode_external for real codecs)")
    kind = _KINDS_INV[data[4:5]]
    w, h, c, f = struct.unpack("<HHBH", data[5:12])
    arr = np.frombuffer(data[12:], dtype=np.uint8).reshape(f, h, w, c)
    return kind, arr


def decode_external(fmt: str, data: bytes) -> np.ndarray:
    """The real-codec seam, returning (H,W,3) RGB uint8 like the reference's
    RawImage::new (crates/interface/src/image/mod.rs:155-177). PNG — the
    reference's native fixture format — is decoded by the stdlib codec in
    operators/png_codec.py (zlib + struct + numpy un-filtering; no PIL),
    normalizing gray/gray+alpha/RGBA to RGB the way PIL's convert("RGB")
    does (alpha dropped, luminance replicated). JPEG/video stay env-gated:
    PIL/cv2/av are attempted and a clearly marked NotImplementedError is
    raised otherwise."""
    if fmt == "png":
        from mit_spark.operators.png_codec import decode_png

        arr = decode_png(data)
        c = arr.shape[2]
        if c == 3:
            return arr
        if c == 4:
            return arr[:, :, :3].copy()
        return np.repeat(arr[:, :, :1], 3, axis=2)
    if fmt == "jpeg":
        from mit_spark.operators.jpeg_codec import decode_jpeg

        try:
            arr = decode_jpeg(data)
        except ValueError as err:
            # outside the stdlib codec's baseline 4:4:4 subset (progressive,
            # subsampled, restart intervals): fall back to PIL if present
            try:  # pragma: no cover - PIL absent in this container
                import io

                from PIL import Image
            except ImportError:
                raise err from None
            return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
        if arr.ndim == 2:
            return np.repeat(arr[:, :, None], 3, axis=2)
        return arr
    raise NotImplementedError(
        f"no codec for {fmt!r} in this environment (PIL/cv2/av absent); "
        "PNG/baseline-JPEG (and WAV/MJPEG-AVI via wav_codec/avi_codec) "
        "decode via the stdlib codecs, other formats use the deterministic "
        "MITB container in tests/bench"
    )


def synth_media_bytes(media_ref: str) -> tuple[bytes, dict]:
    """Deterministic media payload for a media_ref: the synth page raster;
    every 7th ref (by hash) becomes a 4-frame 'video' of rolled variants."""
    from mit_spark.synth import render_media

    img = render_media(media_ref)
    sel = int.from_bytes(media_ref.encode()[-2:], "little") % 7
    if sel == 0:
        frames = np.stack([np.roll(img, 13 * i, axis=0) for i in range(4)])
        kind = "video"
    else:
        frames, kind = img[None], "image"
    meta = {
        "mime": f"x-mit/{kind}",
        "width": int(frames.shape[2]),
        "height": int(frames.shape[1]),
        "channels": int(frames.shape[3]),
        "n_frames": int(frames.shape[0]),
    }
    return encode_media(frames, kind), meta


# ---------------------------------------------------------------------------
# Spark operators (all Arrow-batched; no per-row Python)

# Payload rows carry ~0.8-3 MB binaries, so Arrow's default 256-row batches
# become 0.2-0.8 GB frames: every UDF here processes and yields in small
# row chunks to bound worker memory and pipeline the JVM<->python transfer.
_CHUNK = 8


def _chunks(batches):
    for pdf in batches:
        for i in range(0, len(pdf), _CHUNK):
            yield pdf.iloc[i : i + _CHUNK]


def _media_spans(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """docs -> (doc_id, media_ref) rows, spread for the payload UDF: media
    spans arrive clustered by generating doc partition (skew: heavy docs put
    64-256 payloads in one partition) — repartition on the pair hash first,
    into the detect pipeline's media task count."""
    spans = (
        docs_df.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
    )
    return spans.repartition(
        media_task_count(spark.sparkContext.defaultParallelism),
        F.xxhash64("doc_id", "media_ref"),
    )


def media_table(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """docs -> one row per media span with binary content + typed meta.
    At scale the binary column stays columnar in Arrow; partition count
    follows the exploded span rows (skew handled upstream by the explode)."""

    spans = _media_spans(spark, docs_df)

    def attach(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in _chunks(batches):
            payloads, metas = [], []
            for ref in pdf["media_ref"]:
                b, m = synth_media_bytes(str(ref))
                payloads.append(b)
                metas.append(m)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "content": payloads,
                    "meta": metas,
                }
            )

    return spans.mapInPandas(attach, schema=MEDIA)


def media_table_png(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """Image spans as REAL PNG payloads: same plumbing and schema as
    media_table, but content is stdlib-encoded PNG (operators/png_codec.py,
    Sub-filtered scanlines so the decode path un-does a real filter), so
    downstream stats exercise the decode_external seam end-to-end — the
    format the reference itself reads (RawImage::new,
    crates/interface/src/image/mod.rs:155-177). Video refs are excluded:
    PNG is a single-image format; multi-frame media keeps the MITB
    container."""
    from mit_spark.operators.png_codec import encode_png

    spans = _media_spans(spark, docs_df)

    def attach(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in _chunks(batches):
            rows = []
            for doc, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                b, m = synth_media_bytes(str(ref))
                if m["n_frames"] != 1:
                    continue
                _, frames = decode_media(b)
                rows.append(
                    (
                        doc,
                        ref,
                        encode_png(frames[0], filter_type=1, level=1),
                        {**m, "mime": "image/png"},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "content", "meta"]
            )

    return spans.mapInPandas(attach, schema=MEDIA)


def jpeg_tile_image(
    media_ref: str, width: int, height: int, *, key_prefix: str | None = None
) -> np.ndarray:
    """Deterministic 8x8-tiled EVEN-gray image for a media_ref: tile (bx,by)
    holds 2 * (first-4-md5-bytes('<prefix>:<bx>:<by>') % 128), where the
    prefix defaults to 'jp:<ref>' (the JPEG image table) and video frames
    pass 'vf:<ref>:<frame>'. Dimensions are the ref's page size rounded
    DOWN to 8-multiples (whole MCUs). Flat even-gray DC-only blocks
    survive the baseline JPEG encode->decode round trip BIT-EXACT
    (jpeg_codec docstring), so the SQL oracles can state the decoded
    histograms in closed form from the same md5 arithmetic — while the
    payload still drives real Huffman coding and differential DC
    prediction across tiles. ONE definition of the tile arithmetic serves
    every oracle that mirrors it."""
    import hashlib

    prefix = key_prefix if key_prefix is not None else f"jp:{media_ref}"
    w8, h8 = width // 8 * 8, height // 8 * 8
    tiles = np.empty((h8 // 8, w8 // 8), dtype=np.uint8)
    for by in range(h8 // 8):
        for bx in range(w8 // 8):
            hv = int(hashlib.md5(f"{prefix}:{bx}:{by}".encode()).hexdigest()[:8], 16)
            tiles[by, bx] = 2 * (hv % 128)
    return np.kron(tiles, np.ones((8, 8), dtype=np.uint8))


def media_table_jpeg(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """Image spans as REAL baseline JPEG payloads through the stdlib codec
    (operators/jpeg_codec.py): same plumbing and schema as media_table_png,
    but content is a grayscale JPEG of the ref's deterministic tile image
    (jpeg_tile_image) at the unscaled Annex-K tables — the construction
    whose decode is bit-exact, so the downstream channel stats stay under
    a closed-form SQL value oracle. Video refs are excluded (single-image
    format), as are refs smaller than one MCU."""
    from mit_spark.operators.jpeg_codec import encode_jpeg

    spans = _media_spans(spark, docs_df)

    def attach(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in _chunks(batches):
            rows = []
            for doc, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                _b, m = synth_media_bytes(str(ref))
                if m["n_frames"] != 1:
                    continue
                img = jpeg_tile_image(str(ref), m["width"], m["height"])
                if img.size == 0:
                    continue
                rows.append(
                    (
                        doc,
                        ref,
                        encode_jpeg(img, quality=50),
                        {
                            **m,
                            "mime": "image/jpeg",
                            "width": int(img.shape[1]),
                            "height": int(img.shape[0]),
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "content", "meta"]
            )

    return spans.mapInPandas(attach, schema=MEDIA)


AUDIO = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("content", BinaryType(), False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), False),
                    StructField("rate", IntegerType(), False),
                    StructField("n_samples", IntegerType(), False),
                    StructField("channels", IntegerType(), False),
                ]
            ),
            False,
        ),
    ]
)

WAVEFORM_STATS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("n_samples", IntegerType(), False),
        StructField("half_period", IntegerType(), False),
        StructField("rms", IntegerType(), False),
        StructField("peak", IntegerType(), False),
        StructField("zero_crossings", IntegerType(), False),
    ]
)


def synth_audio_samples(media_ref: str) -> np.ndarray:
    """Deterministic mono PCM for a media_ref (the page's narration track):
    a square wave with md5-derived amplitude/period/length —
      a    = 256 * (1 + h('au:<ref>:amp') % 100)     (int16-safe)
      half = 8   * (1 + h('au:<ref>:per') % 16)      (half-period, samples)
      n    = 2*half * (50 + h('au:<ref>:len') % 50)  (whole periods)
    so RMS == peak == a exactly, and sign flips land every `half` samples
    (n/half - 1 zero crossings) — the closed forms the SQL oracle states
    from the same md5 arithmetic (queries._h_sql twin)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    a = 256 * (1 + h(f"au:{media_ref}:amp") % 100)
    half = 8 * (1 + h(f"au:{media_ref}:per") % 16)
    n = 2 * half * (50 + h(f"au:{media_ref}:len") % 50)
    i = np.arange(n)
    return np.where((i // half) % 2 == 0, a, -a).astype(np.int16)


def audio_table(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """docs -> one AUDIO row per media span, content = REAL WAV bytes
    (operators/wav_codec.py). Same pre-UDF skew spread and Arrow-chunked
    mapInPandas plumbing as the image tables — the audio column is just
    another opaque binary with typed metadata."""
    from mit_spark.operators.wav_codec import encode_wav

    spans = _media_spans(spark, docs_df)

    def attach(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in _chunks(batches):
            rows = []
            for doc, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                s = synth_audio_samples(str(ref))
                rows.append(
                    (
                        doc,
                        ref,
                        encode_wav(s, rate=16000),
                        {
                            "mime": "audio/wav",
                            "rate": 16000,
                            "n_samples": int(s.shape[0]),
                            "channels": 1,
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "content", "meta"]
            )

    return spans.mapInPandas(attach, schema=AUDIO)


def waveform_stats(audio_df: DataFrame) -> DataFrame:
    """Audio feature extraction: decode WAV, derive EVERYTHING from the
    decoded PCM — sample count, RMS, peak, zero-crossing count, and the
    half-period implied by the crossings (n / (zc+1)) — so a wrong header
    offset, endianness, or chunk walk breaks the value oracle. Integer
    outputs only: the synth waveforms make RMS/peak exact integers
    (float64 is exact for these magnitudes)."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        from mit_spark.operators.wav_codec import decode_wav

        for pdf in _chunks(batches):
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                _rate, arr = decode_wav(bytes(content))
                s = arr[:, 0].astype(np.int64)
                n = int(s.shape[0])
                rms = int(round(float(np.sqrt(np.mean(s * s)))))
                peak = int(np.abs(s).max())
                # zero crossings = POLARITY FLIPS: exact-zero samples carry
                # no polarity, so drop them before diffing (np.sign yields 0
                # at zeros, which would count entering AND leaving a zero or
                # a silence run as crossings and corrupt half_period)
                nz = s[s != 0]
                zc = int(np.count_nonzero(np.sign(nz[1:]) != np.sign(nz[:-1])))
                half = n // (zc + 1)
                rows.append((ref, n, half, rms, peak, zc))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "n_samples",
                    "half_period",
                    "rms",
                    "peak",
                    "zero_crossings",
                ],
            )

    return audio_df.mapInPandas(run, schema=WAVEFORM_STATS)


def video_table(spark: SparkSession, docs_df: DataFrame) -> DataFrame:
    """Video spans as REAL Motion-JPEG AVI payloads (operators/avi_codec.py
    — RIFF container, one MJPG 'vids' stream, every frame through the
    stdlib JPEG codec). Only video refs (n_frames == 4) qualify; each
    frame is the ref's deterministic tile image varied by frame index
    ('vf:<ref>:<f>:<bx>:<by>'), the DC-only construction whose decode is
    bit-exact, so the downstream stats stay under a closed-form SQL
    oracle. Same plumbing/schema as the image tables."""
    from mit_spark.operators.avi_codec import encode_avi_mjpg

    spans = _media_spans(spark, docs_df)

    def attach(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in _chunks(batches):
            rows = []
            for doc, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                _b, m = synth_media_bytes(str(ref))
                if m["n_frames"] != 4:
                    continue
                w8, h8 = m["width"] // 8 * 8, m["height"] // 8 * 8
                if w8 == 0 or h8 == 0:
                    continue
                frames = [
                    jpeg_tile_image(
                        str(ref), m["width"], m["height"], key_prefix=f"vf:{ref}:{f}"
                    )
                    for f in range(4)
                ]
                rows.append(
                    (
                        doc,
                        ref,
                        encode_avi_mjpg(frames, quality=50),
                        {
                            **m,
                            "mime": "video/x-msvideo",
                            "width": int(w8),
                            "height": int(h8),
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "content", "meta"]
            )

    return spans.mapInPandas(attach, schema=MEDIA)


def frame_sample(media_df: DataFrame, every_k: int = 2) -> DataFrame:
    """Video frame sampling: one output row per kept frame (indices
    0, k, 2k, ...); images pass through as frame 0. The Spark analogue of
    the reference's patch explode (det_arrange.rs:215-344): payload rows
    multiply, downstream ops parallelize per frame."""

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in _chunks(batches):
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                kind, frames = decode_media(bytes(content))
                for i in range(0, frames.shape[0], every_k):
                    rows.append((ref, i, encode_media(frames[i], "image")))
            yield pd.DataFrame(rows, columns=["media_ref", "frame_idx", "content"])

    return media_df.mapInPandas(sample, schema=FRAME)


def resize_media(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Bilinear resize of every frame (same imageops kernel as the detect
    path, crates/interface rayon.rs:394-434 semantics); meta is updated
    JVM-side so the plan shows the new dims without decoding."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        from mit_spark.operators.imageops import resize

        for pdf in _chunks(batches):
            out = []
            for content in pdf["content"]:
                kind, frames = decode_media(bytes(content))
                res = np.stack([resize(f, width, height) for f in frames])
                out.append(encode_media(res, kind))
            pdf = pdf.copy()
            pdf["content"] = out
            yield pdf

    resized = media_df.mapInPandas(run, schema=media_df.schema)
    new_meta = F.struct(
        F.col("meta.mime").alias("mime"),
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.n_frames").alias("n_frames"),
    )
    return resized.withColumn("meta", new_meta)


def _frames_mitb(content: bytes) -> np.ndarray:
    return decode_media(content)[1]


def _frames_png(content: bytes) -> np.ndarray:
    from mit_spark.operators.multimodal import decode_external

    return decode_external("png", content)[None]


def _frames_jpeg(content: bytes) -> np.ndarray:
    from mit_spark.operators.multimodal import decode_external

    return decode_external("jpeg", content)[None]


def _frames_avi(content: bytes) -> np.ndarray:
    from mit_spark.operators.avi_codec import decode_avi_mjpg

    frames = decode_avi_mjpg(bytes(content))
    out = [
        np.repeat(f[:, :, None], 3, axis=2) if f.ndim == 2 else f for f in frames
    ]
    return np.stack(out)


def channel_stats(media_df: DataFrame, *, frames_of=_frames_mitb) -> DataFrame:
    """Feature extraction: per-channel mean/std over all frames, rounded to
    4dp. Moments come from a 256-bin integer histogram per channel — ONE
    pass over the uint8 payload instead of a 4x float32 expansion plus the
    two extra passes np.std makes; exact in float64 (a histogram of uint8
    values loses nothing). This is the hot loop of the media-stats entry:
    at 32 workers the float32 formulation was DRAM-bound and wobbly.

    ``frames_of`` maps payload bytes -> (F,H,W,C) uint8: MITB by default,
    _frames_png for real PNG payloads — the stats plan is codec-agnostic."""

    _vals = np.arange(256, dtype=np.float64)
    _vals2 = _vals * _vals

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in _chunks(batches):
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                frames = frames_of(bytes(content))
                f, h, w, c = frames.shape
                flat = frames.reshape(-1, c)
                n = flat.shape[0]
                for ch in range(c):
                    hist = np.bincount(
                        np.ascontiguousarray(flat[:, ch]), minlength=256
                    ).astype(np.float64)
                    mean = float(hist @ _vals) / n
                    var = max(float(hist @ _vals2) / n - mean * mean, 0.0)
                    rows.append(
                        (ref, w, h, f, ch, round(mean, 4), round(var ** 0.5, 4))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "width",
                    "height",
                    "n_frames",
                    "channel",
                    "mean",
                    "std",
                ],
            )

    return media_df.mapInPandas(run, schema=CHANNEL_STATS)
