"""Multimodal column plumbing (SURVEY §2.4): opaque binary payloads with
typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio codec LIBRARIES and no entry point
decodes pixels; `image_header_parser` reads the dimensions of the two
formats that need none, binary PPM / PGM (P6/P5) and uncompressed
8/24-bit BMP, from their real headers. Payloads in other formats
(JPEG/PNG/…) or that fail its checks raise ``ValueError``;
resize_images, which must stay total over arbitrary bytes, falls back to
a deterministic length-derived dimension for them, which also keeps it
oracle-checkable over the text-derived test corpus.

The Spark-side plumbing is the production shape throughout: binary column
in, ``mapInPandas`` with an explicit output schema, Arrow batches
end-to-end, per-partition processing with no driver involvement, so it
scales with executors × partitions.

The testdata has no binary column; payloads are materialized as the UTF-8
encoding of ``documents.text``, which keeps the operator oracle-checkable
(octet_length/md5 are byte-exact in DuckDB).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id bigint, n_bytes int, content_md5 string, is_ascii boolean"


def with_binary_payload(documents: DataFrame) -> DataFrame:
    """Attach the opaque binary column (UTF-8 bytes of text)."""
    return documents.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )


def extract_features(documents: DataFrame) -> DataFrame:
    """binary payload → typed metadata via Arrow-batched mapInPandas.

    The batch function is a nested closure so cloudpickle ships it by
    value — executors need no import path to this package (the engine may
    be driven from any cwd, and a real cluster's workers never have the
    driver's sys.path).
    """

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        # One Arrow batch in, one out: vectorized byte-level features.
        for pdf in batches:
            payloads = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "content_md5": payloads.map(
                        lambda b: _hashlib.md5(b).hexdigest()
                    ),
                    "is_ascii": payloads.map(lambda b: all(x < 128 for x in b)),
                }
            )

    return with_binary_payload(documents).mapInPandas(
        feature_batches, schema=FEATURE_SCHEMA
    )


RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, out_width int, out_height int"
)
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_bytes int, frame_md5 string"


#: resize_images: the longer output side, in pixels (never upscaled)
RESIZE_TARGET_MAX = 64


def image_header_parser():
    """Build the PNM/BMP header parse as a NESTED function so cloudpickle
    ships it BY VALUE inside the mapInPandas closure (module-level
    functions pickle by reference, and workers may not be able to import
    this package — the ``streaming.windows._cep_kernel`` pattern).

    The returned ``header_dims(payload) -> (width, height)`` trusts a
    header only when the payload validates as a real image, and raises
    ``ValueError`` otherwise: arbitrary bytes that merely start with a
    magic (text beginning "BM" or "P6 12 34") must never parse into
    garbage dims (ADVICE r4). A header scan that reaches end-of-buffer
    raises too, never spins (ADVICE r5)."""

    def pnm_dims(p: bytes) -> tuple[int, int]:
        # binary PPM (P6, RGB) / PGM (P5, gray): ASCII magic, width,
        # height, maxval separated by whitespace (with ``#`` comments),
        # one whitespace byte, then one raster byte per sample. Slicing
        # past the end yields b'', which is not whitespace, and int(b'')
        # raises — so a truncated header cannot loop
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(p) and p[pos : pos + 1].isspace():
                pos += 1
            if p[pos : pos + 1] == b"#":  # comment runs to end of line
                while pos < len(p) and p[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(p) and not p[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(p[start:pos]))
        w, h, maxval = fields
        channels = 3 if p[:2] == b"P6" else 1
        if w <= 0 or h <= 0:
            raise ValueError("non-positive PNM dimensions")
        if maxval > 255:
            raise ValueError("16-bit PNM not supported")
        # the declared raster must actually be present — text that
        # merely starts "P6 .." and parses as numbers is not an image
        if pos + 1 + w * h * channels > len(p):
            raise ValueError("not a complete PNM raster")
        return w, h

    def bmp_dims(p: bytes) -> tuple[int, int]:
        # uncompressed (BI_RGB) 8/24-bit BMP: little-endian
        # BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER (40 bytes, the
        # only supported info header); rows padded to 4-byte multiples,
        # bottom-up (top-down when height < 0). The file-size field must
        # equal the payload length and the declared raster must fit
        # inside it — a text payload cannot satisfy these by accident
        import struct

        if len(p) < 54:
            raise ValueError("truncated BMP header")
        file_size, data_offset, info_size = struct.unpack_from("<I4xII", p, 2)
        w, h, planes, bpp, compression = struct.unpack_from("<iiHHI", p, 18)
        if (
            file_size != len(p)
            or info_size != 40
            or planes != 1
            or bpp not in (8, 24)
            or compression != 0
        ):
            raise ValueError(
                f"unsupported BMP (size={file_size}/{len(p)}, info={info_size}, "
                f"planes={planes}, bpp={bpp}, compression={compression})"
            )
        if w <= 0 or h == 0:
            raise ValueError("non-positive BMP dimensions")
        stride = (w * (bpp // 8) + 3) & ~3  # 4-byte aligned row
        if not 54 <= data_offset <= len(p) - stride * abs(h):
            raise ValueError("BMP raster outside the payload")
        return w, abs(h)

    def header_dims(p: bytes) -> tuple[int, int]:
        if p[:2] in (b"P6", b"P5"):
            return pnm_dims(p)
        if p[:2] == b"BM":
            return bmp_dims(p)
        raise ValueError("unsupported image format (need P5/P6 PNM or BI_RGB BMP)")

    return header_dims


def resize_images(documents: DataFrame) -> DataFrame:
    """Aspect-preserving resize plan over binary image payloads, longer
    side down to ``RESIZE_TARGET_MAX``.

    Recognized image payloads (PNM/BMP — see :func:`image_header_parser`) are
    measured from their REAL headers; anything else gets deterministic
    length-derived dims, keeping the operator total over arbitrary bytes
    and oracle-checkable over the text-derived test corpus. The dataflow
    is the production one either way: binary in, Arrow batches through
    ``mapInPandas``, scalar metadata out — one pass, no shuffle, scales
    with input bytes.
    """

    header_dims = image_header_parser()

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def dims(payload: bytes) -> tuple[int, int]:
            p = bytes(payload)
            try:
                return header_dims(p)
            except ValueError:  # not a valid image → length-derived fallback
                n = len(p)
                return 16 + n % 241, 16 + (n * 7) % 241

        for pdf in batches:
            wh = pdf["payload"].map(dims)
            w = wh.map(lambda d: d[0]).astype("int32")
            h = wh.map(lambda d: d[1]).astype("int32")
            scale = (RESIZE_TARGET_MAX / w.combine(h, max)).clip(upper=1.0)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "out_width": (w * scale).astype("int32").clip(lower=1),
                    "out_height": (h * scale).astype("int32").clip(lower=1),
                }
            )

    return with_binary_payload(documents).mapInPandas(
        resize_batches, schema=RESIZE_SCHEMA
    )


#: sample_frames: frames per video payload
N_FRAMES = 3


def sample_frames(documents: DataFrame) -> DataFrame:
    """Frame sampling over binary video payloads: one input row fans out
    to ``N_FRAMES`` output rows (1:N mapInPandas — the batch function
    yields more rows than it receives, no explode/shuffle needed).

    Frames are deterministic byte slices standing in for codec output;
    the fan-out shape, schema, and Arrow batching are the production
    plumbing.
    """

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                k = max(len(payload) // N_FRAMES, 1)
                for i in range(N_FRAMES):
                    frame = bytes(payload[i * k : (i + 1) * k])
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(frame))
                    out["frame_md5"].append(_hashlib.md5(frame).hexdigest())
            yield _pd.DataFrame(out)

    return with_binary_payload(documents).mapInPandas(
        frame_batches, schema=FRAME_SCHEMA
    )


AUDIO_SCHEMA = (
    "doc_id bigint, window_idx int, n_samples int, energy bigint, peak int"
)


#: audio_energy: samples per energy window
AUDIO_WINDOW = 256


def audio_energy(documents: DataFrame) -> DataFrame:
    """Windowed audio-energy extraction over binary payloads: treat the
    payload as 8-bit PCM samples, emit per-window sum-of-squares energy
    and peak amplitude — the VAD/silence-detection front end of an audio
    pipeline. Another 1:N Arrow-batched mapInPandas fan-out (like
    sample_frames): windows materialize executor-side, no explode, no
    shuffle, and the vectorized numpy inner loop is the production shape
    a real decoder would slot into. Integer outputs → oracle-exact
    (the ASCII corpus makes byte values equal character codes, so DuckDB
    replays them from the text)."""

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            out = {
                "doc_id": [], "window_idx": [],
                "n_samples": [], "energy": [], "peak": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = _np.frombuffer(bytes(payload), dtype=_np.uint8)
                # empty payloads emit NO window rows — matching the
                # oracle's generate_series(0, (len-1)//256), which is
                # empty for len=0 (ADVICE r3: the old max(len,1) emitted
                # a phantom zero-sample window the oracle never had)
                for w in range(0, len(samples), AUDIO_WINDOW):
                    chunk = samples[w : w + AUDIO_WINDOW].astype(_np.int64)
                    out["doc_id"].append(doc_id)
                    out["window_idx"].append(w // AUDIO_WINDOW)
                    out["n_samples"].append(int(chunk.size))
                    out["energy"].append(int((chunk * chunk).sum()))
                    out["peak"].append(int(chunk.max()) if chunk.size else 0)
            yield _pd.DataFrame(out)

    return with_binary_payload(documents).mapInPandas(
        energy_batches, schema=AUDIO_SCHEMA
    )
