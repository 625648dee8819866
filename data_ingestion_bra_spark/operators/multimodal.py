"""Multimodal column operators: opaque binary payloads + typed metadata.

Schema pattern: ``struct<payload: binary, meta: struct<...typed fields>>``
(or flat ``payload``/metadata columns). The payload stays opaque to the
engine — metadata drives filtering/partitioning (so Catalyst prunes scans
without touching bytes), and decode/feature steps run in Arrow-batched
``mapInPandas`` so payload bytes cross the JVM↔Python boundary in columnar
batches, never row-at-a-time.

Every codec stage is a per-row function handed to ``map_rows``, the one
batch protocol: 1:1 decoders and 1:N frame samplers alike yield output
tuples, and parameters bind with ``functools.partial``. The image, audio
and video stages decode real containers with the vendored stdlib-only
codecs (``png.py``, ``gif.py``, ``jpeg.py``), stdlib ``wave`` and G.711
mu-law. ``decode_images`` and ``audio_features`` are deterministic stubs
over the fixture's text-byte payloads, each with an exact SQL oracle.
"""

from __future__ import annotations

import functools
import io
import sys
import wave
from array import array
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_bra_spark.operators import gif as _gif
from data_ingestion_bra_spark.operators import jpeg as _jpeg
from data_ingestion_bra_spark.operators import png as _png
from data_ingestion_bra_spark.sources.tables import spread_scan

#: spread sizing for the Python codec tier: these pipelines hand every row to
#: an Arrow-batched pure-Python encoder/decoder whose per-byte cost is ~3-4
#: orders of magnitude above a JVM expression (measured round 12:
#: multimodal_image_jpeg_roundtrip 6.0 s -> 1.2 s when the single-row-group
#: scan was fanned out), so the spread width must track compute, not I/O —
#: 4 KiB of scan input already funds >100 ms of codec work per task.
_CODEC_SPREAD_BYTES = 4 * 1024


def map_rows(
    df: DataFrame, row_fn: Callable[..., Iterable[tuple]], schema: T.StructType
) -> DataFrame:
    """Run ``row_fn`` over every row of ``df`` inside Arrow-batched
    ``mapInPandas``: it takes the row's columns positionally and yields zero
    or more output tuples laid out as ``schema``. Per-batch loop, not
    per-row UDF calls — the pattern that holds at 100 TB where each batch is
    thousands of payloads."""
    cols = schema.fieldNames()

    def batches_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = pdf.itertuples(index=False, name=None)
            yield pd.DataFrame([out for row in rows for out in row_fn(*row)], columns=cols)

    return df.mapInPandas(batches_fn, schema=schema)


def _doc_ids(df: DataFrame) -> DataFrame:
    """The ``doc_id`` column of ``df``, spread so each task funds a codec
    worth of Python work (``_CODEC_SPREAD_BYTES``): the one source of the
    image/audio synthesizers and the doc-id-driven audits."""
    return spread_scan(df.select("doc_id"), bytes_per_task=_CODEC_SPREAD_BYTES)


PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def payload_row(synth: Callable[[int], bytes], doc_id: int):
    yield doc_id, synth(doc_id)


def synthesize_payloads(df: DataFrame, synth: Callable[[int], bytes]) -> DataFrame:
    """(doc_id, payload) with ``synth(doc_id)``'s container bytes per doc."""
    return map_rows(_doc_ids(df), functools.partial(payload_row, synth), PAYLOAD_SCHEMA)


DECODED_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        # mean byte intensity scaled by 1e6, floor-divided — integer-exact,
        # so a SQL oracle reproduces it without float-rounding hazards
        T.StructField("mean_intensity_e6", T.LongType()),
    ]
)


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fixture adapter: treat each document's UTF-8 bytes as an opaque
    payload column (stands in for image/audio bytes in the test corpus).
    spread_scan: the consumers are Arrow-batched Python decoders, so a
    single-row-group source would run the whole modality tier on one core
    (conditional — no-op when the scan already feeds every slot)."""
    return spread_scan(df, bytes_per_task=_CODEC_SPREAD_BYTES).select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.length(F.encode(F.col(text_col), "UTF-8")).cast("bigint").alias("n_bytes"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for an image decoder: derives stable
    pseudo-dimensions and a mean-intensity proxy from the bytes so tests
    and the SQL oracle have exact expectations. Raises on empty payloads
    the way a real decoder raises on corrupt files.
    """
    if not payload:
        raise ValueError("empty payload: cannot decode")
    n = len(payload)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    channels = 3
    m = min(n, 256)
    mean_intensity_e6 = (sum(payload[:m]) * 1_000_000) // (m * 255)
    return width, height, channels, mean_intensity_e6


def _fake_decode_row(doc_id: int, payload: bytes):
    yield (doc_id, len(payload), *_fake_decode(payload))


def decode_images(df: DataFrame) -> DataFrame:
    """Stub image decode over the (doc_id, payload) columns of ``df``
    (``attach_binary_payload``'s text bytes): ``_fake_decode``'s
    pseudo-dimensions and intensity, which the catalog's SQL oracle
    recomputes exactly. Real image decode is ``png_decode_features`` and
    ``jpeg_roundtrip_features``."""
    return map_rows(df.select("doc_id", "payload"), _fake_decode_row, DECODED_META_SCHEMA)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("mean_abs_e6", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)

#: bytes of the payload the stub analyzer inspects (bounded so the SQL
#: oracle's per-character expansion stays fixture-cheap; a real analyzer
#: streams the whole payload).
AUDIO_PROBE_BYTES = 512
AUDIO_FAKE_RATE_HZ = 8000  # stub: 8-bit PCM at 8 kHz


def _fake_audio_features(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for an audio decoder (librosa/ffmpeg slot,
    same signature): interpret bytes as unsigned 8-bit PCM centered at 128
    and extract (duration_ms, peak, mean_abs_e6, zero_crossings) over the
    first AUDIO_PROBE_BYTES samples. All-integer arithmetic so the SQL
    oracle reproduces it exactly. Raises on empty payloads like a real
    decoder on a corrupt file."""
    if not payload:
        raise ValueError("empty payload: cannot analyze")
    n = len(payload)
    m = min(n, AUDIO_PROBE_BYTES)
    window = payload[:m]
    duration_ms = n * 1000 // AUDIO_FAKE_RATE_HZ
    peak = max(window)
    mean_abs_e6 = sum(abs(b - 128) for b in window) * 1_000_000 // (m * 128)
    zero_crossings = sum(
        1 for i in range(m - 1) if (window[i] < 128) != (window[i + 1] < 128)
    )
    return duration_ms, peak, mean_abs_e6, zero_crossings


def _fake_audio_row(doc_id: int, payload: bytes):
    yield (doc_id, len(payload), *_fake_audio_features(payload))


def audio_features(df: DataFrame) -> DataFrame:
    """Audio feature extraction over an opaque payload column via
    mapInPandas — completes the image/audio/video modality trio on the same
    Arrow-batched plumbing (schema, partitioning, batch shape all real;
    only the sample interpretation is stubbed in-container)."""
    return map_rows(df.select("doc_id", "payload"), _fake_audio_row, AUDIO_META_SCHEMA)


# --------------------------------------------------------------------------
# REAL audio: 16-bit PCM WAV, written and parsed with stdlib ``wave`` —
# no external dependency, and the decode path exercises a genuine RIFF
# container round-trip (header parse, frame count, sample width), not a
# byte-interpretation stub.
# --------------------------------------------------------------------------

WAV_RATE_HZ = 8000  # synthesized fixture rate (mono, 16-bit)


def _synth_samples(doc_id: int) -> "array":
    """Deterministic integer PCM for a doc: n = 64 + doc_id % 64 frames of
    s(i) = ((doc_id*7919 + i*131) % 4096) - 2048 — pure integer modular
    arithmetic, so a SQL oracle regenerates the identical waveform."""
    n = 64 + doc_id % 64
    return array("h", [((doc_id * 7919 + i * 131) % 4096) - 2048 for i in range(n)])


def _synth_wav_bytes(doc_id: int) -> bytes:
    """Real RIFF/WAVE bytes for a doc's synthetic PCM via stdlib ``wave``."""
    samples = _synth_samples(doc_id)
    if sys.byteorder == "big":  # pragma: no cover - x86/arm LE everywhere here
        samples = samples[:]
        samples.byteswap()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE_HZ)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def synthesize_wav(df: DataFrame) -> DataFrame:
    """Attach a real WAV payload per doc_id (deterministic synthetic PCM)."""
    return synthesize_payloads(df, _synth_wav_bytes)


def _wav_pcm(payload: bytes) -> tuple[int, int, "array"]:
    """(frame rate, header frame count, samples) of a mono 16-bit PCM WAV:
    stdlib ``wave`` parses the RIFF header and reads every frame. Raises
    ``wave.Error`` on a corrupt container, like any real decoder."""
    with wave.open(io.BytesIO(payload), "rb") as r:
        if r.getsampwidth() != 2 or r.getnchannels() != 1:
            raise ValueError("expected mono 16-bit PCM")
        rate = r.getframerate()
        n = r.getnframes()
        raw = r.readframes(n)
    samples = array("h")
    samples.frombytes(raw)
    if sys.byteorder == "big":  # pragma: no cover
        samples.byteswap()
    return rate, n, samples


def _wav_decode_features(payload: bytes) -> tuple[int, int, int, int, int]:
    """REAL WAV decode (``_wav_pcm``) with integer-exact features over the
    16-bit signed samples:

      (n_frames, duration_ms, peak, mean_abs_e6, zero_crossings)

    peak = max |s|; mean_abs_e6 = sum|s| * 1e6 // (n * 32768); a zero
    crossing is a sign-bit change between consecutive samples (s < 0).
    """
    if not payload:
        raise ValueError("empty payload: cannot decode")
    rate, n, samples = _wav_pcm(payload)
    if n == 0:
        # structurally valid but empty container: fail the documented
        # decoder contract, not with max()-of-empty/ZeroDivisionError
        raise ValueError("empty WAV: zero frames")
    duration_ms = n * 1000 // rate
    peak = max(abs(s) for s in samples)
    mean_abs_e6 = sum(abs(s) for s in samples) * 1_000_000 // (n * 32768)
    zero_crossings = sum(
        1 for i in range(n - 1) if (samples[i] < 0) != (samples[i + 1] < 0)
    )
    return n, duration_ms, peak, mean_abs_e6, zero_crossings


WAV_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("mean_abs_e6", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def _wav_features_row(doc_id: int, payload: bytes):
    yield (doc_id, len(payload), *_wav_decode_features(payload))


def wav_audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode over a WAV payload column via mapInPandas: stdlib
    ``wave`` parses the RIFF container and features are computed from the
    decoded 16-bit samples in exact integer arithmetic (SQL-oracle-safe) —
    the real-decoder twin of ``audio_features``."""
    return map_rows(df.select("doc_id", "payload"), _wav_features_row, WAV_META_SCHEMA)


# --------------------------------------------------------------------------
# REAL images: genuine PNG containers encoded AND decoded with the vendored
# stdlib-only codec (operators/png.py) — the image twin of the WAV path.
# --------------------------------------------------------------------------


def _synth_pixels(doc_id: int) -> tuple[int, int, bytes]:
    """Deterministic RGB pixel buffer per doc: w = 8 + doc_id % 8,
    h = 8 + (doc_id // 8) % 8, byte j = (doc_id*31 + j*7) % 256 — pure
    modular arithmetic so a SQL oracle regenerates the identical image."""
    w = 8 + doc_id % 8
    h = 8 + (doc_id // 8) % 8
    pix = bytes((doc_id * 31 + j * 7) % 256 for j in range(w * h * 3))
    return w, h, pix


def _synth_png_bytes(doc_id: int) -> bytes:
    """Real PNG bytes for a doc's synthetic RGB image. The scanline filter
    cycles through all five predictors (doc_id % 5) so a corpus-wide decode
    exercises every de-filter path, not just filter 0."""
    w, h, pix = _synth_pixels(doc_id)
    return _png.encode_png(w, h, pix, channels=3, filter_type=doc_id % 5)


def synthesize_png(df: DataFrame) -> DataFrame:
    """Attach a real PNG payload per doc_id (deterministic synthetic RGB)."""
    return synthesize_payloads(df, _synth_png_bytes)


PNG_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        # decoded-buffer size (w*h*ch), NOT container size: zlib stream
        # length is implementation-detail, decoded geometry is contract
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity_e6", T.LongType()),
    ]
)


def _png_features(payload: bytes) -> tuple[int, int, int, int, int]:
    """(n_pixel_bytes, width, height, channels, mean_intensity_e6) of a PNG:
    full container parse (CRC, inflate, de-filter), intensity integer-exact
    over the decoded pixel bytes."""
    w, h, ch, data = _png.decode_png(payload)
    denom = len(data) * 255
    mean = (sum(data) * 1_000_000) // denom if denom else 0
    return len(data), w, h, ch, mean


def _png_decode_row(doc_id: int, payload: bytes):
    yield (doc_id, *_png_features(payload))


def png_decode_features(df: DataFrame) -> DataFrame:
    """REAL image decode over a PNG payload column via mapInPandas using the
    vendored codec; features integer-exact over the decoded pixel bytes."""
    return map_rows(df.select("doc_id", "payload"), _png_decode_row, PNG_META_SCHEMA)


def _png_resize(payload: bytes, target_w: int, target_h: int) -> bytes:
    """REAL image resize: decode the PNG, nearest-neighbor resample (source
    index = floor(i * src/target) — pure integer arithmetic, so an oracle
    can recompute any resized pixel), re-encode. Pillow's ``Image.resize``
    slots into the same signature for richer resamplers."""
    w, h, ch, data = _png.decode_png(payload)
    rows = bytearray()
    for ty in range(target_h):
        sy = ty * h // target_h
        base = sy * w * ch
        for tx in range(target_w):
            sx = tx * w // target_w
            rows += data[base + sx * ch : base + (sx + 1) * ch]
    return _png.encode_png(target_w, target_h, bytes(rows), channels=ch)


def _png_resize_row(target_w: int, target_h: int, doc_id: int, payload: bytes):
    # features of the RESIZED image, proving the resample ran
    yield (doc_id, *_png_features(_png_resize(payload, target_w, target_h)))


def resize_png_images(df: DataFrame, *, width: int, height: int) -> DataFrame:
    """REAL resize over a PNG payload column: vendored decode →
    nearest-neighbor resample → re-encode → re-decode, all inside one
    Arrow-batched mapInPandas stage; outputs integer-exact features of the
    resized image (SQL-oracle-checkable)."""
    row = functools.partial(_png_resize_row, width, height)
    return map_rows(df.select("doc_id", "payload"), row, PNG_META_SCHEMA)


# --------------------------------------------------------------------------
# REAL video: animated GIF89a containers encoded AND decoded with the
# vendored stdlib-only codec (operators/gif.py) — the video verse of the
# PNG/WAV playbook: frame counts come from a genuine container-metadata
# parse, and only sampled frames are decoded.
# --------------------------------------------------------------------------

#: 16-entry grayscale palette: index k -> (k*17, k*17, k*17); spans 0..255
#: exactly, and gray(k) = k*17 keeps every feature integer-exact for the
#: SQL oracle.
GIF_PALETTE: list[tuple[int, int, int]] = [(k * 17, k * 17, k * 17) for k in range(16)]


def _synth_gif_params(doc_id: int) -> tuple[int, int, int, int]:
    """(width, height, n_frames, per-frame delay in centiseconds) as pure
    modular arithmetic of doc_id, so a SQL oracle regenerates them."""
    w = 4 + doc_id % 5
    h = 4 + (doc_id // 5) % 5
    nf = 2 + doc_id % 7
    delay_cs = 4 + doc_id % 4
    return w, h, nf, delay_cs


def _synth_gif_bytes(doc_id: int) -> bytes:
    """Real animated GIF89a bytes for a doc's deterministic synthetic
    frames: frame f pixel j has palette index (doc_id*31 + f*17 + j*7) % 16
    — pure integer modular arithmetic, SQL-regenerable."""
    w, h, nf, delay_cs = _synth_gif_params(doc_id)
    frames = [
        bytes((doc_id * 31 + f * 17 + j * 7) % 16 for j in range(w * h))
        for f in range(nf)
    ]
    return _gif.encode_gif(w, h, frames, GIF_PALETTE, delays_cs=[delay_cs] * nf)


def synthesize_gif(df: DataFrame) -> DataFrame:
    """Attach a real animated-GIF payload per doc_id (deterministic
    synthetic frames through the vendored encoder)."""
    return synthesize_payloads(df, _synth_gif_bytes)


GIF_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        # summed Graphic Control Extension delays, centiseconds -> ms
        T.StructField("duration_ms", T.LongType()),
    ]
)


def _gif_meta_row(doc_id: int, payload: bytes):
    m = _gif.parse_gif_meta(payload)
    yield doc_id, m.n_frames, m.width, m.height, m.total_delay_cs * 10


def gif_video_meta(df: DataFrame) -> DataFrame:
    """REAL video-container metadata over a GIF payload column via
    mapInPandas: frame count, geometry, and duration parsed from the
    container's block structure — every LZW data sub-block skipped by its
    length prefix, zero pixel decode — so at 100 TB the metadata pass costs
    a container walk, not a decode."""
    return map_rows(df.select("doc_id", "payload"), _gif_meta_row, GIF_META_SCHEMA)


GIF_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_intensity_e6", T.LongType()),
    ]
)


def _sampled_frames(payload: bytes, every_n: int):
    """(meta, palette, frames) of a GIF: the container walk (no decode)
    chooses frames 0, every_n, 2*every_n, ...; only those are
    LZW-decompressed, the others are skipped structurally."""
    meta = _gif.parse_gif_meta(payload)
    _, palette, frames = _gif.decode_gif_frames(payload, set(range(0, meta.n_frames, every_n)))
    return meta, palette, frames


def _frame_mean_e6(palette, pixels, npx: int) -> int:
    """Integer-exact mean intensity of a palette-index frame."""
    total = sum(palette[3 * i] + palette[3 * i + 1] + palette[3 * i + 2] for i in pixels)
    return total * 1_000_000 // (npx * 3 * 255)


def _gif_frame_row(every_n: int, doc_id: int, payload: bytes):
    meta, palette, frames = _sampled_frames(payload, every_n)
    npx = meta.width * meta.height
    for fr in frames:
        yield doc_id, fr.index, meta.width, meta.height, npx, _frame_mean_e6(palette, fr.pixels, npx)


def gif_frame_features(df: DataFrame, *, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling + decode over a GIF payload column:
    container metadata gives n_frames (parsed, not inferred from byte
    length), every ``every_n``-th frame is LZW-decoded — unsampled frames
    are never decompressed — and features are integer-exact over the
    palette-mapped pixels (SQL-oracle-checkable). The sampling decision is
    row-local, so sample-then-decode is one shuffle-free stage — no join
    needed to bring payloads back to sampled indices."""
    row = functools.partial(_gif_frame_row, every_n)
    return map_rows(df.select("doc_id", "payload"), row, GIF_FRAME_SCHEMA)


def _gif_resize_frame(pixels: bytes, w: int, h: int, tw: int, th: int) -> bytes:
    """Nearest-neighbor resample of a palette-index frame: source index =
    (ty*h//th, tx*w//tw) — pure integer arithmetic, oracle-recomputable."""
    out = bytearray()
    for ty in range(th):
        base = (ty * h // th) * w
        for tx in range(tw):
            out.append(pixels[base + tx * w // tw])
    return bytes(out)


def _gif_thumb_row(target_w: int, target_h: int, every_n: int, doc_id: int, payload: bytes):
    meta, palette, frames = _sampled_frames(payload, every_n)
    thumbs = [
        _gif_resize_frame(fr.pixels, meta.width, meta.height, target_w, target_h)
        for fr in frames
    ]
    pal = [
        (palette[3 * k], palette[3 * k + 1], palette[3 * k + 2])
        for k in range(meta.n_colors)
    ]
    _, pal2, decoded = _gif.decode_gif(_gif.encode_gif(target_w, target_h, thumbs, pal))
    npx = target_w * target_h
    for fr, orig in zip(decoded, frames):
        yield doc_id, orig.index, target_w, target_h, npx, _frame_mean_e6(pal2, fr.pixels, npx)


def gif_frame_thumbnails(
    df: DataFrame, *, width: int, height: int, every_n: int = 2
) -> DataFrame:
    """REAL video thumbnailing, one row per sampled THUMBNAIL frame:
    metadata parse (no decode) → sample every ``every_n``-th frame →
    LZW-decode only those → NN-resample each to (width, height) →
    re-encode the thumbnails as a NEW animated GIF → re-decode it, in one
    Arrow-batched mapInPandas stage; features integer-exact over the
    RE-DECODED pixels (proving the full round trip ran). The video twin of
    the PNG resize path."""
    row = functools.partial(_gif_thumb_row, width, height, every_n)
    return map_rows(df.select("doc_id", "payload"), row, GIF_FRAME_SCHEMA)


# --------------------------------------------------------------------------
# REAL lossy images: genuine baseline JPEG containers encoded AND decoded
# with the vendored codec (operators/jpeg.py) — the first LOSSY tier.
# Constant-color fixtures make the full lossy chain (color transform →
# FDCT → quantize → Huffman → dequantize → IDCT → color transform) reduce
# to a per-doc SCALAR function a SQL oracle replays exactly; gradient
# fixtures (bounded-error, pytest-pinned) exercise the general path.
# --------------------------------------------------------------------------


def _synth_const_rgb(doc_id: int) -> tuple[int, int, int, int, int]:
    """(w, h, r, g, b): constant-color image params, pure modular
    arithmetic of doc_id so a SQL oracle regenerates them. Dims are
    8-multiples (16/24/32) — though edge replication keeps constancy (and
    thus flat-table exactness) for any geometry, tested separately."""
    w = 16 + 8 * (doc_id % 3)
    h = 16 + 8 * ((doc_id // 3) % 3)
    r = (doc_id * 37) % 256
    g = (doc_id * 59 + 11) % 256
    b = (doc_id * 83 + 29) % 256
    return w, h, r, g, b


def _synth_jpeg_bytes(doc_id: int) -> bytes:
    """Real baseline-JPEG bytes (flat quant tables, 4:4:4) for a doc's
    constant-color image — the configuration where lossy roundtrip is
    bit-exact and therefore oracle-checkable pixel-for-pixel."""
    w, h, r, g, b = _synth_const_rgb(doc_id)
    return _jpeg.encode_jpeg(w, h, bytes([r, g, b]) * (w * h), quant="flat")


def synthesize_jpeg(df: DataFrame) -> DataFrame:
    """Attach a real baseline-JPEG payload per doc_id."""
    return synthesize_payloads(df, _synth_jpeg_bytes)


JPEG_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        # number of DISTINCT (r,g,b) tuples in the DECODED image: proves
        # whole-image constancy survived the lossy chain, not just pixel 0
        T.StructField("distinct_rgb", T.LongType()),
        T.StructField("r_decoded", T.LongType()),
        T.StructField("g_decoded", T.LongType()),
        T.StructField("b_decoded", T.LongType()),
    ]
)


def _jpeg_roundtrip_row(doc_id: int, payload: bytes):
    w, h, ch, data = _jpeg.decode_jpeg(payload)
    arr = np.frombuffer(data, dtype=np.uint8).reshape(h * w, ch)
    distinct = len(np.unique(arr, axis=0))
    px = arr[0]
    yield doc_id, len(data), w, h, ch, distinct, int(px[0]), int(px[1]), int(px[2])


def jpeg_roundtrip_features(df: DataFrame) -> DataFrame:
    """REAL lossy-image decode over a JPEG payload column via mapInPandas
    using the vendored codec — full container parse (marker walk, Huffman
    entropy decode, dequantize, IDCT, YCbCr→RGB) per row; constancy +
    decoded channel values are integer-exact and oracle-replayed through
    the scalar color chain."""
    return map_rows(df.select("doc_id", "payload"), _jpeg_roundtrip_row, JPEG_ROUNDTRIP_SCHEMA)


def _synth_ramp_pixels(doc_id: int) -> tuple[int, int, bytes]:
    """Smooth linear-ramp RGB source for the LOSSY error audit: per-channel
    values are exact integer ramps whose maxima stay <= 255 by construction
    (no modular wraps, so no hard edges), making the image NON-constant in
    every 8x8 block yet spectrally gentle — the content class where the
    measured decode-error pin holds tight. Pure integer arithmetic a SQL
    oracle replays byte-for-byte."""
    w = 8 + doc_id % 8
    h = 8 + (doc_id // 8) % 8
    pix = bytearray()
    for y in range(h):
        for x in range(w):
            pix += bytes(
                (
                    x * 12 + y * 4 + doc_id % 32,
                    x * 4 + y * 12 + (doc_id * 7) % 32,
                    (x + y) * 8 + (doc_id * 13) % 32,
                )
            )
    return w, h, bytes(pix)


JPEG_ERROR_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("src_mean_e6", T.LongType()),
        T.StructField("err_bound", T.LongType()),
        T.StructField("within_derived_bound", T.LongType()),
        T.StructField("within_smooth_pin", T.LongType()),
    ]
)

#: measured max |decoded - source| over the ramp family is 14 (512-doc
#: sweep); 24 leaves ~1.7x headroom for table tweaks while staying 13x
#: inside the derived hard bound — same pin style as tests/test_jpeg_codec.
JPEG_SMOOTH_ERR_PIN = 24


@functools.cache
def _derived_quant_bound_int() -> int:
    """Worst-case per-pixel spatial error implied by the COMMITTED Annex K
    tables: each DCT coefficient errs by at most q/2, so |e(x,y)| <=
    sum_uv (q_uv/2)|D[u,x]D[v,y]|, maximized over (x,y); +1 covers the
    color-transform/clamp rounding on either side. Derived, not
    hand-pinned — if the tables change, the Spark side moves and the
    oracle's literal breaks LOUDLY instead of silently re-verifying.
    Cached: computed once per Python worker, not per row."""
    D = _jpeg._dct_matrix()

    def worst(qt) -> float:
        q = np.array(qt, dtype=float).reshape(8, 8)
        return max(
            sum(q[u, v] / 2 * abs(D[u, x] * D[v, y]) for u in range(8) for v in range(8))
            for x in range(8)
            for y in range(8)
        )

    return int(max(worst(_jpeg.QUANT_LUMA_K1), worst(_jpeg.QUANT_CHROMA_K2))) + 1


def _jpeg_error_audit_row(subsampling: str, bound: Callable[[], int], pin: int, doc_id: int):
    """Synthesize the smooth-ramp source, push it through the REAL lossy
    chain (Annex K quantization, Huffman, DCT — encode AND decode), and
    emit geometry, exact source statistics, and bounded-error verdicts
    against ``bound()`` and ``pin``. Pixels never leave the batch — the
    shuffle carries 8 scalar columns per image."""
    hard = bound()
    w, h, pix = _synth_ramp_pixels(doc_id)
    ww, hh, ch, data = _jpeg.decode_jpeg(
        _jpeg.encode_jpeg(w, h, pix, quant="annexk", subsampling=subsampling)
    )
    a = np.frombuffer(pix, dtype=np.uint8).astype(int)
    d = np.frombuffer(data, dtype=np.uint8).astype(int)
    max_err = int(np.abs(a - d).max()) if a.shape == d.shape else 1 << 30
    n = w * h * 3
    ok_geom = (ww, hh, ch) == (w, h, 3)
    yield (
        doc_id,
        w,
        h,
        n,
        int(a.sum()) * 1_000_000 // (n * 255),
        hard,
        int(ok_geom and max_err <= hard),
        int(ok_geom and max_err <= pin),
    )


def jpeg_error_audit(df: DataFrame) -> DataFrame:
    """NON-constant lossy roundtrip audit: real Annex-K JPEG encode+decode
    per doc with verdict columns proving the reconstruction error stays
    inside (a) the table-DERIVED hard bound and (b) the measured smooth
    pin — the catalog's generalization of the constant-image bit-exact
    oracle to genuinely lossy content."""
    row = functools.partial(
        _jpeg_error_audit_row, "444", _derived_quant_bound_int, JPEG_SMOOTH_ERR_PIN
    )
    return map_rows(_doc_ids(df), row, JPEG_ERROR_AUDIT_SCHEMA)


#: measured max |decoded - source| over the ramp family at 4:2:0 is 18
#: (512-doc sweep; chroma replication adds ~4 over the 4:4:4 max of 14);
#: 32 leaves ~1.8x headroom while staying ~24x inside the derived bound.
JPEG_SMOOTH_ERR_PIN_420 = 32

#: the ramp fixture's RGB gradients (R = 12x+4y+c, G = 4x+12y+c,
#: B = 8x+8y+c — _synth_ramp_pixels) and the BT.601 chroma rows; the
#: subsampling deviation term of the 4:2:0 bound derives from these.
_RAMP_GRAD_X = (12, 4, 8)
_RAMP_GRAD_Y = (4, 12, 8)
_CB_ROW = ("-0.168736", "-0.331264", "0.5")
_CR_ROW = ("0.5", "-0.418688", "-0.081312")

#: |cos(k*pi/16)| for k = 0..8 as LITERAL 15-digit rationals — the only
#: irrational inputs to the derived bound, frozen so the computation is
#: exact rational arithmetic end-to-end (no libm/platform dependence; the
#: float-path int() truncation sat one rounding error away from flipping
#: the oracle literal). tests/test_jpeg_codec.py pins each against
#: math.cos to 1e-12 and the final bound to 778.
_COS16_Q = (
    "1",
    "0.980785280403230",
    "0.923879532511287",
    "0.831469612302545",
    "0.707106781186548",
    "0.555570233019602",
    "0.382683432365090",
    "0.195090322016128",
    "0",
)


@functools.cache
def _derived_quant_bound_420_int() -> int:
    """Worst-case per-pixel spatial error of the 4:2:0 chain over the ramp
    family, derived (not measured) from the committed tables + the fixture
    formulas: per-plane DCT quantization error (q/2 per coefficient, as in
    the 4:4:4 bound) PLUS the chroma subsample-then-replicate deviation —
    for the linear ramp, a pixel deviates from its 2x2 box mean by at most
    (|∇c·gx| + |∇c·gy|)/2 per chroma channel — propagated through the
    YCbCr->RGB rows channel-by-channel (B sees 1.772x the Cb error, R
    1.402x the Cr error). The +1 inside each chroma term covers the source
    floor- and box-mean roundings; the final +2 covers the color-transform
    and clamp roundings on either side. Recomputed at runtime so a table
    or fixture change breaks the oracle's literal LOUDLY — and computed in
    EXACT Fraction arithmetic over literal rational constants, so the
    recomputation can never flip the literal via a platform rounding
    difference at the int() boundary (ADVICE r11). Cached like the 4:4:4
    bound."""
    from fractions import Fraction

    cos_q = [Fraction(c) for c in _COS16_Q]

    def dct_abs(u: int, x: int) -> Fraction:
        # |D[u,x]| with D[u,x] = 0.5 * cu * cos((2x+1)u * pi/16),
        # cu = 1/sqrt(2) = cos(4*pi/16) for u == 0 else 1.
        m = ((2 * x + 1) * u) % 16
        if m > 8:
            m = 16 - m
        cu = cos_q[4] if u == 0 else Fraction(1)
        return Fraction(1, 2) * cu * cos_q[m]

    def worst(qt) -> Fraction:
        q = [Fraction(int(v)) for v in qt]
        return max(
            sum(
                q[u * 8 + v] / 2 * dct_abs(u, x) * dct_abs(v, y)
                for u in range(8)
                for v in range(8)
            )
            for x in range(8)
            for y in range(8)
        )

    e_y = worst(_jpeg.QUANT_LUMA_K1)
    e_c = worst(_jpeg.QUANT_CHROMA_K2)

    def dev(row) -> Fraction:
        r = [Fraction(v) for v in row]
        dot_x = sum(ri * gi for ri, gi in zip(r, _RAMP_GRAD_X))
        dot_y = sum(ri * gi for ri, gi in zip(r, _RAMP_GRAD_Y))
        return (abs(dot_x) + abs(dot_y)) / 2

    e_cb = e_c + dev(_CB_ROW) + 1
    e_cr = e_c + dev(_CR_ROW) + 1
    per_channel = max(
        Fraction("1.402") * e_cr,  # R
        Fraction("0.344136") * e_cb + Fraction("0.714136") * e_cr,  # G
        Fraction("1.772") * e_cb,  # B
    )
    return int(e_y + per_channel) + 2


def jpeg_error_audit_420(df: DataFrame) -> DataFrame:
    """4:2:0 chroma-subsampled lossy roundtrip audit — the decode path for
    the subsampling real corpora actually contain: the encode downsamples
    chroma 2x2 (box mean), the decode upsamples by replication, and the
    verdicts run against the 4:2:0-specific derived bound and measured
    pin, with the same bounded-error discipline as the 4:4:4 audit."""
    row = functools.partial(
        _jpeg_error_audit_row, "420", _derived_quant_bound_420_int, JPEG_SMOOTH_ERR_PIN_420
    )
    return map_rows(_doc_ids(df), row, JPEG_ERROR_AUDIT_SCHEMA)


JPEG_PROGRESSIVE_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_scans", T.LongType()),
        T.StructField("src_mean_e6", T.LongType()),
        T.StructField("prog_equals_baseline", T.LongType()),
        T.StructField("within_derived_bound", T.LongType()),
    ]
)


def _jpeg_progressive_audit_row(doc_id: int):
    """Per doc, encode the ramp pixels BOTH ways at 4:2:0/Annex-K (baseline
    SOF0 and progressive SOF2 with the 10-scan libjpeg-style script),
    decode both through the real entropy decoders, and certify (a) the
    progressive decode is BIT-IDENTICAL to baseline — progressive only
    reorders the transmission of the same quantized coefficients, so any
    inequality is a codec bug — and (b) the shared decode error stays
    inside the 4:2:0 derived hard bound. n_scans is counted from the actual
    SOS markers of the emitted stream (stuffing makes a raw 0xFFDA scan
    unambiguous)."""
    hard = _derived_quant_bound_420_int()
    w, h, pix = _synth_ramp_pixels(doc_id)
    base = _jpeg.decode_jpeg(
        _jpeg.encode_jpeg(w, h, pix, quant="annexk", subsampling="420")
    )
    stream = _jpeg.encode_jpeg(
        w, h, pix, quant="annexk", subsampling="420", progressive=True
    )
    prog = _jpeg.decode_jpeg(stream)
    assert _jpeg.parse_header(stream)["progressive"]
    a = np.frombuffer(pix, dtype=np.uint8).astype(int)
    d = np.frombuffer(prog[3], dtype=np.uint8).astype(int)
    max_err = int(np.abs(a - d).max()) if a.shape == d.shape else 1 << 30
    ok_geom = prog[:3] == (w, h, 3)
    yield (
        doc_id,
        w,
        h,
        stream.count(b"\xff\xda"),
        int(a.sum()) * 1_000_000 // (w * h * 3 * 255),
        int(base == prog),
        int(ok_geom and max_err <= hard),
    )


def jpeg_progressive_audit(df: DataFrame) -> DataFrame:
    """Progressive (SOF2) decode audit: spectral-selection + successive-
    approximation scans reassemble the exact baseline coefficients."""
    return map_rows(
        _doc_ids(df), _jpeg_progressive_audit_row, JPEG_PROGRESSIVE_AUDIT_SCHEMA
    )


def _synth_jpeg420_bytes(doc_id: int) -> bytes:
    """Real-world-shaped JPEG: Annex K typical quant tables + 4:2:0 chroma
    subsampling over the modular gradient pixels — the header-metadata
    fixture (decode of this stream is lossy, pytest-bounded, not
    oracle-matched)."""
    w, h, pix = _synth_pixels(doc_id)
    return _jpeg.encode_jpeg(w, h, pix, quant="annexk", subsampling="420")


def synthesize_jpeg420(df: DataFrame) -> DataFrame:
    """Attach a production-shaped (Annex K, 4:2:0) JPEG payload per doc."""
    return synthesize_payloads(df, _synth_jpeg420_bytes)


JPEG_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("luma_h", T.IntegerType()),
        T.StructField("luma_v", T.IntegerType()),
        T.StructField("n_quant_tables", T.IntegerType()),
        T.StructField("n_huffman_tables", T.IntegerType()),
    ]
)


def _jpeg_meta_row(doc_id: int, payload: bytes):
    m = _jpeg.parse_header(payload)
    lh, lv = m["sampling"][0]
    yield (
        doc_id,
        m["width"],
        m["height"],
        m["channels"],
        lh,
        lv,
        m["n_quant_tables"],
        m["n_huffman_tables"],
    )


def jpeg_header_meta(df: DataFrame) -> DataFrame:
    """JPEG metadata-without-decode via mapInPandas: a marker-level header
    parse ONLY — no entropy decode, no IDCT — giving SOF geometry, sampling
    factors and table counts, so 100 TB routes/filters on header facts and
    decodes only the sampled subset."""
    return map_rows(df.select("doc_id", "payload"), _jpeg_meta_row, JPEG_META_SCHEMA)


IMAGE_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def _dhash_from_pixels(w: int, h: int, ch: int, data: bytes) -> int:
    """64-bit difference hash (dHash, the standard perceptual image
    fingerprint): integer-grayscale the decoded pixels, nearest-neighbor
    resample to a 9x8 grid (the SAME floor mapping as ``_png_resize``, so
    an oracle can replay every sample), then bit (ty, tx) = 1 iff the
    pixel is brighter than its right neighbor. All-integer — no float
    luminance weights — so the hash is bit-exact across engines."""
    bits = 0
    for ty in range(8):
        sy = ty * h // 8
        row = sy * w * ch
        # luminance uses COLOR channels only: 1 for gray / gray+alpha
        # (ch 1-2), 3 for RGB / RGBA — averaging alpha in would hash an
        # opaque gray+alpha re-encode away from its grayscale original
        n_color = 1 if ch <= 2 else 3
        g = []
        for tx in range(9):
            sx = tx * w // 9
            px = data[row + sx * ch : row + sx * ch + ch]
            g.append(sum(px[:n_color]) // n_color)
        for tx in range(8):
            if g[tx] > g[tx + 1]:
                bits |= 1 << (ty * 8 + tx)
    # signed two's-complement int64 (the xxhash64 convention): bit 63 is
    # the sign, so the value round-trips Arrow/Spark LongType exactly
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def _png_dhash_row(doc_id: int, payload: bytes):
    w, h, ch, data = _png.decode_png(payload)
    yield doc_id, w, h, _dhash_from_pixels(w, h, ch, data)


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual image fingerprints over a PNG payload column: full real
    decode (CRC, inflate, de-filter), then the integer hash. Near-dup
    IMAGE dedup then rides the existing Hamming machinery: band the 64
    bits 4x16 (pigeonhole: hamming < 4 => at least one exact band match)
    and equi-join buckets — identical shape to ``dedup.simhash_near_pairs``,
    never an all-pairs comparison."""
    return map_rows(df.select("doc_id", "payload"), _png_dhash_row, IMAGE_DHASH_SCHEMA)


VIDEO_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def _gif_dhash_row(every_n: int, doc_id: int, payload: bytes):
    meta, palette, frames = _sampled_frames(payload, every_n)
    for fr in frames:
        # integer gray per pixel: mean of the palette triple
        gray = bytes(
            (palette[3 * idx] + palette[3 * idx + 1] + palette[3 * idx + 2]) // 3
            for idx in fr.pixels
        )
        yield doc_id, fr.index, _dhash_from_pixels(meta.width, meta.height, 1, gray)


def gif_frame_dhash(df: DataFrame, *, every_n: int = 2) -> DataFrame:
    """Per-frame perceptual fingerprints over a GIF payload column — the
    VIDEO leg of multimodal dedup. The container walk picks the sampled
    frames, only those LZW-decode, the palette maps indices to integer
    gray, and ``_dhash_from_pixels`` runs with ch=1 (the still-image
    arithmetic). Near-dup videos share most sampled frame hashes, so
    pairing is a (dhash) equi-join + per-pair shared-frame count, never
    pixels and never all-pairs."""
    row = functools.partial(_gif_dhash_row, every_n)
    return map_rows(df.select("doc_id", "payload"), row, VIDEO_DHASH_SCHEMA)


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("afp", T.LongType()),
    ]
)


def _audio_fingerprint(samples) -> int:
    """30-bit audio contour fingerprint — the time-domain integer variant
    of the published robust audio hash (Haitsma & Kalker 2002 hash bits
    are band-ENERGY differences; without an FFT dependency the contour
    here is windowed energy + windowed zero-crossing rate, the two
    features the WAV tier already proves integer-exact):

      window(i) = i * 16 // n  (16 equal windows, floor boundaries)
      bits  0-14: sum|s| in window w  >  sum|s| in window w+1
      bits 15-29: zero-crossings started in w > started in w+1

    Pure integer arithmetic end to end, so a SQL oracle regenerates the
    PCM and replays every window sum and comparison bit-for-bit."""
    n = len(samples)
    e = [0] * 16
    zc = [0] * 16
    for i, s in enumerate(samples):
        w = i * 16 // n
        e[w] += abs(s)
        if i < n - 1 and (s < 0) != (samples[i + 1] < 0):
            zc[w] += 1
    bits = 0
    for w in range(15):
        if e[w] > e[w + 1]:
            bits |= 1 << w
        if zc[w] > zc[w + 1]:
            bits |= 1 << (15 + w)
    return bits


def _wav_fingerprint_row(doc_id: int, payload: bytes):
    _, _, samples = _wav_pcm(payload)
    yield doc_id, len(samples), _audio_fingerprint(samples)


def wav_audio_fingerprint(df: DataFrame) -> DataFrame:
    """Audio near-dup fingerprints over a WAV payload column — the AUDIO
    leg of multimodal dedup: full RIFF decode per row, then the integer
    contour hash. 4 bytes of hash per clip is all that shuffles; pairing
    is an equi-join on the fingerprint (or banded Hamming, the simhash
    machinery) — samples never leave the decode stage."""
    return map_rows(df.select("doc_id", "payload"), _wav_fingerprint_row, AUDIO_FP_SCHEMA)


# ---------------------------------------------------------------------------
# ITU-T G.711 mu-law companding — the telephony/VoIP codec tier. 14-bit
# linear PCM <-> 8-bit logarithmic bytes: sign(1) + segment(3) + mantissa(4),
# segment step sizes doubling per segment (the piecewise-linear approximation
# of the mu=255 log curve). Encode maps a sample to its segment cell; decode
# reconstructs the CELL MIDPOINT, so the roundtrip error is bounded by half
# the segment step: |decode(encode(x)) - x| <= 2^(e+2) for segment e —
# a per-sample DERIVED bound, not a measurement. All arithmetic is integer
# (bias 132, clip 32635 per the spec), so a SQL oracle replays the entire
# encode+decode chain bit-for-bit — a REAL lossy audio codec with an
# exactly-verifiable roundtrip, unlike float-DCT JPEG.
# ---------------------------------------------------------------------------

#: G.711 segment upper edges of the biased magnitude (a = |x|_clipped + 132).
_MULAW_SEG_EDGES = (256, 512, 1024, 2048, 4096, 8192, 16384)
_MULAW_BIAS = 132
_MULAW_CLIP = 32635


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """Vectorized G.711 mu-law encode: int PCM (14-bit range) -> uint8
    companded bytes (sign | segment<<4 | mantissa; spec bit-inversion is a
    transport cosmetic and does not change the mapping)."""
    x = x.astype(np.int64)
    sign = (x < 0).astype(np.int64)
    a = np.minimum(np.abs(x), _MULAW_CLIP) + _MULAW_BIAS
    e = np.searchsorted(np.array(_MULAW_SEG_EDGES), a, side="right").astype(np.int64)
    m = (a >> (e + 3)) & 15
    return ((sign << 7) | (e << 4) | m).astype(np.uint8)


def mulaw_decode(b: np.ndarray) -> np.ndarray:
    """Vectorized G.711 mu-law decode: uint8 byte -> reconstructed int
    sample (segment-cell midpoint, bias removed, sign applied)."""
    b = b.astype(np.int64)
    sign = (b >> 7) & 1
    e = (b >> 4) & 7
    m = b & 15
    d = ((m * 8 + _MULAW_BIAS) << e) - _MULAW_BIAS
    return np.where(sign == 1, -d, d)


def _synth_pcm14(doc_id: int) -> np.ndarray:
    """Deterministic 14-bit PCM fixture: a modular chirp covering the full
    [-8192, 8191] range (every mu-law segment 0..6 is exercised). Pure
    integer formula a SQL oracle replays sample-for-sample."""
    n = 240 + doc_id % 60
    i = np.arange(n, dtype=np.int64)
    return ((doc_id * 31 + 7 * i * i) % 16384) - 8192


MULAW_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_encoded_bytes", T.LongType()),
        T.StructField("sum_decoded", T.LongType()),
        T.StructField("max_abs_err", T.LongType()),
        T.StructField("within_halfstep_bound", T.LongType()),
    ]
)


def _mulaw_audit_row(doc_id: int):
    """Synthesize PCM, compand through the REAL G.711 chain (encode to
    8-bit bytes, decode back), and emit exact roundtrip statistics + the
    per-sample derived half-step-bound verdict. Samples never leave the
    batch — 6 scalar columns per clip shuffle."""
    x = _synth_pcm14(doc_id)
    enc = mulaw_encode(x)
    dec = mulaw_decode(enc)
    err = np.abs(dec - x)
    e = (enc.astype(np.int64) >> 4) & 7
    ok = bool((err <= (1 << (e + 2))).all())
    yield doc_id, int(x.size), int(enc.nbytes), int(dec.sum()), int(err.max()), int(ok)


def mulaw_roundtrip_audit(df: DataFrame) -> DataFrame:
    """G.711 mu-law companding roundtrip audit: real encode+decode per clip,
    bit-exact oracle replay of every statistic (integer codec — no float
    anywhere in the chain)."""
    return map_rows(_doc_ids(df), _mulaw_audit_row, MULAW_AUDIT_SCHEMA)
