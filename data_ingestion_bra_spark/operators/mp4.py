"""ISO-BMFF (MP4) metadata WITHOUT decode — the box-walk fast path for the
dominant real-world video container (round-6 verdict item 5).

Layout follows the PUBLIC ISO/IEC 14496-12 base-media box structure: a file
is a sequence of ``[u32 size][4cc type][payload]`` boxes, some of which are
pure containers (``moov``/``trak``/``mdia``/``minf``/``stbl``). The walk
reads ``ftyp`` (brand), ``mvhd`` (movie timescale/duration), and per-track
``tkhd`` (presentation geometry) / ``hdlr`` (handler class) / ``stsd``
(sample-description: codec fourcc plus the visual width/height or audio
channel/sample-rate fields) — header bytes only, ZERO codec parsing, same
zero-decode contract as ``jpeg_header_meta``. At 100 TB this is the
routing/filtering tier that decides which payloads are worth handing to a
real decoder; the walk touches a few hundred bytes per file regardless of
``mdat`` size.

Fixtures are deterministic pure functions of ``doc_id``
(``synthesize_mp4``) so the DuckDB oracle replays the PARAMETERS rather
than the bytes — the committed playbook of the WAV/GIF/PNG/JPEG tiers. The
synthesized files are structurally minimal (no codec-config child boxes
like ``avcC``; the walk doesn't need them and no decoder ever runs), which
is exactly the scope of a header-metadata tier.
"""

from __future__ import annotations

import functools
import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_ingestion_bra_spark.operators.multimodal import PAYLOAD_SCHEMA, map_rows, payload_row

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
_UNITY_MATRIX = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)


# ------------------------------------------------------------------ builder
def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _full(typ: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, struct.pack(">B", version) + flags.to_bytes(3, "big") + payload)


def _visual_entry(fourcc: bytes, width: int, height: int) -> bytes:
    body = (
        b"\x00" * 6  # reserved
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 0x0018, -1)  # depth, pre_defined
    )
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _audio_entry(fourcc: bytes, n_channels: int, sample_rate: int) -> bytes:
    body = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 8  # reserved
        + struct.pack(">HHHH", n_channels, 16, 0, 0)
        + struct.pack(">I", sample_rate << 16)  # 16.16 fixed
    )
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _trak(
    track_id: int,
    duration: int,
    handler: bytes,
    media_timescale: int,
    entry: bytes,
    width: int,
    height: int,
) -> bytes:
    tkhd = _full(
        b"tkhd",
        0,
        7,  # enabled | in_movie | in_preview
        struct.pack(">IIII", 0, 0, track_id, 0)
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100 if handler == b"soun" else 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _full(
        b"mdhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, media_timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + handler + b"\x00" * 12 + b"\x00")
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    minf = _box(b"minf", _box(b"stbl", stsd))
    return _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))


def build_mp4(
    *,
    duration_ms: int,
    width: int,
    height: int,
    video_codec: bytes,
    audio_codec: bytes,
    n_channels: int,
    sample_rate: int,
    brand: bytes = b"isom",
) -> bytes:
    """Minimal valid two-track (video+audio) ISO-BMFF file. Movie timescale
    is fixed at 1000, so mvhd duration is milliseconds by construction."""
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mp41")
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, 1000, duration_ms)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 3),  # next_track_ID
    )
    video = _trak(1, duration_ms, b"vide", 30_000, _visual_entry(video_codec, width, height), width, height)
    audio = _trak(2, duration_ms, b"soun", sample_rate, _audio_entry(audio_codec, n_channels, sample_rate), 0, 0)
    mdat = _box(b"mdat", bytes(16))
    return ftyp + _box(b"moov", mvhd + video + audio) + mdat


# ------------------------------------------------------------------- parser
def _iter_boxes(buf: bytes, start: int, end: int):
    off = start
    while off + 8 <= end:
        size, typ = struct.unpack_from(">I4s", buf, off)
        hdr = 8
        if size == 1:  # 64-bit largesize
            if off + 16 > end:
                return
            size = struct.unpack_from(">Q", buf, off + 8)[0]
            hdr = 16
        elif size == 0:  # box extends to EOF
            size = end - off
        if size < hdr or off + size > end:
            return
        yield typ, off + hdr, off + size
        off += size


def parse_mp4_meta(buf: bytes) -> dict:
    """Header-only box walk: brand, movie timescale/duration, track count,
    per-class codec fourcc and geometry/audio params. Raises ValueError on
    structurally broken input (truncated box, missing moov)."""
    meta: dict = {
        "major_brand": None,
        "timescale": None,
        "duration": None,
        "n_tracks": 0,
        "video_codec": None,
        "width": None,
        "height": None,
        "audio_codec": None,
        "n_channels": None,
        "sample_rate": None,
    }

    def walk(start: int, end: int, in_trak_handler: list | None = None) -> None:
        for typ, p0, p1 in _iter_boxes(buf, start, end):
            if typ == b"ftyp":
                meta["major_brand"] = buf[p0 : p0 + 4].decode("ascii", "replace")
            elif typ == b"mvhd":
                version = buf[p0]
                if version == 0:
                    _, _, ts, dur = struct.unpack_from(">IIII", buf, p0 + 4)
                else:  # v1: 64-bit creation/modification/duration
                    ts = struct.unpack_from(">I", buf, p0 + 20)[0]
                    dur = struct.unpack_from(">Q", buf, p0 + 24)[0]
                meta["timescale"], meta["duration"] = ts, dur
            elif typ == b"trak":
                meta["n_tracks"] += 1
                walk(p0, p1, in_trak_handler=[None])
            elif typ == b"hdlr" and in_trak_handler is not None:
                in_trak_handler[0] = buf[p0 + 8 : p0 + 12]
            elif typ == b"stsd" and in_trak_handler is not None:
                entry0 = p0 + 8  # skip version/flags + entry_count
                fourcc = buf[entry0 + 4 : entry0 + 8].decode("ascii", "replace")
                if in_trak_handler[0] == b"vide":
                    meta["video_codec"] = fourcc
                    meta["width"], meta["height"] = struct.unpack_from(
                        ">HH", buf, entry0 + 32
                    )
                elif in_trak_handler[0] == b"soun":
                    meta["audio_codec"] = fourcc
                    meta["n_channels"] = struct.unpack_from(">H", buf, entry0 + 24)[0]
                    meta["sample_rate"] = (
                        struct.unpack_from(">I", buf, entry0 + 32)[0] >> 16
                    )
            elif typ in _CONTAINERS:
                walk(p0, p1, in_trak_handler=in_trak_handler)

    walk(0, len(buf))
    if meta["timescale"] is None:
        raise ValueError("not an ISO-BMFF file: no moov/mvhd found")
    return meta


# ------------------------------------------------------------ Spark plumbing
MP4_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("major_brand", T.StringType()),
        T.StructField("timescale", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("audio_codec", T.StringType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

_VIDEO_CODECS = (b"avc1", b"hev1", b"mp4v")
_AUDIO_CODECS = (b"mp4a", b"ac-3")
_SAMPLE_RATES = (8000, 16000, 22050, 44100, 48000)


def mp4_params(doc_id: int) -> dict:
    """Deterministic synthesis parameters — the SINGLE definition both the
    builder and the SQL oracle replay (modular functions of doc_id, same
    playbook as the WAV/GIF/JPEG fixtures)."""
    return {
        "duration_ms": 1000 + (doc_id % 30) * 100,
        "width": 16 * (1 + doc_id % 8),
        "height": 16 * (1 + (doc_id // 8) % 8),
        "video_codec": _VIDEO_CODECS[doc_id % 3],
        "audio_codec": _AUDIO_CODECS[doc_id % 2],
        "n_channels": 1 + doc_id % 2,
        "sample_rate": _SAMPLE_RATES[doc_id % 5],
    }


def _synth_mp4_bytes(doc_id: int) -> bytes:
    return build_mp4(**mp4_params(doc_id))


def synthesize_mp4(df: DataFrame) -> DataFrame:
    """Attach a minimal two-track ISO-BMFF payload per doc. Reads the scan's
    own partitions, not the spread doc-id source: building a few dozen boxes
    costs less than the round-robin exchange the spread adds."""
    return map_rows(
        df.select("doc_id"), functools.partial(payload_row, _synth_mp4_bytes), PAYLOAD_SCHEMA
    )


def _mp4_meta_row(doc_id: int, payload: bytes):
    m = parse_mp4_meta(payload)
    yield (
        doc_id,
        m["major_brand"],
        int(m["timescale"]),
        # movie timescale is ms-exact only when it's 1000; keep the
        # conversion explicit so real-world files stay right
        int(m["duration"] * 1000 // m["timescale"]),
        int(m["n_tracks"]),
        m["video_codec"],
        m["width"],
        m["height"],
        m["audio_codec"],
        m["n_channels"],
        m["sample_rate"],
    )


def mp4_header_meta(df: DataFrame) -> DataFrame:
    """ISO-BMFF metadata-without-decode via Arrow-batched mapInPandas —
    route/filter on container facts at 100 TB, decode only what survives."""
    return map_rows(df.select("doc_id", "payload"), _mp4_meta_row, MP4_META_SCHEMA)
