"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Task-brief requirement: treat image/audio/video as opaque ``binary``
columns; implement decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` stages. Two decode paths:

* ``deterministic_fake=True`` (default for the oracle-checked queries):
  a seeded, content-hash-derived fake decode, so the Spark-side plumbing
  — schema, partitioning, UDF signature, Arrow batch shape — is real and
  tested with an independent DuckDB oracle.
* ``deterministic_fake=False``: REAL decode from the public specs. Every
  entry point (``decode_real``, ``features_real``, ``stats_real``,
  ``resize_real``, ``frames_real``, ``container_tracks``) routes through
  the same pieces:

  - ``_sniff``: one ordered magic-prefix table (PNG, JPEG, WAV, AVI,
    BMP, TIFF, GIF, FLAC, MP4, Ogg), then the MP3 frame-sync test last,
    because it shares JPEG's 0xFF lead byte.
  - one content decode per format. ``_raster`` turns PNG (zlib inflate
    + scanline unfilter, every IHDR shape incl. Adam7, palette and
    sub-byte depths), JPEG (kernels/jpeg.py: sequential, progressive,
    lossless, 12-bit, CMYK), GIF (kernels/gif.py: animation composited
    with transparency and disposal), AVI (kernels/avi.py: MJPG or
    uncompressed DIB streams), BMP and baseline TIFF (kernels/rasters.py)
    into (H, W, C) frames plus the format's full scale. ``_audio`` turns
    WAV (PCM through stdlib ``wave``, G.711 mu-law/A-law via the ITU-T
    tables, IMA/Microsoft ADPCM via kernels/adpcm.py) and lossless FLAC
    (kernels/flac.py) into integer samples plus a midpoint and
    half-range; a PCM WAV also keeps its raw frame bytes, at any sample
    width.
  - ``_stage``: the one ``mapInPandas`` body of the six stages.

  ``decode_real`` reads headers only for PNG, JPEG, PCM WAV, GIF and AVI
  (the WAV/FLAC schema mapping: width = frames, height = sample rate;
  GIF/AVI: the channels slot carries the frame count). Container
  METADATA for MP4 (ISO-BMFF box walk), Ogg (CRC-checked pages,
  Vorbis/Opus ident headers), FLAC (STREAMINFO), MP3 (Layer III
  frame-header walk) and AVI comes from ``container_tracks`` /
  ``media_containers``. Everything past that — frame decode of other
  video, sample decode of perceptual audio (MP3/AAC/Vorbis/Opus),
  arithmetic-coded JPEG — needs a full codec (Pillow/ffmpeg/pyav) and
  raises the one declared NotImplementedError (``_declared``).
"""

from __future__ import annotations

import functools
import hashlib
import io
import struct
import wave
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import adpcm, avi, flac, gif, jpeg, rasters

DECODE_SCHEMA = (
    "url string, media_kind string, n_bytes long, width int, height int, "
    "n_channels int, sha256 string"
)
FEATURE_SCHEMA = "url string, feat array<float>"
STATS_SCHEMA = (
    "url string, media_kind string, channel int, n_values long, "
    "v_sum long, v_min long, v_max long"
)
FRAME_SCHEMA = "url string, frame_idx int, frame_sha string"
RESIZE_SCHEMA = "url string, out_w int, out_h int, resized_sha string"


def _declared(fn):
    """The declared-exception contract of every real-media entry point:
    a malformed or unsupported payload raises NotImplementedError, never
    an undeclared struct.error / wave.Error / IndexError that would kill
    a Spark task untyped."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except NotImplementedError:
            raise
        except Exception as exc:  # noqa: BLE001 — truncated/corrupt payload
            raise NotImplementedError(f"malformed media payload: {exc}") from exc

    return wrapper


# (kind, ((offset, magic), ...)) in match order: the first row whose every
# test holds names the payload
_MAGIC = (
    ("png", ((0, b"\x89PNG\r\n\x1a\n"),)),
    ("jpeg", ((0, b"\xff\xd8\xff"),)),
    ("wav", ((0, b"RIFF"), (8, b"WAVE"))),
    ("avi", ((0, b"RIFF"), (8, b"AVI "))),
    ("bmp", ((0, b"BM"),)),
    ("tiff", ((0, b"II*\x00"),)),
    ("tiff", ((0, b"MM\x00*"),)),
    ("gif", ((0, b"GIF87a"),)),
    ("gif", ((0, b"GIF89a"),)),
    ("flac", ((0, b"fLaC"),)),
    ("mp4", ((4, b"ftyp"),)),
    ("ogg", ((0, b"OggS"),)),
)
_RASTERS = frozenset(("png", "jpeg", "gif", "avi", "bmp", "tiff"))
_AUDIO = frozenset(("wav", "flac"))


def _sniff(data: bytes) -> str | None:
    """The one format sniff: the first ``_MAGIC`` row that matches, else
    MP3 — an ID3v2 tag, or a frame sync whose version/layer/bitrate/rate
    fields are all valid Layer III (so random binary and JPEG's 0xFFD8
    don't land there) — else None."""
    for kind, tests in _MAGIC:
        if all(data[o : o + len(m)] == m for o, m in tests):
            return kind
    if data[:3] == b"ID3":
        return "mp3"
    if len(data) < 4 or data[0] != 0xFF or (data[1] & 0xE0) != 0xE0:
        return None
    ver, layer = (data[1] >> 3) & 3, (data[1] >> 1) & 3
    if ver in (2, 3) and layer == 1 and (data[2] >> 4) not in (0, 15) and ((data[2] >> 2) & 3) != 3:
        return "mp3"
    return None


# PNG color type -> channel count (PNG spec, IHDR)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOF markers that carry frame dimensions (not DHT/DAC/RST/...)
_JPEG_SOF = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


def _png_header(data: bytes) -> tuple[int, int, int]:
    """IHDR -> (width, height, channels)."""
    if len(data) < 26 or data[12:16] != b"IHDR":
        raise NotImplementedError("malformed PNG: no IHDR at canonical offset")
    w, h = struct.unpack(">II", data[16:24])
    # IHDR fields are unsigned 32-bit but the PNG spec caps dims at
    # 2^31-1; a malformed header past that would overflow the int32
    # decode columns. Zero-sized images are likewise malformed.
    if not (0 < w < 2**31 and 0 < h < 2**31):
        raise NotImplementedError(f"malformed PNG: dims {w}x{h} outside (0, 2^31)")
    color_type = data[25]
    if color_type not in _PNG_CHANNELS:
        raise NotImplementedError(f"PNG color type {color_type} unsupported")
    return w, h, _PNG_CHANNELS[color_type]


def _jpeg_header(data: bytes) -> tuple[int, int, int]:
    """SOF marker scan -> (width, height, components)."""
    pos = 2  # past SOI
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            break
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1  # fill byte (spec: any number of 0xFF pads precede a marker)
            continue
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2  # standalone markers, no length
            continue
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        if marker in _JPEG_SOF:
            if pos + 10 > len(data):  # truncated mid-SOF
                break
            h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
            return w, h, data[pos + 9]
        pos += 2 + seg_len
    raise NotImplementedError("malformed JPEG: no SOF marker found")


_G711 = (6, 7)  # WAVE fmt tags: A-law, mu-law
_ADPCM = (0x11, 0x02)  # WAVE fmt tags: IMA, Microsoft


def _wav_chunks(data: bytes) -> tuple[int, int, int, int, int | None, bytes]:
    """RIFF/WAVE chunk walk: (format tag, n_channels, sample_rate,
    nBlockAlign, ``fact`` frame count or None, data bytes). Stdlib
    ``wave`` refuses every fmt tag but 1 (PCM), so G.711 and ADPCM read
    the container here, per the RIFF spec (word-aligned chunks); the
    ``fact`` count trims an ADPCM stream's final-block padding."""
    pos, fmt, pcm, fact = 12, None, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            pcm = body
        elif tag == b"fact" and len(body) >= 4:
            (fact,) = struct.unpack("<I", body[:4])
        pos += 8 + ln + (ln & 1)
    if fmt is None or pcm is None or len(fmt) < 16:
        raise NotImplementedError("malformed WAV payload: missing fmt/data chunk")
    audio_fmt, nch, rate, _, block_align = struct.unpack("<HHIIH", fmt[:14])
    if nch < 1:
        raise NotImplementedError("malformed WAV payload: zero channels")
    return audio_fmt, nch, rate, block_align, fact, pcm


def encode_g711_wav(fmt_tag: int, nch: int, rate: int, comp: bytes) -> bytes:
    """Hand-assembled RIFF/WAVE around G.711 compressed bytes (stdlib
    ``wave`` writes only format-1 PCM): fmt chunk with audio format 7
    (mu-law) or 6 (A-law), 8 bits/sample, plus the cbSize=0 extension
    word the WAVE spec requires for non-PCM formats."""

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return tag + struct.pack("<I", len(payload)) + payload + (b"\x00" if len(payload) & 1 else b"")

    fmt = struct.pack("<HHIIHHH", fmt_tag, nch, rate, rate * nch, nch, 8, 0)
    body = b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"data", comp)
    return b"RIFF" + struct.pack("<I", len(body)) + body


_G711_TABLES: dict[int, np.ndarray] = {}


def _g711_table(audio_fmt: int) -> np.ndarray:
    """256-entry G.711 code -> linear int16 lookup (ITU-T G.711 /
    WAVE fmt tags 7 mu-law, 6 A-law), built once with vectorized bit
    arithmetic; per-payload decode is then one fancy-index. Mu-law:
    complement, 3-bit segment shift over a 0x84-biased mantissa, sign
    in the complemented top bit. A-law: XOR 0x55, segment 0/1 special
    cases, and — per the spec — a SET 0x80 bit means POSITIVE."""
    t = _G711_TABLES.get(audio_fmt)
    if t is None:
        codes = np.arange(256, dtype=np.int32)
        if audio_fmt == 7:  # mu-law
            u = ~codes & 0xFF
            mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
            t = np.where(u & 0x80, -mag, mag).astype(np.int16)
        else:  # A-law
            a = codes ^ 0x55
            base = (a & 0x0F) << 4
            seg = (a >> 4) & 7
            mag = np.where(
                seg == 0, base + 8,
                np.where(seg == 1, base + 0x108,
                         (base + 0x108) << np.maximum(seg - 1, 0)),
            )
            t = np.where(a & 0x80, mag, -mag).astype(np.int16)
        _G711_TABLES[audio_fmt] = t
    return t


def _wav_header(data: bytes) -> tuple[int, int, int]:
    """(frames per channel, sample rate, channels): PCM and G.711 from
    the headers; for ADPCM the decode IS the frame count."""
    audio_fmt, nch, rate, _, _, pcm = _wav_chunks(data)
    if audio_fmt == 1:
        with wave.open(io.BytesIO(data), "rb") as wf:
            return wf.getnframes(), wf.getframerate(), wf.getnchannels()
    if audio_fmt in _G711:  # one byte per sample
        return len(pcm) // nch, rate, nch
    if audio_fmt in _ADPCM:
        return _audio_dims("wav", data)
    raise NotImplementedError(f"WAV audio format {audio_fmt}: real codec territory")


def _audio_dims(kind: str, data: bytes) -> tuple[int, int, int]:
    a = _audio(kind, data)
    return a.samples.shape[0], a.rate, a.samples.shape[1]


@_declared
def decode_real(data: bytes) -> tuple[str, int, int, int]:
    """Sniff + header-decode one payload: (kind, width, height,
    n_channels). Audio maps onto the image-shaped schema as width =
    frames per channel, height = sample rate; GIF and AVI as the raster
    dims with the FRAME COUNT in the channels slot; containers as the
    first video track's dims and the first audio track's channel count.
    NotImplementedError for formats needing a real codec and for
    malformed payloads."""
    kind = _sniff(data)
    if kind == "png":
        dims = _png_header(data)
    elif kind == "jpeg":
        dims = _jpeg_header(data)
    elif kind == "wav":
        dims = _wav_header(data)
    elif kind == "gif":
        dims = gif.header(data)
    elif kind == "avi":
        dims = avi.header(data)[:3]
    elif kind in ("bmp", "tiff"):
        h, w, c = _raster(kind, data)[0][0].shape
        dims = w, h, c
    elif kind == "flac":
        dims = _audio_dims(kind, data)
    elif kind in ("mp4", "ogg", "mp3"):
        # container headers carry the filterable metadata even though
        # frame DECODE stays declared codec territory
        _, tracks = container_tracks(data)
        vid = next((t for t in tracks if t["kind"] == "video"), None)
        aud = next((t for t in tracks if t["kind"] == "audio"), None)
        dims = (vid["width"] if vid else 0, vid["height"] if vid else 0,
                aud["n_channels"] if aud else 0)
    else:
        # STUB: full codec call site (Pillow / soundfile / pyav) for
        # formats the stdlib cannot parse
        raise NotImplementedError("media codec unavailable in this container for this format")
    return (kind, *dims)


# --- content decode ------------------------------------------------------------
#
# One decode per format. Rasters become a list of (H, W, C) frames (a
# still image is one frame); audio becomes integer samples. Video frames
# decode for REAL from animated GIF and AVI with MJPG or uncompressed DIB
# streams; codecs beyond those need a real codec library and stay behind
# the declared NotImplementedError.


# Adam7 pass geometry: (x0, y0, dx, dy) per pass, PNG spec order
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_scanlines(arr: np.ndarray, n_rows: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filters on one (sub-)image: ``arr`` is
    (n_rows, stride+1) raw bytes with the filter type in column 0.
    0=None 1=Sub 2=Up 3=Average 4=Paeth; Sub is the per-residue-class
    cumsum mod 256, Up is vectorized. Average/Paeth depend on the
    RECONSTRUCTED left neighbor, so they are sequential along x by
    spec — but only across PIXELS: the ``bpp`` byte lanes inside a
    pixel are independent, so both filters step one pixel at a time
    with the byte lane vectorized (w iterations instead of w*bpp —
    3-8x fewer Python-level steps for RGB/RGBA/16-bit rows; identical
    arithmetic). Each pass/image starts with a zero prior row.

    Scale note: like the JPEG entropy loop (kernels/jpeg.py), this is
    the test-scale implementation of a per-payload scalar stage; a
    production cluster decoding megapixel corpora should swap a native
    codec (Pillow/libpng) into the SAME mapInPandas call site
    (decode_media/media_stats deterministic_fake=False). bench.py
    measures and reports the real payloads/sec of this path so the
    boundary is quantified, not guessed."""
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(n_rows):
        f = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int64)
        if f == 0:
            cur = line
        elif f == 1:  # Sub: left-neighbor chain == cumsum per byte lane
            cur = line.copy()
            for b in range(bpp):
                cur[b::bpp] = np.cumsum(cur[b::bpp]) & 0xFF
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 3:  # Average: left is reconstructed -> per-pixel steps,
            # byte lane vectorized
            cur = np.zeros(stride, dtype=np.int64)
            cur[:bpp] = (line[:bpp] + prev[:bpp] // 2) & 0xFF
            for i in range(bpp, stride, bpp):
                j = min(i + bpp, stride)
                cur[i:j] = (
                    line[i:j] + (cur[i - bpp : i - bpp + (j - i)] + prev[i:j]) // 2
                ) & 0xFF
        elif f == 4:  # Paeth: same per-pixel stepping, vector byte lane
            cur = np.zeros(stride, dtype=np.int64)
            # first pixel: a = c = 0 -> predictor reduces to prev (b)
            cur[:bpp] = (line[:bpp] + prev[:bpp]) & 0xFF
            for i in range(bpp, stride, bpp):
                j = min(i + bpp, stride)
                a = cur[i - bpp : i - bpp + (j - i)]
                b2 = prev[i:j]
                c2 = prev[i - bpp : i - bpp + (j - i)]
                p = a + b2 - c2
                pa, pb, pc = np.abs(p - a), np.abs(p - b2), np.abs(p - c2)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b2, c2))
                cur[i:j] = (line[i:j] + pred) & 0xFF
        else:
            raise NotImplementedError(f"malformed PNG: filter type {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _png_pixels(data: bytes) -> np.ndarray:
    """Decode a PNG to a (h, w, channels) array: walk chunks, inflate the
    concatenated IDAT stream, undo the per-scanline filters
    (_unfilter_scanlines), and for Adam7-interlaced images unfilter each
    of the 7 passes independently and scatter it into the raster
    (out[y0::dy, x0::dx] — each pass restarts filtering with a zero
    prior row, per the spec). Supported: bit depth 8 (uint8 out), bit
    depth 16 (uint16 out, big-endian samples), palette at depths
    1/2/4/8 (PLTE lookup -> (h, w, 3) uint8), sub-byte grayscale
    (MSB-first unpack + spec scaling to 8-bit), interlace 0 and 1 in
    every combination — i.e. EVERY IHDR shape the spec allows;
    ancillary chunks (tRNS, gAMA, ...) are ignored."""
    import zlib

    w, h, channels = _png_header(data)  # validates IHDR + dims
    if len(data) < 29:  # _png_header needs 26 bytes; interlace sits at 28
        raise NotImplementedError("malformed PNG: IHDR truncated before interlace byte")
    bit_depth, color_type, interlace = data[24], data[25], data[28]
    sub_byte = bit_depth in (1, 2, 4) and color_type in (0, 3)
    if not sub_byte and (bit_depth not in (8, 16) or (color_type == 3 and bit_depth != 8)):
        raise NotImplementedError(f"PNG bit depth {bit_depth}/color {color_type}: real codec territory")
    if interlace not in (0, 1):
        raise NotImplementedError(f"malformed PNG: interlace method {interlace}")
    idat: list[bytes] = []
    plte: bytes | None = None
    pos = 8
    try:
        while pos + 8 <= len(data):
            (ln,) = struct.unpack(">I", data[pos : pos + 4])
            typ = data[pos + 4 : pos + 8]
            if typ == b"IDAT":
                idat.append(data[pos + 8 : pos + 8 + ln])
            elif typ == b"PLTE":
                plte = data[pos + 8 : pos + 8 + ln]
            if typ == b"IEND":
                break
            pos += 12 + ln  # len + type + payload + crc
        raw = zlib.decompress(b"".join(idat))
    except NotImplementedError:
        raise
    except Exception as exc:  # noqa: BLE001 — corrupt chunk table / deflate stream
        raise NotImplementedError(f"malformed PNG pixel data: {exc}") from exc
    if color_type == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise NotImplementedError("malformed PNG: palette image without a valid PLTE chunk")
    if sub_byte:
        # filters at sub-byte depths use a ONE-byte offset (spec: bpp is
        # rounded up to one byte); samples pack MSB-first within bytes,
        # each scanline (and each Adam7 pass scanline) padded to a byte
        weights = 1 << np.arange(bit_depth - 1, -1, -1)

        def unpack(seg: np.ndarray, ph: int, pw: int) -> np.ndarray:
            pstride = (pw * bit_depth + 7) // 8
            rows = _unfilter_scanlines(seg, ph, pstride, 1)
            bits = np.unpackbits(rows, axis=1)[:, : pw * bit_depth].reshape(ph, pw, bit_depth)
            return (bits * weights).sum(axis=2).astype(np.uint8)

        if interlace == 0:
            stride = (w * bit_depth + 7) // 8
            if len(raw) != h * (stride + 1):
                raise NotImplementedError("malformed PNG: pixel data size != h * (stride + 1)")
            vals = unpack(np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1), h, w)
        else:  # sub-byte Adam7: per-pass bit strides, scattered like the byte path
            vals = np.zeros((h, w), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                pstride = (pw * bit_depth + 7) // 8
                seg_len = ph * (pstride + 1)
                if off + seg_len > len(raw):
                    raise NotImplementedError("malformed PNG: truncated Adam7 pass data")
                seg = np.frombuffer(raw, dtype=np.uint8, count=seg_len, offset=off).reshape(
                    ph, pstride + 1
                )
                off += seg_len
                vals[y0::dy, x0::dx] = unpack(seg, ph, pw)
            if off != len(raw):
                raise NotImplementedError("malformed PNG: Adam7 pass data size mismatch")
        if color_type == 3:
            table = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            if int(vals.max(initial=0)) >= len(table):
                raise NotImplementedError("malformed PNG: palette index out of PLTE range")
            return table[vals]
        # grayscale: scale to full 8-bit range (spec sample scaling)
        return ((vals.astype(np.uint16) * 255) // ((1 << bit_depth) - 1)).astype(np.uint8)[
            :, :, None
        ]
    bpp = channels * (bit_depth // 8)  # filter offset = bytes per pixel
    stride = w * bpp
    if interlace == 0:
        if len(raw) != h * (stride + 1):
            raise NotImplementedError("malformed PNG: pixel data size != h * (stride + 1)")
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        out = _unfilter_scanlines(arr, h, stride, bpp)
        out = out.reshape(h, w, bpp)
    else:  # Adam7: 7 independent sub-images, scattered into the raster
        out = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass for small images
            pstride = pw * bpp
            seg_len = ph * (pstride + 1)
            if off + seg_len > len(raw):
                raise NotImplementedError("malformed PNG: truncated Adam7 pass data")
            seg = np.frombuffer(raw, dtype=np.uint8, count=seg_len, offset=off).reshape(
                ph, pstride + 1
            )
            off += seg_len
            out[y0::dy, x0::dx] = _unfilter_scanlines(seg, ph, pstride, bpp).reshape(ph, pw, bpp)
        if off != len(raw):
            raise NotImplementedError("malformed PNG: Adam7 pass data size mismatch")
    if color_type == 3:  # palette indices -> RGB via PLTE
        table = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(table):
            raise NotImplementedError("malformed PNG: palette index out of PLTE range")
        return table[idx]
    if bit_depth == 16:  # big-endian sample pairs -> uint16
        b16 = out.reshape(h, w, channels, 2).astype(np.uint16)
        return (b16[..., 0] << 8) | b16[..., 1]
    return out.reshape(h, w, bpp)

def _raster(kind: str, data: bytes) -> tuple[list[np.ndarray], int, object]:
    """(frames, full scale, timing) of a raster payload. The full scale
    maps samples to [0, 1]; timing is the GIF frame delays (centiseconds)
    or the AVI frame rate, None for a still image."""
    if kind == "png":
        px = _png_pixels(data)
        return [px], 65535 if px.dtype == np.uint16 else 255, None
    if kind == "jpeg":
        px = jpeg.decode_baseline(data)
        return [px], (1 << jpeg.frame_info(data)[1]) - 1, None
    if kind == "gif":
        # the PRESENTED frames: composited logical screens, not raw sub-rects
        frames, delays = gif.compose(data)
        return frames, 255, delays
    if kind == "avi":
        frames, fps = avi.decode_avi(data)
        return frames, 255, fps
    return [rasters.decode_bmp(data) if kind == "bmp" else rasters.decode_tiff(data)], 255, None


class _Audio(NamedTuple):
    """One decoded audio payload. ``samples`` (n, ch) integers map to
    [-1, 1] as (s - mid) / half; None for a PCM width other than 8/16 bits
    or bytes that are not whole frames. ``fmt`` is the WAV format tag (1
    for PCM read by ``wave``; 0 for FLAC). ``wire`` holds the stored frames
    where one frame is a fixed run of bytes — (bytes, frame count,
    channels, bytes per sample) for PCM and G.711 — else None."""

    samples: np.ndarray | None
    rate: int
    mid: int
    half: int
    fmt: int
    wire: tuple[bytes, int, int, int] | None


def _audio(kind: str, data: bytes) -> _Audio:
    if kind == "flac":
        s, rate = flac.decode_flac(data)
        return _Audio(s, rate, 0, 32768, 0, None)
    audio_fmt, nch, rate, block_align, fact, pcm = _wav_chunks(data)
    if audio_fmt in _G711:  # one byte per sample, expanded to linear int16
        n = len(pcm) // nch
        codes = pcm[: n * nch]
        lin = _g711_table(audio_fmt)[np.frombuffer(codes, dtype=np.uint8)].reshape(n, nch)
        return _Audio(lin, rate, 0, 32768, audio_fmt, (codes, n, nch, 1))
    if audio_fmt in _ADPCM:
        if block_align < (7 if audio_fmt == 0x02 else 8) * nch:
            raise NotImplementedError("malformed ADPCM WAV: bad block layout")
        decode = adpcm.ms_decode_blocks if audio_fmt == 0x02 else adpcm.decode_blocks
        return _Audio(decode(pcm, block_align, nch, n_frames=fact), rate, 0, 32768, audio_fmt, None)
    with wave.open(io.BytesIO(data), "rb") as wf:  # wave refuses every tag but PCM
        nch, sw, rate, n = wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes()
        raw = wf.readframes(n)
    samples = None
    if sw in (1, 2) and len(raw) % (sw * nch) == 0:
        samples = np.frombuffer(raw, dtype="<i2" if sw == 2 else np.uint8).reshape(-1, nch)
    # 8-bit WAV PCM is unsigned, midpoint 128
    return _Audio(samples, rate, *((128, 128) if sw == 1 else (0, 32768)), 1, (raw, n, nch, sw))


def _channels(data: bytes):
    """(kind, values, to_unit) shared by the stats and feature encoders:
    ``values`` is (n, C) integers — the first presented frame's pixels
    of a raster, the samples of audio — and ``to_unit`` maps one
    channel's integers to [0, 1] floats (audio: [-1, 1] mapped to
    [0, 1])."""
    kind = _sniff(data)
    if kind in _RASTERS:
        frames, scale, _ = _raster(kind, data)
        px = frames[0]
        return kind, px.reshape(-1, px.shape[2]), lambda v: v.astype(np.float64) / scale
    if kind in _AUDIO:
        a = _audio(kind, data)
        if a.samples is None:
            raise NotImplementedError("WAV PCM: only whole 8/16-bit frames decode without a real codec")
        return kind, a.samples, lambda v: ((v.astype(np.float64) - a.mid) / a.half + 1.0) / 2.0
    raise NotImplementedError("only PNG/JPEG/GIF/BMP/TIFF/AVI/WAV/FLAC decode without a real codec")


@_declared
def features_real(data: bytes, dim: int) -> np.ndarray:
    """Fixed-``dim`` float32 feature vector from REAL decoded content:
    per-channel (mean, std, min, max) in channel-major order, zero-padded
    / truncated to ``dim``. Raster stats are over the first presented
    frame's pixels scaled to [0, 1]; audio stats over samples with
    [-1, 1] mapped to [0, 1]."""
    _, values, to_unit = _channels(data)
    stats: list[float] = []
    for c in range(values.shape[1]):
        ch = to_unit(values[:, c])
        stats += [float(ch.mean()), float(ch.std()), float(ch.min()), float(ch.max())] if ch.size else [0.0] * 4
    vec = np.zeros(dim, dtype=np.float32)
    vec[: min(dim, len(stats))] = np.asarray(stats[:dim], dtype=np.float32)
    return vec


@_declared
def stats_real(data: bytes) -> tuple[str, list[tuple[int, int, int, int]]]:
    """Per-channel INTEGER statistics (n, sum, min, max) of the same
    values — exact arithmetic end to end, so the KAT oracle comparison
    is immune to float summation-order effects. Pixels at native depth
    (PNG palette expanded to RGB, sub-byte grayscale scaled to 8-bit),
    raw PCM / expanded G.711 / decoded ADPCM and FLAC integers."""
    kind, values, _ = _channels(data)
    if not values.shape[0]:
        # zero pixels or samples: per-channel min/max are undefined
        raise NotImplementedError(f"malformed {kind} payload: no values to aggregate")
    v = values.astype(np.int64)
    return kind, [
        (v.shape[0], int(v[:, c].sum()), int(v[:, c].min()), int(v[:, c].max()))
        for c in range(v.shape[1])
    ]


def encode_png(px: np.ndarray) -> bytes:
    """Encode a (h, w, channels) uint8 or uint16 array as a
    non-interlaced PNG (filter 0 scanlines + one zlib IDAT, bit depth 8
    or 16 by dtype, 16-bit samples big-endian per the spec) — the write
    side of ``_png_pixels``, used by the real resize path. Channel count
    picks the color type (1=gray 2=gray+alpha 3=RGB 4=RGBA)."""
    import zlib

    h, w, c = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if color_type is None:
        raise NotImplementedError(f"PNG encode: {c} channels unsupported")
    bit_depth = 16 if px.dtype == np.uint16 else 8
    rows = px.astype(">u2") if bit_depth == 16 else px
    raw = b"".join(b"\x00" + rows[y].tobytes() for y in range(h))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _jpeg_adobe_transform(data: bytes) -> int:
    """APP14 transform byte of a JPEG stream (0 if absent/unreadable) —
    marker walk only, no entropy decode."""
    pos = 2
    while pos + 4 <= len(data) and data[pos] == 0xFF:
        m = data[pos + 1]
        if m == 0xFF:
            pos += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        if m in (0xD9, 0xDA):
            break
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        body = data[pos + 4:pos + 2 + ln]
        if m == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            return body[11]
        pos += 2 + ln
    return 0

def _nn(t: int, n: int) -> np.ndarray:
    """Nearest-neighbour (floor) sampling: output i of ``t`` reads input
    i*n//t of ``n`` — deterministic and endpoint-safe for any dims."""
    return (np.arange(t, dtype=np.int64) * n) // max(t, 1)


def _reencode_jpeg(data: bytes, frames: list[np.ndarray], _timing, _tw: int, _th: int) -> bytes:
    """Re-encode in the source's coding process and precision."""
    px = frames[0]
    marker, prec = jpeg.frame_info(data)
    if marker == 0xC3:  # lossless source: re-encode losslessly
        return jpeg.encode_lossless(px, precision=prec)
    if prec == 12:  # 12-bit DCT source re-encodes at 12 bits
        return jpeg.encode_baseline(px, precision=12)
    if px.shape[2] == 4:
        # re-encode CMYK with the SOURCE's Adobe transform (APP14 marker
        # scan; a 4-comp file without one re-encodes as transform-0
        # inverted CMYK — ink values round-trip either way)
        return jpeg.encode_baseline(px, adobe_transform=_jpeg_adobe_transform(data))
    return jpeg.encode_baseline(px)


def _reencode_tiff(data: bytes, frames: list[np.ndarray], _timing, _tw: int, _th: int) -> bytes:
    """Re-encode in the byte order of the source header ("MM" big-endian)."""
    return rasters.encode_tiff(frames[0], big_endian=data[:2] == b"MM")


# kind -> (source payload, resampled frames, timing, tw, th) -> payload
_REENCODE = {
    "png": lambda data, frames, timing, tw, th: encode_png(frames[0]),
    "jpeg": _reencode_jpeg,
    "bmp": lambda data, frames, timing, tw, th: rasters.encode_bmp(frames[0]),
    "tiff": _reencode_tiff,
    # every PRESENTED frame as a full-canvas frame, delays kept; disposal
    # collapses to "keep" since compositing already happened (a
    # presentation-equivalent animation, not a byte-level one)
    "gif": lambda data, frames, delays, tw, th: gif.encode_gif(
        [{"pixels": f, "delay_cs": d, "disposal": 1} for f, d in zip(frames, delays)], tw, th
    ),
    # the SOURCE stream codec at the source fps: DIB exactly, MJPG
    # through the baseline encoder
    "avi": lambda data, frames, fps, tw, th: avi.encode_avi(
        frames, fps or 1, codec="MJPG" if avi.stream_codec(data) == "MJPG" else "DIB"
    ),
}


@_declared
def resize_real(data: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbor resample, returned RE-ENCODED in the source
    format (the resize stage's output is a payload, not pixels):

    * rasters -> every frame at (tw, th) pixels; source pixel for output
      (x, y) is (x*w//tw, y*h//th).
    * audio -> the analogue of the decode-stage schema mapping (width =
      frames, height = sample rate): ``tw`` frames per channel at sample
      rate ``th``. PCM (any sample width) and G.711 pick stored frames,
      so they re-encode losslessly; ADPCM re-encodes in the source
      flavour (lossy, deterministic encoder) and FLAC losslessly.

    Other formats need a real codec -> NotImplementedError."""
    kind = _sniff(data)
    if kind in _RASTERS:
        frames, _, timing = _raster(kind, data)
        h, w, _ = frames[0].shape
        yi, xi = _nn(th, h), _nn(tw, w)
        resized = [np.ascontiguousarray(f[yi][:, xi]) for f in frames]
        return _REENCODE[kind](data, resized, timing, tw, th)
    if kind not in _AUDIO:
        raise NotImplementedError("resize: only PNG/JPEG/GIF/BMP/TIFF/AVI/WAV/FLAC decode without a real codec")
    a = _audio(kind, data)
    n = a.samples.shape[0] if a.wire is None else a.wire[1]
    idx = _nn(tw, n) if n else np.zeros(0, np.int64)  # no frames resample to none
    if a.wire is None:  # ADPCM / FLAC: resample the decoded samples
        picked = a.samples[idx]
        if kind == "flac":  # verbatim subframes: deterministic and lossless
            return flac.encode_flac(picked.astype(np.int16), th)
        return (adpcm.encode_ms_wav if a.fmt == 0x02 else adpcm.encode_ima_wav)(picked, th)
    raw, n, nch, width = a.wire
    picked = np.frombuffer(raw, dtype=np.uint8).reshape(n, nch * width)[idx].tobytes()
    if a.fmt in _G711:
        return encode_g711_wav(a.fmt, nch, th, picked)
    out = io.BytesIO()
    with wave.open(out, "wb") as wo:
        wo.setnchannels(nch)
        wo.setsampwidth(width)
        wo.setframerate(th)
        wo.writeframes(picked)
    return out.getvalue()


def _sha16(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:16]


@_declared
def frames_real(data: bytes, n_frames: int) -> list[str]:
    """``n_frames`` samples of a video or audio payload, each identified
    by the first 16 hex chars of the sha256 of its bytes.

    GIF and AVI get GENUINE video frame extraction: sample i is decoded
    frame i*F//n_frames (GIF: the COMPOSITED logical screen; AVI: MJPG
    via kernels/jpeg.py or a DIB reshape), hashed over its raw (H, W, 3)
    RGB bytes. Audio gets the analogue: contiguous fixed-stride windows
    split on frame boundaries (window i covers sample frames
    [i*n/n_frames, (i+1)*n/n_frames)) — of the raw PCM bytes for PCM at
    any sample width, of the DECODED little-endian int16 stream for
    G.711, ADPCM and FLAC (decode-then-window: the window id names
    sample content, not wire bytes)."""
    kind = _sniff(data)
    if kind in ("gif", "avi"):
        frames = _raster(kind, data)[0]
        return [_sha16(frames[i * len(frames) // n_frames].tobytes()) for i in range(n_frames)]
    if kind not in _AUDIO:
        raise NotImplementedError("frame sampling: only WAV/FLAC/GIF/AVI decode without a real codec")
    a = _audio(kind, data)
    if a.fmt == 1:
        raw, n, nch, width = a.wire
    else:
        raw, (n, nch), width = a.samples.astype("<i2").tobytes(), a.samples.shape, 2
    size = nch * width
    bounds = [i * n // n_frames for i in range(n_frames + 1)]
    return [_sha16(raw[bounds[i] * size : bounds[i + 1] * size]) for i in range(n_frames)]


def _stage(df: DataFrame, binary_col: str, schema: str, batch) -> DataFrame:
    """The one body of the media stages: select ``url`` and the binary
    column, skip empty Arrow batches, coerce NULL payloads to b"", and
    yield ``batch(urls, payloads)`` — one pandas frame per batch. Decode
    is per-payload by nature (variable-size compressed bytes); the batch
    assembly around it is columnar."""

    def run(batches):
        for pdf in batches:
            if len(pdf):
                payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
                yield batch(pdf["url"].to_numpy(), payloads)

    return df.select("url", binary_col).mapInPandas(run, schema=schema)


def decode_media(df: DataFrame, binary_col: str = "html", kind: str = "image", deterministic_fake: bool = True) -> DataFrame:
    """Decode stage: binary -> typed metadata row per payload. With
    ``deterministic_fake=False`` every format ``decode_real`` knows
    (PNG/JPEG/GIF/BMP/TIFF/AVI/WAV/FLAC headers, MP4/Ogg/MP3 container
    metadata) is decoded for real, media_kind reporting the sniffed
    format; other formats raise NotImplementedError."""

    def batch(urls, payloads):
        n_bytes = np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads))
        if deterministic_fake:
            # hashing is inherently per-payload; everything else is columnar
            digests = [hashlib.sha256(d).digest() for d in payloads]
            dig = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 32)
            return pd.DataFrame(
                {
                    "url": urls,
                    "media_kind": kind,
                    "n_bytes": n_bytes,
                    "width": (64 + dig[:, 0] % 192).astype(np.int32),
                    "height": (64 + dig[:, 1] % 192).astype(np.int32),
                    "n_channels": (1 + dig[:, 2] % 3).astype(np.int32),
                    "sha256": [d.hex() for d in digests],
                }
            )
        decoded = [decode_real(d) for d in payloads]

        def col(i):
            return np.fromiter((d[i] for d in decoded), dtype=np.int32, count=len(decoded))

        return pd.DataFrame(
            {
                "url": urls,
                "media_kind": [d[0] for d in decoded],
                "n_bytes": n_bytes,
                "width": col(1),
                "height": col(2),
                "n_channels": col(3),
                "sha256": [hashlib.sha256(d).hexdigest() for d in payloads],
            }
        )

    return _stage(df, binary_col, DECODE_SCHEMA, batch)


def extract_features(df: DataFrame, binary_col: str = "html", dim: int = 16, deterministic_fake: bool = True) -> DataFrame:
    """Feature-extract stage: binary -> fixed-dim float vector. Fake path:
    bytes of the sha256 digest scaled to [0,1). Real path
    (``deterministic_fake=False``): per-channel pixel/sample statistics
    from the real decode (``features_real``, every raster and audio
    format of ``_raster``/``_audio``); formats needing a real codec raise
    the declared NotImplementedError."""

    def batch(urls, payloads):
        if deterministic_fake:
            digests = [
                hashlib.sha256(d).digest() + hashlib.sha256(d + b"x").digest() for d in payloads
            ]
            dig = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 64)
            feats = list((dig[:, :dim] / 255.0).astype(np.float32))  # one vectorized pass
        else:
            feats = [features_real(d, dim) for d in payloads]
        return pd.DataFrame({"url": urls, "feat": feats})

    return _stage(df, binary_col, FEATURE_SCHEMA, batch)


def sample_frames(df: DataFrame, binary_col: str = "html", n_frames: int = 3, deterministic_fake: bool = True) -> DataFrame:
    """Frame-sample stage (video semantics): one output row per sampled
    frame — the 1->N Arrow fan-out shape, assembled columnar (repeat/tile
    index arrays; per-item hashing is the only Python loop). Real path
    (``deterministic_fake=False``): ``frames_real`` — decoded frames of
    animated GIF and AVI, fixed-stride sample windows of WAV and FLAC;
    other formats raise the declared NotImplementedError."""

    def batch(urls, payloads):
        if deterministic_fake:
            # ASCII frame salt (not bytes([i])): keeps the fake's hash
            # chain expressible in the plain-SQL oracle (DuckDB sha256 is
            # VARCHAR-only; NUL bytes don't survive VARCHAR concat)
            shas = [_sha16(d + str(i).encode()) for d in payloads for i in range(n_frames)]
        else:
            shas = [s for d in payloads for s in frames_real(d, n_frames)]
        return pd.DataFrame(
            {
                "url": np.repeat(urls, n_frames),
                "frame_idx": np.tile(np.arange(n_frames, dtype=np.int32), len(payloads)),
                "frame_sha": shas,
            }
        )

    return _stage(df, binary_col, FRAME_SCHEMA, batch)


def resize_media(
    df: DataFrame,
    binary_col: str = "html",
    target: tuple[int, int] = (32, 32),
    deterministic_fake: bool = True,
) -> DataFrame:
    """Resize stage: binary payload -> resized-payload identity (target
    dims + content sha). Fake path: hash chain over the raw bytes plus an
    ASCII salt (``sha256(payload || 'resize:WxH')``) so the plain-SQL
    oracle re-derives it (same VARCHAR-safe convention as the frame
    salt). Real path (``deterministic_fake=False``): nearest-neighbor
    resample re-encoded in the source format by ``resize_real`` (every
    raster and audio format); other formats raise the declared
    NotImplementedError."""
    tw, th = int(target[0]), int(target[1])
    salt = f"resize:{tw}x{th}".encode()

    def batch(urls, payloads):
        shas = [_sha16(d + salt if deterministic_fake else resize_real(d, tw, th)) for d in payloads]
        return pd.DataFrame(
            {
                "url": urls,
                "out_w": np.full(len(payloads), tw, dtype=np.int32),
                "out_h": np.full(len(payloads), th, dtype=np.int32),
                "resized_sha": shas,
            }
        )

    return _stage(df, binary_col, RESIZE_SCHEMA, batch)


def media_stats(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Stats stage over REAL decoded content: one output row per decoded
    channel (1->N fan-out like ``sample_frames``), integer-exact columns
    so the twin-derived KAT oracle compares without float tolerance."""

    def batch(urls, payloads):
        rows = []
        for url, d in zip(urls, payloads):
            kind, stats = stats_real(d)
            rows += [(url, kind, c, *s) for c, s in enumerate(stats)]
        return pd.DataFrame(
            rows, columns=["url", "media_kind", "channel", "n_values", "v_sum", "v_min", "v_max"]
        ).astype({"channel": "int32", "n_values": "int64", "v_sum": "int64", "v_min": "int64", "v_max": "int64"})

    return _stage(df, binary_col, STATS_SCHEMA, batch)


# ----------------------------------------------------- containers ---
#
# Video/audio CONTAINER metadata (ISO-BMFF per ISO/IEC 14496-12, Ogg per
# RFC 3533 + Vorbis-I / RFC 7845 ident headers). Frame decode stays
# declared codec territory (ffmpeg/pyav class); what a training-data
# pipeline filters on — dims, duration, codec ids, channels — is in the
# container headers, parsed here from the public specs. Iterative
# struct-based walkers; the KAT twin (tests/container_reference_impl.py)
# re-reads every field with a scalar byte cursor and a bit-serial CRC.

CONTAINER_SCHEMA = (
    "url string, container string, codec string, track_id long, "
    "track_type string, width int, height int, n_channels int, "
    "sample_rate int, duration_ms long, n_tracks int"
)

_MP4_HANDLER_KIND = {b"vide": "video", b"soun": "audio", b"hint": "hint",
                     b"meta": "meta", b"subt": "subtitle", b"text": "text"}


def _mp4_boxes(data: bytes, pos: int, end: int):
    """Yield (tag, body_start, body_end) for the sibling boxes in
    data[pos:end]; handles size==1 (64-bit largesize) and size==0
    (to end-of-enclosing) per 14496-12 §4.2."""
    while pos + 8 <= end:
        size = int.from_bytes(data[pos:pos + 4], "big")
        tag = bytes(data[pos + 4:pos + 8])
        head = 8
        if size == 1:
            if pos + 16 > end:
                raise NotImplementedError("malformed MP4: truncated largesize box header")
            size = int.from_bytes(data[pos + 8:pos + 16], "big")
            head = 16
        elif size == 0:
            size = end - pos
        if size < head or pos + size > end:
            raise NotImplementedError(f"malformed MP4: box {tag!r} size {size} overruns its parent")
        yield tag, pos + head, pos + size
        pos += size
    if pos != end:
        raise NotImplementedError("malformed MP4: trailing bytes do not form a box header")


def _mp4_track(data: bytes, start: int, end: int) -> dict:
    """One trak box -> metadata dict (tkhd id, mdhd timescale/duration,
    hdlr kind, first stsd entry codec + audio/video fields)."""
    t: dict = {"track_id": None, "kind": "unknown", "codec": "",
               "width": 0, "height": 0, "n_channels": 0, "sample_rate": 0,
               "timescale": 0, "duration": 0}
    for tag, b0, b1 in _mp4_boxes(data, start, end):
        if tag == b"tkhd":
            ver = data[b0]
            # v0: ctime/mtime/track_ID 4 bytes each; v1 widens times to 8
            t["track_id"] = int.from_bytes(data[b0 + (12 if ver == 0 else 20):][:4], "big")
        elif tag == b"mdia":
            for mtag, m0, m1 in _mp4_boxes(data, b0, b1):
                if mtag == b"mdhd":
                    ver = data[m0]
                    if ver == 1:
                        t["timescale"] = int.from_bytes(data[m0 + 20:m0 + 24], "big")
                        t["duration"] = int.from_bytes(data[m0 + 24:m0 + 32], "big")
                    else:
                        t["timescale"] = int.from_bytes(data[m0 + 12:m0 + 16], "big")
                        t["duration"] = int.from_bytes(data[m0 + 16:m0 + 20], "big")
                elif mtag == b"hdlr":
                    t["kind"] = _MP4_HANDLER_KIND.get(bytes(data[m0 + 8:m0 + 12]), "unknown")
                elif mtag == b"minf":
                    for ntag, n0, n1 in _mp4_boxes(data, m0, m1):
                        if ntag != b"stbl":
                            continue
                        for stag, s0, s1 in _mp4_boxes(data, n0, n1):
                            if stag == b"stsd":
                                _mp4_sample_entry(data, s0, s1, t)
    if t["track_id"] is None or not t["timescale"]:
        raise NotImplementedError("malformed MP4: trak missing tkhd or mdhd")
    return t


def _mp4_sample_entry(data: bytes, b0: int, b1: int, t: dict) -> None:
    """First stsd sample entry: fourcc -> codec; §12.1.3 visual /
    §12.2.3 audio field layout relative to the entry body."""
    n_entries = int.from_bytes(data[b0 + 4:b0 + 8], "big")
    if not n_entries:
        return
    for etag, e0, e1 in _mp4_boxes(data, b0 + 8, b1):
        t["codec"] = etag.decode("ascii", "replace")
        if t["kind"] == "video" and e1 - e0 >= 28:
            # SampleEntry 8 bytes, then pre_defined/reserved 16, w/h
            t["width"] = int.from_bytes(data[e0 + 24:e0 + 26], "big")
            t["height"] = int.from_bytes(data[e0 + 26:e0 + 28], "big")
        elif t["kind"] == "audio" and e1 - e0 >= 28:
            # SampleEntry 8, reserved 8, channelcount/samplesize, 4, rate
            t["n_channels"] = int.from_bytes(data[e0 + 16:e0 + 18], "big")
            t["sample_rate"] = int.from_bytes(data[e0 + 24:e0 + 28], "big") >> 16
        return  # first entry only


def _mp4_tracks(data: bytes) -> list[dict]:
    tracks: list[dict] = []
    saw_ftyp = saw_moov = False
    for tag, b0, b1 in _mp4_boxes(data, 0, len(data)):
        if tag == b"ftyp":
            saw_ftyp = True
        elif tag == b"moov":
            saw_moov = True
            for mtag, m0, m1 in _mp4_boxes(data, b0, b1):
                if mtag == b"trak":
                    tracks.append(_mp4_track(data, m0, m1))
    if not (saw_ftyp and saw_moov):
        raise NotImplementedError("malformed MP4: missing ftyp or moov box")
    return tracks


_OGG_CRC_TABLE: list[int] | None = None


def _ogg_crc_table() -> list[int]:
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        table = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1) & 0xFFFFFFFF
            table.append(r)
        _OGG_CRC_TABLE = table
    return _OGG_CRC_TABLE


def _ogg_streams(data: bytes) -> list[dict]:
    """Walk the Ogg pages (RFC 3533 §6), CRC-checking each, and return
    one dict per logical stream (serial): first-packet ident bytes,
    final granule position, page count."""
    table = _ogg_crc_table()
    streams: dict[int, dict] = {}
    pos = 0
    while pos < len(data):
        if data[pos:pos + 4] != b"OggS" or pos + 27 > len(data):
            raise NotImplementedError("malformed Ogg: bad capture pattern")
        if data[pos + 4] != 0:
            raise NotImplementedError(f"malformed Ogg: stream structure version {data[pos + 4]}")
        header_type = data[pos + 5]
        granule = int.from_bytes(data[pos + 6:pos + 14], "little", signed=True)
        serial = int.from_bytes(data[pos + 14:pos + 18], "little")
        crc_stored = int.from_bytes(data[pos + 22:pos + 26], "little")
        n_segs = data[pos + 26]
        seg_table = data[pos + 27:pos + 27 + n_segs]
        if len(seg_table) < n_segs:
            raise NotImplementedError("malformed Ogg: truncated segment table")
        body_len = sum(seg_table)
        page_end = pos + 27 + n_segs + body_len
        if page_end > len(data):
            raise NotImplementedError("malformed Ogg: truncated page body")
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        crc = 0
        for b in page:
            crc = ((crc << 8) & 0xFFFFFFFF) ^ table[((crc >> 24) & 0xFF) ^ b]
        if crc != crc_stored:
            raise NotImplementedError("malformed Ogg: page CRC mismatch")
        s = streams.setdefault(serial, {"serial": serial, "ident": b"", "granule": 0, "pages": 0})
        s["pages"] += 1
        if header_type & 0x02:  # BOS: first packet is the codec ident header
            first_pkt_len = 0
            for v in seg_table:
                first_pkt_len += v
                if v < 255:
                    break
            s["ident"] = bytes(data[pos + 27 + n_segs:pos + 27 + n_segs + first_pkt_len])
        if granule >= 0:
            s["granule"] = granule
        pos = page_end
    if not streams:
        raise NotImplementedError("malformed Ogg: no pages")
    return list(streams.values())


def _ogg_track(s: dict) -> dict:
    ident = s["ident"]
    if ident[:7] == b"\x01vorbis" and len(ident) >= 16:
        ch = ident[11]
        rate = int.from_bytes(ident[12:16], "little")
        if not rate:
            raise NotImplementedError("malformed Ogg: vorbis rate 0")
        dur = s["granule"] * 1000 // rate  # granule = PCM sample count
    elif ident[:8] == b"OpusHead" and len(ident) >= 16:
        ch = ident[9]
        pre_skip = int.from_bytes(ident[10:12], "little")
        rate = int.from_bytes(ident[12:16], "little")  # informational input rate
        # Opus granules are ALWAYS at 48 kHz, minus pre-skip (RFC 7845 §4)
        dur = max(s["granule"] - pre_skip, 0) * 1000 // 48000
    else:
        raise NotImplementedError("Ogg codec unsupported: unknown ident packet")
    return {"track_id": s["serial"], "kind": "audio", "codec": "opus" if ident[:4] == b"Opus" else "vorbis",
            "width": 0, "height": 0, "n_channels": ch, "sample_rate": rate, "duration_ms": dur}


_MP3_BITRATES = {3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
                 2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000)}


def _mp3_track(data: bytes) -> dict:
    """Walk every MPEG-1/2 Layer III frame header (ISO/IEC 11172-3 /
    13818-3): frame lengths from the bitrate/rate/padding fields, exact
    duration from the per-frame sample counts (1152 MPEG-1 / 576
    MPEG-2). ID3v2 prefix (syncsafe size) and ID3v1 'TAG' trailer are
    skipped; anything else unparseable is declared malformed. VBR
    streams work (bitrate read per frame); free-format (index 0) needs
    frame-sync scanning and stays declared."""
    pos = 0
    if data[:3] == b"ID3":
        if len(data) < 10:
            raise NotImplementedError("malformed MP3: truncated ID3v2 header")
        sz = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
        pos = 10 + sz + (10 if data[5] & 0x10 else 0)  # footer flag
    n_frames = 0
    samples = 0
    rate = nch = None
    while pos + 4 <= len(data):
        if data[pos : pos + 3] == b"TAG" and len(data) - pos == 128:
            break  # ID3v1 trailer
        b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
        if data[pos] != 0xFF or (b1 & 0xE0) != 0xE0:
            raise NotImplementedError("malformed MP3: lost frame sync")
        ver, layer = (b1 >> 3) & 3, (b1 >> 1) & 3
        if ver not in (2, 3) or layer != 1:
            raise NotImplementedError("MP3: only MPEG-1/2 Layer III decodes here")
        br_idx, sr_idx, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            raise NotImplementedError("malformed MP3: reserved/free bitrate or rate field")
        r = _MP3_RATES[ver][sr_idx]
        if rate is None:
            rate = r
            nch = 1 if (b3 >> 6) == 3 else 2
        elif r != rate:
            raise NotImplementedError("malformed MP3: sample rate changes mid-stream")
        flen = (144000 if ver == 3 else 72000) * _MP3_BITRATES[ver][br_idx] // r + pad
        if flen <= 4 or pos + flen > len(data):
            raise NotImplementedError("malformed MP3: truncated frame")
        samples += 1152 if ver == 3 else 576
        n_frames += 1
        pos += flen
    if not n_frames:
        raise NotImplementedError("malformed MP3: no audio frames")
    return {"track_id": 1, "kind": "audio", "codec": "mp3", "width": 0, "height": 0,
            "n_channels": nch, "sample_rate": rate, "duration_ms": samples * 1000 // rate}


def _flac_track(data: bytes) -> dict:
    """FLAC STREAMINFO (format spec: 'fLaC' magic, metadata block walk;
    block type 0 carries rate/channels/bits/total-samples as packed
    big-endian bit fields)."""
    pos = 4
    while pos + 4 <= len(data):
        hdr = data[pos]
        ln = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + ln]
        if len(body) != ln:
            raise NotImplementedError("malformed FLAC: truncated metadata block")
        if hdr & 0x7F == 0:  # STREAMINFO
            if ln < 34:
                raise NotImplementedError("malformed FLAC: short STREAMINFO")
            bits = int.from_bytes(body[10:18], "big")
            rate = bits >> 44
            nch = ((bits >> 41) & 0x07) + 1
            total = bits & ((1 << 36) - 1)
            if not rate:
                raise NotImplementedError("malformed FLAC: sample rate 0")
            return {"track_id": 1, "kind": "audio", "codec": "flac", "width": 0, "height": 0,
                    "n_channels": nch, "sample_rate": rate,
                    "duration_ms": total * 1000 // rate}
        if hdr & 0x80:
            break
        pos += 4 + ln
    raise NotImplementedError("malformed FLAC: no STREAMINFO block")

def _avi_track(data: bytes) -> dict:
    w, h, n_frames, fps = avi.header(data)
    # schema mapping for video: sample_rate carries the frame rate
    # (frames ARE the samples of a video stream); n_channels 0 — there
    # is no audio stream in this corpus
    return {"track_id": 1, "kind": "video", "codec": avi.stream_codec(data).strip().lower(),
            "width": w, "height": h, "n_channels": 0, "sample_rate": fps,
            "duration_ms": n_frames * 1000 // fps if fps else 0}


@_declared
def container_tracks(data: bytes) -> tuple[str, list[dict]]:
    """Sniff + parse one container payload -> (container_kind, track
    dicts). Declared NotImplementedError for malformed payloads and for
    non-container formats (same contract as decode_real)."""
    kind = _sniff(data)
    if kind == "flac":
        tracks = [_flac_track(data)]
    elif kind == "mp3":
        tracks = [_mp3_track(data)]
    elif kind == "mp4":
        tracks = [
            {"track_id": t["track_id"], "kind": t["kind"], "codec": t["codec"],
             "width": t["width"], "height": t["height"],
             "n_channels": t["n_channels"], "sample_rate": t["sample_rate"],
             "duration_ms": t["duration"] * 1000 // t["timescale"]}
            for t in _mp4_tracks(data)
        ]
    elif kind == "ogg":
        tracks = [_ogg_track(s) for s in _ogg_streams(data)]
    elif kind == "avi":
        tracks = [_avi_track(data)]
    else:
        raise NotImplementedError("not a recognized media container (MP4/Ogg/FLAC/MP3/AVI)")
    return kind, tracks


def media_containers(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Container-metadata stage: binary -> one row per track (MP4 trak /
    Ogg logical stream). 1->N Arrow fan-out like media_stats; header
    walking is a few hundred bytes per payload, so per-payload scalar
    parsing is the right shape — parallelism comes from the partition
    count, not intra-payload vectorization."""

    def batch(urls, payloads):
        rows = []
        for url, payload in zip(urls, payloads):
            kind, tracks = container_tracks(payload)
            for t in tracks:
                rows.append((url, kind, t["codec"], t["track_id"], t["kind"],
                             t["width"], t["height"], t["n_channels"],
                             t["sample_rate"], t["duration_ms"], len(tracks)))
        return pd.DataFrame(
            rows,
            columns=["url", "container", "codec", "track_id", "track_type",
                     "width", "height", "n_channels", "sample_rate",
                     "duration_ms", "n_tracks"],
        ).astype({"track_id": "int64", "width": "int32", "height": "int32",
                  "n_channels": "int32", "sample_rate": "int32",
                  "duration_ms": "int64", "n_tracks": "int32"})

    return _stage(df, binary_col, CONTAINER_SCHEMA, batch)
