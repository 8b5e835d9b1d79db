"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Task-brief requirement: treat image/audio/video as opaque ``binary``
columns; implement decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` stages. Two decode paths:

* ``deterministic_fake=True`` (default for the oracle-checked queries):
  a seeded, content-hash-derived fake decode, so the Spark-side plumbing
  — schema, partitioning, UDF signature, Arrow batch shape — is real and
  tested with an independent DuckDB oracle.
* ``deterministic_fake=False``: REAL stdlib decode — headers for
  PNG (IHDR width/height + color-type channel count), JPEG (SOF marker
  scan) and WAV (the ``wave`` module; width = frames per channel,
  height = sample rate); PIXELS for non-interlaced PNG at bit depth 8
  and 16 plus 8-bit palette (zlib inflate of IDAT + scanline unfilter +
  PLTE lookup, feeding real channel statistics into
  ``extract_features``); PCM SAMPLES for 8/16-bit WAV and G.711
  mu-law/A-law WAV (fmt tags 7/6, expanded to linear int16 via the
  ITU-T G.711 lookup tables — statistics + fixed-stride frame windows
  in ``sample_frames``); JPEG PIXELS via the
  from-scratch codec (kernels/jpeg.py — huffman + dequant + IDCT +
  YCbCr, any sampling factors, restart intervals, multi-scan
  sequential AND progressive with successive approximation); GIF
  FRAMES via the from-scratch codec (kernels/gif.py — LZW,
  global/local palettes, interlace, and ANIMATION: GCE transparency +
  disposal methods composited onto the logical screen, so
  ``sample_frames`` performs genuine video-style frame extraction on
  animated GIF); nearest-neighbor RESIZE re-encoded in the source
  format; BMP (24-bit + palettized BI_RGB, both orientations) and
  baseline TIFF (both byte orders, multi-strip, gray/RGB; Compression
  none/LZW/Deflate/PackBits with the horizontal Predictor) decoded by
  kernels/rasters.py (layout paths pure numpy); AVI VIDEO frames
  (kernels/avi.py — MJPG streams through the JPEG codec, uncompressed
  DIB streams by reshaping: genuine container video extraction in
  ``sample_frames``); IMA + Microsoft ADPCM WAV (fmt tags 0x11/0x02,
  kernels/adpcm.py — block/channel lanes numpy-lockstep) and LOSSLESS
  FLAC sample decode (kernels/flac.py — bit-exact, every subframe
  type, stereo decorrelation, per-frame CRCs); container METADATA for
  MP4 (ISO-BMFF box walk: per-track codec/dims/channels/sample-rate/
  duration), Ogg (CRC-checked pages, Vorbis/Opus ident headers), FLAC
  (STREAMINFO block), MP3 (MPEG-1/2 Layer III frame-header walk:
  exact duration, ID3v2/v1 skipped) and AVI (avih/strh/strf walk) via
  ``container_tracks`` / ``media_containers``. Everything past that —
  FRAME decode of video beyond animated GIF + MJPG/DIB AVI, SAMPLE
  decode of perceptual audio (MP3/AAC/Vorbis/Opus frames),
  arithmetic-coded JPEG — needs a full codec (Pillow/ffmpeg/pyav) and
  raises the one declared NotImplementedError.
"""

from __future__ import annotations

import hashlib
import io
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

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


# PNG color type -> channel count (PNG spec, IHDR)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOF markers that carry frame dimensions (not DHT/DAC/RST/...)
_JPEG_SOF = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


def _decode_png(data: bytes) -> tuple[str, int, int, int]:
    if len(data) < 26 or data[12:16] != b"IHDR":
        raise NotImplementedError("malformed PNG: no IHDR at canonical offset")
    w, h = struct.unpack(">II", data[16:24])
    # IHDR fields are unsigned 32-bit but the PNG spec caps dims at
    # 2^31-1; a malformed header past that would overflow the int32
    # decode columns — declared NotImplementedError, not a task-killing
    # OverflowError. Zero-sized images are likewise malformed.
    if not (0 < w < 2**31 and 0 < h < 2**31):
        raise NotImplementedError(f"malformed PNG: dims {w}x{h} outside (0, 2^31)")
    color_type = data[25]
    if color_type not in _PNG_CHANNELS:
        raise NotImplementedError(f"PNG color type {color_type} unsupported")
    return "png", w, h, _PNG_CHANNELS[color_type]


def _decode_jpeg(data: bytes) -> tuple[str, int, int, int]:
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
            n_comp = data[pos + 9]
            return "jpeg", w, h, n_comp
        pos += 2 + seg_len
    raise NotImplementedError("malformed JPEG: no SOF marker found")


def _wav_chunks(data: bytes) -> tuple[int, int, int, int, bytes]:
    """RIFF/WAVE chunk walk: (audio_format, n_channels, sample_rate,
    bits_per_sample, data_bytes). Stdlib ``wave`` refuses every fmt tag
    but 1 (PCM), so the G.711 path (tags 7 mu-law / 6 A-law) parses the
    container directly per the RIFF spec (word-aligned chunks)."""
    if not (data[:4] == b"RIFF" and data[8:12] == b"WAVE"):
        raise NotImplementedError("malformed WAV payload: bad RIFF header")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            pcm = body
        pos += 8 + ln + (ln & 1)
    if fmt is None or pcm is None or len(fmt) < 16:
        raise NotImplementedError("malformed WAV payload: missing fmt/data chunk")
    audio_fmt, nch, rate = struct.unpack("<HHI", fmt[0:8])
    (bits,) = struct.unpack("<H", fmt[14:16])
    if nch < 1:
        raise NotImplementedError("malformed WAV payload: zero channels")
    return audio_fmt, nch, rate, bits, pcm


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


def _wav_adpcm(data: bytes) -> tuple[np.ndarray, int, int]:
    """ADPCM WAV (fmt tag 0x11 IMA, 0x02 Microsoft) -> (int16 samples
    (n, nch), rate, nch). Re-walks the RIFF chunks because the decode
    needs fields the generic walk drops: nBlockAlign and the ``fact``
    frame count that trims the final block's padding
    (kernels/adpcm.py)."""
    from ..kernels import adpcm

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
    audio_fmt, nch, rate = struct.unpack("<HHI", fmt[0:8])
    (block_align,) = struct.unpack("<H", fmt[12:14])
    min_hdr = 7 * nch if audio_fmt == 0x02 else 8 * nch
    if nch < 1 or block_align < min_hdr:
        raise NotImplementedError("malformed ADPCM WAV: bad block layout")
    try:
        if audio_fmt == 0x02:
            return adpcm.ms_decode_blocks(pcm, block_align, nch, n_frames=fact), rate, nch
        return adpcm.decode_blocks(pcm, block_align, nch, n_frames=fact), rate, nch
    except NotImplementedError:
        raise
    except Exception as exc:  # noqa: BLE001 — corrupt block layout
        raise NotImplementedError(f"malformed ADPCM WAV: {exc}") from exc


def _decode_wav(data: bytes) -> tuple[str, int, int, int]:
    audio_fmt, nch, rate, _, pcm = _wav_chunks(data)
    if audio_fmt == 1:
        import wave

        with wave.open(io.BytesIO(data), "rb") as wf:
            # audio mapping onto the image-shaped schema (documented):
            # width = frames per channel, height = sample rate
            return "wav", wf.getnframes(), wf.getframerate(), wf.getnchannels()
    if audio_fmt in (6, 7):  # G.711: one byte per sample
        return "wav", len(pcm) // nch, rate, nch
    if audio_fmt in (0x11, 0x02):  # IMA / Microsoft ADPCM: decode IS the frame count
        s, rate, nch = _wav_adpcm(data)
        return "wav", s.shape[0], rate, nch
    raise NotImplementedError(f"WAV audio format {audio_fmt}: real codec territory")


def decode_real(data: bytes) -> tuple[str, int, int, int]:
    """Sniff + header-decode one payload via stdlib: (kind, width, height,
    n_channels). NotImplementedError for formats needing a real codec AND
    for malformed payloads of the supported formats — one declared
    exception type, so a corrupt payload can never kill a Spark task with
    an undeclared struct.error/wave.Error."""
    try:
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            return _decode_png(data)
        if data[:3] == b"\xff\xd8\xff":
            return _decode_jpeg(data)
        if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
            return _decode_wav(data)
        if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
            from ..kernels import avi

            # video mapping onto the image-shaped schema (mirrors the
            # GIF convention): width/height are the raster dims, the
            # channels slot carries the FRAME COUNT
            w, h, n_frames, _fps = avi.header(data)
            return "avi", w, h, n_frames
        if data[:2] == b"BM":
            from ..kernels import rasters

            px = rasters.decode_bmp(data)
            return "bmp", px.shape[1], px.shape[0], px.shape[2]
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            from ..kernels import rasters

            px = rasters.decode_tiff(data)
            return "tiff", px.shape[1], px.shape[0], px.shape[2]
        if data[:6] in (b"GIF87a", b"GIF89a"):
            from ..kernels import gif

            # animated-format mapping onto the image-shaped schema
            # (documented, mirrors the WAV overload): width/height are
            # the logical screen, the channels slot carries the FRAME
            # COUNT — the pipeline-relevant cardinality of an animation
            w, h, n_frames = gif.header(data)
            return "gif", w, h, n_frames
        if data[:4] == b"fLaC":
            from ..kernels import flac

            # FLAC gets REAL sample decode (kernels/flac.py) — same
            # audio mapping as WAV: width = frames, height = rate
            s, rate = flac.decode_flac(data)
            return "flac", s.shape[0], rate, s.shape[1]
        if (
            (len(data) >= 12 and data[4:8] == b"ftyp")
            or data[:4] == b"OggS"
            or _is_mp3(data)
        ):
            # container formats: headers carry the filterable metadata
            # (dims / channels / codec ids) even though frame DECODE
            # stays declared codec territory — map the first video
            # track's dims and the first audio track's channel count
            # onto the image-shaped decode schema
            kind, tracks = container_tracks(data)
            vid = next((t for t in tracks if t["kind"] == "video"), None)
            aud = next((t for t in tracks if t["kind"] == "audio"), None)
            return (kind, vid["width"] if vid else 0, vid["height"] if vid else 0,
                    aud["n_channels"] if aud else 0)
    except NotImplementedError:
        raise
    except Exception as exc:  # noqa: BLE001 — truncated/corrupt headers
        raise NotImplementedError(f"malformed media payload: {exc}") from exc
    # STUB: full codec call site (Pillow / soundfile / pyav) for formats
    # the stdlib cannot parse (frame decode of mp4/ogg included)
    raise NotImplementedError("media codec unavailable in this container for this format")


# --- real pixel/sample decode (stdlib + from-scratch codecs) ------------------
#
# Beyond the headers: PNG pixels via zlib-inflate of the IDAT stream +
# per-scanline unfiltering (PNG spec filters 0-4, EVERY IHDR shape the
# spec allows), JPEG pixels via the baseline codec in kernels/jpeg.py,
# WAV PCM samples via wave.readframes (G.711 mu-law/A-law expanded by
# the spec lookup tables, IMA ADPCM via kernels/adpcm.py). Video frames
# decode for REAL from animated GIF (kernels/gif.py) and AVI with MJPG
# or uncompressed DIB streams (kernels/avi.py); video/audio codecs
# beyond those genuinely need a real codec library and stay behind the
# declared NotImplementedError.


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

    _, w, h, channels = _decode_png(data)  # validates magic + IHDR + dims
    if len(data) < 29:  # _decode_png needs 26 bytes; interlace sits at 28
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


def _wav_samples(data: bytes) -> tuple[np.ndarray, int]:
    """Decode WAV audio to a float64 (n_frames, n_channels) array in
    [-1, 1] plus the sample rate. 16-bit and 8-bit PCM (stdlib ``wave``
    can't parse float/24-bit WAV anyway) plus G.711 mu-law/A-law, which
    expand to linear int16 via the spec lookup table."""
    audio_fmt, nch, fr, _, pcm = _wav_chunks(data)
    if audio_fmt in (6, 7):
        lin = _g711_table(audio_fmt)[np.frombuffer(pcm, dtype=np.uint8)]
        s = lin.astype(np.float64) / 32768.0
        return s[: (len(s) // nch) * nch].reshape(-1, nch), fr
    if audio_fmt in (0x11, 0x02):  # IMA / MS ADPCM -> linear int16
        ints, fr, _ = _wav_adpcm(data)
        return ints.astype(np.float64) / 32768.0, fr
    import wave

    try:
        with wave.open(io.BytesIO(data), "rb") as wf:
            nch, sw, fr = wf.getnchannels(), wf.getsampwidth(), wf.getframerate()
            raw = wf.readframes(wf.getnframes())
    except Exception as exc:  # noqa: BLE001
        raise NotImplementedError(f"malformed WAV payload: {exc}") from exc
    if sw not in (1, 2):
        raise NotImplementedError(f"WAV sample width {sw}: real codec territory")
    if len(raw) % sw:
        raise NotImplementedError("malformed WAV payload: truncated sample")
    if sw == 2:
        s = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    else:  # 8-bit WAV PCM is unsigned, midpoint 128
        s = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if nch <= 0 or len(s) % nch:
        raise NotImplementedError(
            "malformed WAV payload: data chunk is not a whole number of frames"
        )
    return s.reshape(-1, nch), fr


def features_real(data: bytes, dim: int) -> np.ndarray:
    """Fixed-``dim`` float32 feature vector from REAL decoded content:
    per-channel (mean, std, min, max) in channel-major order, zero-padded
    / truncated to ``dim``. PNG/JPEG stats are over pixels scaled to
    [0, 1] (JPEG via the from-scratch baseline codec, kernels/jpeg.py);
    WAV stats are over PCM samples with mean/min/max mapped from [-1, 1]
    to [0, 1] (std is scale-only, kept as-is; G.711 expands to linear
    int16 first). Formats past that (video, compressed audio beyond
    G.711, arithmetic-coded JPEG) need a real codec -> declared
    NotImplementedError."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        px = _png_pixels(data)
        px = px.astype(np.float64) / (65535.0 if px.dtype == np.uint16 else 255.0)
        chans = [px[:, :, c].ravel() for c in range(px.shape[2])]
    elif data[:3] == b"\xff\xd8\xff":
        from ..kernels import jpeg

        raw = jpeg.decode_baseline(data)
        _, prec = jpeg.frame_info(data)
        px = raw.astype(np.float64) / float((1 << prec) - 1)
        chans = [px[:, :, c].ravel() for c in range(px.shape[2])]
    elif data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        s, _ = _wav_samples(data)
        chans = [(s[:, c] + 1.0) / 2.0 for c in range(s.shape[1])]
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        from ..kernels import gif

        px = gif.compose(data)[0][0].astype(np.float64) / 255.0
        chans = [px[:, :, c].ravel() for c in range(3)]
    elif data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ..kernels import avi

        px = avi.decode_avi(data)[0][0].astype(np.float64) / 255.0
        chans = [px[:, :, c].ravel() for c in range(3)]
    elif data[:4] == b"fLaC":
        from ..kernels import flac

        s, _ = flac.decode_flac(data)
        sf = s.astype(np.float64) / 32768.0
        chans = [(sf[:, c] + 1.0) / 2.0 for c in range(sf.shape[1])]
    elif data[:2] == b"BM" or data[:4] in (b"II*\x00", b"MM\x00*"):
        from ..kernels import rasters

        raw = rasters.decode_bmp(data) if data[:2] == b"BM" else rasters.decode_tiff(data)
        px = raw.astype(np.float64) / 255.0
        chans = [px[:, :, c].ravel() for c in range(px.shape[2])]
    else:
        raise NotImplementedError("feature encoder: only PNG/JPEG/GIF/BMP/TIFF/AVI/WAV/FLAC decode without a real codec")
    stats: list[float] = []
    for ch in chans:
        if ch.size:
            stats += [float(ch.mean()), float(ch.std()), float(ch.min()), float(ch.max())]
        else:
            stats += [0.0, 0.0, 0.0, 0.0]
    vec = np.zeros(dim, dtype=np.float32)
    vec[: min(dim, len(stats))] = np.asarray(stats[:dim], dtype=np.float32)
    return vec


def _wav_ints(data: bytes) -> np.ndarray:
    """WAV PCM as RAW integer samples, (n_frames, n_channels): int16 for
    16-bit, uint8 (unsigned, midpoint 128) for 8-bit — the integer-exact
    twin of ``_wav_samples`` used by the stats stage so the oracle
    comparison never touches floats. G.711 payloads yield the expanded
    linear int16 samples — the decode IS the expansion."""
    audio_fmt, nch, _, _, pcm = _wav_chunks(data)
    if audio_fmt in (6, 7):
        lin = _g711_table(audio_fmt)[np.frombuffer(pcm, dtype=np.uint8)]
        return lin[: (len(lin) // nch) * nch].reshape(-1, nch)
    if audio_fmt in (0x11, 0x02):  # IMA / MS ADPCM: the decode IS the expansion
        return _wav_adpcm(data)[0]
    import wave

    try:
        with wave.open(io.BytesIO(data), "rb") as wf:
            nch, sw = wf.getnchannels(), wf.getsampwidth()
            raw = wf.readframes(wf.getnframes())
    except Exception as exc:  # noqa: BLE001
        raise NotImplementedError(f"malformed WAV payload: {exc}") from exc
    if sw not in (1, 2):
        raise NotImplementedError(f"WAV sample width {sw}: real codec territory")
    if len(raw) % sw:
        raise NotImplementedError("malformed WAV payload: truncated sample")
    arr = np.frombuffer(raw, dtype="<i2" if sw == 2 else np.uint8)
    if nch <= 0 or len(arr) % nch:
        raise NotImplementedError(
            "malformed WAV payload: data chunk is not a whole number of frames"
        )
    return arr.reshape(-1, nch)


def stats_real(data: bytes) -> tuple[str, list[tuple[int, int, int, int]]]:
    """Per-channel INTEGER statistics (n, sum, min, max) from the real
    decode — exact arithmetic end to end, so the KAT oracle comparison
    is immune to float summation-order effects. PNG pixels at native
    depth (palette expanded to RGB, sub-byte grayscale scaled to 8-bit),
    JPEG uint8 pixels via kernels/jpeg.py, WAV raw PCM integers."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        px = _png_pixels(data)
        kind = "png"
    elif data[:3] == b"\xff\xd8\xff":
        from ..kernels import jpeg

        px = jpeg.decode_baseline(data)
        kind = "jpeg"
    elif data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        s = _wav_ints(data)
        if not s.shape[0]:
            # zero-sample audio: per-channel min/max are undefined, so
            # the stats stage declares the payload malformed
            raise NotImplementedError("malformed WAV payload: no samples to aggregate")
        return "wav", [
            (s.shape[0], int(s[:, c].sum()), int(s[:, c].min()), int(s[:, c].max()))
            for c in range(s.shape[1])
        ]
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        from ..kernels import gif

        # stats over the FIRST PRESENTED frame (the composited logical
        # screen, not the raw sub-rect): what a thumbnailer sees
        px = gif.compose(data)[0][0]
        kind = "gif"
    elif data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ..kernels import avi

        # same first-presented-frame convention as GIF
        px = avi.decode_avi(data)[0][0]
        kind = "avi"
    elif data[:4] == b"fLaC":
        from ..kernels import flac

        s, _ = flac.decode_flac(data)
        if not s.shape[0]:
            raise NotImplementedError("malformed FLAC payload: no samples to aggregate")
        return "flac", [
            (s.shape[0], int(s[:, c].sum()), int(s[:, c].min()), int(s[:, c].max()))
            for c in range(s.shape[1])
        ]
    elif data[:2] == b"BM":
        from ..kernels import rasters

        px = rasters.decode_bmp(data)
        kind = "bmp"
    elif data[:4] in (b"II*\x00", b"MM\x00*"):
        from ..kernels import rasters

        px = rasters.decode_tiff(data)
        kind = "tiff"
    else:
        raise NotImplementedError("stats: only PNG/JPEG/GIF/BMP/TIFF/AVI/WAV/FLAC decode without a real codec")
    arr = px.astype(np.int64)
    return kind, [
        (
            arr.shape[0] * arr.shape[1],
            int(arr[:, :, c].sum()),
            int(arr[:, :, c].min()),
            int(arr[:, :, c].max()),
        )
        for c in range(arr.shape[2])
    ]


def media_stats(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Stats stage over REAL decoded content: one output row per decoded
    channel (1->N fan-out like ``sample_frames``), integer-exact columns
    so the twin-derived KAT oracle compares without float tolerance.
    Decode is per-payload by nature (variable-size compressed bytes);
    the batch assembly around it is columnar."""

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            urls, kinds, chans, ns, sums, mins, maxs = [], [], [], [], [], [], []
            for url, p in zip(pdf["url"], pdf[binary_col]):
                kind, stats = stats_real(bytes(p) if p is not None else b"")
                for c, (n, s, mn, mx) in enumerate(stats):
                    urls.append(url)
                    kinds.append(kind)
                    chans.append(c)
                    ns.append(n)
                    sums.append(s)
                    mins.append(mn)
                    maxs.append(mx)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "media_kind": kinds,
                    "channel": np.asarray(chans, dtype=np.int32),
                    "n_values": np.asarray(ns, dtype=np.int64),
                    "v_sum": np.asarray(sums, dtype=np.int64),
                    "v_min": np.asarray(mins, dtype=np.int64),
                    "v_max": np.asarray(maxs, dtype=np.int64),
                }
            )

    return df.select("url", binary_col).mapInPandas(run, schema=STATS_SCHEMA)


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


def resize_real(data: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbor resample, returned RE-ENCODED in the source
    format (the resize stage's output is a payload, not pixels):

    * PNG -> (tw, th) pixels; source pixel for output (x, y) is
      (x*w//tw, y*h//th) — the floor-sampling convention, deterministic
      and endpoint-safe for any dims.
    * WAV -> the audio analogue of the decode-stage schema mapping
      (width = frames, height = sample rate): nearest-neighbor frame
      resample to ``tw`` frames per channel, re-encoded at sample rate
      ``th`` with the original channel/width layout.

    Other formats need a real codec -> NotImplementedError."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        px = _png_pixels(data)
        h, w, _ = px.shape
        yi = (np.arange(th, dtype=np.int64) * h) // th
        xi = (np.arange(tw, dtype=np.int64) * w) // tw
        return encode_png(np.ascontiguousarray(px[yi][:, xi]))
    if data[:3] == b"\xff\xd8\xff":
        from ..kernels import jpeg

        px = jpeg.decode_baseline(data)
        h, w, nc = px.shape
        yi = (np.arange(th, dtype=np.int64) * h) // th
        xi = (np.arange(tw, dtype=np.int64) * w) // tw
        resized = np.ascontiguousarray(px[yi][:, xi])
        marker, prec = jpeg.frame_info(data)
        if marker == 0xC3:  # lossless source: re-encode losslessly
            return jpeg.encode_lossless(resized, precision=prec)
        if prec == 12:  # 12-bit DCT source re-encodes at 12 bits
            return jpeg.encode_baseline(resized, precision=12)
        if nc == 4:
            # re-encode CMYK with the SOURCE's Adobe transform (APP14
            # marker scan; a 4-comp file without one re-encodes as
            # transform-0 inverted CMYK — ink values round-trip either way)
            return jpeg.encode_baseline(resized, adobe_transform=_jpeg_adobe_transform(data))
        return jpeg.encode_baseline(resized)
    if data[:2] == b"BM" or data[:4] in (b"II*\x00", b"MM\x00*"):
        from ..kernels import rasters

        is_bmp = data[:2] == b"BM"
        px = rasters.decode_bmp(data) if is_bmp else rasters.decode_tiff(data)
        h, w, _ = px.shape
        yi = (np.arange(th, dtype=np.int64) * h) // th
        xi = (np.arange(tw, dtype=np.int64) * w) // tw
        resized = np.ascontiguousarray(px[yi][:, xi])
        if is_bmp:
            return rasters.encode_bmp(resized)
        return rasters.encode_tiff(resized, big_endian=data[:2] == b"MM")
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from ..kernels import gif

        # every PRESENTED frame resampled to (tw, th) and re-encoded as
        # a full-canvas frame (delays kept, disposal collapses to
        # "keep": compositing already happened, so the re-encode is a
        # presentation-equivalent animation, not a byte-level one)
        frames, delays = gif.compose(data)
        h, w, _ = frames[0].shape
        yi = (np.arange(th, dtype=np.int64) * h) // th
        xi = (np.arange(tw, dtype=np.int64) * w) // tw
        specs = [
            {"pixels": np.ascontiguousarray(f[yi][:, xi]), "delay_cs": d, "disposal": 1}
            for f, d in zip(frames, delays)
        ]
        return gif.encode_gif(specs, tw, th)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ..kernels import avi

        # every frame resampled to (tw, th) and re-encoded in the
        # SOURCE stream codec at the source fps: DIB exactly, MJPG
        # through the baseline encoder (presentation-equivalent, the
        # GIF re-encode convention)
        frames, fps = avi.decode_avi(data)
        h, w, _ = frames[0].shape
        yi = (np.arange(th, dtype=np.int64) * h) // th
        xi = (np.arange(tw, dtype=np.int64) * w) // tw
        resized = [np.ascontiguousarray(f[yi][:, xi]) for f in frames]
        mjpg = avi.stream_codec(data) == "MJPG"
        return avi.encode_avi(resized, fps or 1, codec="MJPG" if mjpg else "DIB")
    if data[:4] == b"fLaC":
        from ..kernels import flac

        # decode, nearest-neighbor frame resample, re-encode FLAC at
        # rate ``th`` (verbatim subframes: deterministic and lossless)
        s, _ = flac.decode_flac(data)
        n = s.shape[0]
        idx = (np.arange(tw, dtype=np.int64) * n) // max(tw, 1) if n else np.zeros(0, np.int64)
        return flac.encode_flac(s[idx].astype(np.int16), th)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        import wave

        audio_fmt, g_nch, _, _, g_pcm = _wav_chunks(data)
        if audio_fmt in (0x11, 0x02):
            from ..kernels import adpcm

            # decode to linear PCM, nearest-neighbor frame resample,
            # re-encode in the SOURCE ADPCM flavor at rate ``th``
            # (lossy like any ADPCM re-encode; deterministic encoder)
            ints, _, nch = _wav_adpcm(data)
            n = ints.shape[0]
            idx = (np.arange(tw, dtype=np.int64) * n) // max(tw, 1) if n else np.zeros(0, np.int64)
            if audio_fmt == 0x02:
                return adpcm.encode_ms_wav(ints[idx], th)
            return adpcm.encode_ima_wav(ints[idx], th)
        if audio_fmt in (6, 7):
            # G.711 is one byte per sample, so nearest-neighbor frame
            # selection works directly on the compressed stream — the
            # resample re-encodes losslessly in the source format
            n = len(g_pcm) // g_nch
            frames = np.frombuffer(g_pcm[: n * g_nch], dtype=np.uint8).reshape(n, g_nch)
            idx = (np.arange(tw, dtype=np.int64) * n) // max(tw, 1) if n else np.zeros(0, np.int64)
            return encode_g711_wav(audio_fmt, g_nch, th, frames[idx].tobytes() if n else b"")
        try:
            with wave.open(io.BytesIO(data), "rb") as wf:
                nch, sw, n = wf.getnchannels(), wf.getsampwidth(), wf.getnframes()
                raw = wf.readframes(n)
            fb = nch * sw
            frames = np.frombuffer(raw, dtype=np.uint8).reshape(n, fb) if n else np.zeros((0, fb), np.uint8)
            idx = (np.arange(tw, dtype=np.int64) * n) // max(tw, 1) if n else np.zeros(0, np.int64)
            out = io.BytesIO()
            with wave.open(out, "wb") as wo:
                wo.setnchannels(nch)
                wo.setsampwidth(sw)
                wo.setframerate(th)
                wo.writeframes(frames[idx].tobytes() if n else b"")
            return out.getvalue()
        except Exception as exc:  # noqa: BLE001
            raise NotImplementedError(f"malformed WAV payload: {exc}") from exc
    raise NotImplementedError("resize: only PNG/JPEG/GIF/BMP/TIFF/AVI/WAV/FLAC decode without a real codec")


def frames_real(data: bytes, n_frames: int) -> list[str]:
    """``n_frames`` contiguous fixed-stride PCM windows of a WAV payload
    (split on frame boundaries: window i covers sample frames
    [i*n/n_frames, (i+1)*n/n_frames)), each identified by the first 16
    hex chars of the sha256 of its raw PCM bytes — the audio analogue of
    video frame sampling. G.711 payloads hash windows of the DECODED
    little-endian int16 stream (decode-then-window: the window id names
    sample content, not wire bytes).

    GIF payloads get GENUINE video-style frame extraction: sample i is
    the COMPOSITED logical-screen raster of animation frame
    i*F//n_frames (kernels/gif.py — transparency + disposal applied),
    hashed over its raw (H, W, 3) RGB bytes. Video beyond animated GIF
    needs a real codec."""
    import wave

    if data[:6] in (b"GIF87a", b"GIF89a"):
        from ..kernels import gif

        frames, _ = gif.compose(data)
        return [
            hashlib.sha256(frames[i * len(frames) // n_frames].tobytes()).hexdigest()[:16]
            for i in range(n_frames)
        ]
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ..kernels import avi

        # GENUINE video frame extraction from a real container: sample
        # i is decoded frame i*F//n_frames (MJPG via kernels/jpeg.py,
        # BI_RGB via DIB reshape), hashed over its raw (H, W, 3) bytes
        frames, _ = avi.decode_avi(data)
        return [
            hashlib.sha256(frames[i * len(frames) // n_frames].tobytes()).hexdigest()[:16]
            for i in range(n_frames)
        ]
    if data[:4] == b"fLaC":
        from ..kernels import flac

        # compressed audio: decode-then-window (the ADPCM convention),
        # hashing the little-endian int16 interleaved stream
        s, _ = flac.decode_flac(data)
        raw = s.astype("<i2").tobytes()
        n, frame_bytes = s.shape[0], s.shape[1] * 2
        bounds = [i * n // n_frames for i in range(n_frames + 1)]
        return [
            hashlib.sha256(raw[bounds[i] * frame_bytes : bounds[i + 1] * frame_bytes]).hexdigest()[:16]
            for i in range(n_frames)
        ]
    if not (data[:4] == b"RIFF" and data[8:12] == b"WAVE"):
        raise NotImplementedError("frame sampling: only WAV/FLAC/GIF/AVI decode without a real codec")
    audio_fmt, g_nch, _, _, g_pcm = _wav_chunks(data)
    if audio_fmt in (0x11, 0x02):
        # IMA / MS ADPCM: windows hash the DECODED little-endian int16
        # stream (the G.711 decode-then-window convention)
        ints, _, nch = _wav_adpcm(data)
        raw = ints.astype("<i2").tobytes()
        n, frame_bytes = ints.shape[0], nch * 2
        bounds = [i * n // n_frames for i in range(n_frames + 1)]
        return [
            hashlib.sha256(raw[bounds[i] * frame_bytes : bounds[i + 1] * frame_bytes]).hexdigest()[:16]
            for i in range(n_frames)
        ]
    if audio_fmt in (6, 7):
        lin = _g711_table(audio_fmt)[np.frombuffer(g_pcm, dtype=np.uint8)]
        raw = lin.astype("<i2").tobytes()
        nch, sw, n = g_nch, 2, len(lin) // g_nch
        frame_bytes = nch * sw
        bounds = [i * n // n_frames for i in range(n_frames + 1)]
        return [
            hashlib.sha256(raw[bounds[i] * frame_bytes : bounds[i + 1] * frame_bytes]).hexdigest()[:16]
            for i in range(n_frames)
        ]
    try:
        with wave.open(io.BytesIO(data), "rb") as wf:
            nch, sw, n = wf.getnchannels(), wf.getsampwidth(), wf.getnframes()
            raw = wf.readframes(n)
    except Exception as exc:  # noqa: BLE001
        raise NotImplementedError(f"malformed WAV payload: {exc}") from exc
    frame_bytes = nch * sw
    bounds = [i * n // n_frames for i in range(n_frames + 1)]
    return [
        hashlib.sha256(raw[bounds[i] * frame_bytes : bounds[i + 1] * frame_bytes]).hexdigest()[:16]
        for i in range(n_frames)
    ]


def decode_media(df: DataFrame, binary_col: str = "html", kind: str = "image", deterministic_fake: bool = True) -> DataFrame:
    """Decode stage: binary -> typed metadata row per payload. With
    ``deterministic_fake=False``, PNG/JPEG/WAV headers are decoded for
    real (stdlib; media_kind reports the sniffed format) and other
    formats raise NotImplementedError."""

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if not deterministic_fake:
                payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
                decoded = [decode_real(d) for d in payloads]  # per-payload by nature
                yield pd.DataFrame(
                    {
                        "url": pdf["url"].to_numpy(),
                        "media_kind": [d[0] for d in decoded],
                        "n_bytes": np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads)),
                        "width": np.fromiter((d[1] for d in decoded), dtype=np.int32, count=len(decoded)),
                        "height": np.fromiter((d[2] for d in decoded), dtype=np.int32, count=len(decoded)),
                        "n_channels": np.fromiter((d[3] for d in decoded), dtype=np.int32, count=len(decoded)),
                        "sha256": [hashlib.sha256(d).hexdigest() for d in payloads],
                    }
                )
                continue
            # hashing is inherently per-payload; everything else is columnar
            payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
            digests = [hashlib.sha256(d).digest() for d in payloads]
            dig = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 32)
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "media_kind": kind,
                    "n_bytes": np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads)),
                    "width": (64 + dig[:, 0] % 192).astype(np.int32),
                    "height": (64 + dig[:, 1] % 192).astype(np.int32),
                    "n_channels": (1 + dig[:, 2] % 3).astype(np.int32),
                    "sha256": [d.hex() for d in digests],
                }
            )

    return df.select("url", binary_col).mapInPandas(run, schema=DECODE_SCHEMA)


def extract_features(df: DataFrame, binary_col: str = "html", dim: int = 16, deterministic_fake: bool = True) -> DataFrame:
    """Feature-extract stage: binary -> fixed-dim float vector. Fake path:
    bytes of the sha256 digest scaled to [0,1). Real path
    (``deterministic_fake=False``): per-channel pixel/sample statistics
    from the real decode (``features_real`` — PNG via zlib-inflated IDAT
    + unfilter, JPEG via the from-scratch kernels/jpeg.py codec
    [sequential AND progressive], WAV via PCM frames incl. G.711);
    formats needing a real codec (video, compressed audio beyond G.711)
    raise the declared NotImplementedError."""

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if not deterministic_fake:
                payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
                feats = [features_real(d, dim) for d in payloads]
                yield pd.DataFrame({"url": pdf["url"].to_numpy(), "feat": feats})
                continue
            payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
            digests = [
                hashlib.sha256(d).digest() + hashlib.sha256(d + b"x").digest() for d in payloads
            ]
            dig = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 64)
            feats = (dig[:, :dim] / 255.0).astype(np.float32)  # one vectorized pass
            yield pd.DataFrame({"url": pdf["url"].to_numpy(), "feat": list(feats)})

    return df.select("url", binary_col).mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(df: DataFrame, binary_col: str = "html", n_frames: int = 3, deterministic_fake: bool = True) -> DataFrame:
    """Frame-sample stage (video semantics): one output row per sampled
    frame — demonstrates the 1->N Arrow fan-out shape. Real path
    (``deterministic_fake=False``): fixed-stride PCM windows of WAV
    payloads (``frames_real``); video rasters need a real codec and
    raise the declared NotImplementedError."""

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if not deterministic_fake:
                payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
                shas = [frames_real(d, n_frames) for d in payloads]
                yield pd.DataFrame(
                    {
                        "url": np.repeat(pdf["url"].to_numpy(), n_frames),
                        "frame_idx": np.tile(np.arange(n_frames, dtype=np.int32), len(payloads)),
                        "frame_sha": [s for row in shas for s in row],
                    }
                )
                continue
            payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
            # 1->N fan-out assembled columnar: repeat/tile index arrays, one
            # DataFrame per batch (per-item hashing is the only Python loop)
            yield pd.DataFrame(
                {
                    "url": np.repeat(pdf["url"].to_numpy(), n_frames),
                    "frame_idx": np.tile(np.arange(n_frames, dtype=np.int32), len(payloads)),
                    # ASCII frame salt (not bytes([i])): keeps the fake's
                    # hash chain expressible in the plain-SQL oracle
                    # (DuckDB sha256 is VARCHAR-only; NUL bytes don't
                    # survive VARCHAR concat)
                    "frame_sha": [
                        hashlib.sha256(d + str(i).encode()).hexdigest()[:16]
                        for d in payloads
                        for i in range(n_frames)
                    ],
                }
            )

    return df.select("url", binary_col).mapInPandas(run, schema=FRAME_SCHEMA)


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
    salt). Real path (``deterministic_fake=False``): PNG nearest-neighbor
    resample re-encoded via ``resize_real``; other formats raise the
    declared NotImplementedError."""
    tw, th = int(target[0]), int(target[1])
    salt = f"resize:{tw}x{th}".encode()

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = [bytes(p) if p is not None else b"" for p in pdf[binary_col]]
            if deterministic_fake:
                shas = [hashlib.sha256(d + salt).hexdigest()[:16] for d in payloads]
            else:
                shas = [
                    hashlib.sha256(resize_real(d, tw, th)).hexdigest()[:16] for d in payloads
                ]
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "out_w": np.full(len(payloads), tw, dtype=np.int32),
                    "out_h": np.full(len(payloads), th, dtype=np.int32),
                    "resized_sha": shas,
                }
            )

    return df.select("url", binary_col).mapInPandas(run, schema=RESIZE_SCHEMA)


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


def _is_mp3(data: bytes) -> bool:
    """Sniff: ID3v2 prefix, or a frame sync whose version/layer/bitrate/
    rate fields are all valid Layer III (so random binary — and JPEG's
    0xFFD8 — doesn't land here)."""
    if data[:3] == b"ID3":
        return True
    if len(data) < 4 or data[0] != 0xFF or (data[1] & 0xE0) != 0xE0:
        return False
    ver, layer = (data[1] >> 3) & 3, (data[1] >> 1) & 3
    return ver in (2, 3) and layer == 1 and (data[2] >> 4) not in (0, 15) and ((data[2] >> 2) & 3) != 3


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


def container_tracks(data: bytes) -> tuple[str, list[dict]]:
    """Sniff + parse one container payload -> (container_kind, track
    dicts). Declared NotImplementedError for malformed payloads and for
    non-container formats (same contract as decode_real)."""
    try:
        if data[:4] == b"fLaC":
            return "flac", [_flac_track(data)]
        if _is_mp3(data):
            return "mp3", [_mp3_track(data)]
        if len(data) >= 12 and data[4:8] == b"ftyp":
            tracks = _mp4_tracks(data)
            out = []
            for t in tracks:
                out.append({"track_id": t["track_id"], "kind": t["kind"], "codec": t["codec"],
                            "width": t["width"], "height": t["height"],
                            "n_channels": t["n_channels"], "sample_rate": t["sample_rate"],
                            "duration_ms": t["duration"] * 1000 // t["timescale"]})
            return "mp4", out
        if data[:4] == b"OggS":
            return "ogg", [_ogg_track(s) for s in _ogg_streams(data)]
        if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
            from ..kernels import avi

            w, h, n_frames, fps = avi.header(data)
            # schema mapping for video: sample_rate carries the frame
            # rate (frames ARE the samples of a video stream);
            # n_channels 0 — there is no audio stream in this corpus
            return "avi", [{
                "track_id": 1, "kind": "video",
                "codec": avi.stream_codec(data).strip().lower(),
                "width": w, "height": h, "n_channels": 0,
                "sample_rate": fps,
                "duration_ms": n_frames * 1000 // fps if fps else 0,
            }]
    except NotImplementedError:
        raise
    except Exception as exc:  # noqa: BLE001 — truncated/corrupt headers
        raise NotImplementedError(f"malformed container payload: {exc}") from exc
    raise NotImplementedError("not a recognized media container (MP4/Ogg/FLAC/MP3/AVI)")


def media_containers(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Container-metadata stage: binary -> one row per track (MP4 trak /
    Ogg logical stream). 1->N Arrow fan-out like media_stats; header
    walking is a few hundred bytes per payload, so per-payload scalar
    parsing is the right shape — parallelism comes from the partition
    count, not intra-payload vectorization."""

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for url, payload in zip(pdf["url"], pdf[binary_col]):
                kind, tracks = container_tracks(bytes(payload) if payload is not None else b"")
                for t in tracks:
                    rows.append((url, kind, t["codec"], t["track_id"], t["kind"],
                                 t["width"], t["height"], t["n_channels"],
                                 t["sample_rate"], t["duration_ms"], len(tracks)))
            yield pd.DataFrame(
                rows,
                columns=["url", "container", "codec", "track_id", "track_type",
                         "width", "height", "n_channels", "sample_rate",
                         "duration_ms", "n_tracks"],
            ).astype({"track_id": "int64", "width": "int32", "height": "int32",
                      "n_channels": "int32", "sample_rate": "int32",
                      "duration_ms": "int64", "n_tracks": "int32"})

    return df.select("url", binary_col).mapInPandas(run, schema=CONTAINER_SCHEMA)
