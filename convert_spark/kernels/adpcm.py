"""IMA/DVI ADPCM audio codec from scratch — numpy only.

Public-spec implementation of IMA ADPCM as carried in WAV (format tag
0x0011, the Microsoft "DVI/IMA ADPCM" layout): 4-bit differential PCM
with the 89-entry step-size table and 8-entry index-adjust table from
the IMA Digital Audio Pack recommendation — the first COMPRESSED audio
codec in the multimodal path beyond the byte-mapped G.711 companders.

Wire layout (per the Microsoft WAV mapping):

* The ``data`` chunk is a sequence of independent BLOCKS of
  ``block_align`` bytes.
* Each block opens with a 4-byte per-channel header: initial sample
  (int16 LE, emitted verbatim as sample 0), step-table index (uint8),
  reserved byte.
* Remaining bytes carry 4-bit codes, LOW nibble first, grouped in
  4-byte words that interleave channels word-by-word (mono degenerates
  to a flat nibble stream). samples_per_block =
  1 + (block_align - 4*nch) * 2 / nch.

Decode math (exact-integer, per code ``c`` with step ``s``)::

    diff = (s >> 3) + (s >> 2 if c&1) + (s >> 1 if c&2) + (s if c&4)
    pred = clamp(pred ± diff, -32768, 32767)   (minus when c&8)
    index = clamp(index + {-1,-1,-1,-1,2,4,6,8}[c&7], 0, 88)

The sequential predictor feedback is along SAMPLES; blocks (and
channels) are independent, so the production decode runs the sample
loop with every block/channel lane vectorized in numpy — interpreter
steps scale with samples-per-block, not total samples. The scalar
per-sample twin lives in tests/media_reference_impl.py.
"""

from __future__ import annotations

import struct

import numpy as np

# IMA ADPCM step-size table (89 entries) and index-adjust table — the
# published constants from the IMA ADPCM recommendation.
STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)

INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def samples_per_block(block_align: int, nch: int) -> int:
    return 1 + (block_align - 4 * nch) * 2 // nch


def _block_nibbles(blocks: np.ndarray, nch: int) -> np.ndarray:
    """(n_blocks, block_align) uint8 -> (n_blocks, nch, n_codes) nibble
    codes in sample order, undoing the word-interleaved channel layout."""
    nb, ba = blocks.shape
    body = blocks[:, 4 * nch :]
    n_words = body.shape[1] // (4 * nch)
    # (nb, n_words, nch, 4 bytes) -> low nibble first within each byte
    words = body[:, : n_words * 4 * nch].reshape(nb, n_words, nch, 4)
    lo = words & 0x0F
    hi = words >> 4
    # interleave lo/hi per byte -> 8 codes per word per channel
    codes = np.stack([lo, hi], axis=4).reshape(nb, n_words, nch, 8)
    # channel-major sample order: (nb, nch, n_words*8)
    return np.ascontiguousarray(codes.transpose(0, 2, 1, 3).reshape(nb, nch, n_words * 8))


def decode_blocks(raw: bytes, block_align: int, nch: int,
                  n_frames: int | None = None) -> np.ndarray:
    """ADPCM block stream -> (frames, nch) int16. Blocks and channels
    decode in lockstep (vectorized lanes); only the per-sample feedback
    loop is sequential. ``n_frames`` (the WAV ``fact`` count) trims the
    tail of the final block."""
    nb = len(raw) // block_align
    if nb == 0:
        return np.zeros((0, nch), dtype=np.int16)
    blocks = np.frombuffer(raw[: nb * block_align], dtype=np.uint8).reshape(nb, block_align)
    hdr = blocks[:, : 4 * nch].reshape(nb, nch, 4)
    pred = (hdr[:, :, 0].astype(np.int64) | (hdr[:, :, 1].astype(np.int64) << 8))
    pred = (pred ^ 0x8000) - 0x8000  # sign-extend int16
    index = np.clip(hdr[:, :, 2].astype(np.int64), 0, 88)
    codes = _block_nibbles(blocks, nch)
    n_codes = codes.shape[2]
    out = np.empty((nb, nch, n_codes + 1), dtype=np.int16)
    out[:, :, 0] = pred.astype(np.int16)
    for t in range(n_codes):
        c = codes[:, :, t].astype(np.int64)
        step = STEP_TABLE[index]
        diff = (step >> 3) + np.where(c & 1, step >> 2, 0) \
            + np.where(c & 2, step >> 1, 0) + np.where(c & 4, step, 0)
        pred = np.clip(pred + np.where(c & 8, -diff, diff), -32768, 32767)
        index = np.clip(index + INDEX_TABLE[c & 7], 0, 88)
        out[:, :, t + 1] = pred.astype(np.int16)
    # frame-major: (nb, samples_per_block, nch) -> flat (frames, nch)
    frames = np.ascontiguousarray(out.transpose(0, 2, 1)).reshape(-1, nch)
    if n_frames is not None:
        frames = frames[:n_frames]
    return frames


def encode_blocks(samples: np.ndarray, samples_pb: int) -> tuple[bytes, int]:
    """(frames, nch) int16 -> (block stream, block_align). Frame count
    is padded up to whole blocks by repeating the final frame (decode
    trims via the ``fact`` count). Same lockstep vectorization as the
    decoder, run in quantize-reconstruct order."""
    n, nch = samples.shape
    if (samples_pb - 1) % 8 or samples_pb < 9:
        raise NotImplementedError("IMA encode: samples_per_block must be 8k+1")
    nb = max(1, -(-n // samples_pb))
    pad = nb * samples_pb - n
    if pad:
        tail = samples[-1:] if n else np.zeros((1, nch), dtype=np.int16)
        samples = np.concatenate([samples, np.repeat(tail, pad, axis=0)])
    s = samples.astype(np.int64).reshape(nb, samples_pb, nch).transpose(0, 2, 1)
    pred = s[:, :, 0].copy()
    # seed each block's header index from the local slew (mean |diff|
    # over the first samples) instead of 0 — the header carries the
    # index per spec, so the encoder is free to pick the one that
    # avoids slew-limiting at block starts; stays block-lockstep
    probe = np.abs(np.diff(s[:, :, : min(9, samples_pb)], axis=2))
    mean_d = probe.mean(axis=2) if probe.shape[2] else np.zeros((nb, nch))
    idx0 = np.clip(np.searchsorted(STEP_TABLE, mean_d.astype(np.int64)), 0, 88)
    index = idx0.copy()
    n_codes = samples_pb - 1
    codes = np.empty((nb, nch, n_codes), dtype=np.uint8)
    for t in range(n_codes):
        step = STEP_TABLE[index]
        diff = s[:, :, t + 1] - pred
        sign = diff < 0
        mag = np.abs(diff)
        c = np.zeros((nb, nch), dtype=np.int64)
        ge = mag >= step
        c |= np.where(ge, 4, 0)
        mag = mag - np.where(ge, step, 0)
        half = step >> 1
        ge = mag >= half
        c |= np.where(ge, 2, 0)
        mag = mag - np.where(ge, half, 0)
        c |= np.where(mag >= (step >> 2), 1, 0)
        c |= np.where(sign, 8, 0)
        # reconstruct exactly as the decoder will
        rec = (step >> 3) + np.where(c & 1, step >> 2, 0) \
            + np.where(c & 2, step >> 1, 0) + np.where(c & 4, step, 0)
        pred = np.clip(pred + np.where(sign, -rec, rec), -32768, 32767)
        index = np.clip(index + INDEX_TABLE[c & 7], 0, 88)
        codes[:, :, t] = c.astype(np.uint8)
    # pack: per block, channel headers then word-interleaved nibbles
    n_words = n_codes // 8
    cw = codes.reshape(nb, nch, n_words, 8)
    lo = cw[:, :, :, 0::2]
    hi = cw[:, :, :, 1::2]
    packed = (lo | (hi << 4)).transpose(0, 2, 1, 3)  # (nb, n_words, nch, 4)
    hdr = np.zeros((nb, nch, 4), dtype=np.uint8)
    first = s[:, :, 0].astype(np.uint16)
    hdr[:, :, 0] = (first & 0xFF).astype(np.uint8)
    hdr[:, :, 1] = (first >> 8).astype(np.uint8)
    hdr[:, :, 2] = idx0.astype(np.uint8)  # header carries the seeded index
    block_align = 4 * nch + n_words * 4 * nch
    out = np.concatenate(
        [hdr.reshape(nb, 4 * nch), packed.reshape(nb, n_words * 4 * nch)], axis=1
    )
    return out.tobytes(), block_align


def encode_ima_wav(samples: np.ndarray, rate: int, samples_pb: int = 505) -> bytes:
    """(frames, nch) int16 -> WAV fmt-0x11 payload with an exact
    ``fact`` frame count so round trips trim block padding."""
    n, nch = samples.shape
    body, block_align = encode_blocks(samples, samples_pb)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return tag + struct.pack("<I", len(payload)) + payload + (b"\x00" if len(payload) & 1 else b"")

    avg = rate * block_align // samples_pb if samples_pb else 0
    fmt = struct.pack("<HHIIHHHH", 0x11, nch, rate, avg, block_align, 4, 2, samples_pb)
    riff_body = (
        b"WAVE"
        + chunk(b"fmt ", fmt)
        + chunk(b"fact", struct.pack("<I", n))
        + chunk(b"data", body)
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


# --- Microsoft ADPCM (WAV format tag 0x0002) ------------------------------
#
# The other widespread 4-bit WAV codec: per-block 7-coefficient linear
# prediction (the published iCoef table, fixed-point /256) with a
# per-sample adaptive delta. Block layout per the Microsoft WAVE
# mapping: per-channel uint8 predictor indexes, int16 initial deltas,
# int16 iSamp1 then iSamp2 headers (samples 2/1 of the block, emitted
# in the order samp2, samp1), then 4-bit SIGNED codes HIGH nibble
# first, channels interleaved nibble-by-nibble. samples_per_block =
# 2 + (block_align - 7*nch) * 2 / nch.

MS_COEFS = np.array(
    [[256, 0], [512, -256], [0, 0], [192, 64], [240, 0], [460, -208], [392, -232]],
    dtype=np.int64,
)
MS_ADAPT = np.array(
    [230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307, 230, 230, 230],
    dtype=np.int64,
)


def _ms_nibbles(body: np.ndarray, nch: int) -> np.ndarray:
    """(nb, data_bytes) -> (nb, nch, n_codes) signed codes in sample
    order: high nibble first, channels rotating nibble-by-nibble."""
    nb = body.shape[0]
    hi = body >> 4
    lo = body & 0x0F
    seq = np.stack([hi, lo], axis=2).reshape(nb, -1)  # nibble stream
    n_codes = seq.shape[1] // nch
    seq = seq[:, : n_codes * nch].reshape(nb, n_codes, nch)
    codes = seq.transpose(0, 2, 1).astype(np.int64)
    return codes - ((codes & 8) << 1)  # signed 4-bit


def ms_decode_blocks(raw: bytes, block_align: int, nch: int,
                     n_frames: int | None = None) -> np.ndarray:
    """MS-ADPCM block stream -> (frames, nch) int16, block/channel
    lanes vectorized, per-sample adaptive-delta loop sequential."""
    nb = len(raw) // block_align
    if nb == 0:
        return np.zeros((0, nch), dtype=np.int16)
    blocks = np.frombuffer(raw[: nb * block_align], dtype=np.uint8).reshape(nb, block_align)
    pred_idx = blocks[:, :nch].astype(np.int64)
    if int(pred_idx.max(initial=0)) >= len(MS_COEFS):
        raise NotImplementedError("malformed MS-ADPCM: predictor index out of range")

    def i16(col: np.ndarray) -> np.ndarray:
        v = col[:, :, 0].astype(np.int64) | (col[:, :, 1].astype(np.int64) << 8)
        return (v ^ 0x8000) - 0x8000

    hdr = blocks[:, nch : 7 * nch].reshape(nb, 3, nch, 2).transpose(0, 2, 1, 3)
    delta = i16(hdr[:, :, 0])   # iDelta
    samp1 = i16(hdr[:, :, 1])   # iSamp1 (sample 2 of the block)
    samp2 = i16(hdr[:, :, 2])   # iSamp2 (sample 1 of the block)
    c1 = MS_COEFS[pred_idx, 0]
    c2 = MS_COEFS[pred_idx, 1]
    codes = _ms_nibbles(blocks[:, 7 * nch :], nch)
    n_codes = codes.shape[2]
    out = np.empty((nb, nch, n_codes + 2), dtype=np.int16)
    out[:, :, 0] = samp2.astype(np.int16)
    out[:, :, 1] = samp1.astype(np.int16)
    for t in range(n_codes):
        c = codes[:, :, t]
        pred = (samp1 * c1 + samp2 * c2) >> 8
        samp = np.clip(pred + c * delta, -32768, 32767)
        delta = np.maximum((MS_ADAPT[c & 0x0F] * delta) >> 8, 16)
        samp2 = samp1
        samp1 = samp
        out[:, :, t + 2] = samp.astype(np.int16)
    frames = np.ascontiguousarray(out.transpose(0, 2, 1)).reshape(-1, nch)
    if n_frames is not None:
        frames = frames[:n_frames]
    return frames


def ms_encode_blocks(samples: np.ndarray, samples_pb: int) -> tuple[bytes, int]:
    """(frames, nch) int16 -> (MS-ADPCM block stream, block_align),
    predictor 0 (iCoef 256/0) with delta seeded from the local slew —
    quantize-reconstruct in the same lockstep shape as the decoder."""
    n, nch = samples.shape
    if samples_pb < 4 or (samples_pb - 2) * nch % 2:
        raise NotImplementedError("MS-ADPCM encode: bad samples_per_block")
    nb = max(1, -(-n // samples_pb))
    pad = nb * samples_pb - n
    if pad:
        tail = samples[-1:] if n else np.zeros((1, nch), dtype=np.int16)
        samples = np.concatenate([samples, np.repeat(tail, pad, axis=0)])
    s = samples.astype(np.int64).reshape(nb, samples_pb, nch).transpose(0, 2, 1)
    samp2 = s[:, :, 0].copy()
    samp1 = s[:, :, 1].copy()
    probe = np.abs(np.diff(s[:, :, : min(10, samples_pb)], axis=2))
    delta0 = np.maximum(probe.mean(axis=2).astype(np.int64) >> 2, 16) if probe.shape[2] \
        else np.full((nb, nch), 16, dtype=np.int64)
    delta = delta0.copy()
    c1, c2 = 256, 0  # predictor 0
    n_codes = samples_pb - 2
    codes = np.empty((nb, nch, n_codes), dtype=np.int64)
    for t in range(n_codes):
        pred = (samp1 * c1 + samp2 * c2) >> 8
        c = np.clip((s[:, :, t + 2] - pred + (delta >> 1) * np.sign(s[:, :, t + 2] - pred)) // delta, -8, 7)
        codes[:, :, t] = c
        samp = np.clip(pred + c * delta, -32768, 32767)
        delta = np.maximum((MS_ADAPT[c & 0x0F] * delta) >> 8, 16)
        samp2 = samp1
        samp1 = samp
    # pack: headers then nibbles (high first, channels rotating)
    u = (codes & 0x0F).astype(np.uint8).transpose(0, 2, 1).reshape(nb, -1)  # nibble order
    hi = u[:, 0::2]
    lo = u[:, 1::2]
    body = ((hi << 4) | lo).astype(np.uint8)
    block_align = 7 * nch + n_codes * nch // 2
    out = np.zeros((nb, block_align), dtype=np.uint8)
    out[:, :nch] = 0  # predictor index 0 every channel

    def put16(dst_off: int, vals: np.ndarray) -> None:
        v = vals.astype(np.uint16)
        out[:, dst_off : dst_off + 2 * vals.shape[1] : 2] = (v & 0xFF).astype(np.uint8)
        out[:, dst_off + 1 : dst_off + 2 * vals.shape[1] : 2] = (v >> 8).astype(np.uint8)

    put16(nch, delta0)
    put16(3 * nch, s[:, :, 1])  # iSamp1
    put16(5 * nch, s[:, :, 0])  # iSamp2
    out[:, 7 * nch :] = body
    return out.tobytes(), block_align


def encode_ms_wav(samples: np.ndarray, rate: int, samples_pb: int = 500) -> bytes:
    """(frames, nch) int16 -> WAV fmt-0x0002 payload (coefficient
    table + wSamplesPerBlock in the fmt extension, exact ``fact``)."""
    n, nch = samples.shape
    body, block_align = ms_encode_blocks(samples, samples_pb)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return tag + struct.pack("<I", len(payload)) + payload + (b"\x00" if len(payload) & 1 else b"")

    avg = rate * block_align // samples_pb if samples_pb else 0
    ext = struct.pack("<HH", samples_pb, len(MS_COEFS))
    for a, b in MS_COEFS:
        ext += struct.pack("<hh", int(a), int(b))
    fmt = struct.pack("<HHIIHHH", 0x02, nch, rate, avg, block_align, 4, len(ext)) + ext
    riff_body = (
        b"WAVE"
        + chunk(b"fmt ", fmt)
        + chunk(b"fact", struct.pack("<I", n))
        + chunk(b"data", body)
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
