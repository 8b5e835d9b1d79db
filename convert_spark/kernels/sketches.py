"""Similarity sketches: MinHash (+LSH banding) and SimHash.

Dedup operators for the training-data pipeline (task brief: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine). Pure
numpy/pandas; Spark invokes these per Arrow batch. All hash seeds are
fixed constants so signatures are identical across runs, partitions and
cluster sizes (the reproducibility invariant).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .textkit import fnv1a64_bytes, word_shingles

_P31 = (1 << 31) - 1  # Mersenne prime: a*x+b fits int64 for 31-bit a,x,b
_FNV_PRIME64 = np.uint64(0x100000001B3)


def _hash_params(n: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _P31, size=n, dtype=np.int64)
    b = rng.randint(0, _P31, size=n, dtype=np.int64)
    return a, b


def _mix64(v: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the rolling combine."""
    z = v * np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def shingle_hashes_batch(texts, k: int = 3) -> list[np.ndarray]:
    """Unique uint64 word-k-shingle hashes per text — vectorized.

    Word hashes are FNV-1a, computed once per distinct word across the
    batch (vocabularies are tiny vs token counts); shingle hash is an
    order-sensitive rolling combine of the k word hashes + splitmix64
    finish. Texts with < k words hash their full token list (matching
    textkit.word_shingles); empty text -> the single hash of zero.
    """
    token_lists = [str(t).split() for t in texts]
    vocab: dict[str, int] = {}
    for toks in token_lists:
        for w in toks:
            if w not in vocab:
                vocab[w] = fnv1a64_bytes(w.encode("utf-8"))
    out = []
    for toks in token_lists:
        if not toks:
            out.append(np.zeros(1, dtype=np.uint64))
            continue
        wh = np.array([vocab[w] for w in toks], dtype=np.uint64)
        kk = min(k, wh.size)
        n = wh.size - kk + 1
        acc = np.zeros(n, dtype=np.uint64)
        for j in range(kk):
            acc = acc * _FNV_PRIME64 ^ wh[j : j + n]
        out.append(np.unique(_mix64(acc)))
    return out


def shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    return shingle_hashes_batch([text], k)[0]


def minhash_signatures(texts: pd.Series, num_perm: int = 64, k: int = 3, seed: int = 42) -> np.ndarray:
    """(N, num_perm) int64 MinHash signatures — fully vectorized.

    Universal hashing h_i(x) = (a_i * x31 + b_i) mod (2^31 - 1) over the
    31-bit shingle hash (x31 = top bits of the 64-bit hash): the product
    stays under 2^62 so the whole batch is exact int64 numpy — no
    per-document Python in the hot path (this was a 24 s/5k-doc stage as
    object-array math; now sub-second).
    """
    hs_list = shingle_hashes_batch(list(pd.Series(texts).fillna("")), k)
    bounds = np.zeros(len(hs_list) + 1, dtype=np.int64)
    np.cumsum([h.size for h in hs_list], out=bounds[1:])
    all_h = (np.concatenate(hs_list) >> np.uint64(33)).astype(np.int64)  # 31-bit
    a, b = _hash_params(num_perm, seed)
    out = np.empty((len(hs_list), num_perm), dtype=np.int64)
    for i in range(num_perm):
        vals = (a[i] * all_h + b[i]) % _P31
        out[:, i] = np.minimum.reduceat(vals, bounds[:-1])
    return out


def minhash_signature(text: str, num_perm: int = 64, k: int = 3, seed: int = 42) -> np.ndarray:
    """(num_perm,) int64 MinHash signature (single-doc convenience)."""
    return minhash_signatures(pd.Series([text]), num_perm, k, seed)[0]


def lsh_band_keys_batch(sigs: np.ndarray, bands: int = 16) -> np.ndarray:
    """(N, bands) int64 band keys for a whole signature batch: each band's
    ``rows`` int64 values as little-endian bytes plus the band index byte,
    FNV-1a hashed and masked to 63 bits. Docs sharing any band key are
    candidates. The byte walk runs VECTORIZED across documents (a per-doc,
    per-byte Python loop was the dominant cost of the MinHash key UDF):
    ``bands x (rows*8 + 1)`` numpy passes over the doc axis, uint64
    arithmetic wrapping mod 2^64. Checked against the scalar twin
    ``tests/sketch_reference_impl.lsh_band_keys_s``
    (``tests/test_kernels_text.py::TestTwinAgreement::test_band_keys``)."""
    from .textkit import _FNV_OFFSET, _FNV_PRIME

    sigs = np.asarray(sigs, dtype=np.int64)
    n, num_perm = sigs.shape
    rows = num_perm // bands
    # explicit little-endian bytes == np.int64.tobytes() on this platform
    le = np.ascontiguousarray(sigs.astype("<i8")).view(np.uint8).reshape(n, num_perm * 8)
    prime = np.uint64(_FNV_PRIME)
    out = np.empty((n, bands), dtype=np.int64)
    for bidx in range(bands):
        chunk = le[:, bidx * rows * 8 : (bidx + 1) * rows * 8]
        h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
        for j in range(rows * 8):
            h = (h ^ chunk[:, j].astype(np.uint64)) * prime
        h = (h ^ np.uint64(bidx)) * prime  # the appended band byte
        out[:, bidx] = (h & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)
    return out


def jaccard_from_signatures(s1: np.ndarray, s2: np.ndarray) -> float:
    s1 = np.asarray(s1)
    s2 = np.asarray(s2)
    return float((s1 == s2).mean())


def simhash64(texts: pd.Series) -> np.ndarray:
    """64-bit SimHash over whitespace tokens (unweighted). Word hashes are
    FNV-1a computed once per DISTINCT word across the batch (vocabularies
    are tiny vs token counts — the per-token hashing loop was the stage's
    dominant cost)."""
    out = np.empty(len(texts), dtype=np.int64)
    bit_idx = np.arange(64, dtype=np.uint64)
    token_lists = [str(t).split() for t in pd.Series(texts).fillna("")]
    vocab: dict[str, int] = {}
    for toks in token_lists:
        for w in toks:
            if w not in vocab:
                vocab[w] = fnv1a64_bytes(w.encode("utf-8"))
    for row, toks in enumerate(token_lists):
        if not toks:
            out[row] = 0
            continue
        hs = np.array([vocab[w] for w in toks], dtype=np.uint64)
        bits = ((hs[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
        v = (2 * bits - 1).sum(axis=0)
        sh = int((v > 0).astype(np.uint64) @ (np.uint64(1) << bit_idx))
        out[row] = sh & 0x7FFFFFFFFFFFFFFF
    return out


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    x = (np.asarray(a, dtype=np.int64) ^ np.asarray(b, dtype=np.int64)).astype(np.uint64)
    cnt = np.zeros_like(x, dtype=np.int64)
    while (x > 0).any():
        cnt += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    return cnt
