"""Vectorized text kernels: coordinate extraction, language-ID, quality
scoring, token counting, fingerprinting.

These are the training-data-pipeline operators (BASELINE.json north_star:
"geo-coordinates are extracted from page text/metadata with vectorized
Arrow UDFs" + the dedup/text-analysis suite). Everything operates on
pandas Series / numpy arrays — no per-row Python from Spark's perspective.

Determinism invariant (BASELINE input_hint): extraction output is
byte-identical per url across runs and parallelism levels — these kernels
are pure functions of their input strings.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# --- coordinate extraction ---------------------------------------------------

# formats injected by the synthetic generator (FIXTURES.md §1):
#   geo:{lat:.5f},{lon:.5f}        e.g.  geo:45.63793,-111.02543
#   lat {lat} lon {lon}            e.g.  lat 45.6379 lon -111.0254
#
# Digits are pinned to ASCII [0-9] (not \d): Python's re matches Unicode
# digits under \d while Java's does not, and this pattern is the semantic
# contract shared with the Catalyst-compiled extraction path
# (operators/extract.py MENTION_PATTERN) — both engines must accept the
# exact same byte sequences for the per-url byte-identical invariant
# (BASELINE input_hint) to hold across implementations.
#
# single alternation scan: one extractall pass yields all mentions already
# in document order (no per-match position recovery)
COMBINED_RE = re.compile(
    r"geo:(-?[0-9]+\.[0-9]+),(-?[0-9]+\.[0-9]+)|lat (-?[0-9]+(?:\.[0-9]+)?) lon (-?[0-9]+(?:\.[0-9]+)?)"
)


def extract_coords(texts: pd.Series) -> pd.DataFrame:
    """All coordinate mentions per text, in document order.

    Returns a DataFrame with columns (row, lat, lon, mention_idx) where
    ``row`` indexes into the input Series positionally. One vectorized
    ``str.extractall`` over the combined alternation: the regex engine
    scans left-to-right, so match order IS document order (the previous
    two-pattern implementation re-ran ``finditer`` per matched row to
    recover positions — O(matches x text) Python).
    """
    s = texts.reset_index(drop=True).astype("string").fillna("")
    m = s.str.extractall(COMBINED_RE)
    if not len(m):
        return pd.DataFrame(
            {
                "row": pd.Series(dtype=np.int64),
                "lat": pd.Series(dtype=np.float64),
                "lon": pd.Series(dtype=np.float64),
                "mention_idx": pd.Series(dtype=np.int64),
            }
        )
    m = m.reset_index()
    m.columns = ["row", "mention_idx", "g_lat", "g_lon", "l_lat", "l_lon"]
    out = pd.DataFrame(
        {
            "row": m["row"].astype(np.int64),
            "lat": m["g_lat"].fillna(m["l_lat"]).astype(np.float64),
            "lon": m["g_lon"].fillna(m["l_lon"]).astype(np.float64),
            "mention_idx": m["mention_idx"].astype(np.int64),
        }
    )
    return out


# --- language id --------------------------------------------------------------

# tiny deterministic marker-word model (n-gram heuristic class); the point is
# the Spark plumbing + reproducibility, not linguistic accuracy
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "is", "that", "for"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "que"),
    "es": ("el", "de", "la", "que", "los", "una", "por", "con"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}


def lang_scores(texts: pd.Series) -> pd.DataFrame:
    """Marker-hit counts per language -> DataFrame[lang cols] + 'lang' argmax.

    Ties break by fixed language order (en, fr, es, de, zh); zero hits
    everywhere -> 'und'.
    """
    s = texts.reset_index(drop=True).astype("string").fillna("").str.lower()
    cols = {}
    for lang, markers in _LANG_MARKERS.items():
        total = np.zeros(len(s), dtype=np.int64)
        for w in markers:
            if re.match(r"^[a-z]+$", w):
                total += s.str.count(rf"\b{w}\b").to_numpy(dtype=np.int64)
            else:
                total += s.str.count(re.escape(w)).to_numpy(dtype=np.int64)
        cols[lang] = total
    df = pd.DataFrame(cols)
    order = list(_LANG_MARKERS)
    arr = df[order].to_numpy()
    best = arr.argmax(axis=1)
    lang = np.array(order, dtype=object)[best]
    lang = np.where(arr.max(axis=1) == 0, "und", lang)
    df["lang"] = lang
    return df


# --- quality scoring ----------------------------------------------------------

_STOPWORDS = frozenset(
    "the a an and or of to in is are was were be been it this that for on with as at by".split()
)
_PUNCT_RE = re.compile(r"[^\w\s]")


def quality_features(texts: pd.Series) -> pd.DataFrame:
    """length / punctuation ratio / stopword ratio / mean word length and a
    composite [0,1] quality score. All ratios guarded for empty text."""
    s = texts.reset_index(drop=True).astype("string").fillna("")
    n_chars = s.str.len().to_numpy(dtype=np.float64)
    n_punct = s.str.count(_PUNCT_RE.pattern).to_numpy(dtype=np.float64)
    words = s.str.split()
    n_words = words.map(len).to_numpy(dtype=np.float64)
    total_word_len = words.map(lambda ws: sum(len(w) for w in ws)).to_numpy(dtype=np.float64)
    n_stop = words.map(lambda ws: sum(1 for w in ws if w.lower() in _STOPWORDS)).to_numpy(dtype=np.float64)
    safe_words = np.maximum(n_words, 1.0)
    safe_chars = np.maximum(n_chars, 1.0)
    punct_ratio = n_punct / safe_chars
    stop_ratio = n_stop / safe_words
    mean_word_len = total_word_len / safe_words
    # composite: long enough, some stopwords, not punctuation soup,
    # plausible word lengths
    score = (
        np.clip(n_words / 50.0, 0, 1) * 0.4
        + np.clip(stop_ratio / 0.4, 0, 1) * 0.3
        + np.clip(1.0 - punct_ratio / 0.2, 0, 1) * 0.2
        + np.clip(1.0 - np.abs(mean_word_len - 5.0) / 5.0, 0, 1) * 0.1
    )
    return pd.DataFrame(
        {
            "n_chars": n_chars.astype(np.int64),
            "n_words": n_words.astype(np.int64),
            "punct_ratio": punct_ratio,
            "stop_ratio": stop_ratio,
            "mean_word_len": mean_word_len,
            "quality": score,
        }
    )


# --- tokens -------------------------------------------------------------------

# BPE-ish: words, numbers, or single non-space symbols
_TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def token_counts(texts: pd.Series) -> pd.DataFrame:
    s = texts.reset_index(drop=True).astype("string").fillna("")
    ws = s.str.split().map(len).to_numpy(dtype=np.int64)
    bpe = s.str.count(_TOKEN_RE.pattern).to_numpy(dtype=np.int64)
    return pd.DataFrame({"n_ws_tokens": ws, "n_bpe_tokens": bpe})


# --- fingerprint ----------------------------------------------------------------

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv1a64_bytes(data: bytes) -> int:
    h = _FNV_OFFSET
    for b in data:
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def fingerprint64(texts: pd.Series) -> np.ndarray:
    """Deterministic 63-bit document fingerprint over the whitespace-
    normalized text. Uses blake2b (C speed, one call per document) — the
    previous per-byte Python FNV loop was the dominant cost of the
    fingerprint stage at corpus scale."""
    import hashlib

    s = texts.reset_index(drop=True).astype("string").fillna("")
    norm = s.str.split().str.join(" ")
    out = np.empty(len(norm), dtype=np.int64)
    for idx, t in enumerate(norm):
        digest = hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest()
        out[idx] = int.from_bytes(digest, "big") & 0x7FFFFFFFFFFFFFFF
    return out


def word_shingles(text: str, k: int) -> list[str]:
    toks = text.split()
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
