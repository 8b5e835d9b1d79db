"""Vectorized pandas/Arrow UDFs wrapping the numpy kernels.

Only for semantics Catalyst expressions can't reach: DEM raster lookup
(broadcast grid), S2 covering (cell-id bit math), text coordinate
extraction, sketches. Everything is Arrow-batched — no per-row Python
(BASELINE input_hint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import dem as dem_kernel
from ..kernels import s2 as s2_kernel
from ..kernels import sketches as sk
from ..kernels import textkit


@F.pandas_udf(T.DoubleType())
def elev_3857_or_zero(x: pd.Series, y: pd.Series) -> pd.Series:
    """GetElev parity: EPSG:3857 -> DEM elevation, NaN (off the grid)
    filled with 0.0 as convert.go:1214-1216 does.

    The DEM grid is built lazily once per executor process (module global
    in kernels.dem) — equivalent to a broadcast variable for this ~4 MB
    raster, without re-pickling per task.
    """
    v = dem_kernel.get_elev(x.to_numpy(np.float64), y.to_numpy(np.float64))
    return pd.Series(np.where(np.isnan(v), 0.0, v))


@F.pandas_udf(T.ArrayType(T.StringType()))
def s2_covering(lx: pd.Series, ly: pd.Series, rx: pd.Series, uy: pd.Series) -> pd.Series:
    """Per-dataset/tile bbox -> quirky 8-char S2 covering tokens
    (convert.go:1151-1192) — vectorized batch kernel (one row per tile;
    millions of tiles at cluster scale)."""
    out = s2_kernel.s2covering_tokens_batch(
        lx.to_numpy(np.float64),
        ly.to_numpy(np.float64),
        rx.to_numpy(np.float64),
        uy.to_numpy(np.float64),
        dem_kernel.get_elev,
    )
    return pd.Series(out)


MENTIONS_SCHEMA = (
    "url string, warc_ts timestamp, lang string, page_id long, "
    "mention_idx int, lat double, lon double"
)


def extract_mentions_map(batches):
    """mapInPandas stage: pages -> one row per coordinate mention.

    Extraction is a pure function of ``text`` (kernels.textkit) so output
    is byte-identical per url across runs/parallelism — the BASELINE
    invariant. Pages without mentions produce no rows.
    """
    for pdf in batches:
        m = textkit.extract_coords(pdf["text"])
        if m.empty:
            continue
        rows = m["row"].to_numpy()
        out = pd.DataFrame(
            {
                "url": pdf["url"].to_numpy()[rows],
                "warc_ts": pdf["warc_ts"].to_numpy()[rows],
                "lang": pdf["lang"].to_numpy()[rows],
                "page_id": pdf["page_id"].to_numpy()[rows],
                "mention_idx": m["mention_idx"].astype("int32"),
                "lat": m["lat"],
                "lon": m["lon"],
            }
        )
        yield out


@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    return pd.Series(sk.simhash64(text))


@F.pandas_udf(T.LongType())
def fingerprint64(text: pd.Series) -> pd.Series:
    return pd.Series(textkit.fingerprint64(text))


@F.pandas_udf(T.ArrayType(T.LongType()))
def lsh_keys(text: pd.Series) -> pd.Series:
    sigs = sk.minhash_signatures(text)
    return pd.Series(list(sk.lsh_band_keys_batch(sigs)))


@F.pandas_udf(T.StringType())
def lang_guess(text: pd.Series) -> pd.Series:
    return pd.Series(textkit.lang_scores(text)["lang"])


@F.pandas_udf(T.StringType())
def nfc_normalize(text: pd.Series) -> pd.Series:
    """Unicode NFC normalization (canonical composition) — the standard
    pre-dedup/pre-hash text canonicalization for multilingual crawls
    (the same page arrives NFC from one mirror and NFD from another;
    without this, exact/paragraph dedup misses byte-different canonical
    equals). Spark has no built-in; this is the vectorized Arrow path
    (stdlib unicodedata = CPython's bundled UCD). The DuckDB oracle
    uses utf8proc's nfc_normalize — two INDEPENDENT implementations of
    UAX #15 agreeing on the gate corpus."""
    import unicodedata

    return text.map(lambda s: None if s is None else unicodedata.normalize("NFC", s))
