"""Extraction + normalization stages (SURVEY.md §2.2 P1-P8, §2.3 F1).

``extract_mentions`` is the engine's entry stage per BASELINE north_star:
coordinates out of page text via a vectorized Arrow UDF. ``normalize``
projects to EPSG:3857 with the reference's exact rounding/CRS-inference
semantics — entirely in Catalyst expressions (whole-stage codegen), with
the DEM z-fill as the only Arrow hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import exprs, udfs
from ..session import fence


# The one coordinate-mention grammar, shared verbatim (modulo engine
# escaping) with kernels/textkit.py COMBINED_RE. ASCII [0-9] on both
# sides: Java regex \d is ASCII-only while Python's is Unicode-aware, so
# \d would silently diverge on e.g. Arabic-Indic digits. Both engines are
# leftmost-biased backtracking matchers advancing past each match, so the
# successive non-overlapping matches — and therefore mention_idx order —
# are identical (property-tested in tests/test_spark_pipeline.py).
MENTION_PATTERN = (
    r"geo:(-?[0-9]+\.[0-9]+),(-?[0-9]+\.[0-9]+)"
    r"|lat (-?[0-9]+(?:\.[0-9]+)?) lon (-?[0-9]+(?:\.[0-9]+)?)"
)


def extract_mentions(pages: DataFrame, impl: str = "sql") -> DataFrame:
    """pages(url, warc_ts, html, text, lang, page_id) -> one row per
    coordinate mention (url, warc_ts, lang, page_id, mention_idx, lat, lon).

    Selects only the needed columns FIRST so the parquet/Iceberg scan
    prunes ``html`` (the wide binary column) — check ReadSchema in explain.

    Two implementations of the same semantics, proven output-identical:

    * ``impl="sql"`` (default): pure Catalyst — ``regexp_extract_all`` +
      ``posexplode`` + group re-extract, all inside whole-stage codegen.
      No JVM<->Python exchange at all: on a single host the Arrow
      transfer path saturates long before 4N cores do (measured in
      BENCH_SCALING.md), and at cluster scale the text bytes never leave
      the JVM. This is the path the tile-assignment pipeline runs.
    * ``impl="arrow"``: the vectorized pandas/Arrow kernel
      (kernels/textkit.extract_coords) — the semantic definition named by
      BASELINE north_star, retained for grammars Java regex can't express
      and as the cross-engine oracle for the byte-identical-per-url
      invariant. Still zero per-row Python.
    """
    slim = pages.select("url", "warc_ts", "lang", "page_id", "text")
    if impl == "arrow":
        return slim.mapInPandas(udfs.extract_mentions_map, schema=udfs.MENTIONS_SCHEMA)
    pat = F.lit(MENTION_PATTERN)
    exploded = (
        slim.select(
            "url",
            "warc_ts",
            "lang",
            "page_id",
            F.posexplode(F.regexp_extract_all(F.col("text"), pat, F.lit(0))).alias(
                "mention_idx", "_m"
            ),
        )
    )
    # group 1/2 = geo: form, group 3/4 = lat/lon form; the non-matching
    # alternative's groups extract as '' on the anchored match string
    g = [F.regexp_extract(F.col("_m"), MENTION_PATTERN, i) for i in range(5)]
    lat = F.when(g[1] != "", g[1]).otherwise(g[3]).cast("double")
    lon = F.when(g[2] != "", g[2]).otherwise(g[4]).cast("double")
    out = exploded.select(
        "url",
        "warc_ts",
        "lang",
        "page_id",
        F.col("mention_idx").cast("int").alias("mention_idx"),
        lat.alias("lat"),
        lon.alias("lon"),
    )
    return fence(out, "lat", "lon")


def normalize_points(
    df: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    z_col: str | None = None,
    fill_z_from_dem: bool = True,
) -> DataFrame:
    """CheckCoords semantics (convert.go:1200-1230) as a DataFrame stage:

    * rows with NULL/NaN x or y are dropped (F1, convert.go:574-581),
    * x,y projected to 3857 (cm-rounded, CRS-inferred),
    * z kept if provided, else DEM-filled (NaN lookup -> 0.0).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    valid = x.isNotNull() & y.isNotNull() & ~F.isnan(x) & ~F.isnan(y)
    out = (
        df.filter(valid)
        .withColumn("x", exprs.to3857_x(x, y))
        .withColumn("y", exprs.to3857_y(x, y))
    )
    if z_col is not None:
        z = F.col(z_col).cast("double")
        out = out.withColumn("z", F.coalesce(z, F.lit(0.0)))
    elif fill_z_from_dem:
        # reference samples the DEM at the ORIGINAL coords, pre-projection
        # (convert.go:1213); GetElev CRS-infers internally
        out = out.withColumn("z", udfs.elev_3857_or_zero(x, y))
    else:
        out = out.withColumn("z", F.lit(0.0))
    return out


# Go float-literal syntax (strconv.ParseFloat accepts everything the Go
# literal grammar does, plus a sign): underscores BETWEEN digits.
_GO_DEC_UNDERSCORE = (
    r"^[+-]?[0-9](_?[0-9])*(\.([0-9](_?[0-9])*)?)?([eE][+-]?[0-9](_?[0-9])*)?$"
)
# hex float: mandatory p-exponent (Go grammar), mantissa int and/or frac.
# Underscores per the Go literal grammar: optionally one right after 0x,
# and between digits (mantissa hex digits AND decimal exponent digits) —
# never doubled, leading (except post-0x), or trailing.
_HEXD = r"[0-9a-fA-F](_?[0-9a-fA-F])*"
_GO_HEX_FLOAT = (
    rf"^[+-]?0[xX](_?{_HEXD}(\.({_HEXD})?)?|\.{_HEXD})[pP][+-]?[0-9](_?[0-9])*$"
)


def parse_double_go(col_name: str) -> F.Column:
    """Go strconv.ParseFloat-error-ignored parity: bad strings -> 0.0,
    not NULL (convert.go:557-564). try_cast because Spark 4 ANSI mode makes
    plain cast THROW on malformed input. Spark's cast TRIMS whitespace but
    Go's ParseFloat rejects it (' 1.5 ' -> error -> 0.0), so padded values
    are forced to the error path.

    Go's exotic literals are honored (round-2): digit-group underscores
    ('1_000' -> 1000), hex floats with the mandatory p exponent
    ('0x1.8p1' -> 3.0, underscored hex digits '0x1_f.8p-1'), and
    inf/infinity/nan words (any case, optional sign). Spark and Go both
    accept a bare leading/trailing dot ('.5', '5.') and parse them
    identically, so no behavioral gap there.
    """
    c = F.col(col_name)
    dec_underscore = F.when(
        c.rlike(_GO_DEC_UNDERSCORE) & c.contains("_"),
        F.expr(f"try_cast(replace({col_name}, '_', '') as double)"),
    )
    parsed = F.when(c == F.trim(c), F.expr(f"try_cast({col_name} as double)"))
    return F.coalesce(
        dec_underscore, _hex_float_expr(c), _inf_nan_expr(c), parsed, F.lit(0.0)
    )


def _hex_float_expr(c: F.Column) -> F.Column:
    """Go hex float ('0x1.8p1' -> 3.0, '0x1_f.8p-1' -> 15.75): value =
    sign * conv(intdigits || fracdigits, 16, 10) * 2^(p - 4*len(frac)).
    Underscore placement is validated by _GO_HEX_FLOAT (Go literal
    grammar), then underscores are stripped before group extraction so
    the arithmetic sees clean digits. conv() is exact to 15 hex digits;
    beyond that Go rounds too (at most 1 ulp apart)."""
    clean = F.replace(c, F.lit("_"), F.lit(""))
    pat = r"^[+-]?0[xX](([0-9a-fA-F]*)(?:\.([0-9a-fA-F]*))?)[pP]([+-]?[0-9]+)$"
    mant_int = F.regexp_extract(clean, pat, 2)
    mant_frac = F.regexp_extract(clean, pat, 3)
    p_exp = F.regexp_extract(clean, pat, 4).cast("int")
    digits = F.concat(mant_int, mant_frac)
    sign = F.when(c.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    value = sign * F.conv(digits, 16, 10).cast("double") * F.pow(
        F.lit(2.0), (p_exp - 4 * F.length(mant_frac)).cast("double")
    )
    return F.when(c.rlike(_GO_HEX_FLOAT), value)


def _inf_nan_expr(c: F.Column) -> F.Column:
    """Go ParseFloat accepts inf/infinity/nan words, any case, optional
    sign ('inf' parses where Spark's cast wants 'Infinity')."""
    low = F.lower(c)
    sign = F.when(c.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    return (
        F.when(low.rlike(r"^[+-]?(inf|infinity)$"), sign * F.lit(float("inf")))
        .when(low.rlike(r"^[+-]?nan$"), F.lit(float("nan")))
    )


# --- attribute cleaning (F2/F3, convert.go:806-829) --------------------------

SPECIAL_NAME_KEYS = ("name",)
SPECIAL_STYLE_KEYS = ("styletype",)
SPECIAL_ID_KEYS = ("id", "fid", "osm_id", "uid", "uuid")
DROPPED_KEYS = ("tags", "way", "geomz")


def clean_attributes(df: DataFrame, attrs_col: str = "attrs") -> DataFrame:
    """Falsy-value drop + special-key routing on a map<string,string> column.

    Reference-faithful (ParseGEOJSONAttributes, convert.go:800-832):

    * keys match CASE-SENSITIVELY (the Go switch is on the verbatim key;
      'Name' stays an ordinary attribute) — this also avoids building a
      lowered map, which throws DUPLICATED_MAP_KEY for keys differing
      only by case,
    * the falsy drop ('', '0', NULL) happens BEFORE routing
      (convert.go:806-810 deletes, then routes) — a falsy 'name'/'id'
      value is deleted, never promoted,
    * 'name' -> Name, 'styletype' -> StyleType, id-ish keys -> ID,
      'tags'/'way'/'geomz' dropped, the rest stay attributes.
    """
    a = F.col(attrs_col)

    def nonfalsy(v):
        return v.isNotNull() & (v != "") & (v != "0")

    def pick(key):
        v = F.element_at(a, key)
        return F.when(nonfalsy(v), v)

    name = pick("name")
    style = pick("styletype")
    fid = F.coalesce(*[pick(k) for k in SPECIAL_ID_KEYS])
    routed = list(SPECIAL_NAME_KEYS + SPECIAL_STYLE_KEYS + SPECIAL_ID_KEYS + DROPPED_KEYS)
    cleaned = F.map_filter(a, lambda k, v: nonfalsy(v) & ~k.isin(routed))
    return (
        df.withColumn("feature_name", name)
        .withColumn("style_type", style)
        .withColumn("feature_id", fid)
        .withColumn("attributes", cleaned)
    )


# ---------------------------------------------------------------------------
# HTML -> text extraction (north_star: the pages table carries html:binary
# AND text:string; a real Common-Crawl pipeline derives the latter from the
# former). Semantics are defined as an ORDERED rewrite chain so the engine
# (Java regex, Catalyst whole-stage codegen), the DuckDB oracle (RE2) and
# the scalar twin (character walk, tests/html_reference_impl.py) can each
# restate it independently:
#
#   1. drop comments        <!-- ... -->        (dotall, non-greedy)
#   2. drop script blocks   <script...>...</script>   (dotall+i, \b guard)
#   3. drop style blocks    <style...>...</style>
#   4. every remaining tag  <...>  ->  one space
#   5. entity decode, fixed set, IN ORDER (&amp; LAST so '&amp;nbsp;'
#      yields the literal text '&nbsp;', per HTML semantics)
#   6. collapse [ \t\r\n]+ to one space, trim
#
# Unclosed comment/script/style constructs do not match (non-greedy needs
# the closer) and fall through to the tag-strip step — pinned by tests.
# Known regex-stripper limitation (shared by all three restatements, and
# excluded from the synthesized corpus): a literal '>' inside a quoted
# attribute value ends the tag early.
HTML_COMMENT_RE = "(?s)<!--.*?-->"
HTML_SCRIPT_RE = "(?is)<script\\b[^>]*>.*?</script\\s*>"
HTML_STYLE_RE = "(?is)<style\\b[^>]*>.*?</style\\s*>"
HTML_TAG_RE = "(?s)<[^>]*>"
HTML_TITLE_RE = "(?is)<title[^>]*>(.*?)</title\\s*>"
HTML_WS_RE = "[ \\t\\r\\n]+"
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last: never re-interpret what an earlier decode produced
)


def _html_finalize(col: F.Column) -> F.Column:
    for ent, ch in HTML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(col, HTML_WS_RE, " "))


def html_text_col(col: F.Column) -> F.Column:
    """Body text of an HTML string column — pure Catalyst (steps 1-6)."""
    for pat, repl in (
        (HTML_COMMENT_RE, ""),
        (HTML_SCRIPT_RE, ""),
        (HTML_STYLE_RE, ""),
        (HTML_TAG_RE, " "),
    ):
        col = F.regexp_replace(col, pat, repl)
    return _html_finalize(col)


def html_title_col(col: F.Column) -> F.Column:
    """First <title> payload (entity-decoded, whitespace-collapsed); ''
    when absent — Java regexp_extract returns '' on no-match, matching
    DuckDB."""
    return _html_finalize(F.regexp_extract(col, HTML_TITLE_RE, 1))


def html_to_text(pages: DataFrame, html_col: str = "html", decode_binary: bool = True) -> DataFrame:
    """Add ``title`` and ``text`` columns derived from the raw HTML column.

    The whole derivation is built-in string expressions inside one Project
    (whole-stage codegen, zero JVM<->Python exchange) — at 100 TB the page
    bytes never leave the JVM, and Catalyst prunes ``html`` from the scan
    for any consumer that only reads the derived columns' ancestors.
    """
    raw = F.decode(F.col(html_col), "UTF-8") if decode_binary else F.col(html_col)
    return pages.withColumn("title", html_title_col(raw)).withColumn("text", html_text_col(raw))
