"""Driver-contract query suite: one entry per implemented operator
(SURVEY.md §2), each with a DuckDB oracle where ANSI-SQL can express it.

Conventions (driver compare is column-name-sorted value-hash):
* every computed column is aliased identically in Spark and SQL,
* float aggregates are rounded (4 decimals) on BOTH sides so bitwise
  summation-order differences can't flip the hash,
* geo inputs are derived deterministically from the driver tables with
  integer arithmetic (identical in both engines); the +0.005 offsets keep
  points off tile/polygon boundaries so floor/PIP edge semantics can't
  diverge at 1-ulp level.

Queries marked rows-only (no oracle) are the genuinely non-SQL ops: S2
covering, MinHash/LSH, SimHash, fingerprint (kernel-tested instead,
SURVEY.md §5.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import exprs, udfs
from .operators import joins, tiles
from .session import fence, spread

# --- shared derivations -------------------------------------------------------

# deterministic point cloud from lineitem (1400 distinct lats, 3600 lons).
# NB: numeric literals in e-notation so BOTH engines use double arithmetic
# (Spark parses `10.0` as DECIMAL and would produce exact ties where
# DuckDB's double math has 1-ulp noise — divergent kNN tiebreaks).
_PTS_SQL = (
    "select l_orderkey * 10 + l_linenumber as rowid, "
    "((l_partkey * 37) % 1400) / 1e1 - 7e1 + 5e-3 as lat, "
    "((l_suppkey * 91 + l_orderkey) % 3600) / 1e1 - 18e1 + 5e-3 as lon "
    "from lineitem"
)
# small query-point set from customer
_QPTS_SQL = (
    "select c_custkey as query_id, "
    "((c_custkey * 53) % 1200) / 1e1 - 6e1 + 5e-3 as lat, "
    "((c_custkey * 131) % 3400) / 1e1 - 17e1 + 5e-3 as lon "
    "from customer where c_custkey % 5 = 0"
)
# reference points from orders (denser)
_RPTS_SQL = (
    "select o_orderkey as ref_id, "
    "((o_orderkey * 53) % 1200) / 1e1 - 6e1 + 5e-3 as lat, "
    "((o_orderkey * 131) % 3400) / 1e1 - 17e1 + 5e-3 as lon "
    "from orders"
)


# lazy-reader memo: spark.read.parquet re-lists the directory and re-infers
# the schema on EVERY call (~50-150 ms warm) — pure fixed overhead when the
# same immutable sf_dir is queried dozens of times per session (the bench /
# oracle-harness shape). The memo holds only the UNEXECUTED reader plan,
# never rows, so every action still computes from the parquet files. Keyed
# by id(spark): a memoized DataFrame strongly references its session, so
# that id cannot be reused while the entry lives. View registration (cheap)
# is repeated every call, preserving same-name-different-dir semantics.
_READER_MEMO: dict = {}


def _load(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        key = (id(spark), sf_dir, n)
        df = _READER_MEMO.get(key)
        if df is None:
            df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
            _READER_MEMO[key] = df
        df.createOrReplaceTempView(n)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the lineitem parquet arrives in O(row groups) splits (6 at
    # sf1.0), which pinned every _points consumer's expensive stage
    # (mercator/tile exprs, PIP Arrow UDF) to that many cores; the
    # repartition moves 24 B/row ahead of the heavy work and is a no-op
    # at production split counts (round 8, guide §2/§6)
    _load(spark, sf_dir, "lineitem")
    return spread(spark.sql(_PTS_SQL))


def _okeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The o_orderkey scan spread to default parallelism: every synthetic
    page corpus (url / html / text / links) is built by heavyweight
    concat/CASE expressions over this ONE column, and the orders parquet
    arrives as O(1) splits (1 at sf0.1, 2 row groups at sf1.0) — so
    without the spread the whole regex family ran near-single-threaded.
    Shuffling 8 B/row BEFORE the expensive Project is the production
    split-count shape (round 8, guide §2/§6)."""
    _load(spark, sf_dir, "orders")
    return spread(spark.table("orders").select("o_orderkey"))


# --- geo: projection / normalization ------------------------------------------


def q_to3857(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: web-mercator projection with reference rounding + CRS inference
    (convert.go:1269-1282) — Catalyst expressions only."""
    pts = _points(spark, sf_dir)
    return pts.select(
        "rowid",
        exprs.to3857_x(F.col("lon"), F.col("lat")).alias("x"),
        exprs.to3857_y(F.col("lon"), F.col("lat")).alias("y"),
    )


SQL_TO3857 = (
    f"select rowid, {exprs.sql_to3857_x('lon', 'lat')} as x, "
    f"{exprs.sql_to3857_y('lon', 'lat')} as y from ({_PTS_SQL})"
)


def q_to4326(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: inverse web-mercator with reference rounding (1e-4 degrees) +
    CRS inference (convert.go:1257-1266) — Catalyst expressions only.
    Input = the cm-rounded 3857 projection of the lineitem point cloud,
    so the full To3857 -> To4326 round trip is oracle-checked."""
    proj = q_to3857(spark, sf_dir)
    return proj.select(
        "rowid",
        exprs.to4326_lon(F.col("x"), F.col("y")).alias("lon"),
        exprs.to4326_lat(F.col("x"), F.col("y")).alias("lat"),
    )


SQL_TO4326 = (
    f"select rowid, {exprs.sql_to4326_lon('x', 'y')} as lon, "
    f"{exprs.sql_to4326_lat('x', 'y')} as lat from ({SQL_TO3857})"
)


# Deterministic synthetic page text for the extraction oracle: coordinate
# literals are assembled from INTEGER arithmetic (sign/int/frac parts as
# strings) so both engines build byte-identical text — float->string
# formatting is never engine-portable. o_orderkey % 3 mentions per page
# (0, 1, or 2) exercises the no-mention drop and the posexplode fan-out.
def _pages_text_expr(div: str, str_t: str) -> str:
    """The text CASE expression alone (over o_orderkey), so the Spark
    side can build it on a spread base; _pages_text_sql wraps it
    byte-identically to the pre-r8 oracle text."""

    def coord(cd: str) -> str:
        return (
            f"concat(case when {cd} < 0 then '-' else '' end, "
            f"cast(abs({cd}) {div} 100 as {str_t}), '.', "
            f"lpad(cast(abs({cd}) % 100 as {str_t}), 2, '0'))"
        )

    lat0 = coord("(o_orderkey * 37) % 18000 - 9000")
    lon0 = coord("(o_orderkey * 91) % 36000 - 18000")
    lat1 = coord("(o_orderkey * 53) % 18000 - 9000")
    lon1 = coord("(o_orderkey * 131) % 36000 - 18000")
    m0 = f"concat('geo:', {lat0}, ',', {lon0})"
    m1 = f"concat('lat ', {lat1}, ' lon ', {lon1})"
    return (
        "case when o_orderkey % 3 = 0 then 'no coords here' "
        f"when o_orderkey % 3 = 1 then concat('a ', {m0}, ' b') "
        f"else concat('a ', {m0}, ' b ', {m1}, ' c') end"
    )


def _pages_text_sql(div: str, str_t: str) -> str:
    return f"select o_orderkey as page_id, {_pages_text_expr(div, str_t)} as text from orders"


def q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: the north-star entry stage — coordinate-mention extraction from
    page text (Catalyst regexp_extract_all + posexplode; the Arrow twin is
    byte-identical, property-tested). Oracle: DuckDB restates the same
    mention grammar with regexp_extract_all + unnest."""
    from .operators import extract

    pages = _okeys(spark, sf_dir).select(
        F.concat(F.lit("u"), F.col("o_orderkey")).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.col("o_orderkey").alias("page_id"),
        F.expr(_pages_text_expr("div", "string")).alias("text"),
    )
    out = extract.extract_mentions(pages, impl="sql")
    return out.select("page_id", "mention_idx", "lat", "lon")


def _sql_extract() -> str:
    from .operators.extract import MENTION_PATTERN

    pat = MENTION_PATTERN.replace("'", "''")
    return f"""
with pages as ({_pages_text_sql('//', 'varchar')}),
m as (select page_id, regexp_extract_all(text, '{pat}') as ms from pages),
x as (select page_id, unnest(generate_series(1, len(ms))) as i, ms from m)
select page_id, cast(i - 1 as int) as mention_idx,
  cast(case when regexp_extract(ms[i], '{pat}', 1) <> '' then regexp_extract(ms[i], '{pat}', 1)
            else regexp_extract(ms[i], '{pat}', 3) end as double) as lat,
  cast(case when regexp_extract(ms[i], '{pat}', 2) <> '' then regexp_extract(ms[i], '{pat}', 2)
            else regexp_extract(ms[i], '{pat}', 4) end as double) as lon
from x
"""


# Deterministic synthetic HTML for the html->text gate: markup assembled
# from integer arithmetic so both engines build byte-identical pages.
# Branch coverage by modulus: style block (k%3), script with a '<' inside
# its body and an embedded newline (k%4), comment hiding fake tags (k%5),
# UPPERCASE script+div (k%6 — case-insensitivity), unclosed '<script>'
# tail (k%101 — the no-match fallthrough to tag-strip), entity zoo and
# tab/newline whitespace in every body.
def _pages_html_expr(str_t: str) -> str:
    """The html CASE/concat expression alone (over o_orderkey), so fused
    single-scan consumers (q_domain_quota) can combine it with the url
    expression; _pages_html_sql wraps it byte-identically to the pre-r8
    oracle text."""

    def n(expr: str) -> str:
        return f"cast({expr} as {str_t})"

    k = "o_orderkey"
    style = f"case when {k} % 3 = 0 then '<style>.c' || {n(f'{k} % 7')} || '{{margin:0}}</style>' else '' end"
    script = (
        f"case when {k} % 4 = 0 then '<script>var a=' || {n(f'{k} % 10')} || ';' || chr(10) "
        f"|| 'if(a<9){{b=2;}}</script>' else '' end"
    )
    upper = f"case when {k} % 6 = 0 then '<SCRIPT>drop()</SCRIPT><DIV>U' || {n(f'{k} % 17')} || '</DIV>' else '' end"
    comment = f"case when {k} % 5 = 0 then '<!-- n' || {n(f'{k} % 11')} || ' <b>x</b> -->' else '' end"
    para = (
        f"'<p class=\"a\">w' || {n(f'{k} % 13')} || ' &lt;q&gt;' || {n(f'{k} % 9')} "
        f"|| '&nbsp;end' || chr(10) || chr(9) || '&quot;z' || {n(f'{k} % 8')} || '&quot; &#39;s&#39; &amp;nbsp;</p>'"
    )
    tail = f"case when {k} % 101 = 0 then '<script>tail' else '' end"
    return (
        f"'<html><head><title>T&amp;' || {n(f'{k} % 50')} || ' ' || chr(10) || 'x</title>' "
        f"|| {style} || '</head><body>' || {script} || {comment} || {para} || {upper} || {tail} "
        f"|| '</body></html>'"
    )


def _pages_html_sql(str_t: str) -> str:
    return f"select o_orderkey as page_id, {_pages_html_expr(str_t)} as html from orders"


def q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine addition (north_star pages table: html:binary -> text:string):
    HTML body-text + title extraction as a pure Catalyst rewrite chain
    (extract.html_to_text — regexp_replace/replace inside one codegen'd
    Project; the page bytes never leave the JVM). Oracle: DuckDB restates
    the identical ordered chain under RE2; a third, regex-free scalar
    character-walk twin pins the semantics in tests/html_reference_impl.py."""
    from .operators import extract

    pages = _okeys(spark, sf_dir).select(
        F.col("o_orderkey").alias("page_id"),
        F.encode(F.expr(_pages_html_expr("string")), "UTF-8").alias("html"),
    )
    out = extract.html_to_text(pages)
    return out.select(
        "page_id",
        "title",
        "text",
        F.when(F.col("text") == "", 0)
        .otherwise(F.size(F.split(F.col("text"), " ")))
        .cast("int")
        .alias("n_words"),
    )


def _sql_html_text() -> str:
    from .operators import extract as X

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def finalize(s: str) -> str:
        for ent, ch in X.HTML_ENTITIES:
            s = f"replace({s}, {lit(ent)}, {lit(ch)})"
        return f"trim(regexp_replace({s}, {lit(X.HTML_WS_RE)}, ' ', 'g'))"

    body = "html"
    for pat, repl in (
        (X.HTML_COMMENT_RE, ""),
        (X.HTML_SCRIPT_RE, ""),
        (X.HTML_STYLE_RE, ""),
        (X.HTML_TAG_RE, " "),
    ):
        body = f"regexp_replace({body}, {lit(pat)}, {lit(repl)}, 'g')"
    body = finalize(body)
    title = finalize(f"regexp_extract(html, {lit(X.HTML_TITLE_RE)}, 1)")
    return f"""
with pages as ({_pages_html_sql('varchar')}),
x as (select page_id, {title} as title, {body} as text from pages)
select page_id, title, text,
  cast(case when text = '' then 0 else len(string_split(text, ' ')) end as int) as n_words
from x
"""


# Deterministic synthetic URLs from orders keys — branch coverage:
# uppercase scheme (k%7) and host (k%19) for case folding, userinfo (k%11),
# explicit port (k%13), two-level public suffix TLDs (k%5 in {co.uk,
# com.au}), empty-query '?' (k%17), trailing-slash paths (k%4=3), fragments
# (k%10) and scheme-less RELATIVE references (k%29 — '' scheme/host).
def _urls_expr(str_t: str) -> str:
    """The url CASE expression alone (see _pages_html_expr)."""

    def n(expr: str) -> str:
        return f"cast({expr} as {str_t})"

    k = "o_orderkey"
    scheme = f"case when {k} % 7 = 0 then 'FTP://' when {k} % 2 = 0 then 'https://' else 'http://' end"
    userinfo = f"case when {k} % 11 = 0 then 'u' || {n(f'{k} % 5')} || ':pw@' else '' end"
    sub = (
        f"case when {k} % 19 = 0 then 'WWW.' when {k} % 3 = 0 then '' "
        f"when {k} % 3 = 1 then 'www.' else 'a' || {n(f'{k} % 4')} || '.b.' end"
    )
    tld = (
        f"case {k} % 5 when 0 then 'com' when 1 then 'org' when 2 then 'co.uk' "
        "when 3 then 'com.au' else 'io' end"
    )
    port = f"case when {k} % 13 = 0 then ':' || {n(f'8000 + {k} % 100')} else '' end"
    path = (
        f"case when {k} % 4 = 1 then '/' when {k} % 4 = 2 then '/p' || {n(f'{k} % 6')} "
        f"when {k} % 4 = 3 then '/p' || {n(f'{k} % 6')} || '/q' || {n(f'{k} % 3')} || '/' else '' end"
    )
    query = f"case when {k} % 17 = 0 then '?' when {k} % 3 = 0 then '?q=' || {n(f'{k} % 8')} || '&r=1' else '' end"
    frag = f"case when {k} % 10 = 0 then '#s' || {n(f'{k} % 4')} else '' end"
    absolute = (
        f"{scheme} || {userinfo} || {sub} || 'site' || {n(f'{k} % 97')} || '.' || {tld} "
        f"|| {port} || {path} || {query} || {frag}"
    )
    relative = f"'docs/p' || {n(f'{k} % 6')} || {query}"
    return f"case when {k} % 29 = 0 then {relative} else {absolute} end"


def _urls_sql(str_t: str) -> str:
    return f"select o_orderkey as page_id, {_urls_expr(str_t)} as url from orders"


def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine addition (crawl analytics): RFC 3986 URL decomposition +
    registered-domain heuristic, one codegen'd Project (functions/urls.py).
    The oracle runs the IDENTICAL backslash-free SQL snippets in DuckDB."""
    from .functions import urls

    pages = _okeys(spark, sf_dir).select(
        F.col("o_orderkey").alias("page_id"),
        F.expr(_urls_expr("string")).alias("url"),
    )
    return urls.with_url_parts(pages).select(
        "page_id", "scheme", "host", "port", "reg_domain", "path", "path_depth", "has_query"
    )


def _sql_url_parse() -> str:
    from .functions.urls import sql_url_parts

    p = sql_url_parts("url")
    cols = ", ".join(f"{p[c]} as {c}" for c in ("scheme", "host", "port", "reg_domain", "path", "path_depth", "has_query"))
    return f"with pages as ({_urls_sql('varchar')}) select page_id, {cols} from pages"


def q_surt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT index keys on the gate (the Common-Crawl/Wayback CDX key
    convention): host labels reversed + ')' + path. Emitted with the
    parse columns it derives from; the pytest side additionally pins the
    locality property (sorting by SURT clusters hosts of one registered
    domain contiguously)."""
    from .functions import urls

    parsed = q_url_parse(spark, sf_dir)
    return parsed.select(
        "page_id",
        "host",
        "path",
        urls.surt_key(F.col("host"), F.col("path")).alias("surt"),
    )


def _sql_surt() -> str:
    return f"""
with u as ({_sql_url_parse()})
select page_id, host, path,
       array_to_string(list_reverse(string_split(host, '.')), ',') || ')' || path as surt
from u
"""


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain crawl rollup (the politeness/quota unit):
    one shuffle on reg_domain; count distinct host rides the same
    aggregation. At 100 TB the domain key is the natural partitioner —
    heavy-hitter domains are exactly what the salted-join path handles."""
    parsed = q_url_parse(spark, sf_dir)
    return (
        parsed.groupBy("reg_domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.sum((F.col("scheme") == "https").cast("int")).cast("long").alias("n_https"),
            F.sum("has_query").cast("long").alias("n_query"),
            F.max("path_depth").cast("int").alias("max_depth"),
        )
        .orderBy("reg_domain")
    )


def _sql_domain_rollup() -> str:
    return f"""
with parsed as ({_sql_url_parse()})
select reg_domain, cast(count(*) as bigint) as n_urls,
  cast(count(distinct host) as bigint) as n_hosts,
  cast(sum(cast(scheme = 'https' as int)) as bigint) as n_https,
  cast(sum(has_query) as bigint) as n_query,
  cast(max(path_depth) as int) as max_depth
from parsed group by reg_domain order by reg_domain
"""


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling (crawl-politeness / per-domain training
    caps): keep the top-5 pages per registered domain ranked by extracted
    text length (n_words desc, page_id tiebreak). Composes the two other
    webtext stages — with_url_parts and the html->text chain — joined on
    page_id, then ONE window shuffle on reg_domain. The heavy-hitter
    domain is exactly the skewed key the salted-join machinery handles at
    100 TB; at quota k the window needs only a per-partition top-k
    (Spark's WindowExec + rank filter prunes eagerly with AQE).

    FUSED (round 8): the url and html corpora are 1:1 projections of the
    same orders keys, so both derive in ONE scan/Project and the page_id
    self-join of two recomputed regex pipelines (two shuffles + SMJ) is
    gone (guide §2.4); the only remaining exchange is the quota window's,
    where the rank filter drives the WindowGroupLimit top-k pushdown."""
    from .functions import urls
    from .operators import extract

    pages = _okeys(spark, sf_dir).select(
        F.col("o_orderkey").alias("page_id"),
        F.expr(_urls_expr("string")).alias("url"),
        F.expr(_pages_html_expr("string")).alias("html"),
    )
    parsed = urls.with_url_parts(pages).select(
        "page_id", "reg_domain", F.encode(F.col("html"), "UTF-8").alias("html")
    )
    t = extract.html_to_text(parsed)
    n_words = (
        F.when(F.col("text") == "", 0)
        .otherwise(F.size(F.split(F.col("text"), " ")))
        .cast("int")
    )
    w = Window.partitionBy("reg_domain").orderBy(F.desc("n_words"), F.asc("page_id"))
    return (
        t.select("page_id", "reg_domain", n_words.alias("n_words"))
        .withColumn("qrank", F.row_number().over(w))
        .filter(F.col("qrank") <= 5)
        .select("reg_domain", F.col("qrank").cast("int").alias("qrank"), "page_id", "n_words")
    )


def _sql_domain_quota() -> str:
    return f"""
with u as ({_sql_url_parse()}), t as ({_sql_html_text()}),
j as (
  select u.reg_domain, u.page_id, t.n_words,
         row_number() over (partition by u.reg_domain order by t.n_words desc, u.page_id) as qrank
  from u join t on u.page_id = t.page_id
)
select reg_domain, cast(qrank as int) as qrank, page_id, n_words from j where qrank <= 5
"""


# Link corpus: the _urls_sql pages get markup with 0-3 double-quoted
# hrefs (absolute external, host-absolute '/rel', relative 'sub/...',
# an empty href, and a single-quoted decoy the grammar must IGNORE);
# the k%29 relative-reference pages exercise hostless-base resolution.
def _pages_links_expr(str_t: str) -> str:
    """The link-markup concat expression alone (over a ``page_id``
    column; see _pages_html_expr)."""

    def n(expr: str) -> str:
        return f"cast({expr} as {str_t})"

    k = "page_id"
    a_ext = f"case when {k} % 2 = 0 then '<a href=\"https://ext' || {n(f'{k} % 7')} || '.com/x\">e</a>' else '' end"
    a_root = f"case when {k} % 3 = 0 then '<a href=\"/rel/' || {n(f'{k} % 5')} || '\">r</a>' else '' end"
    a_rel = f"case when {k} % 5 = 0 then '<a href=\"sub/page' || {n(f'{k} % 4')} || '\">s</a>' else '' end"
    a_empty = f"case when {k} % 13 = 0 then '<a href=\"\">x</a>' else '' end"
    a_decoy = f"case when {k} % 7 = 0 then '<a href=' || chr(39) || 'decoy' || chr(39) || '>d</a>' else '' end"
    return (
        f"'<html><body>' || {a_ext} || {a_root} || {a_decoy} "
        f"|| {a_rel} || {a_empty} || '</body></html>'"
    )


def _pages_links_sql(str_t: str) -> str:
    return (
        f"select page_id, url, {_pages_links_expr(str_t)} as html "
        f"from ({_urls_sql(str_t)})"
    )


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _pages_links_sql on the spread key base."""
    return _okeys(spark, sf_dir).select(
        F.col("o_orderkey").alias("page_id"),
        F.expr(_urls_expr("string")).alias("url"),
    ).withColumn("html", F.expr(_pages_links_expr("string")))


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph primitive (crawl frontier / link analysis): per-page
    href extraction + naive resolution against the page's scheme/host +
    destination registered domain — all Catalyst expressions inside the
    explode stage (functions/urls.extract_links). Oracle restates the
    grammar, resolution CASE and domain derivation in DuckDB."""
    from .functions import urls

    pages = _link_pages(spark, sf_dir)
    return urls.extract_links(pages).select(
        "page_id", "link_idx", "href", "resolved", "dst_host", "dst_reg_domain"
    )


def _sql_link_extract() -> str:
    from .functions.urls import sql_extract_links

    return f"""
with pages as ({_pages_links_sql('varchar')}),
{sql_extract_links('pages')}
select page_id, link_idx, href, resolved, dst_host, dst_reg_domain from f
"""


# NFC corpus fragments (BMP-only so Spark's UTF-16 length == DuckDB's
# codepoint length): composed/decomposed pairs, combining-mark reorder
# cases, Hangul jamo vs syllable, Greek tonos, plain ASCII and empty.
# The Spark side takes these as Python literals; the oracle rebuilds the
# SAME values with DuckDB chr() generated from ord() — Spark SQL's chr()
# is ASCII-mod-256 so a shared chr()-based SQL corpus is impossible.
_NFC_FRAGMENTS = (
    "é",          # e + combining acute -> é
    "é",           # é already composed
    "Å",          # A + ring -> Å
    "Å",           # ANGSTROM SIGN -> normalizes to Å
    "ṩ",    # dot-below + dot-above (canonical order)
    "ṩ",    # same marks, wrong order -> reorder + compose
    "ṩ",           # ṩ composed
    "한",  # Hangul jamo -> syllable 한
    "한",           # syllable 한 composed
    "ά",     # Greek alpha + acute -> ά
    "plain",
    "",
)


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization on the gate (UAX #15): the standard
    pre-dedup text normalization for multilingual crawls, as a vectorized
    Arrow UDF over CPython's unicodedata. The oracle runs DuckDB's
    utf8proc-backed nfc_normalize on the identical corpus — two
    independent UAX #15 implementations must agree byte-for-byte."""
    nfrag = len(_NFC_FRAGMENTS)
    frags = F.array(*[F.lit(s) for s in _NFC_FRAGMENTS])
    raw = F.concat(
        F.element_at(frags, (F.col("o_orderkey") % nfrag + 1).cast("int")),
        F.lit(" "),
        F.element_at(frags, (F.col("o_orderkey") * 7 % nfrag + 1).cast("int")),
    )
    d = _okeys(spark, sf_dir).select(F.col("o_orderkey").alias("page_id"), raw.alias("raw"))
    out = d.withColumn("nfc", udfs.nfc_normalize(F.col("raw")))
    return out.select(
        "page_id",
        "nfc",
        (F.col("nfc") != F.col("raw")).cast("int").alias("changed"),
        F.length("raw").cast("int").alias("n_raw"),
        F.length("nfc").cast("int").alias("n_nfc"),
    )


def _sql_nfc_normalize() -> str:
    def duck_lit(s: str) -> str:
        return " || ".join(f"chr({ord(c)})" for c in s) if s else "''"

    nfrag = len(_NFC_FRAGMENTS)
    whens = " ".join(
        f"when {i} then {duck_lit(s)}" for i, s in enumerate(_NFC_FRAGMENTS)
    )
    return f"""
with f as (
  select o_orderkey as page_id,
         (case o_orderkey % {nfrag} {whens} end) || ' ' ||
         (case (o_orderkey * 7) % {nfrag} {whens} end) as raw
  from orders
)
select page_id, nfc_normalize(raw) as nfc,
       cast(nfc_normalize(raw) <> raw as int) as changed,
       cast(length(raw) as int) as n_raw,
       cast(length(nfc_normalize(raw)) as int) as n_nfc
from f
"""


# portable deterministic edge split for the incremental-pagerank gate
_PR_SPLIT = "(length(src) + length(dst) + ascii(substring(dst, 1, 1))) % 3"


def q_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental link analysis (the daily-crawl shape, completing the
    incremental triple with q_dedup_incremental / q_tile_incremental):
    ~2/3 of the domain edges form yesterday's graph (6 cold rounds),
    today's full graph then runs 3 WARM rounds seeded from yesterday's
    ranks (new nodes at the cold seed). The warm recurrence is the same
    integer spec as q_domain_pagerank, so the result is hash-gateable;
    the oracle unrolls both phases as materialized CTE stages."""
    from .operators.graph import pagerank_integer
    from .plans.checkpoints import checkpoint, release

    # materialize the edge pipeline ONCE: both phases consume `ed`, and
    # before round 8 the warm phase re-derived the whole URL-parse +
    # link-extract lineage a second time (guide §5: cut shared lineage)
    ed, _ = checkpoint(_domain_edges(spark, sf_dir))
    hist = ed.filter(F.expr(f"{_PR_SPLIT} <> 0"))
    r_hist = pagerank_integer(hist, iters=6)
    out = pagerank_integer(ed, iters=3, init_ranks=r_hist)
    # both phases checkpointed everything they need eagerly; the final
    # ranks are self-contained (graph.py), so the edge snapshot and the
    # historical ranks are superseded
    release(ed, r_hist)
    return out.select("d", F.col("r").cast("long").alias("r"))


def _sql_pagerank_incremental(hist_iters: int = 6, warm_iters: int = 3) -> str:
    from .functions.urls import sql_extract_links
    from .operators.graph import SCALE

    def phase(tag: str, edges: str, r0_body: str, iters: int) -> str:
        out = f""",
nodes{tag} as materialized (select distinct d from (select src as d from {edges} union select dst as d from {edges})),
meta{tag} as materialized (select count(*) as n from nodes{tag}),
outw{tag} as materialized (select src, sum(w) as ow from {edges} group by src),
r{tag}0 as materialized ({r0_body})"""
        for k in range(1, iters + 1):
            p = k - 1
            out += f""",
d{tag}{k} as materialized (
  select coalesce(sum(r.r), 0) // (select n from meta{tag}) as ds
  from r{tag}{p} r left join outw{tag} o on r.d = o.src where o.src is null
),
c{tag}{k} as materialized (
  select e.dst as d, sum((r.r * e.w) // o.ow) as contrib
  from {edges} e join r{tag}{p} r on e.src = r.d join outw{tag} o on e.src = o.src
  group by e.dst
),
r{tag}{k} as materialized (
  select nodes{tag}.d,
         ({SCALE} * 15) // 100 // (select n from meta{tag})
         + (85 * (coalesce(c.contrib, 0) + (select ds from d{tag}{k}))) // 100 as r
  from nodes{tag} left join c{tag}{k} c on nodes{tag}.d = c.d
)"""
        return out

    head = f"""
with pages as ({_pages_links_sql('varchar')}),
{sql_extract_links('pages')},
u as ({_sql_url_parse()}),
ed as materialized (
  select u.reg_domain as src, f.dst_reg_domain as dst, cast(count(*) as bigint) as w
  from f join u on f.page_id = u.page_id
  where f.resolved <> '' and u.reg_domain <> ''
  group by 1, 2
),
edh as materialized (select * from ed where {_PR_SPLIT} <> 0)"""
    a = phase("h", "edh", f"select d, {SCALE} // n as r from nodesh, metah", hist_iters)
    warm_r0 = (
        f"select n.d, coalesce(p.r, {SCALE} // (select n from metaw)) as r "
        f"from nodesw n left join rh{hist_iters} p on n.d = p.d"
    )
    b = phase("w", "ed", warm_r0, warm_iters)
    return head + a + b + f"\nselect d, cast(r as bigint) as r from rw{warm_iters}"


def q_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots politeness on the gate (RFC 9309 longest-match core,
    wildcard-free subset): per-domain allow/disallow prefix rules derived
    deterministically from the domain string (ascii+length arithmetic —
    portable), applied to every parsed page URL via urls.apply_robots
    (broadcast dim join + one page-keyed window). Branches exercised:
    blanket '/' disallow, longer allow overriding shorter disallow,
    EXACT-length allow/disallow tie (allow wins), unmatched paths and
    hostless pages (allowed, NULL rule)."""
    from .functions import urls
    from .plans.checkpoints import checkpoint

    pages = q_url_parse(spark, sf_dir).select("page_id", "reg_domain", "path")
    # checkpoint: `hd` feeds FIVE rule-union branches, each of which
    # would re-execute the full parse + distinct (measured ~5x the
    # query); the materialized table is ~|domains| rows (round 8).
    doms = fence(pages.select("reg_domain"), "reg_domain").filter(F.col("reg_domain") != "").distinct()
    h = (F.ascii(F.substring("reg_domain", 5, 1)) + F.length("reg_domain")).alias("h")
    hd, _ = checkpoint(doms.select("reg_domain", h))

    def rule(rtype: str, prefix: F.Column, cond=None):
        out = hd.select(
            "reg_domain", F.lit(rtype).alias("rule_type"), prefix.alias("path_prefix")
        )
        return out if cond is None else hd.filter(cond).select(
            "reg_domain", F.lit(rtype).alias("rule_type"), prefix.alias("path_prefix")
        )

    p_main = F.concat(F.lit("/p"), (F.col("h") % 6).cast("string"))
    rules = (
        rule("disallow", p_main)
        .unionByName(rule("allow", F.concat(p_main, F.lit("/q")), F.col("h") % 2 == 0))
        .unionByName(rule("disallow", F.lit("/"), F.col("h") % 3 == 0))
        .unionByName(
            rule("allow", F.concat(F.lit("/p"), ((F.col("h") + 1) % 6).cast("string")), F.col("h") % 4 == 0)
        )
        .unionByName(rule("allow", p_main, F.col("h") % 5 == 0))  # exact tie: allow wins
    )
    return urls.apply_robots(pages, rules)


def _sql_robots() -> str:
    return f"""
with u as ({_sql_url_parse()}),
pages as (select page_id, reg_domain, path from u),
hd as (
  select reg_domain, ascii(substring(reg_domain, 5, 1)) + length(reg_domain) as h
  from (select distinct reg_domain from pages where reg_domain <> '')
),
rules as (
  select reg_domain, 'disallow' as rule_type, '/p' || cast(h % 6 as varchar) as path_prefix from hd
  union all select reg_domain, 'allow', '/p' || cast(h % 6 as varchar) || '/q' from hd where h % 2 = 0
  union all select reg_domain, 'disallow', '/' from hd where h % 3 = 0
  union all select reg_domain, 'allow', '/p' || cast((h + 1) % 6 as varchar) from hd where h % 4 = 0
  union all select reg_domain, 'allow', '/p' || cast(h % 6 as varchar) from hd where h % 5 = 0
),
j as (
  select p.page_id, p.reg_domain, p.path, r.rule_type, r.path_prefix,
         length(r.path_prefix) as rule_len,
         r.path_prefix is not null and starts_with(p.path, r.path_prefix) as m
  from pages p left join rules r on p.reg_domain = r.reg_domain
),
t as (
  select *, row_number() over (
    partition by page_id
    order by m desc, rule_len desc, rule_type asc, path_prefix asc
  ) as rn from j
)
select page_id, reg_domain, path,
       cast(case when m and rule_type = 'disallow' then 0 else 1 end as int) as allowed,
       case when m then rule_type end as rule_type,
       cast(case when m then rule_len end as int) as rule_len
from t where rn = 1
"""


def _domain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src reg_domain, dst reg_domain, w=link count) from the link
    corpus — unresolvable links and hostless source pages excluded.

    FUSED (round 8): the source page's reg_domain derives from the same
    ``url`` column the link resolution reads, so it is computed in the
    SAME scan/explode stage instead of joining q_link_extract against
    q_url_parse on page_id — that join re-derived the URL regex pipeline
    twice and shuffled both 1:1 sides (guide §2.4: remove shuffles
    outright). Equivalent because the parse side is keyed 1:1 by
    page_id with the identical reg_domain expression."""
    from .functions import urls

    pages = _link_pages(spark, sf_dir)
    j = urls.extract_links(urls.with_url_parts(pages))
    return (
        fence(j, "reg_domain", "resolved", "dst_reg_domain")
        .filter((F.col("resolved") != "") & (F.col("reg_domain") != ""))
        .groupBy(F.col("reg_domain").alias("src"), F.col("dst_reg_domain").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative link analysis on the gate: 8 rounds of deterministic
    INTEGER fixed-point PageRank (operators/graph.py — per-edge floor
    division makes every sum order-independent, so the bigint ranks are
    bit-identical across engines and partitionings; float PageRank is
    not hash-gateable). Oracle: the identical recurrence unrolled as 8
    generated CTE stages in DuckDB, including the per-round dangling-
    mass scalar."""
    from .operators.graph import pagerank_integer

    return pagerank_integer(_domain_edges(spark, sf_dir), iters=8).select(
        "d", F.col("r").cast("long").alias("r")
    )


def _sql_domain_pagerank(iters: int = 8) -> str:
    from .functions.urls import sql_extract_links
    from .operators.graph import SCALE

    head = f"""
with pages as ({_pages_links_sql('varchar')}),
{sql_extract_links('pages')},
u as ({_sql_url_parse()}),
ed as (
  select u.reg_domain as src, f.dst_reg_domain as dst, cast(count(*) as bigint) as w
  from f join u on f.page_id = u.page_id
  where f.resolved <> '' and u.reg_domain <> ''
  group by 1, 2
),
nodes as (select distinct d from (select src as d from ed union select dst as d from ed)),
meta as (select count(*) as n from nodes),
outw as (select src, sum(w) as ow from ed group by src),
r0 as (select d, {SCALE} // n as r from nodes, meta)"""
    steps = []
    for k in range(1, iters + 1):
        p = k - 1
        steps.append(
            f""",
d{k} as (
  select coalesce(sum(r.r), 0) // (select n from meta) as ds
  from r{p} r left join outw o on r.d = o.src where o.src is null
),
c{k} as (
  select e.dst as d, sum((r.r * e.w) // o.ow) as contrib
  from ed e join r{p} r on e.src = r.d join outw o on e.src = o.src
  group by e.dst
),
r{k} as (
  select nodes.d,
         ({SCALE} * 15) // 100 // (select n from meta)
         + (85 * (coalesce(c.contrib, 0) + (select ds from d{k}))) // 100 as r
  from nodes left join c{k} c on nodes.d = c.d
)"""
        )
    sql = head + "".join(steps) + f"\nselect d, cast(r as bigint) as r from r{iters}"
    # force CTE materialization: DuckDB inlines multiply-referenced CTEs
    # here, which re-evaluates the whole chain per reference — ~5x wall
    # per added iteration (measured); MATERIALIZED makes it linear.
    import re as _re

    # (only the multiply-referenced CTEs; the single-use pages/x/r/f/u
    # chain inlines fine, and materializing the outer 'pages' collides
    # with _sql_url_parse's shadowing inner CTE of the same name)
    return _re.sub(
        r"\b(ed|nodes|meta|outw|[rdc]\d+) as \(", r"\1 as materialized (", sql
    )


def q_checkcoords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3/F1: string->float with errors->0.0 (convert.go:557-564) and
    invalid-row drop. Coordinate strings derived from part; every 7th x is
    unparseable and every 11th y is missing (row dropped)."""
    _load(spark, sf_dir, "part")
    raw = spark.sql(
        "select p_partkey as rowid, "
        "case when p_partkey % 7 = 0 then 'not_a_number' else cast(((p_partkey * 13) % 3000) / 10.0 - 150.0 as string) end as xs, "
        "case when p_partkey % 11 = 0 then null else cast(((p_partkey * 29) % 1600) / 10.0 - 80.0 as string) end as ys "
        "from part"
    )
    from .operators.extract import parse_double_go

    out = (
        raw.filter(F.col("ys").isNotNull())  # arity < 2 -> dropped
        .withColumn("xv", parse_double_go("xs"))
        .withColumn("yv", parse_double_go("ys"))
    )
    return out.select(
        "rowid",
        exprs.to3857_x(F.col("xv"), F.col("yv")).alias("x"),
        exprs.to3857_y(F.col("xv"), F.col("yv")).alias("y"),
    )


SQL_CHECKCOORDS = f"""
with raw as (
  select p_partkey as rowid,
    case when p_partkey % 7 = 0 then 'not_a_number' else cast(((p_partkey * 13) % 3000) / 10.0 - 150.0 as varchar) end as xs,
    case when p_partkey % 11 = 0 then null else cast(((p_partkey * 29) % 1600) / 10.0 - 80.0 as varchar) end as ys
  from part
), parsed as (
  -- whitespace-padded values are parse errors in Go (engines' try_cast trims)
  select rowid,
         coalesce(case when xs = trim(xs) then try_cast(xs as double) end, 0.0) as xv,
         coalesce(case when ys = trim(ys) then try_cast(ys as double) end, 0.0) as yv
  from raw where ys is not null
)
select rowid, {exprs.sql_to3857_x('xv', 'yv')} as x, {exprs.sql_to3857_y('xv', 'yv')} as y from parsed
"""


# --- geo: tile assignment / rollup / joins ------------------------------------

_ZOOM = 12


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile assignment at z12 (the BASELINE headline operation): counts per
    tile — pure expressions, shuffle only at the final agg."""
    pts = _points(spark, sf_dir)
    t = tiles.with_tile(pts, _ZOOM)
    return t.groupBy("zoom", "tile_x", "tile_y").agg(F.count(F.lit(1)).alias("n"))


SQL_TILE_ASSIGN = f"""
select {_ZOOM} as zoom, {exprs.sql_tile_x('lon', _ZOOM)} as tile_x,
       {exprs.sql_tile_y('lat', _ZOOM)} as tile_y, count(*) as n
from ({_PTS_SQL}) group by 1, 2, 3
"""


def q_tile_assign_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-zoom (z20) tile assignment grouped by the FULL Morton cell id
    — exercises the full-width interleave (functions/exprs.morton_cell;
    the old 32-bit masks were silently wrong past z16) under the driver's
    oracle gate. The oracle restates the interleave as a CTE chain of five
    shift/mask rounds in DuckDB bigint arithmetic — an independent
    re-derivation, not a KAT."""
    pts = _points(spark, sf_dir)
    t = tiles.with_tile(pts, 20)
    return t.groupBy("zoom", "cell_id").agg(F.count(F.lit(1)).alias("n"))


def _sql_tile_assign_deep() -> str:
    zoom = 20
    rounds = (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    )
    ctes = [
        "b0 as (select cast("
        + exprs.sql_tile_x("lon", zoom)
        + " as bigint) & 4294967295 as x0, cast("
        + exprs.sql_tile_y("lat", zoom)
        + f" as bigint) & 4294967295 as y0 from ({_PTS_SQL}))"
    ]
    for i, (sh, mask) in enumerate(rounds, 1):
        p = i - 1
        ctes.append(
            f"b{i} as (select ((x{p} | (x{p} << {sh})) & {mask}) as x{i}, "
            f"((y{p} | (y{p} << {sh})) & {mask}) as y{i} from b{p})"
        )
    n = len(rounds)
    return (
        "with " + ", ".join(ctes) + f" select {zoom} as zoom, "
        f"({1 << (2 * zoom)} + x{n} + 2 * y{n}) as cell_id, count(*) as n "
        f"from b{n} group by 1, 2"
    )


def q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-level multi-resolution rollup: counts at zooms 12..9, rolled up
    level-by-level (partials re-aggregated, never the raw data)."""
    pts = _points(spark, sf_dir)
    t = tiles.with_tile(pts, _ZOOM)
    return tiles.tile_rollup(t, levels=4).select("zoom", "tile_x", "tile_y", "n")


SQL_TILE_ROLLUP = f"""
with base as (
  select {exprs.sql_tile_x('lon', _ZOOM)} as tx, {exprs.sql_tile_y('lat', _ZOOM)} as ty
  from ({_PTS_SQL})
)
select {_ZOOM} as zoom, tx as tile_x, ty as tile_y, count(*) as n from base group by 2, 3
union all
select {_ZOOM - 1}, tx // 2, ty // 2, count(*) from base group by 2, 3
union all
select {_ZOOM - 2}, tx // 4, ty // 4, count(*) from base group by 2, 3
union all
select {_ZOOM - 3}, tx // 8, ty // 8, count(*) from base group by 2, 3
"""


def q_tile_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-tile dataset maintenance on the gate: ~2/3 of the
    points build the historical summaries (tiles.tile_datasets), the
    remaining ~1/3 fold in through tiles.merge_tile_datasets — history is
    never re-aggregated. The oracle recomputes the summaries from the
    UNSPLIT point set, so a green row proves merge == full recompute.
    Digest: the decomposable state (bbox, count) + derived center; the
    bbox-derived DEM z and S2 covering recompute from the same merged
    bbox and carry their own gate rows (q_getelev, q_s2_covering)."""
    pts = _points(spark, sf_dir)
    keys = ["zoom", "tile_x", "tile_y"]
    t = tiles.with_tile(pts, _ZOOM).select(
        *keys,
        exprs.to3857_x(F.col("lon"), F.col("lat")).alias("x"),
        exprs.to3857_y(F.col("lon"), F.col("lat")).alias("y"),
        "rowid",
    )
    prev = tiles.tile_datasets(t.filter(F.col("rowid") % 3 != 0), group_cols=keys)
    merged = tiles.merge_tile_datasets(
        prev, t.filter(F.col("rowid") % 3 == 0), group_cols=keys
    )
    return merged.select(
        *keys, "lx", "rx", "ly", "uy", "n_points", "center_x", "center_y"
    )


SQL_TILE_INCREMENTAL = f"""
with proj as (
  select {exprs.sql_tile_x('lon', _ZOOM)} as tile_x, {exprs.sql_tile_y('lat', _ZOOM)} as tile_y,
         {exprs.sql_to3857_x('lon', 'lat')} as x, {exprs.sql_to3857_y('lon', 'lat')} as y
  from ({_PTS_SQL})
)
select {_ZOOM} as zoom, tile_x, tile_y,
       min(x) as lx, max(x) as rx, min(y) as ly, max(y) as uy,
       count(*) as n_points,
       (min(x) + max(x)) / 2.0 as center_x, (min(y) + max(y)) / 2.0 as center_y
from proj group by 2, 3
"""


def q_tile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile equi-join: points joined to a (broadcast) tile dimension built
    from the distinct tiles of the customer-derived points."""
    _load(spark, sf_dir, "customer")
    pts = tiles.with_tile(_points(spark, sf_dir), 8)
    dim = (
        tiles.with_tile(spark.sql(_QPTS_SQL), 8)
        .select("zoom", "tile_x", "tile_y")
        .distinct()
        .withColumn("tile_name", F.concat_ws("/", "zoom", "tile_x", "tile_y"))
    )
    j = joins.tile_join(pts, dim, on=["zoom", "tile_x", "tile_y"])
    return j.groupBy("tile_name").agg(F.count(F.lit(1)).alias("n"))


SQL_TILE_JOIN = f"""
with pts as (
  select {exprs.sql_tile_x('lon', 8)} as tile_x, {exprs.sql_tile_y('lat', 8)} as tile_y
  from ({_PTS_SQL})
), dim as (
  select distinct {exprs.sql_tile_x('lon', 8)} as tile_x, {exprs.sql_tile_y('lat', 8)} as tile_y
  from ({_QPTS_SQL})
)
select concat(8, '/', d.tile_x, '/', d.tile_y) as tile_name, count(*) as n
from pts p join dim d on p.tile_x = d.tile_x and p.tile_y = d.tile_y
group by 1
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 salted skew join on the gate: the SAME join as q_tile_join
    (z7 here) routed through joins.salted_tile_join — points take a
    deterministic xxhash64 salt, the dim replicates n_salt times, and
    the join key becomes (zoom, tile_x, tile_y, salt) so a hot cell
    spreads over n_salt reducers. Salting is semantics-preserving, so
    the oracle is the PLAIN SQL join: any duplicated/lost row under
    salt replication (the failure mode of a wrong salt-side fan-out)
    breaks the hash. The skew-WALL evidence lives in bench.py's
    skew_stress section; this row pins correctness of the rewrite."""
    _load(spark, sf_dir, "customer")
    pts = tiles.with_tile(_points(spark, sf_dir), 7)
    dim = (
        tiles.with_tile(spark.sql(_QPTS_SQL), 7)
        .select("zoom", "tile_x", "tile_y")
        .distinct()
        .withColumn("tag", F.pmod(F.col("tile_x") * 31 + F.col("tile_y"), F.lit(13)))
    )
    j = joins.salted_tile_join(
        pts, dim, n_salt=8, on=["zoom", "tile_x", "tile_y"], salt_cols=["rowid"]
    )
    return j.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("rowid").alias("n_rows"),
    )


SQL_SALTED_JOIN = f"""
with pts as (
  select l.rowid, {exprs.sql_tile_x('l.lon', 7)} as tile_x, {exprs.sql_tile_y('l.lat', 7)} as tile_y
  from ({_PTS_SQL}) l
), dim as (
  select tile_x, tile_y, ((tile_x * 31 + tile_y) % 13 + 13) % 13 as tag from (
    select distinct {exprs.sql_tile_x('lon', 7)} as tile_x, {exprs.sql_tile_y('lat', 7)} as tile_y
    from ({_QPTS_SQL})
  )
)
select d.tag, count(*) as n, count(distinct p.rowid) as n_rows
from pts p join dim d on p.tile_x = d.tile_x and p.tile_y = d.tile_y
group by 1
"""


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 bucketed co-located join on the gate: per-tile point counts
    and a tile dim are both written with bucketBy(16, tile_x, tile_y)
    (plans/bucketing.write_bucketed, in-memory session catalog, /tmp
    storage) and joined bucket-to-bucket — the executed plan is
    asserted Exchange-free at build time (the 100 TB property: pay one
    bucketed write, every later join/groupBy on the key is
    shuffle-free). force_sortmerge pins the SortMergeJoin shape so the
    assertion isn't satisfied vacuously by a broadcast at test scale.
    The oracle is the plain SQL join — bucketing must not change one
    row."""
    from .plans import bucketing

    _load(spark, sf_dir, "lineitem", "customer")
    tiled = tiles.with_tile(spark.sql(_PTS_SQL), 9)
    counts = tiled.groupBy("tile_x", "tile_y").agg(F.count(F.lit(1)).alias("n_points"))
    dim = (
        tiles.with_tile(spark.sql(_QPTS_SQL), 9)
        .select("tile_x", "tile_y")
        .distinct()
        .withColumn("tag", F.pmod(F.col("tile_x") * 17 + F.col("tile_y"), F.lit(7)))
    )
    sf_tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    base = f"/tmp/convert_spark_bucketed/{sf_tag}"
    keys = ("tile_x", "tile_y")
    ct, dt = f"gate_bj_counts_{sf_tag}", f"gate_bj_dim_{sf_tag}"
    bucketing.write_bucketed(counts, ct, 16, keys=keys, path=f"{base}/counts")
    bucketing.write_bucketed(dim, dt, 16, keys=keys, path=f"{base}/dim")
    j = bucketing.cobucketed_join(spark, ct, dt, on=keys, force_sortmerge=True)
    out = j.select("tile_x", "tile_y", "n_points", "tag")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"co-bucketed join regressed to a shuffle:\n{plan}"
    assert "SortMergeJoin" in plan, plan
    return out


SQL_BUCKETED_JOIN = f"""
with counts as (
  select tile_x, tile_y, count(*) as n_points from (
    select {exprs.sql_tile_x('lon', 9)} as tile_x, {exprs.sql_tile_y('lat', 9)} as tile_y
    from ({_PTS_SQL})
  ) group by 1, 2
), dim as (
  select tile_x, tile_y, ((tile_x * 17 + tile_y) % 7 + 7) % 7 as tag from (
    select distinct {exprs.sql_tile_x('lon', 9)} as tile_x, {exprs.sql_tile_y('lat', 9)} as tile_y
    from ({_QPTS_SQL})
  )
)
select c.tile_x, c.tile_y, c.n_points, d.tag
from counts c join dim d on c.tile_x = d.tile_x and c.tile_y = d.tile_y
"""


_COMPACT_ZOOM = 6


def q_compact_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style compacted cell sets per key (north_star "H3 (compacted
    cell sets)"): distinct z6 cells per key, complete sibling quads
    replaced by parents recursively (operators.tiles.compact_cell_sets
    over kernels.quadkey.compact), decoded back to (zoom, tile_x, tile_y)
    with exact Catalyst bit expressions. Oracle: the compaction recursion
    unrolled level-by-level in SQL (group children by parent, promote on
    count = 4, emit cells whose parent was not promoted)."""
    pts = _points(spark, sf_dir).withColumn("key", F.col("rowid") % 40)
    t = tiles.with_tile(pts, _COMPACT_ZOOM)
    per = tiles.compact_cell_sets(t, key="key")
    ex = per.select("key", F.explode("cells").alias("cell_id"))
    return ex.select(
        "key",
        exprs.cell_zoom(F.col("cell_id")).alias("zoom"),
        exprs.cell_tx(F.col("cell_id")).alias("tile_x"),
        exprs.cell_ty(F.col("cell_id")).alias("tile_y"),
    )


def _sql_compact_cells() -> str:
    z = _COMPACT_ZOOM
    parts = [
        f"pts as ({_PTS_SQL})",
        (
            f"c{z} as (select distinct rowid % 40 as key, "
            f"{exprs.sql_tile_x('lon', z)} as tx, {exprs.sql_tile_y('lat', z)} as ty from pts)"
        ),
    ]
    for lvl in range(z, 0, -1):
        parts.append(
            f"c{lvl - 1} as (select key, tx // 2 as tx, ty // 2 as ty from c{lvl} "
            f"group by key, tx // 2, ty // 2 having count(*) = 4)"
        )
    sels = []
    for lvl in range(z, -1, -1):
        if lvl == 0:
            sels.append("select key, 0 as zoom, tx as tile_x, ty as tile_y from c0")
        else:
            sels.append(
                f"select key, {lvl} as zoom, c.tx as tile_x, c.ty as tile_y from c{lvl} c "
                f"anti join c{lvl - 1} p on p.key = c.key and p.tx = c.tx // 2 and p.ty = c.ty // 2"
            )
    return "with " + ", ".join(parts) + " " + " union all ".join(sels)


def q_uncompact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact -> uncompact round trip: expanding the minimal multi-zoom
    cover back to uniform z6 must reproduce EXACTLY the original distinct
    cell set per key — so the oracle is simply the distinct (key, tx, ty)
    at z6, making this a full independent check of both kernels
    (quadkey.compact + quadkey.uncompact) at once."""
    import numpy as np
    import pandas as pd

    from .kernels import quadkey as qk

    pts = _points(spark, sf_dir).withColumn("key", F.col("rowid") % 40)
    t = tiles.with_tile(pts, _COMPACT_ZOOM)
    per = tiles.compact_cell_sets(t, key="key")

    @F.pandas_udf("array<long>")
    def uncompact_udf(cells):
        return pd.Series(
            [qk.uncompact(np.asarray(c, dtype=np.int64), _COMPACT_ZOOM).tolist() for c in cells]
        )

    ex = per.select("key", F.explode(uncompact_udf(F.col("cells"))).alias("cell_id"))
    return ex.select(
        "key",
        exprs.cell_tx(F.col("cell_id")).alias("tile_x"),
        exprs.cell_ty(F.col("cell_id")).alias("tile_y"),
    )


SQL_UNCOMPACT_ROUNDTRIP = f"""
select distinct rowid % 40 as key,
       {exprs.sql_tile_x('lon', _COMPACT_ZOOM)} as tile_x,
       {exprs.sql_tile_y('lat', _COMPACT_ZOOM)} as tile_y
from ({_PTS_SQL})
"""


_KNN_ZOOM, _KNN_RING, _KNN_K = 6, 2, 3
_KNN_MAX_RING = 8  # doubling schedule: 2 -> 4 -> 8


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join: cell-ring expansion with RING DOUBLING for sparse queries
    (schedule 2->4->8) + window top-k. The oracle restates the identical
    per-query radius selection (smallest schedule radius holding >= k
    candidates) in SQL."""
    _load(spark, sf_dir, "customer", "orders")
    # spread (round 8): customer/orders arrive in O(row-group) splits, which
    # pinned the probe's query-side explode+morton stage to ONE task (1.7 s)
    # and the ref-side trig+join+rank stage to the row-group count (9.4 s CPU
    # at 5-way); no-op at production split counts
    q = spread(spark.sql(_QPTS_SQL))
    r = spread(spark.sql(_RPTS_SQL))
    out = joins.knn_join(q, r, k=_KNN_K, zoom=_KNN_ZOOM, ring=_KNN_RING, max_ring=_KNN_MAX_RING)
    return out.select("query_id", "ref_id", "rank")


SQL_KNN = f"""
with q as (
  select query_id, lat as q_lat, lon as q_lon,
         {exprs.sql_tile_x('lon', _KNN_ZOOM)} as q_tx, {exprs.sql_tile_y('lat', _KNN_ZOOM)} as q_ty
  from ({_QPTS_SQL})
), r as (
  select ref_id, lat as r_lat, lon as r_lon,
         {exprs.sql_tile_x('lon', _KNN_ZOOM)} as r_tx, {exprs.sql_tile_y('lat', _KNN_ZOOM)} as r_ty
  from ({_RPTS_SQL})
), cand as (
  select q.query_id, r.ref_id,
         greatest(abs(q.q_ty - r.r_ty),
                  least((q.q_tx - r.r_tx + {1 << _KNN_ZOOM}) % {1 << _KNN_ZOOM},
                        (r.r_tx - q.q_tx + {1 << _KNN_ZOOM}) % {1 << _KNN_ZOOM})) as cheb,
         (q.q_lat - r.r_lat) * (q.q_lat - r.r_lat) + (q.q_lon - r.r_lon) * (q.q_lon - r.r_lon) as d2
  from q join r on abs(q.q_ty - r.r_ty) <= {_KNN_MAX_RING}
    and least((q.q_tx - r.r_tx + {1 << _KNN_ZOOM}) % {1 << _KNN_ZOOM},
              (r.r_tx - q.q_tx + {1 << _KNN_ZOOM}) % {1 << _KNN_ZOOM}) <= {_KNN_MAX_RING}
), chosen as (
  -- ring doubling: smallest radius in [2,4,8] with >= k candidates, else 8
  select query_id,
         case when count(*) filter (where cheb <= {_KNN_RING}) >= {_KNN_K} then {_KNN_RING}
              when count(*) filter (where cheb <= {2 * _KNN_RING}) >= {_KNN_K} then {2 * _KNN_RING}
              else {_KNN_MAX_RING} end as rsel
  from cand group by query_id
)
select query_id, ref_id, rank from (
  select c.query_id, c.ref_id,
         row_number() over (partition by c.query_id order by c.d2 asc, c.ref_id asc) as rank
  from cand c join chosen ch on c.query_id = ch.query_id and c.cheb <= ch.rsel
) where rank <= {_KNN_K}
"""


def q_knn_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join at a FIXED ring = max_ring (no doubling): the widest-ring
    baseline the doubling schedule is measured against in bench.py (the
    doubling run must stay within ~1.5x of this on the same VM)."""
    _load(spark, sf_dir, "customer", "orders")
    q = spread(spark.sql(_QPTS_SQL))  # same spread rationale as q_knn
    r = spread(spark.sql(_RPTS_SQL))
    out = joins.knn_join(q, r, k=_KNN_K, zoom=_KNN_ZOOM, ring=_KNN_MAX_RING, max_ring=_KNN_MAX_RING)
    return out.select("query_id", "ref_id", "rank")


SQL_KNN_FIXED = f"""
with q as (
  select query_id, lat as q_lat, lon as q_lon,
         {exprs.sql_tile_x('lon', _KNN_ZOOM)} as q_tx, {exprs.sql_tile_y('lat', _KNN_ZOOM)} as q_ty
  from ({_QPTS_SQL})
), r as (
  select ref_id, lat as r_lat, lon as r_lon,
         {exprs.sql_tile_x('lon', _KNN_ZOOM)} as r_tx, {exprs.sql_tile_y('lat', _KNN_ZOOM)} as r_ty
  from ({_RPTS_SQL})
), cand as (
  select q.query_id, r.ref_id,
         (q.q_lat - r.r_lat) * (q.q_lat - r.r_lat) + (q.q_lon - r.r_lon) * (q.q_lon - r.r_lon) as d2
  from q join r on abs(q.q_ty - r.r_ty) <= {_KNN_MAX_RING}
    and least((q.q_tx - r.r_tx + {1 << _KNN_ZOOM}) % {1 << _KNN_ZOOM},
              (r.r_tx - q.q_tx + {1 << _KNN_ZOOM}) % {1 << _KNN_ZOOM}) <= {_KNN_MAX_RING}
)
select query_id, ref_id, rank from (
  select query_id, ref_id,
         row_number() over (partition by query_id order by d2 asc, ref_id asc) as rank
  from cand
) where rank <= {_KNN_K}
"""


def _rect_polys_pdf():
    """Axis-aligned polygon layer for the oracle-checkable PIP join:
    12 rects + 1 doughnut, edges on 0.25-degree lines (points sit at
    x.xx5 offsets — never on an edge)."""
    import pandas as pd

    rows = []
    pid = 0
    for i in range(12):
        w = -170.0 + i * 27.5
        s = -65.0 + (i * 19) % 110
        e, n = w + 22.5, min(s + 17.5, 69.75)
        rows.append(
            {"poly_id": pid, "name": f"rect_{pid}", "kind": "rect", "rings": [[[w, s], [e, s], [e, n], [w, n], [w, s]]]}
        )
        pid += 1
    w, s, e, n = -60.0, -30.0, -20.0, 10.0
    hw, hs, he, hn = -50.0, -20.0, -30.0, 0.0
    rows.append(
        {
            "poly_id": pid,
            "name": "doughnut",
            "kind": "doughnut",
            "rings": [
                [[w, s], [e, s], [e, n], [w, n], [w, s]],
                [[hw, hs], [he, hs], [he, hn], [hw, hn], [hw, hs]],
            ],
        }
    )
    return pd.DataFrame(rows)


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 generalized: broadcast STRtree + exact ray-casting PIP join.
    The polygon layer is axis-aligned so the oracle can restate containment
    with BETWEENs (the kernel handles arbitrary rings — tested in pytest)."""
    pts = _points(spark, sf_dir)
    j = joins.pip_join(pts, _rect_polys_pdf())
    return j.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n"))


def _sql_pip_join() -> str:
    parts = []
    for _, row in _rect_polys_pdf().iterrows():
        outer = row["rings"][0]
        w, s = outer[0]
        e, n = outer[2]
        cond = f"(lon > {w} and lon < {e} and lat > {s} and lat < {n})"
        if len(row["rings"]) > 1:
            hole = row["rings"][1]
            hw, hs = hole[0]
            he, hn = hole[2]
            cond += f" and not (lon > {hw} and lon < {he} and lat > {hs} and lat < {hn})"
        # "having count(*) > 0": a polygon containing no points must emit
        # NO row — inner-join semantics; a bare count(*) would emit (pid, 0).
        # sf0.01 masks the difference (every polygon holds a point there);
        # sf0.001 exposed it.
        parts.append(
            f"select {row['poly_id']} as poly_id, count(*) as n from pts where {cond} having count(*) > 0"
        )
    return "with pts as (" + _PTS_SQL + ") " + " union all ".join(parts)


# --- geo: dataset aggregation (A1/A2) ------------------------------------------


def q_bbox_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: per-dataset streaming bbox (the ExtentContainer replacement,
    convert.go:1099-1134) and 3857 bbox center (convert.go:1137-1148)."""
    pts = _points(spark, sf_dir).withColumn("dataset_id", F.col("rowid") % 20)
    proj = pts.select(
        "dataset_id",
        exprs.to3857_x(F.col("lon"), F.col("lat")).alias("x"),
        exprs.to3857_y(F.col("lon"), F.col("lat")).alias("y"),
    )
    agg = proj.groupBy("dataset_id").agg(
        F.min("x").alias("lx"),
        F.max("x").alias("rx"),
        F.min("y").alias("ly"),
        F.max("y").alias("uy"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "dataset_id",
        "lx",
        "rx",
        "ly",
        "uy",
        "n",
        ((F.col("lx") + F.col("rx")) / 2.0).alias("center_x"),
        ((F.col("ly") + F.col("uy")) / 2.0).alias("center_y"),
    )


SQL_BBOX_CENTER = f"""
with proj as (
  select rowid % 20 as dataset_id,
         {exprs.sql_to3857_x('lon', 'lat')} as x, {exprs.sql_to3857_y('lon', 'lat')} as y
  from ({_PTS_SQL})
)
select dataset_id, min(x) as lx, max(x) as rx, min(y) as ly, max(y) as uy,
       count(*) as n, (min(x) + max(x)) / 2.0 as center_x, (min(y) + max(y)) / 2.0 as center_y
from proj group by dataset_id
"""


def q_s2_covering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: quirky S2 covering tokens per dataset bbox (convert.go:1151-1192).
    Rows-only check (cell-id bit math is not ANSI SQL); the kernel has its
    own unit tests."""
    agg = q_bbox_center(spark, sf_dir)
    return agg.select(
        "dataset_id",
        F.explode(udfs.s2_covering(F.col("lx"), F.col("ly"), F.col("rx"), F.col("uy"))).alias("token"),
    )


# --- attribute semantics (F2/F3) ------------------------------------------------


def q_attr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F3: falsy-value drop and special-key routing (convert.go:806-829)
    over a map built from part columns; output = exploded surviving attrs."""
    _load(spark, sf_dir, "part")
    raw = spark.sql(
        "select p_partkey, p_name, p_brand, p_type, "
        "cast(case when p_partkey % 5 = 0 then 0 else p_size end as string) as size_str, "
        "case when p_partkey % 3 = 0 then '' else cast(p_retailprice as string) end as price_str "
        "from part"
    )
    # routing keys are CASE-SENSITIVE like the reference's switch
    attrs = F.create_map(
        F.lit("name"), F.col("p_name"),
        F.lit("id"), F.col("p_partkey").cast("string"),
        F.lit("brand"), F.col("p_brand"),
        F.lit("tags"), F.col("p_type"),
        F.lit("size"), F.col("size_str"),
        F.lit("price"), F.col("price_str"),
    )
    from .operators.extract import clean_attributes

    cleaned = clean_attributes(raw.withColumn("attrs", attrs))
    return cleaned.select(
        F.col("p_partkey").alias("rowid"),
        F.col("feature_name"),
        F.col("feature_id"),
        F.explode_outer("attributes").alias("k", "v"),
    )


SQL_ATTR_CLEAN = """
with raw as (
  select p_partkey, p_name, p_brand, p_type,
         cast(case when p_partkey % 5 = 0 then 0 else p_size end as varchar) as size_str,
         case when p_partkey % 3 = 0 then '' else cast(p_retailprice as varchar) end as price_str
  from part
), pairs as (
  -- feature_id: the falsy drop runs BEFORE routing (convert.go:806-822),
  -- so the stringified 0 partkey is never promoted to ID
  select p_partkey as rowid, p_name as feature_name,
         case when cast(p_partkey as varchar) not in ('', '0') then cast(p_partkey as varchar) end as feature_id,
         'brand' as k, p_brand as v from raw
  union all
  select p_partkey, p_name, case when cast(p_partkey as varchar) not in ('', '0') then cast(p_partkey as varchar) end, 'size', size_str from raw
  union all
  select p_partkey, p_name, case when cast(p_partkey as varchar) not in ('', '0') then cast(p_partkey as varchar) end, 'price', price_str from raw
)
select rowid, feature_name, feature_id, k, v from pairs
where v is not null and v <> '' and v <> '0'
"""


# --- relational core -------------------------------------------------------------


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class hash aggregation (TPC-H Q1 shape) — partial+final agg,
    predicate pushdown to the parquet scan."""
    _load(spark, sf_dir, "lineitem")
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    # summation-order-safe revenue: both engines see the SAME double
    # product per row, round it identically to 4dp, and sum EXACTLY as
    # decimal — bit-identical result regardless of partial-agg order
    # (round(sum(double)) is a random walk that can straddle a cent
    # boundary differently per engine)
    term = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(term).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_AGG_PRICING = """
select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty,
       cast(sum(cast(round(l_extendedprice * (1 - l_discount), 4) as decimal(18,4))) as double) as revenue,
       count(*) as n_rows
from lineitem where l_shipdate <= date '1998-09-02'
group by l_returnflag, l_linestatus
"""


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 biggest orders per customer (row_number)."""
    _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        spark.table("orders")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


SQL_TOPK_WINDOW = """
select o_custkey, o_orderkey, rank from (
  select o_custkey, o_orderkey,
         row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey asc) as rank
  from orders
) where rank <= 3
"""


def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim star join: revenue per nation."""
    _load(spark, sf_dir, "orders", "customer", "nation")
    o = spark.table("orders")
    c = spark.table("customer")
    n = spark.table("nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # exact decimal sum (see q_agg_pricing)
            F.sum(F.round(F.col("o_totalprice"), 4).cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_JOIN_REVENUE = """
select n_name, cast(sum(cast(round(o_totalprice, 4) as decimal(18,4))) as double) as revenue,
       count(*) as n_orders
from orders join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
group by n_name
"""


# --- events: sessionization + windowed agg ---------------------------------------


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative sum (gap > 30 min)."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events").withColumn("sec", F.unix_timestamp("ts"))
    w = Window.partitionBy("user_id").orderBy(F.col("sec").asc(), F.col("event_id").asc())
    new_sess = (F.col("sec") - F.lag("sec").over(w) > 1800) | F.lag("sec").over(w).isNull()
    sess = ev.withColumn("is_new", new_sess.cast("int")).withColumn(
        "session_idx", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("sec").alias("start_sec")
    )


SQL_SESSIONIZE = """
with ev as (
  select user_id, event_id, cast(floor(epoch(ts)) as bigint) as sec from events
), flagged as (
  select user_id, event_id, sec,
    case when lag(sec) over w is null or sec - lag(sec) over w > 1800 then 1 else 0 end as is_new
  from ev window w as (partition by user_id order by sec asc, event_id asc)
), sess as (
  select user_id, sec, cast(sum(is_new) over (partition by user_id order by sec asc, event_id asc rows unbounded preceding) as bigint) as session_idx
  from flagged
)
select user_id, session_idx, count(*) as n_events, min(sec) as start_sec
from sess group by user_id, session_idx
"""


def q_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation per event type (the batch twin
    of the streaming windowed agg in convert_spark.streaming)."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events").withColumn("hour", F.floor(F.unix_timestamp("ts") / 3600))
    return ev.groupBy("hour", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # exact decimal sum: order-independent, bit-identical to the oracle
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


SQL_WINDOW_HOURLY = """
select cast(floor(floor(epoch(ts)) / 3600) as bigint) as hour, event_type,
       count(*) as n, cast(sum(cast(value as decimal(18,2))) as double) as sum_value
from events group by 1, 2
"""


# --- documents: text analysis / dedup / similarity --------------------------------


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) — built-in expressions
    (JVM regex) rather than the pandas kernel: same contract, faster path."""
    _load(spark, sf_dir, "documents")
    d = spark.table("documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)")).alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNTS = r"""
select doc_id, len(string_split(text, ' ')) as n_ws_tokens,
       len(regexp_extract_all(text, '\w+|[^\w\s]')) as n_bpe_tokens
from documents
"""


def _quality_cols(text_col: str = "text") -> dict[str, F.Column]:
    """The quality-feature expressions (shared by q_quality and the
    composed filter pipeline so both stay definitionally identical)."""
    stop = "the,a,an,and,or,of,to,in,is,are,was,were,be,been,it,this,that,for,on,with,as,at,by"
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(*stop.split(","))))
    n_punct = F.size(F.expr(rf"regexp_extract_all({text_col}, '[^\\w\\s]', 0)"))
    total_wlen = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    safe_w = F.greatest(n_words, F.lit(1)).cast("double")
    safe_c = F.greatest(F.length(text_col), F.lit(1)).cast("double")
    punct_ratio = n_punct / safe_c
    stop_ratio = n_stop / safe_w
    mwl = total_wlen / safe_w

    def clip01(c):
        return F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))

    score = (
        clip01(n_words / F.lit(50.0)) * 0.4
        + clip01(stop_ratio / F.lit(0.4)) * 0.3
        + clip01(F.lit(1.0) - punct_ratio / F.lit(0.2)) * 0.2
        + clip01(F.lit(1.0) - F.abs(mwl - F.lit(5.0)) / F.lit(5.0)) * 0.1
    )
    return {
        "n_words": n_words,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "mwl": mwl,
        "score": score,
    }


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features: punct/stopword ratios, mean word length, and the
    COMPOSITE [0,1] score (built-in expressions; mirrors
    kernels.textkit.quality_features' weighted-clip formula — now
    oracle-checked end to end, not just the individual ratios)."""
    _load(spark, sf_dir, "documents")
    d = spread(spark.table("documents"), "doc_id")
    q = _quality_cols("text")
    n_words, punct_ratio, stop_ratio, score = (
        q["n_words"], q["punct_ratio"], q["stop_ratio"], q["score"]
    )
    # half-away floor form, NOT F.round: the composite lands exactly on
    # x.xxxx5 for some docs (clip terms are exact binary fractions), where
    # Spark's HALF_UP-on-decimal and DuckDB's multiply-based round
    # disagree; the floor form is a pure function of the (identical)
    # input doubles on both engines (see exprs.round_half_away)
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        exprs.round_half_away(score, 4).alias("quality"),
    )


SQL_QUALITY = r"""
with f as (
  select doc_id,
         len(string_split(text, ' ')) as n_words,
         len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1) as punct_ratio,
         len(list_filter(string_split(text, ' '), w -> lower(w) in
           ('the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','for','on','with','as','at','by')))
           / greatest(len(string_split(text, ' ')), 1) as stop_ratio,
         list_sum(list_transform(string_split(text, ' '), w -> length(w)))
           / greatest(len(string_split(text, ' ')), 1) as mwl
  from documents
)
select doc_id, n_words, round(punct_ratio, 4) as punct_ratio, round(stop_ratio, 4) as stop_ratio,
       {score_round} as quality
from f
""".format(
    score_round=exprs.sql_round_half_away(
        "(least(greatest(n_words / 50.0, 0.0), 1.0) * 0.4"
        " + least(greatest(stop_ratio / 0.4, 0.0), 1.0) * 0.3"
        " + least(greatest(1.0 - punct_ratio / 0.2, 0.0), 1.0) * 0.2"
        " + least(greatest(1.0 - abs(mwl - 5.0) / 5.0, 0.0), 1.0) * 0.1)",
        4,
    )
)


def q_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics document scoring (the Gopher/CCNet LM-filter
    shape, float-free): global unigram frequencies over the corpus, each
    word scored as its scaled corpus probability in EXACT integer
    arithmetic — p = (count * 1e9) div total, per-word floor like the
    integer PageRank — then per-doc mean (integer div by word count).
    Rare-word-heavy docs score low, boilerplate scores high. Stages:
    explode -> one groupBy(word) shuffle -> frequency join -> one
    groupBy(doc) shuffle; at 100 TB the vocab join is sort-merge on the
    word key and the corpus total is one broadcast scalar."""
    _load(spark, sf_dir, "documents")
    words = (
        spread(spark.table("documents").select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    scored = words.join(counts, "w").crossJoin(F.broadcast(total)).select(
        "doc_id", F.expr("(cnt * 1000000000L) div total").alias("p")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_words"),
        F.expr("sum(p) div count(1)").cast("long").alias("score"),
    )


SQL_UNIGRAM_SCORE = """
with words as (
  select doc_id, w from (
    select doc_id, unnest(string_split(lower(text), ' ')) as w from documents
  ) where w <> ''
),
counts as (select w, count(*) as cnt from words group by w),
meta as (select sum(cnt) as total from counts)
select doc_id, cast(count(*) as int) as n_words,
       cast(sum((cnt * 1000000000) // total) // count(*) as bigint) as score
from words join counts using (w), meta
group by doc_id
"""


# Filter-pipeline corpus: documents plus deterministic rule-triggering
# variants, assembled with PORTABLE SQL (runs verbatim in both engines):
# rid%10==1 exact copies, ==2 too-short, ==3 punctuation-stuffed prefixes,
# ==4 stopword-free junk. The constant-text variants are mutual dups too —
# exercising reason precedence (canonical copy falls through to the next
# rule, the rest flag exact_dup).
_FILTER_CORPUS_SQL = """
select doc_id * 10 as rid, text from documents
union all select doc_id * 10 + 1 as rid, text from documents where doc_id % 5 = 0
union all select doc_id * 10 + 2 as rid, 'a bb ccc' as text from documents where doc_id % 7 = 0
union all select doc_id * 10 + 3 as rid,
  concat(substring(text, 1, 40), ' !!! ??? ;;; ### %%% @@@') as text
  from documents where doc_id % 11 = 0
union all select doc_id * 10 + 4 as rid,
  'zzzz xxxx qqqq wwww kkkk yyyy vvvv gggg hhhh jjjj nnnn pppp' as text
  from documents where doc_id % 13 = 0
"""

def q_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data filter composition (C4/Gopher-shaped): exact-dup ->
    length -> punctuation -> stopword rules applied IN ORDER, emitting
    keep + first-failing reason + the composite quality score per doc.
    One window over the content hash + one Project — at 100 TB this is
    a single shuffle on md5(text), and the rule expressions ride the
    same stage. Oracle: DuckDB restates corpus, window and rule chain."""
    _load(spark, sf_dir, "documents")
    d = spark.sql(_FILTER_CORPUS_SQL)
    q = _quality_cols("text")
    canon = F.min("rid").over(Window.partitionBy(F.md5(F.col("text"))))
    reason = (
        F.when(F.col("rid") != canon, "exact_dup")
        .when(q["n_words"] < 10, "too_short")
        .when(q["punct_ratio"] > 0.15, "too_punct")
        .when(q["stop_ratio"] < 0.05, "low_stopwords")
    )
    return d.select(
        "rid",
        reason.alias("reason"),
        reason.isNull().cast("int").alias("keep"),
        q["n_words"].alias("n_words"),
        exprs.round_half_away(q["score"], 4).alias("quality"),
    )


_SQL_FILTER_PIPELINE = """
with corpus as ({corpus}),
f as (
  select rid, text,
         min(rid) over (partition by md5(text)) as canon,
         len(string_split(text, ' ')) as n_words,
         len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1) as punct_ratio,
         len(list_filter(string_split(text, ' '), w -> lower(w) in
           ('the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','for','on','with','as','at','by')))
           / greatest(len(string_split(text, ' ')), 1) as stop_ratio,
         list_sum(list_transform(string_split(text, ' '), w -> length(w)))
           / greatest(len(string_split(text, ' ')), 1) as mwl
  from corpus
),
r as (
  select rid, n_words,
         case when rid <> canon then 'exact_dup'
              when n_words < 10 then 'too_short'
              when punct_ratio > 0.15 then 'too_punct'
              when stop_ratio < 0.05 then 'low_stopwords' end as reason,
         {score_round} as quality
  from f
)
select rid, reason, cast(reason is null as int) as keep, n_words, quality from r
""".format(
    corpus=_FILTER_CORPUS_SQL,
    score_round=exprs.sql_round_half_away(
        "(least(greatest(n_words / 50.0, 0.0), 1.0) * 0.4"
        " + least(greatest(stop_ratio / 0.4, 0.0), 1.0) * 0.3"
        " + least(greatest(1.0 - punct_ratio / 0.2, 0.0), 1.0) * 0.2"
        " + least(greatest(1.0 - abs(mwl - 5.0) / 5.0, 0.0), 1.0) * 0.1)",
        4,
    ),
)


# Paragraph corpus: every doc gets a unique lead/tail paragraph sliced
# from its own text plus SHARED boilerplate paragraphs (a global one on
# every doc, a cohort one per doc_id%3) — the CCNet shape where repeated
# boilerplate dominates cross-doc duplication. chr(10) twice is the
# paragraph separator, assembled portably in both engines.
_PARA_CORPUS_SQL = """
select doc_id,
  substring(text, 1, 60)
  || chr(10) || chr(10) || 'subscribe to our newsletter for updates'
  || chr(10) || chr(10) || 'cohort boilerplate ' || cast(doc_id % 3 as {str_t})
  || chr(10) || chr(10) || substring(text, 31, 60) as text
from documents
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (CCNet-style boilerplate removal):
    split docs on blank lines, keep only the GLOBAL first occurrence of
    each paragraph (ordered by doc_id, then position), reconstruct each
    doc from its surviving paragraphs in order. One shuffle on the
    paragraph hash (row_number window) + one on doc_id (rebuild) — at
    100 TB both key on high-cardinality hashes; the boilerplate hash is
    the hot key and rides the same skew machinery as hot tiles. Oracle:
    DuckDB restates split/unnest/window/string_agg."""
    _load(spark, sf_dir, "documents")
    d = spark.sql(_PARA_CORPUS_SQL.format(str_t="string"))
    paras = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), "\n\n")).alias("idx", "para")
    )
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy("doc_id", "idx")
    kept = paras.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "para"))), lambda s: s["para"]
            ),
            "\n\n",
        ).alias("text_out"),
    )
    base = d.select("doc_id", F.size(F.split(F.col("text"), "\n\n")).cast("int").alias("n_in"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_in",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("text_out", F.lit("")).alias("text_out"),
    )


_SQL_PARAGRAPH_DEDUP = f"""
with corpus as ({_PARA_CORPUS_SQL.format(str_t="varchar")}),
paras as (
  select doc_id, cast(i - 1 as int) as idx, ps[i] as para
  from (select doc_id, string_split(text, chr(10) || chr(10)) as ps from corpus),
       unnest(generate_series(1, len(ps))) as t(i)
),
kept as (
  select doc_id, idx, para,
         row_number() over (partition by md5(para) order by doc_id, idx) as rn
  from paras
),
rebuilt as (
  select doc_id, cast(count(*) as int) as n_kept,
         string_agg(para, chr(10) || chr(10) order by idx) as text_out
  from kept where rn = 1 group by doc_id
)
select c.doc_id, cast(len(string_split(c.text, chr(10) || chr(10))) as int) as n_in,
       coalesce(r.n_kept, 0) as n_kept, coalesce(r.text_out, '') as text_out
from corpus c left join rebuilt r on c.doc_id = r.doc_id
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash -> cluster size + representative."""
    _load(spark, sf_dir, "documents")
    d = spark.table("documents")
    return (
        d.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


SQL_DEDUP_EXACT = """
select md5(text) as text_hash, count(*) as n_docs, min(doc_id) as keep_doc_id
from documents group by 1
"""


JACCARD_T = 0.5


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (word unigram-set) Jaccard near-dup pairs between anchor docs
    (doc_id % 50 = 0) and same-source docs — built-in array ops.

    Scale shape: PREFIX-FILTERED similarity join (the AllPairs/PPJoin
    family — exact, recall 1.0 by construction, unlike LSH banding):
    two sets with Jaccard >= t MUST share a token within each set's first
    |S| - ceil(t*|S|) + 1 tokens under ANY global token order. Candidates
    join on (source, prefix token) instead of (source) alone, so a hot
    source never produces a per-group all-pairs product — the candidate
    set is bounded by per-token document frequency and the exact Jaccard
    runs only on prefix-sharing pairs. Sorted-token order is the global
    order (no df-table dependency; a df-ascending order would prune
    harder at equal correctness).

    SLIM candidate plan (round 8, guide §2.3/§8): the posting-list join
    and the pair dedup carry ONLY (id, src, tok) — the token arrays no
    longer ride every duplicated candidate row through two shuffles;
    they re-join by doc id once per DEDUPED pair for the exact Jaccard.
    The single tokenization pass is persisted for the operator's
    lifetime, as in the other similarity paths."""
    from .plans.checkpoints import hold

    _load(spark, sf_dir, "documents")
    toks = (
        spread(spark.table("documents").select("doc_id", "source", "text"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.array_sort(F.array_distinct(F.split(F.col("text"), " "))).alias("toks"),
        )
        .persist()
    )
    # prefix length for Jaccard >= t: |S| - ceil(t|S|) + 1
    prefix_n = F.size("toks") - F.ceil(F.size("toks") * F.lit(JACCARD_T)).cast("int") + F.lit(1)
    p = toks.withColumn("prefix", F.slice("toks", 1, prefix_n))
    a = p.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("a_id"), F.col("source").alias("src"),
        F.explode("prefix").alias("tok"),
    )
    b = p.select(
        F.col("doc_id").alias("b_id"), F.col("source").alias("src"),
        F.explode("prefix").alias("tok"),
    )
    pair_ids = (
        a.join(b, ["src", "tok"])  # shuffle key = (source, prefix token)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    pairs = pair_ids.join(
        toks.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks")), "a_id"
    ).join(
        toks.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks")), "b_id"
    )
    inter = F.size(F.array_intersect("a_toks", "b_toks")).cast("double")
    union = (F.size("a_toks") + F.size("b_toks")).cast("double") - inter
    out = (
        pairs.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("a_id", "b_id", "jaccard")
    )
    return hold(out, toks)


SQL_NGRAM_JACCARD = """
with t as (select doc_id, source, list_distinct(string_split(text, ' ')) as toks from documents)
select a.doc_id as a_id, b.doc_id as b_id,
       round(len(list_intersect(a.toks, b.toks)) /
             (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4) as jaccard
from t a join t b on a.source = b.source and a.doc_id < b.doc_id
where a.doc_id % 50 = 0
  and round(len(list_intersect(a.toks, b.toks)) /
        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4) >= 0.5
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (rows-only: universal-hash minhash is
    not ANSI SQL; signature math is kernel-unit-tested). Bands that share a
    bucket key yield candidate pairs, deduplicated."""
    from .plans.checkpoints import hold

    _load(spark, sf_dir, "documents")
    d = fence(spread(spark.table("documents").select("doc_id", "text"), "doc_id").withColumn("keys", udfs.lsh_keys(F.col("text"))), "keys")
    # compute the exploded band keys ONCE across the self-join's branches:
    # both would otherwise re-run the signature UDF (measured 1.7x on the
    # whole query). persist(), not an eager localCheckpoint — building the
    # DataFrame (for explain/registry enumeration) must stay lazy and must
    # not park blocks in session-local executor storage as a side effect;
    # the cache materializes at first action and keeps lineage fallback.
    # At cluster scale the signature table is a persisted dedup artifact in
    # its own right — write it to reliable storage there.
    e = d.select("doc_id", F.posexplode("keys").alias("band", "key")).persist()
    a = e.alias("a")
    b = e.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    return hold(pairs, e)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per document (rows-only; kernel-unit-tested)."""
    _load(spark, sf_dir, "documents")
    return spread(spark.table("documents").select("doc_id", "text"), "doc_id").select("doc_id", udfs.simhash64(F.col("text")).alias("simhash"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (rows-only; kernel-unit-tested)."""
    _load(spark, sf_dir, "documents")
    return spread(spark.table("documents").select("doc_id", "text"), "doc_id").select("doc_id", udfs.fingerprint64(F.col("text")).alias("fp"))


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-word counts with fixed tie order.

    ONE combined alternation regex per language (5 scans per doc, not one
    per marker word — the per-marker form re-scanned each document ~40x).
    Whole-word single-token alternatives can't overlap, so the alternation
    match count equals the sum of per-marker counts on both engines
    (leftmost-first alternation in Java regex and RE2 alike).

    Non-ASCII markers (the zh CJK set — unsegmented, so \\b boundaries
    don't apply) are all SINGLE characters, so their summed count is ONE
    character-class regex scan ([m1m2...]) per document — not one
    replace() pass per marker; identical on both engines and on the
    kernel twin's per-marker str.count sum (kernels/textkit.py:104).
    Multi-char non-ASCII markers (none today) would fall back to
    substring-count arithmetic (length - length(replace))."""
    _load(spark, sf_dir, "documents")
    d = spread(spark.table("documents"), "doc_id").withColumn("lt", F.lower(F.col("text")))

    def cnt(words):
        pat = "\\\\b(" + "|".join(words) + ")\\\\b"
        return F.size(F.expr(f"regexp_extract_all(lt, '{pat}', 0)"))

    def cnt_wide(words):
        singles = [m for m in words if len(m) == 1]
        total = (
            F.size(F.expr(f"regexp_extract_all(lt, '[{''.join(singles)}]', 0)"))
            if singles
            else F.lit(0)
        )
        for m in words:
            if len(m) > 1:  # fallback: non-overlapping substring count
                total = total + (
                    (F.length("lt") - F.length(F.replace(F.col("lt"), F.lit(m), F.lit("")))) / F.lit(len(m))
                ).cast("int")
        return total

    from .kernels.textkit import _LANG_MARKERS

    scored = d
    for lang, markers in _LANG_MARKERS.items():
        ascii_markers = [m for m in markers if m.isascii()]
        wide_markers = [m for m in markers if not m.isascii()]
        score = cnt(ascii_markers) if ascii_markers else F.lit(0)
        if wide_markers:
            score = score + cnt_wide(wide_markers)
        scored = scored.withColumn(f"s_{lang}", score)
    order = list(_LANG_MARKERS)
    # build argmax with first-wins tie order (en, fr, es, de, zh)
    expr = None
    for lang in order:
        cond = None
        for other in order:
            if other == lang:
                continue
            ge = F.col(f"s_{lang}") >= F.col(f"s_{other}") if order.index(other) > order.index(lang) else F.col(
                f"s_{lang}"
            ) > F.col(f"s_{other}")
            cond = ge if cond is None else cond & ge
        cond = cond & (F.col(f"s_{lang}") > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    guess = expr.otherwise(F.lit("und"))
    return scored.select("doc_id", guess.alias("lang_guess"))


def _sql_langid() -> str:
    from .kernels.textkit import _LANG_MARKERS

    order = list(_LANG_MARKERS)
    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        ascii_markers = [m for m in markers if m.isascii()]
        wide_markers = [m for m in markers if not m.isascii()]
        terms = []
        if ascii_markers:
            alt = "|".join(ascii_markers)
            terms.append(f"len(regexp_extract_all(lower(text), '\\b({alt})\\b'))")
        singles = "".join(m for m in wide_markers if len(m) == 1)
        if singles:
            # one character-class scan for all single-char CJK markers
            terms.append(f"len(regexp_extract_all(lower(text), '[{singles}]'))")
        for m in wide_markers:
            if len(m) > 1:  # substring-count arithmetic fallback
                terms.append(
                    f"cast((length(lower(text)) - length(replace(lower(text), '{m}', ''))) / {len(m)} as int)"
                )
        s = " + ".join(terms) if terms else "0"
        score_exprs.append(f"({s}) as s_{lang}")
    cases = []
    for lang in order:
        conds = []
        for other in order:
            if other == lang:
                continue
            op = ">=" if order.index(other) > order.index(lang) else ">"
            conds.append(f"s_{lang} {op} s_{other}")
        conds.append(f"s_{lang} > 0")
        cases.append(f"when {' and '.join(conds)} then '{lang}'")
    return (
        "with scored as (select doc_id, " + ", ".join(score_exprs) + " from documents) "
        "select doc_id, case " + " ".join(cases) + " else 'und' end as lang_guess from scored"
    )


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 over the embeddings table (similarity
    search baseline): broadcast query matrix + one numpy-matmul pass over
    ref partitions with local top-k (operators.ann.brute_topk_broadcast).
    Similarity rounded to 6 decimals before ranking (ties by ref id) so
    bitwise summation-order differences vs the oracle can't flip ranks."""
    from .operators.ann import brute_topk_broadcast

    _load(spark, sf_dir, "embeddings")
    e = spark.table("embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    r = spread(e.select(F.col("vec_id").alias("ref_id"), "embedding"), "ref_id")
    return brute_topk_broadcast(q, r, k=5)


SQL_ANN_COSINE = """
with e as (select vec_id, cast(embedding as double[]) as emb from embeddings),
q as (select vec_id as query_id, emb as q_emb from e where vec_id % 50 = 0),
pairs as (
  select q.query_id, e.vec_id as ref_id,
         round(list_dot_product(q.q_emb, e.emb) /
               (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(e.emb, e.emb))), 6) as sim_r
  from q, e where e.vec_id <> q.query_id
)
select query_id, ref_id, rank from (
  select query_id, ref_id, row_number() over (partition by query_id order by sim_r desc, ref_id asc) as rank
  from pairs
) where rank <= 5
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via random-hyperplane LSH banding (the 100 TB similarity-
    search path: join on (band, bucket), exact cosine rerank on candidates
    only — never a cross product). Seeded hyperplanes make the result
    deterministic; KAT oracle (tests/gen_kats.py), recall vs the brute
    baseline asserted in pytest."""
    from .operators.ann import ann_lsh_topk
    from .plans.checkpoints import hold

    _load(spark, sf_dir, "embeddings")
    e = spark.table("embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    r = spread(e.select(F.col("vec_id").alias("ref_id"), "embedding"), "ref_id")
    topk = ann_lsh_topk(q, r, k=3, bands=24, bits_per_band=4)
    return hold(topk.select("query_id", "ref_id", "rank"), topk)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via IVF coarse quantization (spherical k-means centroids,
    n_probe nearest buckets per query, exact cosine rerank on probed
    candidates — the inverted-file counterpart to q_ann_lsh). Seeded
    deterministic training; KAT oracle (tests/gen_kats.py), recall vs the
    brute baseline asserted in pytest."""
    from .operators.ann import ivf_topk
    from .plans.checkpoints import hold

    _load(spark, sf_dir, "embeddings")
    e = spark.table("embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    r = spread(e.select(F.col("vec_id").alias("ref_id"), "embedding"), "ref_id")
    topk = ivf_topk(q, r, k=3, n_centroids=16, n_probe=6)
    return hold(topk.select("query_id", "ref_id", "rank"), topk)


# --- embedding near-dup: planted-duplicate corpus ----------------------------
#
# Measured (round 3, sf0.01): the embeddings table is ISOTROPIC — within-
# `label` mean cosine 0.002 vs cross-label 0.000, and the 105 pairs at
# sim >= 0.3 are simply the ~2.4-sigma tail of the random-pair sim
# distribution (64-dim, sigma ~= 1/8), with 214 more pairs in [0.25, 0.3).
# At that threshold NO bucketing scheme (hyperplane LSH, IVF — both
# measured) separates qualifying from random pairs, so recall-1.0
# candidate generation degenerates to all-pairs BY THE MATH, not by
# implementation choice. Real near-duplicate detection operates at
# sim >= ~0.9, where LSH is both selective and reliable — so the dedup
# default (this query + q_dedup_clusters) runs the bucketed path on a
# corpus with planted near-duplicates (deterministically derived from the
# embeddings table in BOTH engines), and the loose-threshold exact join
# is kept as the explicit opt-in q_embed_neardup_exact.
NEARDUP_T = 0.9

# corpus: every vector, plus for each anchor (vec_id % 10 = 0) two
# perturbed copies built from neighboring rows — ids +100000 / +200000.
# All arithmetic is double (+, *) in the same order on both engines.
_NEARDUP_CORPUS_SQL = """
e as (select vec_id, cast(embedding as double[]) as emb from embeddings),
corpus as (
  select vec_id as id, emb from e
  union all
  select a.vec_id + 100000 as id,
         list_transform(generate_series(1, len(a.emb)), i -> a.emb[i] + 0.1 * b.emb[i]) as emb
  from e a join e b on b.vec_id = a.vec_id + 1 where a.vec_id % 10 = 0
  union all
  select a.vec_id + 200000 as id,
         list_transform(generate_series(1, len(a.emb)), i -> a.emb[i] + 0.15 * b.emb[i]) as emb
  from e a join e b on b.vec_id = a.vec_id + 2 where a.vec_id % 10 = 0
)
"""

_SQL_COSINE = (
    "round(list_dot_product(a.emb, b.emb) / "
    "(sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6)"
)


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, emb) corpus with planted near-duplicates — the Spark twin of
    _NEARDUP_CORPUS_SQL (same joins, same double arithmetic order)."""
    _load(spark, sf_dir, "embeddings")
    # NOT spread here: the corpus is a union whose planted branches are
    # join outputs (already at shuffle parallelism), and a repartition
    # barrier on `e` blocks the broadcast shape of those joins — measured
    # +3s at sf0.1 for no UDF-parallelism gain (the signature pass runs
    # over the union's partitions, not this scan's)
    e = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    anchors = e.filter(F.col("vec_id") % 10 == 0)

    def planted(offset: int, id_off: int, scale: float) -> DataFrame:
        nbr = e.select(
            (F.col("vec_id") - offset).alias("a_key"), F.col("emb").alias("p_emb")
        )
        return (
            anchors.join(nbr, anchors.vec_id == nbr.a_key, "inner")
            .select(
                (F.col("vec_id") + id_off).alias("id"),
                F.zip_with("emb", "p_emb", lambda x, y: x + F.lit(scale) * y).alias("emb"),
            )
        )

    orig = e.select(F.col("vec_id").alias("id"), "emb")
    return orig.unionByName(planted(1, 100000, 0.1)).unionByName(planted(2, 200000, 0.15))


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — BUCKETED default
    (ann.neardup_lsh): LSH band self-join for candidates (shuffle key =
    (band, bucket), never a cross product), exact cosine rerank at
    NEARDUP_T. Oracle: DuckDB recomputes the EXHAUSTIVE pair set over the
    same planted corpus — hash-green requires LSH recall 1.0, which the
    near-dup regime guarantees (see pytest pair-set-equality vs
    neardup_blocked)."""
    from .operators.ann import neardup_lsh

    return neardup_lsh(_neardup_corpus(spark, sf_dir), threshold=NEARDUP_T)


SQL_EMBED_NEARDUP = f"""
with {_NEARDUP_CORPUS_SQL}
select a.id as a_id, b.id as b_id, {_SQL_COSINE} as sim_r
from corpus a join corpus b on a.id < b.id
where {_SQL_COSINE} >= {NEARDUP_T}
"""


def q_embed_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT loose-threshold near-dup pairs (explicit opt-in): anchors
    (vec_id % 10 = 0) vs all later vectors at cosine >= 0.3 via the
    distributed block outer product (ann.neardup_blocked). 0.3 sits in
    the random-pair tail of these isotropic embeddings (see the
    measurement note above q_embed_neardup), so a complete answer is
    irreducibly all-pairs — this query IS the documented quadratic
    exact mode, driver-safe and memory-bounded, not the dedup default."""
    from .operators.ann import neardup_blocked

    _load(spark, sf_dir, "embeddings")
    e = spark.table("embeddings")
    a = e.filter(F.col("vec_id") % 10 == 0).select(F.col("vec_id").alias("a_id"), "embedding")
    b = e.select(F.col("vec_id").alias("b_id"), "embedding")
    return neardup_blocked(a, b, threshold=0.3)


SQL_EMBED_NEARDUP_EXACT = """
with e as (select vec_id, cast(embedding as double[]) as emb from embeddings)
select a.vec_id as a_id, b.vec_id as b_id,
       round(list_dot_product(a.emb, b.emb) /
             (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) as sim_r
from e a join e b on a.vec_id < b.vec_id
where a.vec_id % 10 = 0
  and round(list_dot_product(a.emb, b.emb) /
        (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.3
"""


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode stage over opaque binary payloads (documents.text
    UTF-8-encoded stands in for the media bytes; the real codec call site
    is the declared stub in operators/multimodal.py). Exercises the full
    Arrow plumbing — binary column in, typed metadata row out — and is
    independently re-derived by the oracle: DuckDB recomputes the sha256
    chain and the digest-byte dimension arithmetic itself (no KAT)."""
    from .operators import multimodal

    _load(spark, sf_dir, "documents")
    d = spark.table("documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return multimodal.decode_media(d, binary_col="payload", kind="image")


_HEXB = "(strpos('0123456789abcdef', substr(hx,{a},1))-1)*16 + (strpos('0123456789abcdef', substr(hx,{b},1))-1)"

SQL_MEDIA_DECODE = f"""
with h as (
  select 'doc://' || doc_id as url, sha256(text) as hx,
         octet_length(encode(text)) as n_bytes
  from documents
), b as (
  select url, hx, n_bytes,
         {_HEXB.format(a=1, b=2)} as b0,
         {_HEXB.format(a=3, b=4)} as b1,
         {_HEXB.format(a=5, b=6)} as b2
  from h
)
select url, 'image' as media_kind, n_bytes,
       cast(64 + b0 % 192 as int) as width,
       cast(64 + b1 % 192 as int) as height,
       cast(1 + b2 % 3 as int) as n_channels,
       hx as sha256
from b
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling stage (video semantics): 1 payload -> N
    frame rows, assembled columnar inside the Arrow batch. Oracle
    re-derives the per-frame hash chain (sha256(payload || frame_idx))
    in plain SQL — a real independent check of the 1->N fan-out."""
    from .operators import multimodal

    _load(spark, sf_dir, "documents")
    d = (
        spark.table("documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
    )
    return multimodal.sample_frames(d, binary_col="payload", n_frames=3)


SQL_MEDIA_FRAMES = """
with d as (select 'doc://' || doc_id as url, text from documents where doc_id % 5 = 0),
f as (select url, text, unnest(range(3)) as frame_idx from d)
select url, cast(frame_idx as int) as frame_idx,
       substr(sha256(text || cast(frame_idx as varchar)), 1, 16) as frame_sha
from f
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage (task brief: decode / feature-extract /
    RESIZE / frame-sample): binary payload -> resized-payload identity.
    Fake-path hash chain sha256(payload || 'resize:WxH') is re-derived by
    the oracle in plain SQL; the real path (PNG nearest-neighbor resample
    re-encoded via stdlib zlib) is pytest-covered with hand-built
    payloads (operators/multimodal.resize_real)."""
    from .operators import multimodal

    _load(spark, sf_dir, "documents")
    d = spark.table("documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return multimodal.resize_media(d, binary_col="payload", target=(32, 24))


SQL_MEDIA_RESIZE = """
select 'doc://' || doc_id as url,
       cast(32 as int) as out_w, cast(24 as int) as out_h,
       substr(sha256(text || 'resize:32x24'), 1, 16) as resized_sha
from documents
"""


def _media_real_input(spark: SparkSession, sf_dir: str, fmts=None):
    """Genuine media payloads keyed by the documents table: every other
    doc_id carries one payload whose bytes are a pure function of
    seed = doc_id/2, cycling through all 36 mediagen format classes
    (ten PNG IHDR shapes, four JPEG scan shapes, two WAV PCM layouts,
    two Adobe CMYK/YCCK JPEG shapes, two G.711 mu-law/A-law WAV
    layouts, two GIF shapes — static + ANIMATED with sub-rect frames,
    transparency and disposal — two 12-bit extended-sequential JPEG
    shapes, two bit-exact LOSSLESS JPEG shapes, a BMP shape and a
    baseline multi-strip TIFF shape with seeded LZW/Deflate/PackBits
    compression, two AVI VIDEO shapes — MJPG and uncompressed DIB —
    four ADPCM compressed-audio WAV shapes, IMA 30/31 and
    Microsoft 32/33, and two lossless FLAC shapes — 34 mono and 35
    stereo with per-frame decorrelation) at every scale factor. ``fmts``
    restricts to a set of format
    classes — filtered on the slim seed column BEFORE payload
    generation, so excluded payloads are never synthesized."""
    from . import mediagen

    _load(spark, sf_dir, "documents")
    d = (
        spark.table("documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            F.concat(F.lit("media://"), F.col("doc_id")).alias("url"),
            (F.col("doc_id") / 2).cast("long").alias("seed"),
        )
    )
    if fmts is not None:
        d = d.filter(F.pmod(F.col("seed"), F.lit(mediagen.N_FORMATS)).isin(list(fmts)))
    # spread the slim (url, seed) rows BEFORE payload generation: the
    # documents parquet arrives in O(1) partitions, which would pin the
    # whole per-payload decode stage to one core — the per-row work here
    # is the scalar codec, so partition count is the parallelism (hash
    # on seed: deterministic layout)
    d = d.repartition(spark.sparkContext.defaultParallelism, "seed")
    return mediagen.payload_df(d)


def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode under the driver's hash gate: genuine
    PNG/JPEG/WAV payloads (convert_spark.mediagen, seeded from doc_id)
    -> header decode via the production codecs
    (``deterministic_fake=False``). Oracle: KAT parquet derived from the
    independent scalar twin (tests/media_reference_impl.py — pure-Python
    per-pixel re-implementation of the public specs), regenerated and
    engine-compared at all three scale factors by
    tests/test_kat_cross_sf.py."""
    from .operators import multimodal

    d = _media_real_input(spark, sf_dir)
    return multimodal.decode_media(d, binary_col="payload", deterministic_fake=False)


def q_media_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling under the hash gate: WAV payloads (PCM
    classes 14/15, G.711 classes 18/19, IMA/MS ADPCM classes 30-33,
    lossless FLAC classes 34/35 — compressed audio decoded to linear
    int16 first) split into 3
    fixed-stride PCM windows on frame boundaries, PLUS genuine
    video-style frame extraction — GIF payloads (classes 20/21, incl.
    ANIMATED sub-rect frames with transparency and disposal) sampled
    as 3 composited logical-screen rasters (kernels/gif.py), and AVI
    payloads (classes 28/29) sampled as 3 DECODED video frames (MJPG
    through kernels/jpeg.py, uncompressed DIB via kernels/avi.py) —
    each window/frame identified by its sha256
    (operators/multimodal.frames_real). Oracle: twin KAT — the
    independent decoder re-derives PCM by a manual RIFF walk (no
    stdlib wave), GIF frames by a per-bit LZW cursor + per-pixel
    compositing loops, AVI frames by a scalar byte-cursor RIFF walk +
    the twin's own scalar JPEG/DIB decode, and ADPCM samples by the
    per-sample IMA loop, hashing the same bytes."""
    from .operators import multimodal

    d = _media_real_input(spark, sf_dir, fmts=(14, 15, 18, 19, 20, 21, 28, 29, 30, 31, 32, 33, 34, 35))
    return multimodal.sample_frames(d, binary_col="payload", n_frames=3, deterministic_fake=False)


def q_getelev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/S5 GetElev on the gate (convert.go:1233-1254): the lineitem
    point cloud sampled against the deterministic synthetic DEM
    (FIXTURES.md §5, kernels/dem.py) through the production pandas-UDF
    path (udfs.elev_3857_or_zero) twice — z_deg at the original degree
    coordinates (CRS inference passes degrees through: the reference's
    pre-projection sampling site, convert.go:1213) and z_merc through
    the full 3857 round trip (cm-rounded projection, 1e-4-rounded
    inverse, convert.go:1257-1282). The NaN->0.0 fill branch
    (convert.go:1214-1216) is outside this corpus' coordinate range and
    stays pinned by TestDEM. Oracle: the bilinear interpolation
    restated in closed form in SQL (grid value g(i,j) is an exact
    formula, no raster needed). Both sides round to 6 decimals: the
    engine's grid comes from numpy's vectorized sin/cos, DuckDB
    evaluates scalar libm — 1-ulp parity is not guaranteed, 1e-6 is."""
    from .functions import udfs

    pts = _points(spark, sf_dir)
    x = exprs.to3857_x(F.col("lon"), F.col("lat"))
    y = exprs.to3857_y(F.col("lon"), F.col("lat"))
    return pts.select(
        "rowid",
        F.round(udfs.elev_3857_or_zero(F.col("lon"), F.col("lat")), 6).alias("z_deg"),
        F.round(udfs.elev_3857_or_zero(x, y), 6).alias("z_merc"),
    )


def _sql_bilinear(lat: str, lon: str) -> str:
    """DEM bilinear sample restated in SQL (kernels/dem.py grid spec:
    0.25-degree global grid, g(i,j) = 500 + 300*sin(lat_i/10)*cos(lon_j/10);
    int truncation == floor for the in-range, non-negative fi/fj here)."""
    fi = f"((({lat}) + 90.0) / 0.25)"
    fj = f"((({lon}) + 180.0) / 0.25)"
    i0 = f"least(cast(floor({fi}) as bigint), 719)"
    j0 = f"least(cast(floor({fj}) as bigint), 1439)"
    di = f"({fi} - {i0})"
    dj = f"({fj} - {j0})"

    def g(i: str, j: str) -> str:
        return (f"(500.0 + 300.0 * sin((-90.0 + 0.25 * ({i})) / 10.0)"
                f" * cos((-180.0 + 0.25 * ({j})) / 10.0))")

    return (
        f"({g(i0, j0)} * (1.0 - {di}) * (1.0 - {dj})"
        f" + {g(f'{i0} + 1', j0)} * {di} * (1.0 - {dj})"
        f" + {g(i0, f'{j0} + 1')} * (1.0 - {di}) * {dj}"
        f" + {g(f'{i0} + 1', f'{j0} + 1')} * {di} * {dj})"
    )


def _sql_getelev() -> str:
    mx = exprs.sql_to3857_x("lon", "lat")
    my = exprs.sql_to3857_y("lon", "lat")
    return f"""
with pts as ({_PTS_SQL}),
rt as (
  select rowid, lat, lon,
         {exprs.sql_to4326_lat('mx', 'my')} as mlat,
         {exprs.sql_to4326_lon('mx', 'my')} as mlon
  from (select rowid, lat, lon, {mx} as mx, {my} as my from pts)
)
select rowid,
       round({_sql_bilinear('lat', 'lon')}, 6) as z_deg,
       round({_sql_bilinear('mlat', 'mlon')}, 6) as z_merc
from rt
"""


def q_media_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video/audio CONTAINER metadata under the hash gate: genuine
    MP4 (ISO-BMFF boxes incl. 64-bit largesize + v1 mdhd), Ogg
    (CRC-checked pages, Vorbis/Opus ident headers), FLAC, MP3 and AVI
    (classic RIFF form — class 9 carries a REAL MJPG/DIB stream whose
    frames the media path decodes; this query reads only the headers)
    payloads — a pure function of doc_id over the ODD ids (the even
    ids carry the image/audio corpus) — parsed to one row per track:
    codec id, dims, channels, sample rate (frame rate for video),
    duration. Oracle: twin KAT (tests/container_reference_impl.py —
    scalar byte-cursor walker, bit-serial page CRC, independently
    derived from ISO/IEC 14496-12, RFC 3533, RFC 7845 and the AVI RIFF
    layout)."""
    from . import mediagen
    from .operators import multimodal

    _load(spark, sf_dir, "documents")
    d = (
        spark.table("documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        .select(
            F.concat(F.lit("media://"), F.col("doc_id")).alias("url"),
            (F.col("doc_id") / 2).cast("long").alias("seed"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "seed")
    )
    return multimodal.media_containers(mediagen.container_payload_df(d), binary_col="payload")


def q_media_stats_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel/sample content under the hash gate: per-channel
    INTEGER statistics (count/sum/min/max — exact arithmetic, no float
    tolerance needed) of the fully decoded payloads: PNG scanline
    unfilter + sub-byte unpack + palette + Adam7, JPEG huffman + IDCT
    (sequential AND progressive), WAV PCM. One row per decoded channel
    (1->N fan-out). Oracle: twin-derived KAT (independent scalar
    decoders), cross-checked at all three SFs."""
    from .operators import multimodal

    d = _media_real_input(spark, sf_dir)
    return multimodal.media_stats(d, binary_col="payload")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering (the last step of every dedup family): BUCKETED
    near-dup pairs (ann.neardup_lsh over the planted corpus, the same
    pair generation as q_embed_neardup) -> connected components
    (alternating large-star / small-star, no driver-side graph state) ->
    per-doc decision table (cluster id = component minimum, keep = is the
    minimum). Planted clusters are triangles {orig, dup+100000,
    dup+200000}, so transitive closure is exercised. Oracle: DuckDB
    recursive-CTE transitive closure over the exhaustive pair SQL."""
    from .operators import components
    from .operators.ann import neardup_lsh

    corpus = _neardup_corpus(spark, sf_dir)
    nd = neardup_lsh(corpus, threshold=NEARDUP_T)
    pairs = nd.select("a_id", "b_id")
    docs = corpus.select(F.col("id").alias("doc_id"))
    out = components.dedup_canonical(pairs, docs)
    nd._release()  # CC checkpointed the pairs on entry
    return out.select("doc_id", "cluster_id", F.col("keep").cast("int").alias("keep"))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup clustering (the daily-crawl shape): the same
    near-dup pair stream as q_dedup_clusters, split deterministically
    into a historical batch (~2/3 of pairs) and a new increment (~1/3).
    Full CC runs on the historical batch only; the increment is folded
    in via components.incremental_components — CC over (previous
    membership's star edges UNION new pairs), never re-touching the
    historical pair graph. The oracle is the UNSPLIT recursive-CTE
    transitive closure (SQL_DEDUP_CLUSTERS verbatim): a green row proves
    the incremental update reproduces the full recompute row-for-row,
    including cross-batch merges of previously separate clusters."""
    from .operators import components
    from .operators.ann import neardup_lsh
    from .plans.checkpoints import checkpoint, release

    corpus = _neardup_corpus(spark, sf_dir)
    nd = neardup_lsh(corpus, threshold=NEARDUP_T)
    # materialize the pair set ONCE: the historical and increment filters
    # each consume it, and the band join + dedup + rerank would otherwise
    # run twice (round 8)
    pairs, _ = checkpoint(nd.select("a_id", "b_id"))
    nd._release()  # the pair checkpoint supersedes the near-dup caches
    is_new = F.pmod(F.xxhash64("a_id", "b_id", F.lit(3)), F.lit(3)) == 0
    old_pairs = pairs.filter(~is_new)
    new_pairs = pairs.filter(is_new)
    prev = components.connected_components(old_pairs)
    membership = components.incremental_components(prev, new_pairs)
    release(pairs)  # both CC calls checkpointed their input on entry
    docs = corpus.select(F.col("id").alias("doc_id"))
    out = docs.join(membership, docs["doc_id"] == membership["node"], "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    )
    return out.withColumn("keep", (F.col("doc_id") == F.col("cluster_id")).cast("int"))


SQL_DEDUP_CLUSTERS = f"""
with recursive {_NEARDUP_CORPUS_SQL},
pairs as (
  select a.id as a_id, b.id as b_id
  from corpus a join corpus b on a.id < b.id
  where {_SQL_COSINE} >= {NEARDUP_T}
),
und as (select a_id as u, b_id as v from pairs union select b_id, a_id from pairs),
reach(u, v) as (
  select u, v from und
  union
  select r.u, e2.v from reach r join und e2 on r.v = e2.u
),
comp as (select u as node, least(min(v), u) as component from reach group by u)
select cp.id as doc_id,
       coalesce(c.component, cp.id) as cluster_id,
       cast(coalesce(c.component, cp.id) = cp.id as int) as keep
from corpus cp left join comp c on c.node = cp.id
"""


# deterministic interval table for the RANGE join: doubles built with the
# same integer-arithmetic expressions on both engines
_RJ_PTS_SQL = (
    "select l_orderkey * 10 + l_linenumber as pid, "
    "((l_partkey * 7) % 10000) / 1e2 as v from lineitem "
    "where l_linenumber = 1"  # one point per order (~1/4 of lineitem)
)
_RJ_IV_SQL = (
    "select s_suppkey as interval_id, "
    "((s_suppkey * 13) % 9000) / 1e2 as lo, "
    "((s_suppkey * 13) % 9000) / 1e2 + 5e-1 + (s_suppkey % 40) / 1e1 as hi "
    "from supplier"
)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (interval) join via binning (joins.range_join): points join
    intervals on lo <= v <= hi through a (bin) equi-join + exact refine —
    never the BroadcastNestedLoopJoin Spark would plan for the raw
    between (plan-asserted in tests). Oracle: the naive between join."""
    _load(spark, sf_dir, "lineitem", "supplier")
    pts = spark.sql(_RJ_PTS_SQL)
    iv = spark.sql(_RJ_IV_SQL)
    j = joins.range_join(pts, iv, value_col="v", lo_col="lo", hi_col="hi", bin_size=2.0)
    return j.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_points"), F.min("pid").alias("min_pid")
    )


SQL_RANGE_JOIN = f"""
with pts as ({_RJ_PTS_SQL}), iv as ({_RJ_IV_SQL})
select interval_id, count(*) as n_points, min(pid) as min_pid
from iv join pts on pts.v >= iv.lo and pts.v <= iv.hi
group by 1
"""


def q_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join over the events table (engine addition): each click
    event gains the most recent PRIOR-or-simultaneous error event of the
    same user (id + value), NULL when the user has no earlier error.
    One shuffle on user_id via the union + running-last_value plan
    (operators/joins.asof_join); ties on timestamp break to the highest
    error event id. Oracle: deterministic correlated top-1 subqueries."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_event_id"),
        F.col("value").alias("err_value"),
    )
    out = joins.asof_join(
        clicks,
        errors,
        on=["user_id"],
        ts_col="ts",
        right_cols=["err_event_id", "err_value"],
        tiebreak_col="err_event_id",
    )
    return out.select("event_id", "user_id", "err_event_id", "err_value")


SQL_ASOF_EVENTS = """
select l.event_id, l.user_id,
  (select r.event_id from events r
    where r.user_id = l.user_id and r.event_type = 'error' and r.ts <= l.ts
    order by r.ts desc, r.event_id desc limit 1) as err_event_id,
  (select r.value from events r
    where r.user_id = l.user_id and r.event_type = 'error' and r.ts <= l.ts
    order by r.ts desc, r.event_id desc limit 1) as err_value
from events l
where l.event_type = 'click'
"""


def q_asof_events_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT AS-OF join (``inclusive=False``): each click gains the most
    recent STRICTLY-PRIOR error of the same user — an error at the exact
    click timestamp is NOT visible. Same single-shuffle union+last_value
    plan as q_asof_events; only the equal-ts side ordering flips
    (operators/joins.py:424). Covers the one asof mode that previously
    had no CORRECTNESS row."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_event_id"),
        F.col("value").alias("err_value"),
    )
    out = joins.asof_join(
        clicks,
        errors,
        on=["user_id"],
        ts_col="ts",
        right_cols=["err_event_id", "err_value"],
        tiebreak_col="err_event_id",
        inclusive=False,
    )
    return out.select("event_id", "user_id", "err_event_id", "err_value")


SQL_ASOF_EVENTS_STRICT = """
select l.event_id, l.user_id,
  (select r.event_id from events r
    where r.user_id = l.user_id and r.event_type = 'error' and r.ts < l.ts
    order by r.ts desc, r.event_id desc limit 1) as err_event_id,
  (select r.value from events r
    where r.user_id = l.user_id and r.event_type = 'error' and r.ts < l.ts
    order by r.ts desc, r.event_id desc limit 1) as err_value
from events l
where l.event_type = 'click'
"""


# --- file-source scans on the driver gate (round 6) ---------------------------
#
# S1/S2/S4 + S8 + E1-E4 + P2/P8 + F2/F3/F4 move from goldens-only onto the
# hash gate: each query runs the REAL scan -> parse -> assemble path
# (spark.read.csv / binaryFile corpus -> mapInPandas document parse) over
# the committed fixture corpus (tests/fixtures/sources, generated by
# tests/gen_source_fixtures.py), and the DuckDB oracle re-derives the
# expected rows INDEPENDENTLY: read_csv + try_cast for the CSV semantics,
# read_text + JSON functions for GeoJSON (DuckDB's JSON engine vs our
# Python json parse — two independent stacks), and read_text + regex
# structure extraction for GPX (regex vs ElementTree; valid because the
# fixture corpus is format-regular, stated here, not hidden).

import pathlib as _pathlib

_FIXTURE_DIR = _pathlib.Path(__file__).resolve().parent.parent / "tests" / "fixtures" / "sources"

# Go ParseFloat-or-0.0 parity in DuckDB (P2): try_cast TRIMS, Go rejects
# padded input, hence the v = trim(v) guard (parse_double_go has the same).
# The gate corpus stays inside the try_cast-expressible subset (decimals,
# exponents, bare dots, empty, garbage); the exotic Go literals
# (underscores, hex floats, inf/nan words) are pytest-covered
# (tests/test_spark_pipeline.py) — not silently out of scope.


def _sql_go_parse(col: str) -> str:
    return f"coalesce(CASE WHEN {col} = trim({col}) THEN try_cast({col} AS DOUBLE) END, 0.0)"


def _canon_attrs(col: str = "attributes") -> F.Column:
    """map<string,string> -> canonical sorted 'k=v|k=v' string (NULL when
    empty) — the gate's cross-engine attribute encoding."""
    return F.expr(
        f"nullif(array_join(array_sort(transform(map_entries({col}), e -> concat(e.key, '=', e.value))), '|'), '')"
    )


def q_csv_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 CSV corpus scan on the gate (convert.go:168-229, 549-591): two
    header families through features_from_csv_dir — the x,y,elev corpus
    (role binding P1, errors->0.0 P2, arity-3 had_z) and the lat,lon
    corpus whose Y column PRECEDES X (the encounter-order quirk,
    convert.go:554-564: c0 carries the latitude). feature_idx is the
    file-order row number per dataset; the fixtures' rid column rides
    along as an attribute, so the oracle independently pins the ordering."""
    from .sources.csv_points import features_from_csv_dir

    def proj(df: DataFrame) -> DataFrame:
        return df.select(
            "dataset_id",
            F.col("feature_idx").cast("long").alias("feature_idx"),
            F.get("xyz_raw", 0).alias("c0"),
            F.get("xyz_raw", 1).alias("c1"),
            F.when(F.col("had_z"), F.get("xyz_raw", 2)).alias("c2"),
            "had_z",
            _canon_attrs().alias("attrs"),
            F.array_join("attr_keys", ",").alias("keys"),
        )

    a = features_from_csv_dir(spark, str(_FIXTURE_DIR / "csv_xy"), "x", "y", "elev")
    b = features_from_csv_dir(spark, str(_FIXTURE_DIR / "csv_yx"), "lon", "lat")
    return proj(a).unionByName(proj(b))


def _sql_csv_datasets() -> str:
    fx, fy = _FIXTURE_DIR / "csv_xy", _FIXTURE_DIR / "csv_yx"
    return f"""
with xy as (
  select regexp_extract(filename, '([^/]+)\\.csv$', 1) as dataset_id,
         cast(rid as bigint) as feature_idx,
         {_sql_go_parse('x')} as c0,
         {_sql_go_parse('y')} as c1,
         {_sql_go_parse('elev')} as c2,
         true as had_z,
         'name=' || coalesce(name, '') || '|note=' || coalesce(note, '') || '|rid=' || coalesce(rid, '') as attrs,
         'rid,name,note' as keys
  from read_csv('{fx}/*.csv', header=true, all_varchar=true, filename=true)
), yx as (
  select regexp_extract(filename, '([^/]+)\\.csv$', 1) as dataset_id,
         cast(rid as bigint) as feature_idx,
         {_sql_go_parse('lat')} as c0,
         {_sql_go_parse('lon')} as c1,
         cast(NULL as double) as c2,
         false as had_z,
         'rid=' || coalesce(rid, '') || '|tag=' || coalesce(tag, '') as attrs,
         'rid,tag' as keys
  from read_csv('{fy}/*.csv', header=true, all_varchar=true, filename=true)
)
select * from xy union all select * from yx
"""


def q_geojson_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 GeoJSON corpus on the gate (convert.go:232-278, 594-921): real
    binaryFile scan (S8) -> mapInPandas JSON parse -> feature explode
    (E1), MultiLineString one-line-per-part (E2), polygon ring/part
    flattening (E3), falsy-drop F2 / key-routing F3 / %v stringification
    P8, zero-feature (F4) and malformed/structural documents isolated.
    Canonical per-feature projection: counts + first/last vertex +
    routed names/ids + sorted attribute string (NaN pad -> NULL)."""
    from .sources import corpus
    from .sources.geojson import features_from_geojson

    docs = corpus.read_document_dir(spark, str(_FIXTURE_DIR / "geojson"), "geojson")
    f = features_from_geojson(docs)

    def nan2null(c: F.Column) -> F.Column:
        return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c)

    v0 = F.get("verts", 0)
    vl = F.try_element_at("verts", F.lit(-1))
    return f.select(
        "dataset_id",
        "feature_idx",
        "geom_kind",
        F.size("verts").cast("int").alias("n_verts"),
        (F.size("ring_offsets") - 1).cast("int").alias("n_rings"),
        (F.size("part_offsets") - 1).cast("int").alias("n_parts"),
        F.element_at("part_offsets", -1).cast("int").alias("last_part"),
        F.get(v0, 0).alias("x0"),
        F.get(v0, 1).alias("y0"),
        nan2null(F.get(v0, 2)).alias("z0"),
        F.get(vl, 0).alias("xl"),
        F.get(vl, 1).alias("yl"),
        nan2null(F.get(vl, 2)).alias("zl"),
        "had_z",
        "name",
        "style_type",
        "feature_id",
        _canon_attrs().alias("attrs"),
    )


def _sql_geojson_datasets() -> str:
    gd = _FIXTURE_DIR / "geojson"
    return f"""
with docs as (
  select regexp_extract(filename, '([^/]+)\\.geojson$', 1) as dataset_id, content
  from read_text('{gd}/*.geojson')
  where json_valid(content)                       -- invalid JSON isolated
    and json_type(content) = 'OBJECT'             -- list-document isolated
    and json_type(content, '$.features') = 'ARRAY' -- features:42 isolated
),
feats as (
  select dataset_id, cast(fi as int) as fi,
         json_extract(content, '$.features[' || fi || ']') as feat
  from docs,
       unnest(range(cast(coalesce(json_array_length(content, '$.features'), 0) as bigint))) as t(fi)
),
geo as (
  select dataset_id, fi, feat,
         replace(coalesce(json_extract_string(feat, '$.geometry.type'), ''), 'Z', '') as gt,
         json_extract(feat, '$.geometry.coordinates') as coords
  from feats
),
emitted as (
  select dataset_id, fi, feat, gt, coords, cast(pi as int) as pi
  from geo,
       unnest(range(cast(case when gt = 'MultiLineString'
                              then coalesce(json_array_length(coords), 0)
                              else 1 end as bigint))) as p(pi)
  where coords is not null
    and gt in ('Point', 'LineString', 'MultiLineString', 'Polygon', 'MultiPolygon')
),
attrs_raw as (
  select dataset_id, fi, k,
         json_extract_string(props, '$.' || k) as v,
         json_type(props, '$.' || k) as ty
  from (select dataset_id, fi, json_extract(feat, '$.properties') as props
        from emitted where pi = 0),
       unnest(coalesce(json_keys(props), [])) as u(k)
),
kept as (
  -- F2 interface-falsy drop: null, "" and the STRING "0" drop; numeric 0 stays
  select * from attrs_raw
  where not (ty = 'NULL' or (ty = 'VARCHAR' and v in ('', '0')))
),
routed as (
  -- F3 key routing + id priority + skip keys (convert.go:800-832)
  select dataset_id, fi,
    max(case when k = 'name' then v end) as name,
    max(case when k = 'styletype' then v end) as style_type,
    coalesce(max(case when k = 'id' then v end), max(case when k = 'fid' then v end),
             max(case when k = 'osm_id' then v end), max(case when k = 'uid' then v end),
             max(case when k = 'uuid' then v end)) as feature_id,
    string_agg(case when k not in ('name', 'styletype', 'id', 'fid', 'osm_id', 'uid',
                                   'uuid', 'tags', 'way', 'geomz')
                    then k || '=' || v end, '|' order by k) as attrs
  from kept group by dataset_id, fi
),
shaped as (
  select e.dataset_id, e.fi, e.pi,
    case e.gt when 'Point' then 'point' when 'LineString' then 'line'
              when 'MultiLineString' then 'line' when 'Polygon' then 'polygon'
              else 'multipolygon' end as geom_kind,
    cast(case e.gt
      when 'Point' then 1
      when 'LineString' then coalesce(json_array_length(e.coords), 0)
      when 'MultiLineString' then coalesce(json_array_length(e.coords, '$[' || e.pi || ']'), 0)
      when 'Polygon' then coalesce(list_sum(list_transform(json_extract(e.coords, '$[*]'), r -> json_array_length(r))), 0)
      else coalesce(list_sum(list_transform(json_extract(e.coords, '$[*][*]'), r -> json_array_length(r))), 0)
    end as int) as n_verts,
    cast(case e.gt
      when 'Polygon' then json_array_length(e.coords)
      when 'MultiPolygon' then len(json_extract(e.coords, '$[*][*]'))
      else 1 end as int) as n_rings,
    cast(case e.gt when 'MultiPolygon' then json_array_length(e.coords) else 1 end as int) as n_parts,
    cast(case e.gt
      when 'Polygon' then json_array_length(e.coords)
      when 'MultiPolygon' then len(json_extract(e.coords, '$[*][*]'))
      else 1 end as int) as last_part,
    case e.gt
      when 'Point' then e.coords
      when 'LineString' then json_extract(e.coords, '$[0]')
      when 'MultiLineString' then json_extract(e.coords, '$[' || e.pi || '][0]')
      when 'Polygon' then json_extract(e.coords, '$[0][0]')
      else json_extract(e.coords, '$[0][0][0]') end as v0,
    case e.gt
      when 'Point' then e.coords
      when 'LineString' then json_extract(e.coords, '$[#-1]')
      when 'MultiLineString' then json_extract(e.coords, '$[' || e.pi || '][#-1]')
      when 'Polygon' then json_extract(e.coords, '$[#-1][#-1]')
      else json_extract(e.coords, '$[#-1][#-1][#-1]') end as vl,
    coalesce(cast(case e.gt
      when 'Point' then json_array_length(e.coords)
      when 'LineString' then json_array_length(e.coords, '$[0]')
      when 'MultiLineString' then json_array_length(e.coords, '$[' || e.pi || '][0]')
      when 'Polygon' then json_array_length(e.coords, '$[0][0]')
      else json_array_length(e.coords, '$[0][0][0]') end as int) >= 3, false) as had_z,
    r.name, r.style_type, r.feature_id, r.attrs
  from emitted e left join routed r using (dataset_id, fi)
)
select dataset_id,
       cast(row_number() over (partition by dataset_id order by fi, pi) - 1 as bigint) as feature_idx,
       geom_kind, n_verts, n_rings, n_parts, last_part,
       cast(json_extract(v0, '$[0]') as double) as x0,
       cast(json_extract(v0, '$[1]') as double) as y0,
       cast(json_extract(v0, '$[2]') as double) as z0,
       cast(json_extract(vl, '$[0]') as double) as xl,
       cast(json_extract(vl, '$[1]') as double) as yl,
       cast(json_extract(vl, '$[2]') as double) as zl,
       had_z, name, style_type, feature_id, attrs
from shaped
"""


def q_gpx_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 GPX corpus on the gate (convert.go:406-546): binaryFile scan ->
    ElementTree parse -> waypoints/routes/tracks with ALL track segments
    flattened into one line (E4, convert.go:511-516), missing <ele> -> 0.0
    with arity always 3, OGR extension attributes, malformed XML isolated.
    The DuckDB oracle re-derives the rows by regex structure extraction
    (independent of any XML parser; the fixture corpus is format-regular
    with at most one rte and one trk per file, by construction)."""
    from .sources import corpus
    from .sources.xmlgeo import features_from_gpx

    docs = corpus.read_document_dir(spark, str(_FIXTURE_DIR / "gpx"), "gpx")
    f = features_from_gpx(docs)
    v0 = F.get("verts", 0)
    vl = F.try_element_at("verts", F.lit(-1))
    return f.select(
        "dataset_id",
        "feature_idx",
        "geom_kind",
        F.size("verts").cast("int").alias("n_verts"),
        F.get(v0, 0).alias("lon0"),
        F.get(v0, 1).alias("lat0"),
        F.get(v0, 2).alias("ele0"),
        F.get(vl, 0).alias("lonl"),
        F.get(vl, 1).alias("latl"),
        F.get(vl, 2).alias("elel"),
        "name",
        _canon_attrs().alias("attrs"),
    )


def q_kml_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 KML corpus on the gate (convert.go:305-385): binaryFile scan ->
    lenient ElementTree parse -> the Go-struct FIXED-PATH binding:
    Document > FIRST Folder only, per placemark one direct-child Point,
    the first MultiGeometry>LineString and the first MultiGeometry>
    Polygon>outerBoundaryIs ring; bare LineStrings, decoy folders,
    second LineStrings and inner rings are ignored; SimpleData
    attributes in canonical form; malformed XML isolated. 2D
    coordinates carry z=NaN in the parser's rows, which the Arrow UDF
    transfer surfaces as NULL in the array<double> column — normalized
    to 0.0 here (coalesce+nanvl covers both encodings) for the
    cross-engine hash; the padding itself is pinned by goldens/pytest.
    Oracle: RE2 regex slicing over the
    format-regular fixture corpus (independent of any XML parser)."""
    from .sources import corpus
    from .sources.xmlgeo import features_from_kml

    docs = corpus.read_document_dir(spark, str(_FIXTURE_DIR / "kml"), "kml")
    f = features_from_kml(docs)
    v0 = F.get("verts", 0)
    vl = F.try_element_at("verts", F.lit(-1))
    return f.select(
        "dataset_id",
        "feature_idx",
        "geom_kind",
        F.size("verts").cast("int").alias("n_verts"),
        F.get(v0, 0).alias("lon0"),
        F.get(v0, 1).alias("lat0"),
        F.coalesce(F.nanvl(F.get(v0, 2), F.lit(0.0)), F.lit(0.0)).alias("ele0"),
        F.get(vl, 0).alias("lonl"),
        F.get(vl, 1).alias("latl"),
        F.coalesce(F.nanvl(F.get(vl, 2), F.lit(0.0)), F.lit(0.0)).alias("elel"),
        "name",
        _canon_attrs().alias("attrs"),
    )


def _sql_kml_datasets() -> str:
    kd = _FIXTURE_DIR / "kml"
    tok = "string_split_regex(trim({t}), '\\s+')"
    part = "string_split({v}, ',')"
    return f"""
with docs as (
  select regexp_extract(filename, '([^/]+)\\.kml$', 1) as dataset_id, content
  from read_text('{kd}/*.kml')
  -- production isolates the malformed-XML document; encoded by exclusion
  where filename not like '%malformed%'
),
folder1 as (  -- Document > FIRST Folder only (decoys sliced away)
  select dataset_id,
         string_split(string_split(content, '<Folder>')[2], '</Folder>')[1] as folder
  from docs where content like '%<Folder>%'
),
pms as (
  select dataset_id, cast(i as int) as pm_ord,
         string_split(lst[cast(i as int)], '</Placemark>')[1] as b
  from (select dataset_id, string_split(folder, '<Placemark>')[2:] as lst from folder1),
       unnest(range(1, cast(len(lst) + 1 as bigint))) as t(i)
),
geo as (
  select dataset_id, pm_ord,
    nullif(regexp_extract(b, '<name>([^<]*)</name>', 1), '') as name,
    nullif(array_to_string(list_sort(list_transform(
      regexp_extract_all(b, '<SimpleData name="[^"]*">[^<]*</SimpleData>'),
      x -> regexp_extract(x, 'name="([^"]*)"', 1) || '=' || regexp_extract(x, '>([^<]*)<', 1)
    )), '|'), '') as attrs,
    regexp_extract(b, '(?s)<Point><coordinates>([^<]*)</coordinates>', 1) as pt_txt,
    regexp_extract(regexp_extract(b, '(?s)<MultiGeometry>(.*?)</MultiGeometry>', 1),
                   '(?s)<LineString><coordinates>([^<]*)', 1) as ln_txt,
    regexp_extract(regexp_extract(b, '(?s)<MultiGeometry>(.*?)</MultiGeometry>', 1),
                   '(?s)<outerBoundaryIs>.*?<coordinates>([^<]*)', 1) as pg_txt
  from pms
),
feats as (
  select dataset_id, pm_ord, kind_ord, geom_kind, toks, name, attrs from (
    select dataset_id, pm_ord, 0 as kind_ord, 'point' as geom_kind,
           ({tok.format(t='pt_txt')})[1:1] as toks, name, attrs
    from geo where pt_txt <> ''
    union all
    select dataset_id, pm_ord, 1, 'line', {tok.format(t='ln_txt')}, name, attrs
    from geo where ln_txt <> ''
    union all
    select dataset_id, pm_ord, 2, 'polygon', {tok.format(t='pg_txt')}, name, attrs
    from geo where pg_txt <> ''
  )
),
verts as (
  select dataset_id, pm_ord, kind_ord, geom_kind, name, attrs,
         cast(len(toks) as int) as n_verts,
         {part.format(v='toks[1]')} as p0,
         {part.format(v='toks[len(toks)]')} as pl
  from feats
)
select dataset_id,
  cast(row_number() over (partition by dataset_id order by pm_ord, kind_ord) - 1 as bigint)
    as feature_idx,
  geom_kind, n_verts,
  cast(p0[1] as double) as lon0, cast(p0[2] as double) as lat0,
  cast(coalesce(p0[3], '0') as double) as ele0,
  cast(pl[1] as double) as lonl, cast(pl[2] as double) as latl,
  cast(coalesce(pl[3], '0') as double) as elel,
  name, attrs
from verts
"""


def _sql_gpx_datasets() -> str:
    gd = _FIXTURE_DIR / "gpx"
    ele = "cast(coalesce(nullif(regexp_extract({b}, '<ele>([^<]*)</ele>', 1), ''), '0') as double)"
    lon = "cast(regexp_extract({b}, 'lon=\"([^\"]*)\"', 1) as double)"
    lat = "cast(regexp_extract({b}, 'lat=\"([^\"]*)\"', 1) as double)"
    return f"""
with docs as (
  select regexp_extract(filename, '([^/]+)\\.gpx$', 1) as dataset_id, content
  from read_text('{gd}/*.gpx')
  -- production isolates the malformed-XML document (ET.ParseError); the
  -- oracle encodes that expectation by exclusion — if the engine ever
  -- emitted rows for it, the row-count gate would fail
  where filename not like '%malformed%'
),
wpt_blocks as (
  select dataset_id, cast(i as int) - 1 as ordi,
         string_split(lst[cast(i as int)], '</wpt>')[1] as w
  from (select dataset_id, string_split(content, '<wpt ')[2:] as lst from docs),
       unnest(range(1, cast(len(lst) + 1 as bigint))) as t(i)
),
wpts as (
  select dataset_id, ordi, 0 as grp, 'point' as geom_kind, 1 as n_verts,
    {lon.format(b='w')} as lon0, {lat.format(b='w')} as lat0, {ele.format(b='w')} as ele0,
    {lon.format(b='w')} as lonl, {lat.format(b='w')} as latl, {ele.format(b='w')} as elel,
    nullif(regexp_extract(w, '<name>([^<]*)</name>', 1), '') as name,
    case when w like '%<extensions>%' then
      'cnt=' || regexp_extract(w, '<ogr:cnt>([^<]*)<', 1) ||
      '|owner=' || regexp_extract(w, '<ogr:owner>([^<]*)<', 1)
    end as attrs
  from wpt_blocks
),
rte_pts as (
  select dataset_id,
         list_transform(string_split(r, '<rtept ')[2:], b -> string_split(b, '</rtept>')[1]) as pts,
         nullif(regexp_extract(r, '<name>([^<]*)</name>', 1), '') as name
  from (select dataset_id,
               string_split(string_split(content, '<rte>')[2], '</rte>')[1] as r
        from docs where content like '%<rte>%')
),
rtes as (
  select dataset_id, 0 as ordi, 1 as grp, 'line' as geom_kind,
    cast(len(pts) as int) as n_verts,
    {lon.format(b='pts[1]')} as lon0, {lat.format(b='pts[1]')} as lat0, {ele.format(b='pts[1]')} as ele0,
    {lon.format(b='pts[-1]')} as lonl, {lat.format(b='pts[-1]')} as latl, {ele.format(b='pts[-1]')} as elel,
    name, cast(NULL as varchar) as attrs
  from rte_pts where len(pts) > 0
),
trk_pts as (
  -- E4: every <trkpt> across ALL <trkseg> blocks, document order
  select dataset_id,
         list_transform(string_split(t, '<trkpt ')[2:], b -> string_split(b, '</trkpt>')[1]) as pts,
         nullif(regexp_extract(t, '<name>([^<]*)</name>', 1), '') as name
  from (select dataset_id,
               string_split(string_split(content, '<trk>')[2], '</trk>')[1] as t
        from docs where content like '%<trk>%')
),
trks as (
  select dataset_id, 0 as ordi, 2 as grp, 'line' as geom_kind,
    cast(len(pts) as int) as n_verts,
    {lon.format(b='pts[1]')} as lon0, {lat.format(b='pts[1]')} as lat0, {ele.format(b='pts[1]')} as ele0,
    {lon.format(b='pts[-1]')} as lonl, {lat.format(b='pts[-1]')} as latl, {ele.format(b='pts[-1]')} as elel,
    name, cast(NULL as varchar) as attrs
  from trk_pts where len(pts) > 0
),
unioned as (
  select * from wpts union all select * from rtes union all select * from trks
)
select dataset_id,
       cast(row_number() over (partition by dataset_id order by grp, ordi) - 1 as bigint) as feature_idx,
       geom_kind, n_verts, lon0, lat0, ele0, lonl, latl, elel, name, attrs
from unioned
"""


def q_warc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source on the gate (round 7, engine addition — the container
    Common Crawl actually ships): binaryFile scan over the fixture
    archives (plain + per-record-gzip-member .warc.gz) -> mapInPandas
    record walk -> per-response projection, with title/text derived by
    the Catalyst html->text chain for text/html payloads. Oracle: KAT
    parquet from the structurally-disjoint scalar twin (gzip module +
    readline walk + char-walk html twin, tests/warc_reference_impl.py)."""
    from .operators.extract import html_text_col, html_title_col
    from .sources.warc import read_warc

    recs = read_warc(spark, str(_FIXTURE_DIR / "warc"))
    is_html = F.lower(F.col("content_type")).startswith("text/html")
    decoded = F.decode(F.col("payload"), "UTF-8")
    return recs.select(
        "warc_file",
        "record_idx",
        "url",
        "warc_ts",
        "http_status",
        "content_type",
        F.length("payload").cast("int").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
        F.when(is_html, html_title_col(decoded)).alias("title"),
        F.when(is_html, html_text_col(decoded)).alias("text"),
    )


def q_warc_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL ingest composition on one gate row: WARC archive bytes ->
    distributed record walk -> HTTP payload -> Catalyst html->text ->
    coordinate-mention grammar -> web-mercator tile assignment -> per-
    tile rollup. Every stage is individually gated (q_warc_pages,
    q_html_text, q_extract, q_tile_assign); this row pins that they
    COMPOSE. Oracle: DuckDB starts from the twin-derived q_warc_pages
    KAT text and restates mention extraction + tile math in SQL."""
    from .operators.extract import MENTION_PATTERN
    from .sources.warc import warc_pages

    pages = warc_pages(spark, str(_FIXTURE_DIR / "warc")).filter(F.col("text").isNotNull())
    pat = MENTION_PATTERN
    # NB: F.lit pattern, never an F.expr SQL literal — Spark SQL string
    # escaping would strip the regex backslashes (same trap as q_extract)
    m = pages.select(
        "url",
        F.posexplode(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))).alias(
            "i", "mention"
        ),
    )
    g1 = F.regexp_extract("mention", pat, 1)
    g3 = F.regexp_extract("mention", pat, 3)
    g2 = F.regexp_extract("mention", pat, 2)
    g4 = F.regexp_extract("mention", pat, 4)
    c = m.select(
        "url",
        F.when(g1 != "", g1).otherwise(g3).cast("double").alias("lat"),
        F.when(g2 != "", g2).otherwise(g4).cast("double").alias("lon"),
    ).filter((F.abs(F.col("lat")) <= 85.0) & (F.abs(F.col("lon")) <= 180.0))
    t = tiles.with_tile(c, 10)
    return t.groupBy("zoom", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.countDistinct("url").cast("long").alias("n_pages"),
    )


def _sql_warc_tiles() -> str:
    from .operators.extract import MENTION_PATTERN

    pat = MENTION_PATTERN.replace("'", "''")
    kat = f"'{_kat_path('q_warc_pages')}'"
    return f"""
with pages as (select url, text from {kat} where text is not null),
m as (select url, regexp_extract_all(text, '{pat}') as ms from pages),
x as (select url, unnest(generate_series(1, len(ms))) as i, ms from m),
c as (
  select url,
    cast(case when regexp_extract(ms[i], '{pat}', 1) <> '' then regexp_extract(ms[i], '{pat}', 1)
              else regexp_extract(ms[i], '{pat}', 3) end as double) as lat,
    cast(case when regexp_extract(ms[i], '{pat}', 2) <> '' then regexp_extract(ms[i], '{pat}', 2)
              else regexp_extract(ms[i], '{pat}', 4) end as double) as lon
  from x
),
v as (select * from c where abs(lat) <= 85.0 and abs(lon) <= 180.0)
select 10 as zoom, {exprs.sql_tile_x('lon', 10)} as tile_x, {exprs.sql_tile_y('lat', 10)} as tile_y,
       cast(count(*) as bigint) as n_mentions, cast(count(distinct url) as bigint) as n_pages
from v group by 1, 2, 3
"""


def q_warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index on the gate (the CC/Wayback index shape): SURT
    key + timestamp + payload digest + the record's (file, offset,
    length) span for random access, CDX-collated. Oracle: twin KAT
    (scalar SURT string-walk + BytesIO-tell spans — independent of the
    engine's regex grammar and cursor arithmetic)."""
    from .sources.warc import warc_cdx

    return warc_cdx(spark, str(_FIXTURE_DIR / "warc"))


# --- mesh drape on the gate (round 6) ------------------------------------------

# Per-dataset 4326 bbox over the lineitem-derived points — the seed for the
# mesh corpus. Restated in SQL so the KAT generator (tests/gen_kats.py)
# derives the SAME bboxes from DuckDB without a SparkSession.
SQL_MESH_BBOX = f"""
select rowid % 20 as dataset_id,
       min(lon) as lx, min(lat) as ly, max(lon) as rx, max(lat) as uy
from ({_PTS_SQL}) group by 1 order by 1
"""


def mesh_features(bboxes) -> list[dict]:
    """Deterministic 2D mesh corpus: per dataset bbox, one polygon-with-
    hole and one two-part multipolygon-with-hole (had_z=False -> both take
    the drape path, convert.go:362-381, 706-767). Pure float arithmetic —
    shared by the Spark query and the scalar-twin KAT builder, so the
    CORPUS is common and only the PIPELINE differs between the two sides.

    ``bboxes``: iterable of (dataset_id, lx, ly, rx, uy).
    """

    def rect(x0, y0, x1, y1):
        return [[x0, y0, 0.0], [x1, y0, 0.0], [x1, y1, 0.0], [x0, y1, 0.0], [x0, y0, 0.0]]

    rows = []
    for did, lx, ly, rx, uy in bboxes:
        did, lx, ly, rx, uy = int(did), float(lx), float(ly), float(rx), float(uy)
        w, h = rx - lx, uy - ly
        outer = rect(lx + 0.1 * w, ly + 0.1 * h, lx + 0.9 * w, ly + 0.9 * h)
        hole = rect(lx + 0.4 * w, ly + 0.4 * h, lx + 0.6 * w, ly + 0.6 * h)
        rows.append(
            {
                "dataset_id": f"d{did:02d}",
                "feature_idx": 0,
                "geom_kind": "polygon",
                "verts_raw": outer + hole,
                "ring_offsets": [0, 5, 10],
                "part_offsets": [0, 2],
                "had_z": False,
            }
        )
        p0_outer = rect(lx, ly, lx + 0.45 * w, ly + h)
        p0_hole = rect(lx + 0.1 * w, ly + 0.25 * h, lx + 0.35 * w, ly + 0.75 * h)
        p1 = rect(lx + 0.55 * w, ly + 0.2 * h, lx + w, ly + 0.8 * h)
        rows.append(
            {
                "dataset_id": f"d{did:02d}",
                "feature_idx": 1,
                "geom_kind": "multipolygon",
                "verts_raw": p0_outer + p0_hole + p1,
                "ring_offsets": [0, 5, 10, 15],
                "part_offsets": [0, 2, 3],
                "had_z": False,
            }
        )
    return rows


def q_mesh_drape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-A8 + S7 + F6 on the gate (convert.go:706-767, 924-1062): the
    mesh corpus (per-dataset bbox polygons) through the REAL drape path —
    DEM cloud sampling (A6), even-odd PIP trim (F5 reuse), Bowyer-Watson
    Delaunay (A7), centroid verify-trim (A8), 3857 projection — then a
    canonical mesh digest per feature. Oracle: twin-derived KAT
    (tests/mesh_reference_impl.py, scalar re-derivation; cross-SF swept
    by tests/test_kat_cross_sf.py).

    The bbox agg is distributed; the corpus build collects only the
    20-row per-dataset bbox table (bounded, like every other driver-side
    collect in the engine); the drape itself runs as mapInPandas."""
    from .operators import features as features_mod

    _load(spark, sf_dir, "lineitem")
    bb = spark.sql(SQL_MESH_BBOX).collect()
    corpus = mesh_features((r.dataset_id, r.lx, r.ly, r.rx, r.uy) for r in bb)
    df = spark.createDataFrame(
        corpus,
        schema="dataset_id string, feature_idx long, geom_kind string, "
        "verts_raw array<array<double>>, ring_offsets array<int>, "
        "part_offsets array<int>, had_z boolean",
    ).repartition(8, "dataset_id")
    m = features_mod.drape_meshes(df)
    idx_str = F.array_join(F.transform("indices", lambda i: i.cast("string")), ",")
    vsum = lambda k: F.expr(  # noqa: E731
        f"aggregate(vertices, cast(0.0 as double), (acc, v) -> acc + v[{k}])"
    )
    return m.select(
        "dataset_id",
        "feature_idx",
        F.size("vertices").cast("int").alias("n_vertices"),
        (F.size("indices") / 3).cast("int").alias("n_triangles"),
        F.md5(idx_str).alias("idx_hash"),
        F.round(vsum(0), 2).alias("vx_sum"),
        F.round(vsum(1), 2).alias("vy_sum"),
        F.round(vsum(2), 4).alias("vz_sum"),
    )


# --- datasets JSON sink on the gate (round 7) ----------------------------------


def canon_json_digest(text: str) -> str:
    """Float-canonical md5 of a JSON document: every float rounded to 6
    decimals (and -0.0 normalized) so the digest compares VALUES to 1e-6
    while staying immune to last-ulp drift between the vectorized engine
    and the scalar twin; structure, key sets and non-float values pass
    through exactly (sort_keys canonicalizes map order).

    Shared by q_datasets_json and the twin KAT builder the same way
    mesh_features is: DIGEST plumbing, not the conversion under test —
    tests/test_source_gate.py pins that it is structure- and
    value-preserving (key-order-insensitive, value-sensitive)."""
    import hashlib
    import json as _json

    def walk(v):
        if isinstance(v, float):
            r = round(v, 6)
            return r + 0.0 if r == 0 else r
        if isinstance(v, list):
            return [walk(x) for x in v]
        if isinstance(v, dict):
            return {k: walk(x) for k, x in v.items()}
        return v

    canon = _json.dumps(walk(_json.loads(text)), sort_keys=True)
    return hashlib.md5(canon.encode()).hexdigest()


def datasets_json_corpus(bboxes) -> list[tuple[str, str, str]]:
    """Deterministic GeoJSON documents for the S6 sink gate: one
    FeatureCollection per dataset bbox exercising every assembly branch
    (convert.go:29-80 struct tags; 627-832 geometry + attribute dispatch):
    2D/3D points, a rich property map hitting the F2 falsy-drop quirk
    (numeric 0 KEPT, string "0"/""/null dropped), F3 key routing
    (name/styletype/id-ish/tags-way-geomz), the Go %v numeric forms
    (P8: scientific at >=1e6 and <1e-4), LineString, per-part
    MultiLineString explode (E2), a draped polygon-with-hole, a 3D
    polygon (ring-point path), a draped multipolygon (PIP trim), a
    bad-arity point (F1 drop), a null-geometry and an unsupported-type
    feature (skipped), and a properties:null feature.

    Shared by the Spark query and the scalar-twin KAT builder
    (tests/datasets_reference_impl.py) — the CORPUS is common, the
    PIPELINE differs (vectorized kernels vs scalar re-derivation).

    ``bboxes``: iterable of (dataset_id, lx, ly, rx, uy) in 4326 degrees.
    """
    import json as _json

    docs = []
    for did, lx, ly, rx, uy in bboxes:
        did, lx, ly, rx, uy = int(did), float(lx), float(ly), float(rx), float(uy)
        # per-dataset sub-bbox: the seed bboxes are near-world-sized at every
        # SF (each rowid-residue class sweeps the full lat/lon lattice), so
        # shrink+shift by dataset id to vary covering levels, DEM terrain
        # and projected magnitudes across datasets
        fw = 0.03 + 0.045 * (did % 12)
        fx = (did % 7) / 8.0
        fy = (did % 5) / 6.0
        w0, h0 = rx - lx, uy - ly
        lx, ly = lx + fx * (1.0 - fw) * w0, ly + fy * (1.0 - fw) * h0
        w, h = fw * w0, fw * h0

        def pt(fx: float, fy: float, z: float | None = None) -> list[float]:
            p = [lx + fx * w, ly + fy * h]
            return p + [z] if z is not None else p

        def rect(x0, y0, x1, y1, z: float | None = None):
            corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
            return [pt(fx, fy, z) for fx, fy in corners]

        def feat(geom, props="default"):
            return {
                "type": "Feature",
                "geometry": geom,
                "properties": None if props is None else (props if props != "default" else {}),
            }

        rich_props = {
            "name": f"site {did}",
            "styletype": "marker",
            "id": 1000 + did,
            "osm_id": 99,  # id-ish too; canonical pick prefers "id"
            "grade": round(lx, 3),
            "big": 1417640643,  # -> "1.417640643e+09"
            "tiny": 0.0000123,  # -> "1.23e-05"
            "million": 2500000.0,  # -> "2.5e+06"
            "flag": True,
            "neg": False,
            "zero_n": 0,  # Go float64 0 is NOT falsy: kept as "0"
            "zero_s": "0",  # string "0" IS falsy: dropped
            "empty": "",  # dropped
            "nothing": None,  # dropped
            "tags": "drop-me",  # routed to the discard set
            "way": 3,
            "geomz": 9,
            "note": "ok",
        }
        features = [
            feat({"type": "Point", "coordinates": pt(0.2, 0.3)}, rich_props),
            feat({"type": "Point", "coordinates": pt(0.7, 0.6, 123.45 + did)},
                 {"name": f"peak {did}", "depth": -0.5}),
            feat({"type": "Point", "coordinates": [lx + 0.5 * w]}),  # F1: arity-1 drop
            feat({"type": "LineString",
                  "coordinates": [pt(0.0, 0.0), pt(0.3, 0.5), pt(0.6, 0.2)]},
                 {"id": f"L{did}", "kind": "trail"}),
            feat({"type": "MultiLineString",
                  "coordinates": [
                      [pt(0.1, 0.9), pt(0.4, 0.8)],
                      [pt(0.7, 0.1, 5.5), pt(0.9, 0.3, 6.5), pt(0.95, 0.5, 7.5)],
                  ]}),
            feat({"type": "Polygon",
                  "coordinates": [rect(0.1, 0.1, 0.9, 0.9), rect(0.4, 0.4, 0.6, 0.6)]},
                 {"name": f"zone {did}", "area": "big"}),
            feat({"type": "Polygon",
                  "coordinates": [rect(0.15, 0.15, 0.35, 0.35, z=10.0 + did)]},
                 {"fid": 7 + did}),
            feat({"type": "MultiPolygon",
                  "coordinates": [
                      [rect(0.0, 0.0, 0.45, 1.0), rect(0.1, 0.25, 0.35, 0.75)],
                      [rect(0.55, 0.2, 1.0, 0.8)],
                  ]}),
            feat(None),  # null geometry: skipped
            feat({"type": "GeometryCollection", "geometries": []}),  # unsupported: skipped
            feat({"type": "Point", "coordinates": pt(0.05, 0.05)}, None),  # properties null
        ]
        ds = f"d{did:02d}"
        docs.append((ds, f"dataset {did}",
                     _json.dumps({"type": "FeatureCollection", "features": features})))
    return docs


def q_datasets_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — the MineAR per-dataset Datasets JSON document (the reference's
    actual deliverable, convert.go:29-39; caller marshal
    convert_test.go:101) on the driver's hash gate: the full REAL sink
    path — GeoJSON parse (S2) -> normalize/project (P2-P6) -> mesh drape
    (S7/A6-A8/F6) -> assemble_datasets (A1-A5 + the Go-tagged marshal) —
    over a seeded 20-document corpus, digested per dataset. Oracle: twin
    KAT (tests/datasets_reference_impl.py re-derives every document with
    scalar parsing, a fresh Go-%v formatter, scalar mercator/DEM/PIP/
    Delaunay/S2 twins; cross-SF swept by tests/test_kat_cross_sf.py).

    The corpus build collects only the 20-row per-dataset bbox table
    (bounded); parse/normalize/drape/assemble all run distributed."""
    import json as _json

    import pandas as pd

    from .operators import features as features_mod
    from .sources.geojson import features_from_geojson

    _load(spark, sf_dir, "lineitem")
    bb = spark.sql(SQL_MESH_BBOX).collect()
    corpus = datasets_json_corpus((r.dataset_id, r.lx, r.ly, r.rx, r.uy) for r in bb)
    names = {ds: nm for ds, nm, _ in corpus}
    docs = spark.createDataFrame(
        [(ds, txt) for ds, _, txt in corpus], "dataset_id string, geojson string"
    ).repartition(8, "dataset_id")
    norm = features_mod.normalize_features(features_from_geojson(docs))
    mesh = features_mod.drape_meshes(norm)
    assembled = features_mod.assemble_datasets(norm, mesh, names)

    def digest(batches):
        import hashlib

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                doc = _json.loads(r["dataset_json"])
                pts = doc["points"] or []
                lines = doc["lines"] or []
                shapes = doc["shapes"] or []
                s2 = doc["s2"] or []
                c = doc["center"][0]
                rows.append(
                    {
                        "dataset_id": r["dataset_id"],
                        "name": doc["name"],
                        "n_features": int(r["n_features"]),
                        "n_points": len(pts),
                        "n_lines": len(lines),
                        "n_shapes": len(shapes),
                        "n_meshes": sum(1 for s in shapes if s["vertices"] is not None),
                        "center_x": float(c["x"]),
                        "center_y": float(c["y"]),
                        "center_z": float(c["z"]),
                        "n_s2": len(s2),
                        "s2_hash": hashlib.md5(",".join(s2).encode()).hexdigest(),
                        "json_md5": canon_json_digest(r["dataset_json"]),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return assembled.mapInPandas(
        digest,
        schema="dataset_id string, name string, n_features long, n_points int, "
        "n_lines int, n_shapes int, n_meshes int, center_x double, "
        "center_y double, center_z double, n_s2 int, s2_hash string, "
        "json_md5 string",
    )


# --- registry ---------------------------------------------------------------------

QUERIES = {
    # The 8 rows no driver CORRECTNESS snapshot has ever sampled lead
    # the registry (VERDICT r7 item 3): if the driver takes a prefix of
    # queries(), they finally land in the sample; the dict is name-keyed
    # so ordering carries zero semantic risk. Side benefit: the session/
    # codegen cold-start lands on cheap rows instead of q_to3857.
    "q_warc_pages": q_warc_pages,
    "q_warc_tiles": q_warc_tiles,
    "q_warc_cdx": q_warc_cdx,
    "q_datasets_json": q_datasets_json,
    "q_dedup_incremental": q_dedup_incremental,
    "q_salted_join": q_salted_join,
    "q_bucketed_join": q_bucketed_join,
    "q_mesh_drape": q_mesh_drape,
    "q_to3857": q_to3857,
    "q_to4326": q_to4326,
    "q_extract": q_extract,
    "q_html_text": q_html_text,
    "q_url_parse": q_url_parse,
    "q_domain_rollup": q_domain_rollup,
    "q_surt": q_surt,
    "q_domain_quota": q_domain_quota,
    "q_link_extract": q_link_extract,
    "q_domain_pagerank": q_domain_pagerank,
    "q_pagerank_incremental": q_pagerank_incremental,
    "q_robots": q_robots,
    "q_nfc_normalize": q_nfc_normalize,
    "q_checkcoords": q_checkcoords,
    "q_tile_assign": q_tile_assign,
    "q_tile_assign_deep": q_tile_assign_deep,
    "q_tile_rollup": q_tile_rollup,
    "q_tile_join": q_tile_join,
    "q_tile_incremental": q_tile_incremental,
    "q_compact_cells": q_compact_cells,
    "q_uncompact_roundtrip": q_uncompact_roundtrip,
    "q_knn": q_knn,
    "q_knn_fixed": q_knn_fixed,
    "q_pip_join": q_pip_join,
    "q_bbox_center": q_bbox_center,
    "q_s2_covering": q_s2_covering,
    "q_attr_clean": q_attr_clean,
    "q_agg_pricing": q_agg_pricing,
    "q_topk_window": q_topk_window,
    "q_join_revenue": q_join_revenue,
    "q_sessionize": q_sessionize,
    "q_window_hourly": q_window_hourly,
    "q_token_counts": q_token_counts,
    "q_quality": q_quality,
    "q_filter_pipeline": q_filter_pipeline,
    "q_unigram_score": q_unigram_score,
    "q_dedup_exact": q_dedup_exact,
    "q_paragraph_dedup": q_paragraph_dedup,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_minhash_lsh": q_minhash_lsh,
    "q_simhash": q_simhash,
    "q_fingerprint": q_fingerprint,
    "q_langid": q_langid,
    "q_ann_cosine": q_ann_cosine,
    "q_ann_lsh": q_ann_lsh,
    "q_ann_ivf": q_ann_ivf,
    "q_embed_neardup": q_embed_neardup,
    "q_embed_neardup_exact": q_embed_neardup_exact,
    "q_media_decode": q_media_decode,
    "q_media_frames": q_media_frames,
    "q_media_resize": q_media_resize,
    "q_media_decode_real": q_media_decode_real,
    "q_media_stats_real": q_media_stats_real,
    "q_media_frames_real": q_media_frames_real,
    "q_media_containers": q_media_containers,
    "q_asof_events": q_asof_events,
    "q_asof_events_strict": q_asof_events_strict,
    "q_range_join": q_range_join,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_incremental": q_dedup_incremental,
    "q_csv_datasets": q_csv_datasets,
    "q_geojson_datasets": q_geojson_datasets,
    "q_gpx_datasets": q_gpx_datasets,
    "q_kml_datasets": q_kml_datasets,
    "q_warc_pages": q_warc_pages,
    "q_warc_tiles": q_warc_tiles,
    "q_warc_cdx": q_warc_cdx,
    "q_getelev": q_getelev,
    "q_salted_join": q_salted_join,
    "q_bucketed_join": q_bucketed_join,
    "q_mesh_drape": q_mesh_drape,
    "q_datasets_json": q_datasets_json,
}


def _kat_path(name: str) -> str:
    """Absolute path of a known-answer table (shared by _sql_kat and the
    WARC composition oracle — ADVICE r7: never string-split the SQL to
    recover it; a repo path containing 'from' would corrupt it)."""
    import pathlib

    return str(pathlib.Path(__file__).resolve().parent.parent / "tests" / "kats" / f"{name}.parquet")


def _sql_kat(name: str) -> str:
    """Oracle for a known-answer table: valid on any DuckDB connection."""
    return f"select * from '{_kat_path(name)}'"


def oracles() -> dict[str, str]:
    return {
        "q_to3857": SQL_TO3857,
        "q_to4326": SQL_TO4326,
        "q_extract": _sql_extract(),
        "q_html_text": _sql_html_text(),
        "q_url_parse": _sql_url_parse(),
        "q_domain_rollup": _sql_domain_rollup(),
        "q_surt": _sql_surt(),
        "q_domain_quota": _sql_domain_quota(),
        "q_link_extract": _sql_link_extract(),
        "q_domain_pagerank": _sql_domain_pagerank(),
        "q_pagerank_incremental": _sql_pagerank_incremental(),
        "q_robots": _sql_robots(),
        "q_warc_tiles": _sql_warc_tiles(),
        "q_nfc_normalize": _sql_nfc_normalize(),
        "q_checkcoords": SQL_CHECKCOORDS,
        "q_tile_assign": SQL_TILE_ASSIGN,
        "q_tile_assign_deep": _sql_tile_assign_deep(),
        "q_tile_rollup": SQL_TILE_ROLLUP,
        "q_tile_join": SQL_TILE_JOIN,
        "q_tile_incremental": SQL_TILE_INCREMENTAL,
        "q_compact_cells": _sql_compact_cells(),
        "q_uncompact_roundtrip": SQL_UNCOMPACT_ROUNDTRIP,
        "q_knn": SQL_KNN,
        "q_knn_fixed": SQL_KNN_FIXED,
        "q_pip_join": _sql_pip_join(),
        "q_bbox_center": SQL_BBOX_CENTER,
        "q_attr_clean": SQL_ATTR_CLEAN,
        "q_agg_pricing": SQL_AGG_PRICING,
        "q_topk_window": SQL_TOPK_WINDOW,
        "q_join_revenue": SQL_JOIN_REVENUE,
        "q_sessionize": SQL_SESSIONIZE,
        "q_window_hourly": SQL_WINDOW_HOURLY,
        "q_token_counts": SQL_TOKEN_COUNTS,
        "q_quality": SQL_QUALITY,
        "q_filter_pipeline": _SQL_FILTER_PIPELINE,
        "q_unigram_score": SQL_UNIGRAM_SCORE,
        "q_dedup_exact": SQL_DEDUP_EXACT,
        "q_paragraph_dedup": _SQL_PARAGRAPH_DEDUP,
        "q_ngram_jaccard": SQL_NGRAM_JACCARD,
        "q_langid": _sql_langid(),
        "q_ann_cosine": SQL_ANN_COSINE,
        "q_embed_neardup": SQL_EMBED_NEARDUP,
        "q_embed_neardup_exact": SQL_EMBED_NEARDUP_EXACT,
        "q_media_decode": SQL_MEDIA_DECODE,
        "q_media_frames": SQL_MEDIA_FRAMES,
        "q_media_resize": SQL_MEDIA_RESIZE,
        "q_asof_events": SQL_ASOF_EVENTS,
        "q_asof_events_strict": SQL_ASOF_EVENTS_STRICT,
        "q_range_join": SQL_RANGE_JOIN,
        "q_dedup_clusters": SQL_DEDUP_CLUSTERS,
        # same full-graph closure: the incremental path must reproduce it
        "q_dedup_incremental": SQL_DEDUP_CLUSTERS,
        "q_csv_datasets": _sql_csv_datasets(),
        "q_geojson_datasets": _sql_geojson_datasets(),
        "q_gpx_datasets": _sql_gpx_datasets(),
        "q_kml_datasets": _sql_kml_datasets(),
        "q_getelev": _sql_getelev(),
        "q_salted_join": SQL_SALTED_JOIN,
        "q_bucketed_join": SQL_BUCKETED_JOIN,
        # KAT oracles: math not expressible in ANSI SQL (S2 cell-id bits,
        # universal-hash minhash, FNV simhash, blake2b, LSH/IVF candidate
        # generation). The driver's DuckDB connection can't register Python
        # UDFs, so the oracle SELECTs a committed known-answer parquet.
        # The KATs are DERIVED FROM INDEPENDENT SCALAR TWINS
        # (tests/s2_reference_impl.py, tests/sketch_reference_impl.py via
        # tests/gen_kats.py — no Spark, inputs from DuckDB), so a green row
        # certifies agreement between two structurally different
        # implementations of the published algorithms, not self-consistency.
        **{name: _sql_kat(name) for name in ("q_s2_covering", "q_minhash_lsh", "q_simhash", "q_fingerprint", "q_ann_lsh", "q_ann_ivf", "q_media_decode_real", "q_media_stats_real", "q_media_frames_real", "q_media_containers", "q_mesh_drape", "q_datasets_json", "q_warc_pages", "q_warc_cdx")},
    }
