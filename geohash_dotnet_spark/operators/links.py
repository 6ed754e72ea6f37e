"""Outlink extraction from raw html — the WAT-extraction step of a
web-corpus pipeline (Common Crawl ships exactly this as its WAT
sidecar: per-page anchor targets parsed out of the WARC html).

:func:`extract_links` parses ``<a href="...">`` targets out of the
``html`` binary column with a single RE2/Java-portable regex inside the
scan projection, explodes to one row per (page, link), and parses the
target host. :func:`link_host_edges` collapses that to the
(src_host, dst_host, n_links) web graph — the REAL counterpart of
``operators/graph.host_edges`` (which synthesizes hash-chosen targets
as a projection-only stand-in); the extracted edge table feeds the same
``pagerank`` / ``hits`` / ``bfs_reach`` consumers.

Scale shape (100 TB design point):
  * extraction is a pure codegen projection — decode + regexp_extract_all
    never leave the scan stage, and the html payload NEVER crosses an
    exchange: the explode emits only (src_host, link-host, url) string
    triples. Two exchanges total: the corpus-scale one carries
    partial-aggregated (src_host, dst_host, url, n) rows (each page's
    repeats to one host collapse map-side), and the second is
    host-pair-keyed on the page-edge-bounded table.
  * pages with zero anchors cost one regexp scan and emit nothing
    (explode drops empty arrays) — no skew from boilerplate-only pages.
  * the regex is anchored on the attribute quote (``<a href="([^"]+)"``):
    identical semantics under Java regex (Spark codegen) and RE2
    (DuckDB twin) — no backtracking constructs, no character-class
    shorthand that the engines disagree on (the \\s trap documented in
    text.with_char_entropy).

Reference parity: geohash-dotnet has no html module — this is part of
the web-pipeline extension surface (VERDICT "LLM-data-pipeline
operators"); the geo tie-in is the host graph it feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import METRE, MICRO
from .dedup import md5_60bit, md5_60bit_sql

__all__ = ["extract_links", "extract_links_sql",
           "link_host_edges", "link_host_edges_sql",
           "with_planted_anchors", "planted_anchors_sql",
           "extract_anchor_texts", "extract_anchor_texts_sql",
           "anchor_term_index", "anchor_term_index_sql",
           "with_planted_rich_anchors", "planted_rich_anchors_sql",
           "with_planted_local_anchors", "planted_local_anchors_sql",
           "link_locality", "link_locality_sql",
           "with_planted_mixed_anchors", "planted_mixed_anchors_sql",
           "frontier_hosts", "frontier_hosts_sql",
           "HREF_RE", "HOST_RE", "ANCHOR_TAG_RE", "ANCHOR_VOCAB"]

# Portable under both Java regex and RE2: literal anchor, one capture,
# negated-class body (no lazy quantifiers, no lookaround).
HREF_RE = '<a href="([^"]+)"'
HOST_RE = "https?://([^/\"]+)"


def extract_links(df: DataFrame, html: str = "html",
                  url: str = "url") -> DataFrame:
    """-> (url, pos int, link string, link_host string): one row per
    anchor target parsed from the ``html`` binary, in document order
    (``pos`` = 0-based anchor index). Pages without anchors emit no
    rows. ``link_host`` is the authority part of an absolute http(s)
    target ('' for relative links — kept, a crawl frontier resolves
    them against the base url)."""
    links = F.expr(
        f"regexp_extract_all(decode({html}, 'UTF-8'), '{HREF_RE}', 1)")
    return (df
            .select(F.col(url).alias("url"),
                    F.posexplode(links).alias("pos", "link"))
            .withColumn("link_host",
                        F.regexp_extract("link", HOST_RE, 1)))


def extract_links_sql(pages_html_inner: str) -> str:
    """DuckDB twin; ``pages_html_inner`` must expose ``url`` and
    ``html_s`` (VARCHAR — the twin rebuilds the html string rather than
    round-tripping a BLOB, same convention as the extract_text oracle).
    Replays regexp_extract_all + ordinal explode."""
    return f"""
SELECT url,
       CAST(unnest(range(len(ls))) AS INT) AS pos,
       unnest(ls) AS link,
       regexp_extract(unnest(ls), '{HOST_RE}', 1) AS link_host
FROM (
  SELECT url, regexp_extract_all(html_s, '{HREF_RE}', 1) AS ls
  FROM ({pages_html_inner})
)
"""


def link_host_edges(df: DataFrame, html: str = "html", url: str = "url",
                    src_host_re: str = HOST_RE) -> DataFrame:
    """-> (src_host, dst_host, n_links long, n_pages long): the
    host-level web graph aggregated from extracted anchors — absolute
    http(s) targets only (relative links have no host). ``n_pages`` is
    the number of distinct source pages contributing the edge."""
    ex = extract_links(df, html=html, url=url)
    per_page = (ex
                .where(F.col("link_host") != F.lit(""))
                .select(F.regexp_extract("url", src_host_re, 1)
                        .alias("src_host"),
                        F.col("link_host").alias("dst_host"), "url")
                .groupBy("src_host", "dst_host", "url")
                .agg(F.count(F.lit(1)).alias("n")))
    return (per_page.groupBy("src_host", "dst_host")
            .agg(F.sum("n").alias("n_links"),
                 F.count(F.lit(1)).alias("n_pages")))


def link_host_edges_sql(pages_html_inner: str,
                        src_host_re: str = HOST_RE) -> str:
    """DuckDB twin of :func:`link_host_edges`."""
    ex = extract_links_sql(pages_html_inner)
    return f"""
SELECT regexp_extract(url, '{src_host_re}', 1) AS src_host,
       link_host AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT url) AS BIGINT) AS n_pages
FROM ({ex}) WHERE link_host <> ''
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Deterministic anchor planting (test/bench input builder)
# ---------------------------------------------------------------------------

def _anchor(url_col, j: int, n_hosts: int):
    """The j-th planted anchor for a page: target host hash-chosen from
    the url, link text 'l{j}'."""
    t = F.pmod(md5_60bit(F.concat(url_col, F.lit(f"#l{j}"))),
               F.lit(int(n_hosts)))
    return F.concat(F.lit('<a href="https://site-'),
                    t.cast("string"),
                    F.lit(f'.example/p/{j}">l{j}</a>'))


def with_planted_anchors(df: DataFrame, url: str = "url",
                         text: str = "text", n_hosts: int = 97,
                         max_links: int = 3,
                         out: str = "html") -> DataFrame:
    """Add an ``html`` binary column wrapping ``text`` with
    ``md5(url) % (max_links+1)`` deterministic ``<a href>`` anchors —
    the no-external-data stand-in for real crawled html, variable link
    counts included (some pages get zero anchors). Pure projection,
    zero shuffle; the DuckDB twin (:func:`planted_anchors_sql`)
    rebuilds the identical bytes so extraction itself is value-checked
    end-to-end."""
    if max_links < 1 or n_hosts < 1:
        raise ValueError(f"max_links/n_hosts must be >= 1, got "
                         f"{max_links}/{n_hosts}")
    n = F.pmod(md5_60bit(F.col(url)), F.lit(int(max_links) + 1))
    parts = [F.lit("<html><body>"), F.col(text)]
    for j in range(max_links):
        parts.append(F.when(F.lit(j) < n, _anchor(F.col(url), j, n_hosts))
                     .otherwise(F.lit("")))
    parts.append(F.lit("</body></html>"))
    return df.withColumn(out, F.encode(F.concat(*parts), "utf-8"))


def planted_anchors_sql(pages_inner: str, n_hosts: int = 97,
                        max_links: int = 3) -> str:
    """DuckDB twin of :func:`with_planted_anchors`: url, html_s
    (VARCHAR — the pre-encode string; encode/decode are UTF-8 inverses
    so the Spark binary round-trip extracts from identical bytes)."""
    n = f"({md5_60bit_sql('url')}) % {int(max_links) + 1}"
    anchors = []
    for j in range(max_links):
        h = md5_60bit_sql(f"url || '#l{j}'")
        t = f"({h}) % {int(n_hosts)}"
        a = (f"'<a href=\"https://site-' || CAST({t} AS VARCHAR) || "
             f"'.example/p/{j}\">l{j}</a>'")
        anchors.append(f"CASE WHEN {j} < {n} THEN {a} ELSE '' END")
    body = " || ".join(["'<html><body>'", "text"] + anchors
                       + ["'</body></html>'"])
    return f"SELECT url, {body} AS html_s FROM ({pages_inner})"


# ---------------------------------------------------------------------------
# Anchor-text extraction + index ("what the web calls this host")
# ---------------------------------------------------------------------------

# Whole-tag match (group 0): href body and text body are negated
# classes, portable Java-regex/RE2, no backtracking.
ANCHOR_TAG_RE = '<a href="[^"]*">[^<]*</a>'
ANCHOR_TEXT_RE = ">([^<]*)</a>"

# deterministic link-text vocabulary for the rich planting builder
ANCHOR_VOCAB = ("maps", "news", "shop", "blog", "wiki",
                "forum", "docs", "mail")


def extract_anchor_texts(df: DataFrame, html: str = "html",
                         url: str = "url") -> DataFrame:
    """-> (url, pos int, link, link_host, anchor): like
    :func:`extract_links` but also captures the link TEXT — the
    relevance signal web search has ranked on since WWW1 ("anchor text
    describes the target better than the target describes itself").

    Same scale shape as extract_links: whole-tag regexp_extract_all in
    the scan projection (one decode, group 0), THEN per-element href /
    text extraction on the exploded rows — the html payload never
    crosses an exchange; Spark can't extract two groups in one
    regexp_extract_all pass, so the tag explode is the split point.
    """
    tags = F.expr(
        f"regexp_extract_all(decode({html}, 'UTF-8'), '{ANCHOR_TAG_RE}', 0)")
    return (df
            .select(F.col(url).alias("url"),
                    F.posexplode(tags).alias("pos", "tag"))
            .select("url", "pos",
                    F.regexp_extract("tag", '<a href="([^"]+)"', 1)
                    .alias("link"),
                    F.regexp_extract("tag", ANCHOR_TEXT_RE, 1)
                    .alias("anchor"))
            .withColumn("link_host",
                        F.regexp_extract("link", HOST_RE, 1))
            .select("url", "pos", "link", "link_host", "anchor"))


def extract_anchor_texts_sql(pages_html_inner: str) -> str:
    """DuckDB twin of :func:`extract_anchor_texts` (``html_s`` VARCHAR
    convention, same as extract_links_sql)."""
    return f"""
SELECT url, pos,
       regexp_extract(tag, '<a href="([^"]+)"', 1) AS link,
       regexp_extract(regexp_extract(tag, '<a href="([^"]+)"', 1),
                      '{HOST_RE}', 1) AS link_host,
       regexp_extract(tag, '{ANCHOR_TEXT_RE}', 1) AS anchor
FROM (
  SELECT url, CAST(unnest(range(len(ts))) AS INT) AS pos,
         unnest(ts) AS tag
  FROM (SELECT url, regexp_extract_all(html_s, '{ANCHOR_TAG_RE}', 0) AS ts
        FROM ({pages_html_inner}))
)
"""


def anchor_term_index(df: DataFrame, html: str = "html",
                      url: str = "url",
                      src_host_re: str = HOST_RE) -> DataFrame:
    """-> (dst_host, term, n_links long, n_src_hosts long): the
    host-level anchor-text index — for each target host, the terms the
    rest of the web uses when linking to it, with link counts and the
    number of DISTINCT source hosts using the term (the spam-resistant
    count: one link farm repeating a term is one source host).

    Scale: terms explode from the (already html-free) anchor rows; one
    corpus-scale exchange keyed by (dst_host, term, src_host) carries
    map-side-combined partials, then a bounded (dst_host, term)
    aggregation. Relative links (no host) are excluded; empty anchor
    texts tokenize to nothing and drop out.
    """
    ex = extract_anchor_texts(df, html=html, url=url)
    from .text import _tokens

    terms = (ex.where(F.col("link_host") != F.lit(""))
             .select(F.regexp_extract("url", src_host_re, 1)
                     .alias("src_host"),
                     F.col("link_host").alias("dst_host"),
                     F.explode(_tokens(F.col("anchor"))).alias("term"))
             .where(F.col("term") != F.lit("")))
    per_src = (terms.groupBy("dst_host", "term", "src_host")
               .agg(F.count(F.lit(1)).alias("n")))
    return (per_src.groupBy("dst_host", "term")
            .agg(F.sum("n").alias("n_links"),
                 F.count(F.lit(1)).alias("n_src_hosts")))


def anchor_term_index_sql(pages_html_inner: str,
                          src_host_re: str = HOST_RE) -> str:
    """DuckDB twin of :func:`anchor_term_index`."""
    ex = extract_anchor_texts_sql(pages_html_inner)
    return f"""
SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
FROM (
  SELECT regexp_extract(url, '{src_host_re}', 1) AS src_host,
         link_host AS dst_host,
         unnest(string_split_regex(trim(lower(anchor)), '\\s+')) AS term
  FROM ({ex}) WHERE link_host <> ''
) WHERE term <> ''
GROUP BY 1, 2
"""


def with_planted_rich_anchors(df: DataFrame, url: str = "url",
                              text: str = "text", n_hosts: int = 97,
                              max_links: int = 3,
                              out: str = "html") -> DataFrame:
    """Like :func:`with_planted_anchors` but each anchor's link text is
    a hash-chosen word from :data:`ANCHOR_VOCAB` (instead of the
    constant ``l{j}``), so anchor-text operators have a non-degenerate
    term distribution to aggregate. Pure projection, zero shuffle;
    :func:`planted_rich_anchors_sql` rebuilds identical bytes."""
    if max_links < 1 or n_hosts < 1:
        raise ValueError(f"max_links/n_hosts must be >= 1, got "
                         f"{max_links}/{n_hosts}")
    n = F.pmod(md5_60bit(F.col(url)), F.lit(int(max_links) + 1))
    parts = [F.lit("<html><body>"), F.col(text)]
    for j in range(max_links):
        t = F.pmod(md5_60bit(F.concat(F.col(url), F.lit(f"#l{j}"))),
                   F.lit(int(n_hosts)))
        w = F.pmod(md5_60bit(F.concat(F.col(url), F.lit(f"#w{j}"))),
                   F.lit(len(ANCHOR_VOCAB)))
        word = F.element_at(F.array(*[F.lit(v) for v in ANCHOR_VOCAB]),
                            w.cast("int") + 1)
        a = F.concat(F.lit('<a href="https://site-'), t.cast("string"),
                     F.lit(f'.example/p/{j}">'), word, F.lit("</a>"))
        parts.append(F.when(F.lit(j) < n, a).otherwise(F.lit("")))
    parts.append(F.lit("</body></html>"))
    return df.withColumn(out, F.encode(F.concat(*parts), "utf-8"))


# ---------------------------------------------------------------------------
# Geographic link locality ("does the web link locally?")
# ---------------------------------------------------------------------------

def with_planted_local_anchors(df: DataFrame, replicate: int,
                               url: str = "url", rep: str = "rep",
                               text: str = "text", max_links: int = 3,
                               out: str = "html") -> DataFrame:
    """Add an ``html`` binary column whose anchors target OTHER CORPUS
    PAGES — the j-th anchor points at the sibling replica
    ``md5(url#c{{j}}) % replicate`` of the same document (the page's own
    url with the trailing ``/rep`` segment swapped), so every absolute
    link resolves inside the pages table and :func:`link_locality`'s
    corpus self-join is exercised end-to-end with no external data.
    Anchor count per page is ``md5(url) % (max_links+1)`` (same
    convention as the other planting builders; zero-anchor pages
    included). Pure projection, zero shuffle;
    :func:`planted_local_anchors_sql` rebuilds identical bytes."""
    if max_links < 1 or replicate < 1:
        raise ValueError(f"max_links/replicate must be >= 1, got "
                         f"{max_links}/{replicate}")
    n = F.pmod(md5_60bit(F.col(url)), F.lit(int(max_links) + 1))
    # the url ends with "/<rep>"; strip exactly the rep digits
    base = F.col(url).substr(
        F.lit(1), F.length(url) - F.length(F.col(rep).cast("string")))
    parts = [F.lit("<html><body>"), F.col(text)]
    for j in range(max_links):
        t = F.pmod(md5_60bit(F.concat(F.col(url), F.lit(f"#c{j}"))),
                   F.lit(int(replicate)))
        a = F.concat(F.lit('<a href="'), base, t.cast("string"),
                     F.lit(f'">c{j}</a>'))
        parts.append(F.when(F.lit(j) < n, a).otherwise(F.lit("")))
    parts.append(F.lit("</body></html>"))
    return df.withColumn(out, F.encode(F.concat(*parts), "utf-8"))


def planted_local_anchors_sql(pages_inner: str, replicate: int,
                              max_links: int = 3) -> str:
    """DuckDB twin of :func:`with_planted_local_anchors` (url + html_s
    VARCHAR convention — encode/decode are UTF-8 inverses)."""
    n = f"({md5_60bit_sql('url')}) % {int(max_links) + 1}"
    base = "substr(url, 1, len(url) - len(CAST(rep AS VARCHAR)))"
    anchors = []
    for j in range(max_links):
        h = md5_60bit_sql(f"url || '#c{j}'")
        t = f"({h}) % {int(replicate)}"
        a = (f"'<a href=\"' || {base} || CAST({t} AS VARCHAR) || "
             f"'\">c{j}</a>'")
        anchors.append(f"CASE WHEN {j} < {n} THEN {a} ELSE '' END")
    body = " || ".join(["'<html><body>'", "text"] + anchors
                       + ["'</body></html>'"])
    return f"SELECT url, {body} AS html_s FROM ({pages_inner})"


def link_locality(df: DataFrame, html: str = "html", url: str = "url",
                  lat: str = "lat", lon: str = "lon",
                  band_m: int = 1_000_000, n_bands: int = 20) -> DataFrame:
    """-> (band int, n_links long, n_src_urls long, mean_km double):
    the geographic locality of hyperlinks — for each great-circle
    distance ring (band b covers [b*band_m, (b+1)*band_m); >= the last
    edge lands in overflow band ``n_bands``), how many resolved links
    connect a source page to a target page that far away.  "Does the
    web link locally?" is a classic web-measurement question; in a geo
    web corpus this histogram is the answer, and in a crawl pipeline
    its near-zero bands approximate intra-site/self links.

    Only links whose target url EXISTS in the corpus contribute (the
    inner join drops relative hrefs and out-of-crawl targets — the
    crawl-frontier residue a frontier op would consume instead).

    Cross-engine determinism: the band id buckets the micro-meter
    fixed-point distance (the distance_bands discipline — band edges
    are 6 decimal orders above libm trig wobble), while the per-band
    MEAN distance sums whole-metre legs (``exact.METRE``, the trip_stats
    discipline: sub-metre ticks sit within reach of the cross-engine
    trig wobble) into an exact decimal(38,0)/HUGEINT before one shared
    IEEE division tree — bit-identical on any layout, any cluster size.

    Scale shape (100 TB design point): extraction is a pure codegen
    projection (the html payload dies in the scan stage — only
    (src_url, lat, lon, link) string rows are exploded); the ONE
    corpus-scale exchange pair is the url-keyed equi-join of links
    against the pages url dim (both sides hash-partition on the key;
    AQE handles the skewed-target case — a viral page is one hot
    key), and the band aggregation collapses map-side into
    <= n_bands+1 rows. The BIGINT row values feed a decimal(38,0) sum,
    so the per-band accumulator cannot overflow below 10^25 links.
    """
    if band_m < 1 or n_bands < 1:
        raise ValueError(f"band_m/n_bands must be >= 1, got "
                         f"{band_m}/{n_bands}")
    from ..functions.native import haversine_m

    links = F.expr(
        f"regexp_extract_all(decode({html}, 'UTF-8'), '{HREF_RE}', 1)")
    src = (df.select(F.col(url).alias("src_url"),
                     F.col(lat).alias("__slat"),
                     F.col(lon).alias("__slon"),
                     F.explode(links).alias("link"))
           .where(F.col("link").rlike("^https?://")))
    dst = df.select(F.col(url).alias("link"),
                    F.col(lat).alias("__dlat"),
                    F.col(lon).alias("__dlon"))
    d = haversine_m("__slat", "__slon", "__dlat", "__dlon")
    fpd = MICRO.ticks(d)
    band = F.least(F.floor(fpd / F.lit(float(band_m * MICRO.scale))),
                   F.lit(int(n_bands))).cast("int")
    return (src.join(dst, "link")
            .select(band.alias("band"), METRE.ticks(d).alias("__m"),
                    "src_url")
            .groupBy("band")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("src_url").alias("n_src_urls"),
                 MICRO.round((F.sum(F.col("__m").cast("decimal(38,0)"))
                              .cast("double") / F.count(F.lit(1)).cast("double"))
                             / F.lit(1000.0)).alias("mean_km")))


def link_locality_sql(pages_html_inner: str, pages_inner: str,
                      band_m: int = 1_000_000, n_bands: int = 20) -> str:
    """DuckDB twin of :func:`link_locality`: extraction replay over
    ``html_s``, two url-equality joins against the pages table for the
    source/target coordinates (the Spark side carries source coords
    through the explode instead — url -> (lat, lon) is functional, so
    the values agree), same fixed-point band and whole-metre mean."""
    from ..functions.native import DUCKDB, haversine_sql

    ex = extract_links_sql(pages_html_inner)
    d = haversine_sql("p1.lat", "p1.lon", "p2.lat", "p2.lon", DUCKDB)
    fpd = MICRO.ticks_sql(d)
    band = (f"CAST(least(floor({fpd} / {float(band_m * MICRO.scale)!r}), "
            f"{int(n_bands)}) AS INT)")
    mean = MICRO.round_sql("(CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE))"
                           " / 1000.0")
    return f"""
SELECT band, CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT src_url) AS BIGINT) AS n_src_urls,
       {mean} AS mean_km
FROM (
  SELECT {band} AS band, {METRE.ticks_sql(d)} AS m, e.url AS src_url
  FROM ({ex}) e
  JOIN ({pages_inner}) p1 ON e.url = p1.url
  JOIN ({pages_inner}) p2 ON e.link = p2.url
) GROUP BY band
"""


def planted_rich_anchors_sql(pages_inner: str, n_hosts: int = 97,
                             max_links: int = 3) -> str:
    """DuckDB twin of :func:`with_planted_rich_anchors` (url + html_s)."""
    n = f"({md5_60bit_sql('url')}) % {int(max_links) + 1}"
    vocab = ", ".join(f"'{v}'" for v in ANCHOR_VOCAB)
    anchors = []
    for j in range(max_links):
        h = md5_60bit_sql(f"url || '#l{j}'")
        t = f"({h}) % {int(n_hosts)}"
        hw = md5_60bit_sql(f"url || '#w{j}'")
        w = f"list_value({vocab})[CAST(({hw}) % {len(ANCHOR_VOCAB)} AS INT) + 1]"
        a = (f"'<a href=\"https://site-' || CAST({t} AS VARCHAR) || "
             f"'.example/p/{j}\">' || {w} || '</a>'")
        anchors.append(f"CASE WHEN {j} < {n} THEN {a} ELSE '' END")
    body = " || ".join(["'<html><body>'", "text"] + anchors
                       + ["'</body></html>'"])
    return f"SELECT url, {body} AS html_s FROM ({pages_inner})"


def with_planted_mixed_anchors(df: DataFrame, replicate: int,
                               url: str = "url", rep: str = "rep",
                               text: str = "text", max_links: int = 3,
                               n_ext_hosts: int = 61,
                               out: str = "html") -> DataFrame:
    """Add an ``html`` binary column mixing BOTH anchor kinds: the j-th
    anchor is a resolving link to the sibling corpus replica
    ``md5(url#c{{j}}) % replicate`` when ``md5(url#m{{j}})`` is even,
    else an OFF-CORPUS link to ``https://ext-{{md5(url#e{{j}}) %
    n_ext_hosts}}.example/p/{{j}}`` — so a frontier operator's
    known/unknown split has both branches live on every page batch.
    Anchor count per page is ``md5(url) % (max_links+1)``, matching the
    other planting builders. Pure projection, zero shuffle;
    :func:`planted_mixed_anchors_sql` rebuilds identical bytes."""
    if max_links < 1 or replicate < 1 or n_ext_hosts < 1:
        raise ValueError(f"max_links/replicate/n_ext_hosts must be >= 1, "
                         f"got {max_links}/{replicate}/{n_ext_hosts}")
    n = F.pmod(md5_60bit(F.col(url)), F.lit(int(max_links) + 1))
    base = F.col(url).substr(
        F.lit(1), F.length(url) - F.length(F.col(rep).cast("string")))
    parts = [F.lit("<html><body>"), F.col(text)]
    for j in range(max_links):
        pick = F.pmod(md5_60bit(F.concat(F.col(url), F.lit(f"#m{j}"))),
                      F.lit(2))
        t = F.pmod(md5_60bit(F.concat(F.col(url), F.lit(f"#c{j}"))),
                   F.lit(int(replicate)))
        local = F.concat(F.lit('<a href="'), base, t.cast("string"),
                         F.lit(f'">c{j}</a>'))
        e = F.pmod(md5_60bit(F.concat(F.col(url), F.lit(f"#e{j}"))),
                   F.lit(int(n_ext_hosts)))
        ext = F.concat(F.lit('<a href="https://ext-'), e.cast("string"),
                       F.lit(f'.example/p/{j}">e{j}</a>'))
        a = F.when(pick == 0, local).otherwise(ext)
        parts.append(F.when(F.lit(j) < n, a).otherwise(F.lit("")))
    parts.append(F.lit("</body></html>"))
    return df.withColumn(out, F.encode(F.concat(*parts), "utf-8"))


def planted_mixed_anchors_sql(pages_inner: str, replicate: int,
                              max_links: int = 3,
                              n_ext_hosts: int = 61) -> str:
    """DuckDB twin of :func:`with_planted_mixed_anchors` (url + html_s)."""
    n = f"({md5_60bit_sql('url')}) % {int(max_links) + 1}"
    base = "substr(url, 1, len(url) - len(CAST(rep AS VARCHAR)))"
    anchors = []
    for j in range(max_links):
        h_pick = md5_60bit_sql(f"url || '#m{j}'")
        h_t = md5_60bit_sql(f"url || '#c{j}'")
        h_e = md5_60bit_sql(f"url || '#e{j}'")
        pick = f"({h_pick}) % 2"
        t = f"({h_t}) % {int(replicate)}"
        local = (f"'<a href=\"' || {base} || CAST({t} AS VARCHAR) || "
                 f"'\">c{j}</a>'")
        e = f"({h_e}) % {int(n_ext_hosts)}"
        ext = (f"'<a href=\"https://ext-' || CAST({e} AS VARCHAR) || "
               f"'.example/p/{j}\">e{j}</a>'")
        a = f"CASE WHEN {pick} = 0 THEN {local} ELSE {ext} END"
        anchors.append(f"CASE WHEN {j} < {n} THEN {a} ELSE '' END")
    body = " || ".join(["'<html><body>'", "text"] + anchors
                       + ["'</body></html>'"])
    return f"SELECT url, rep, {body} AS html_s FROM ({pages_inner})"


def frontier_hosts(df: DataFrame, html: str = "html",
                   url: str = "url") -> DataFrame:
    """-> (host, n_links, n_src_urls, sample_url): the crawl FRONTIER
    aggregated by target host — absolute outlinks whose target url is
    NOT already in the corpus, i.e. exactly the rows a crawler feeds
    back into scheduling (:func:`~geohash_dotnet_spark.operators.crawl.
    crawl_slots` consumes the per-host expansion this ranks).
    ``n_src_urls`` (distinct linking pages) is the spam-resistant
    priority signal — a link farm inflates n_links, not source
    diversity; ``sample_url`` = min(link) is a deterministic witness.

    Scale shape (100 TB): extraction is the same codegen scan
    projection as every links operator (the html payload dies in the
    scan stage); the known/unknown split is ONE url-keyed LEFT ANTI
    join — link rows against the corpus url dim, both sides
    hash-partitioned on the key, the exact complement of
    link_locality's inner join; the host aggregation collapses
    map-side (pages linking one host repeatedly shrink before the
    exchange). Relative links are dropped explicitly (they resolve
    against a base url upstream of scheduling).
    """
    links = F.expr(
        f"regexp_extract_all(decode({html}, 'UTF-8'), '{HREF_RE}', 1)")
    src = (df.select(F.col(url).alias("src_url"),
                     F.explode(links).alias("link"))
           .where(F.col("link").rlike("^https?://")))
    known = df.select(F.col(url).alias("link"))
    return (src.join(known, "link", "left_anti")
            .withColumn("host", F.regexp_extract("link", HOST_RE, 1))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("src_url").alias("n_src_urls"),
                 F.min("link").alias("sample_url")))


def frontier_hosts_sql(pages_html_inner: str, pages_inner: str) -> str:
    """DuckDB twin of :func:`frontier_hosts`: extraction replay + ANTI
    JOIN against the corpus urls + host aggregation."""
    ex = extract_links_sql(pages_html_inner)
    return f"""
SELECT regexp_extract(link, '{HOST_RE}', 1) AS host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT src_url) AS BIGINT) AS n_src_urls,
       min(link) AS sample_url
FROM (
  SELECT e.url AS src_url, e.link
  FROM ({ex}) e
  ANTI JOIN ({pages_inner}) p ON e.link = p.url
  WHERE regexp_matches(e.link, '^https?://')
)
GROUP BY 1
"""
