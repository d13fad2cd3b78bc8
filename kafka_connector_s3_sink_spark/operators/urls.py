"""URL hygiene for crawl pipelines: host extraction, tracking-parameter
stripping, registrable-domain grouping — all JVM Column regexp.

A 100 TB crawl keys politeness, dedup blocking, and mixture weights on the
registrable domain, and URL-level dedup is hopeless until tracking params
and fragments are stripped (the same page arrives under millions of
``utm_*`` variants). Everything here is a deterministic regex chain —
deliberately NOT ``parse_url`` (whose Java semantics an external oracle
can't reproduce): the patterns avoid backreferences so an RE2 engine
(DuckDB) runs the identical expressions, and the oracle gate does exactly
that (``text_corpus_stats`` ``url_domains`` branch).

Registrable-domain extraction is a HEURISTIC public-suffix rule (last two
labels, three under common two-part TLDs like ``co.uk``) — the full PSL is
a data file, not an algorithm; swap ``_TWO_PART_TLDS`` for a broadcast of
the real list in production. Unmatched/relative/garbage URLs yield null at
every step rather than erroring: crawl frontiers are full of them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scheme://[userinfo@]HOST[:port]  — host is everything up to :/?#
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"

# common two-part public suffixes (heuristic core; production: broadcast PSL)
_TWO_PART_TLDS = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.nz", "co.za", "com.sg", "com.tr",
)

# params that identify campaigns/clicks, not content. Anchored to a '?'/'&'
# separator (captured and re-emitted on replace) so substrings of LONGER
# param names never match ('?xutm_source=1', 'begclid=7' are content params);
# a lookbehind would read nicer but RE2 (the DuckDB oracle) lacks lookbehinds.
_TRACKING_PARAM_RE = r"([?&])(?:utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref_src)=[^&#]*"


def url_host(url: Column) -> Column:
    """Lowercased host of an absolute URL (userinfo and port stripped);
    null for relative or unparseable input."""
    host = F.regexp_extract(url, _HOST_RE, 1)
    return F.lower(F.nullif(host, F.lit("")))


def registrable_domain(url: Column) -> Column:
    """Heuristic registrable domain of the URL's host: the last two labels,
    or three when the last two form a known two-part TLD (``a.b.co.uk`` →
    ``b.co.uk``)."""
    host = url_host(url)
    two_part = "|".join(t.replace(".", r"\.") for t in _TWO_PART_TLDS)
    three = F.regexp_extract(host, rf"([^.]+\.(?:{two_part}))$", 1)
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return F.nullif(F.when(three != "", three).otherwise(two), F.lit(""))


def strip_tracking(url: Column) -> Column:
    """Drop the fragment and campaign/click parameters (``utm_*``, ``fbclid``,
    ``gclid``, …), then tidy separator artifacts — the canonical form for
    URL-level dedup. Content-bearing params survive untouched."""
    u = F.regexp_replace(url, r"#.*$", "")
    u = F.regexp_replace(u, _TRACKING_PARAM_RE, "$1")
    # collapse empty-param artifacts: '?&' -> '?', '&&' -> '&', trailing ?/&
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, r"&&+", "&")
    return F.regexp_replace(u, r"[?&]+$", "")


def domain_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-registrable-domain rollup: page count, distinct hosts, distinct
    canonical URLs (post ``strip_tracking``) — the table a crawl scheduler
    and a mixture-weights step both read. One hash shuffle with map-side
    partial aggregation; null-domain (unparseable) rows roll up under null
    so nothing is silently dropped."""
    u = F.col(url_col)
    return (
        df.select(
            registrable_domain(u).alias("domain"),
            url_host(u).alias("host"),
            strip_tracking(u).alias("canonical"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("host").alias("n_hosts"),
            F.countDistinct("canonical").alias("n_canonical"),
        )
    )
