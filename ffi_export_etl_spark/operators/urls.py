"""URL canonicalization + URL-grain dedup — the step web-corpus
pipelines run BEFORE content dedup: the same page crawled as
``http://WWW.Example.com:80/a/?utm_source=x&b=2&a=1#frag`` and
``https://example.com/a?a=1&b=2`` must collapse to one canonical key so
recrawls and tracking-parameter variants never reach the (much more
expensive) content-dedup stages.

Everything is a chained Column expression — regexp extracts, a
higher-order filter/sort over the query parameters, string rebuild —
so canonicalization is one codegen'd projection over the scan: no UDF,
no URL-parser library in the row loop, no shuffle. The dedup is one
hash-partitioned aggregation on the canonical key (min-id keeper, the
engine's uniform keeper rule).

Reference parity note: the reference engine has no web/URL surface
(extension family — complements textproc.filter_blocked_domains).

Canonical form (the common normalization set — this is a DEDUP key,
not a fetchable address):
  - ``http`` and ``https`` fold together (an http->https site
    migration is the most common recrawl variant); other schemes stay
    distinct; scheme-less and protocol-relative (``//host/p``) inputs
    parse as web URLs
  - host lowercased; ``www.`` prefix dropped
  - userinfo stripped; default ports (http:80, https:443) stripped
  - fragment stripped
  - tracking query parameters removed case-insensitively (``utm_*``,
    gclid, fbclid, msclkid, igshid, mc_*; deliberately NOT bare
    ``ref``, which sites use as a real resource selector), remaining
    parameters SORTED for order-insensitivity
  - trailing ``/`` trimmed (so ``/a/`` == ``/a``; bare host keeps none)
Non-URL strings (no ``host.tld`` shape, including NULL/empty) pass
through trimmed+lowercased so the expression is total — and
``dedup_by_url`` NEVER groups them: only rows whose value parses as a
real URL participate in the collapse (a mixed corpus where non-web
docs carry url=NULL must not lose that slice to one arbitrary keeper).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["canonicalize_url", "dedup_by_url", "TRACKING_PARAM_RE"]

# parameter names that identify a tracking variant, not a resource.
# Deliberately ONLY the unambiguous trackers: bare `ref` (and friends)
# double as genuine resource selectors on many sites (?ref=<branch>),
# and stripping one would collapse distinct pages.
TRACKING_PARAM_RE = (
    r"^(utm_[a-z]+|gclid|fbclid|msclkid|igshid|mc_cid|mc_eid)="
)

_URL_RE = (
    r"^(?:([a-zA-Z][a-zA-Z0-9+.-]*)://)?"  # 1 scheme
    r"(?:[^@/?#]*@)?"                        # userinfo (dropped)
    # host: label charset only (alnum, dots, hyphens; alnum at the
    # edges) — NOT a lazy "anything up to the delimiter": free text
    # with a dot ('Mr. Smith goes to Washington') must not parse as a
    # host or dedup_by_url would collapse unrelated documents
    r"([A-Za-z0-9](?:[A-Za-z0-9.-]*[A-Za-z0-9])?)"  # 2 host
    r"(?::([0-9]+))?"                        # 3 port
    r"([/][^?#]*)?"                          # 4 path
    r"(?:\?([^#]*))?"                        # 5 query
)


def _is_url(col: Column | str) -> Column:
    """True when the value parses as a real URL: dotted label-charset
    host, no whitespace anywhere, and no opaque (non-``//``) scheme —
    ``mailto:user@host.com`` is an address, not a web page, and must
    never enter the dedup collapse. A colon followed by digits is a
    PORT (``example.com:8080/a`` is scheme-less host+port, not an
    opaque scheme), so the lookahead admits it."""
    c = F.regexp_replace(
        F.trim(F.col(col) if isinstance(col, str) else col), r"^//", ""
    )
    return (
        F.lower(F.regexp_extract(c, _URL_RE, 2)).rlike(r"^[^.]+\.[^.]+")
        & ~c.rlike(r"\s")
        & ~c.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:(?![/][/]|[0-9])")
    )


def canonicalize_url(col: Column | str) -> Column:
    """Canonical URL string as a pure Column expression (see module
    docstring for the normalization set). Query parameters matching
    ``TRACKING_PARAM_RE`` (case-insensitive, anchored) are stripped."""
    raw = F.trim(F.col(col) if isinstance(col, str) else col)
    # protocol-relative '//host/p' is a web URL with the scheme elided
    c = F.regexp_replace(raw, r"^//", "")
    scheme = F.lower(F.regexp_extract(c, _URL_RE, 1))
    scheme = F.when(scheme == "", F.lit("http")).otherwise(scheme)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(c, _URL_RE, 2)), r"^www\.", ""
    )
    port = F.regexp_extract(c, _URL_RE, 3)
    port = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    # DEDUP key: http and https variants of a page are the same page
    # (the docstring's motivating recrawl case); other schemes distinct
    scheme = F.when(scheme == "https", F.lit("http")).otherwise(scheme)
    path = F.regexp_extract(c, _URL_RE, 4)
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(c, _URL_RE, 5)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            # tracking-param names match case-insensitively (UTM_Source
            # and utm_source are the same tracker)
            lambda p: (p != "") & ~F.lower(p).rlike(TRACKING_PARAM_RE),
        )
    )
    qtail = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    # same URL-ness test as _is_url (dotted label host, no whitespace,
    # no opaque scheme); otherwise the input is free text — return it
    # trimmed+lowercased so the expression is total (mirrors
    # extract_domain's '' convention)
    return F.when(
        host.rlike(r"^[^.]+\.[^.]+")
        & ~c.rlike(r"\s")
        & ~c.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:(?![/][/]|[0-9])"),
        F.concat(scheme, F.lit("://"), host, port, path, qtail),
    ).otherwise(F.lower(raw))


def dedup_by_url(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one document per canonical URL — the min-id occurrence (the
    engine's uniform keeper rule). One codegen'd projection + one
    hash aggregation on the canonical key; schema-preserving plus a
    ``canonical_url`` column on the survivors.

    Only rows whose value PARSES as a URL participate in the collapse:
    NULL / empty / free-text values pass through untouched — grouping
    them would silently drop every non-web doc but one (they all share
    a canonical key like NULL or '')."""
    keyed = docs.withColumn(
        "canonical_url",
        canonicalize_url(url_col),
    )
    urlish = F.col(url_col).isNotNull() & _is_url(url_col)
    keepers = (
        keyed.filter(urlish)
        .groupBy("canonical_url")
        .agg(F.min(F.col(id_col)).alias(id_col))
        .select(id_col)
    )
    return keyed.filter(~urlish | F.col(url_col).isNull()).unionByName(
        keyed.filter(urlish).join(keepers, id_col, "left_semi")
    )
