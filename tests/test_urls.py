"""URL canonicalization (operators/urls.py): known-pair equivalences,
non-equivalences that must NOT collapse, totality on free text, and the
min-id URL dedup."""

from __future__ import annotations

from ffi_export_etl_spark.operators.urls import canonicalize_url, dedup_by_url


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r[0] for r in df.select(canonicalize_url("url")).collect()
    ]


def test_equivalent_variants_collapse(spark):
    groups = [
        [  # scheme-less, case, www, default port, tracking, order, slash
            "http://WWW.Example.com:80/a/?utm_source=x&b=2&a=1#frag",
            "example.com/a?b=2&a=1",
            "http://example.com/a/?a=1&b=2&gclid=123",
            "http://user@example.com/a?a=1&b=2",
            "https://example.com/a?a=1&b=2",   # https folds with http
            "//example.com/a?a=1&b=2",         # protocol-relative
            "http://example.com/a?a=1&b=2&UTM_Source=x",  # case-insens
        ],
        [
            "https://News.Site.org:443/path/sub/",
            "https://news.site.org/path/sub",
        ],
        ["http://host.tld", "http://host.tld/", "HOST.tld"],
    ]
    for g in groups:
        canon = set(_canon(spark, g))
        assert len(canon) == 1, (g, canon)


def test_distinct_resources_stay_distinct(spark):
    urls = [
        "http://example.com/a",      # vs different path
        "http://example.com/b",
        "https://example.com/a?x=1", # vs different param VALUE
        "https://example.com/a?x=2",
        "http://sub.example.com/a",  # subdomain is a different host
        "http://example.com:8080/a", # non-default port kept
        "ftp://example.com/a",       # non-http scheme kept
    ]
    canon = _canon(spark, urls)
    assert len(set(canon)) == len(urls), canon
    assert "http://example.com:8080/a" in canon
    assert "ftp://example.com/a" in canon


def test_schemeless_host_with_port_is_a_url(spark):
    """A colon + digits after the host is a PORT, not an opaque scheme:
    scheme-less 'example.com:8080/a' must still canonicalize and
    collapse with its explicit-scheme spelling."""
    rows = [
        (1, "http://example.com:8080/a"),
        (2, "example.com:8080/a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    assert sorted(r["doc_id"] for r in dedup_by_url(docs).collect()) == [1]


def test_total_on_free_text(spark):
    canon = _canon(spark, ["not a url", "localhost", "  Mixed Case  "])
    assert canon == ["not a url", "localhost", "mixed case"]


def test_dedup_by_url_keeps_min_id(spark):
    rows = [
        (3, "http://example.com/a?utm_source=x"),
        (1, "example.com/a"),
        (2, "http://example.com/b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    out = dedup_by_url(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2]
    (row,) = out.filter("doc_id = 1").collect()
    assert row["canonical_url"] == "http://example.com/a"


def test_dedup_urls_composes_in_curation(spark):
    """--dedup-urls path: two docs that are the same resource modulo
    tracking params collapse to the min-id copy BEFORE content dedup;
    distinct resources survive."""
    from ffi_export_etl_spark.plans.curation import (
        curate_documents,
        release_curation_caches,
    )

    text_a = " ".join(f"a{i}" for i in range(30))
    text_b = " ".join(f"b{i}" for i in range(30))
    rows = [
        (1, "http://example.com/a?utm_source=x", "web", text_a),
        (2, "example.com/a", "web", text_a + " tail"),
        (3, "http://example.com/b", "web", text_b),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, source string, text string"
    )
    out = curate_documents(
        docs, min_words=5, url_col="url", dedup_urls=True
    )
    try:
        ids = {r["id"] for r in out.collect()}
    finally:
        release_curation_caches(out)
    assert ids == {1, 3}


def test_null_empty_and_freetext_never_collapse(spark):
    """The silent-data-loss guard: docs whose url is NULL, empty, or
    free text must ALL survive dedup_by_url — only rows that parse as
    real URLs participate in the collapse."""
    rows = [
        (1, None), (2, None), (3, ""), (4, ""),
        (5, "not a url"), (6, "not a url"),
        (7, "http://example.com/a"), (8, "example.com/a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    ids = sorted(r["doc_id"] for r in dedup_by_url(docs).collect())
    assert ids == [1, 2, 3, 4, 5, 6, 7]  # only the URL pair collapsed


def test_dotted_freetext_and_mailto_never_collapse(spark):
    """Advisor case: free text containing a dot, and mailto: values
    (opaque scheme — parses as userinfo@host without the guard), must
    NOT classify as URLs: distinct docs sharing such a value all
    survive."""
    rows = [
        (1, "Mr. Smith goes to Washington"),
        (2, "Mr. Smith goes to Washington"),
        (3, "mailto:user@host.com"),
        (4, "mailto:user@host.com"),
        (5, "host.com and more text"),   # whitespace after a host shape
        (6, "host.com and more text"),
        (7, "tel:+1.555.0100"),
        (8, "tel:+1.555.0100"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    out = dedup_by_url(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2, 3, 4, 5, 6, 7, 8]
    # and the canonical column is the lowercased passthrough, never a
    # fabricated http://host form
    canon = {r["doc_id"]: r["canonical_url"] for r in out.collect()}
    assert canon[3] == "mailto:user@host.com"
    assert canon[5] == "host.com and more text"


def test_bare_ref_param_is_a_resource_selector(spark):
    """Advisor case: ?ref=<branch>-style params select a real resource;
    the default tracker list must NOT strip them."""
    rows = [
        (1, "http://code.example.com/repo/file?ref=main"),
        (2, "http://code.example.com/repo/file?ref=dev"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    assert dedup_by_url(docs).count() == 2
