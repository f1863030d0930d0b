"""HTML -> text extraction for web-crawl curation pipelines.

The stage BEFORE everything else in a crawl pipeline: raw HTML from a
WARC/crawl dump becomes plain text (the form WET files ship
pre-extracted; this operator covers corpora that arrive as raw HTML).
Reference scope: the reference ETL consumes pre-extracted exports, so
this is extension surface for the LLM-data path, mirroring the
C4/CCNet/RefinedWeb extraction stage in spirit: drop script/style/head
machinery, turn block boundaries into newlines, strip remaining markup,
decode the common entities, and normalize whitespace.

Everything is a chain of native ``regexp_replace`` Column expressions —
JVM-side, whole-stage codegen, zero Python per row — so extracting text
from 100 TB of HTML is exactly one scan. The rule table below is the
single source of truth: the Spark chain AND the DuckDB oracle twin are
generated from it, so query and oracle can never drift. Every pattern is
RE2-safe (no backreferences, no lookaround) so Java regex and DuckDB's
RE2 match identically.

This is a high-recall text extractor, not a DOM parser: pathological
markup (unclosed <script>, tags split across attribute quotes, CDATA)
degrades gracefully to over-stripping rather than leaking markup.
Boilerplate REMOVAL (nav/footer lines repeated across pages) is a
separate corpus-level op — operators/textproc.strip_boilerplate_lines —
by design: extraction is per-row and shuffle-free, boilerplate needs
cross-document counts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Block-level elements whose CLOSE (or self-closing void form) marks a
# line boundary in the extracted text.
_VOID_BREAK = "br|hr"
_BLOCK_CLOSE = (
    "p|div|li|tr|td|th|h[1-6]|blockquote|pre|title|table|ul|ol|dl|dd|dt|"
    "section|article|header|footer|figure|figcaption|form|option"
)

# (pattern, replacement), applied in order. Order matters:
# containers with machine content (script/style/head) go first so their
# BODIES vanish; comments before the generic tag strip (a comment is not
# a tag); block boundaries before the generic strip (which would eat the
# tag before it could emit its newline); entities after all tag work
# (&lt;div&gt; must NOT become a strippable tag) with &amp; LAST
# (&amp;lt; decodes to the literal text "&lt;", never twice to "<");
# whitespace collapse at the very end.
HTML_RULES: tuple[tuple[str, str], ...] = (
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    # an UNPAIRED <script>/<style> (crash-truncated page) can only remain
    # after the paired rules ran: drop to end-of-document rather than
    # leaking code into the corpus
    (r"(?is)<script\b[^>]*>.*", " "),
    (r"(?is)<style\b[^>]*>.*", " "),
    (r"(?is)<head\b[^>]*>.*?</head\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (rf"(?i)<(?:{_VOID_BREAK})\b[^>]*>", "\n"),
    (rf"(?i)</(?:{_BLOCK_CLOSE})\b[^>]*>", "\n"),
    # generic tag strip: requires a letter, '/', or '!' after '<' so free
    # text like "a < b" or "x <3" is never eaten; inline tags (<b>, <a>)
    # are zero-width so words wrapped in them do not split
    (r"</?[a-zA-Z!][^>]*>", ""),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#34;", '"'),
    (r"&apos;", "'"),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    # whitespace: collapse horizontal runs, trim around newlines, cap
    # blank runs at one empty line (paragraph break)
    (r"[ \t\r\f]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
    # trim() strips only spaces in BOTH engines — newline edges need a rule
    (r"^\n+|\n+$", ""),
)

_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title"
_HREF_RE = r'(?i)href\s*=\s*"([^"]*)"'


def html_to_text(col: Column | str) -> Column:
    """Plain text of an HTML document: script/style/head bodies and
    comments dropped, block boundaries as newlines, tags stripped,
    common entities decoded, whitespace normalized."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, repl in HTML_RULES:
        c = F.regexp_replace(c, pattern, repl)
    return F.trim(c)


def extract_title(col: Column | str) -> Column:
    """Raw inner text of the first <title> element ('' when absent).
    Entities stay encoded — the title is metadata, pair with
    :func:`html_to_text`'s entity rules if decoded form is needed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, _TITLE_RE, 1)


def extract_links(col: Column | str) -> Column:
    """Array of double-quoted href attribute values, document order —
    the link-graph / URL-frontier feed. Single-quoted and bare href
    values are out of scope (rare in crawl HTML, and supporting them
    needs alternation both engines must agree on; documented
    limitation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(_HREF_RE), 1)


def _sql_str(s: str) -> str:
    """Render a replacement/pattern as a DuckDB string literal; newline
    replacements use an E-string so the generated SQL stays one line."""
    if "\n" in s:
        return "e'" + s.replace("'", "''").replace("\n", r"\n") + "'"
    return "'" + s.replace("'", "''") + "'"


def html_to_text_sql(col: str) -> str:
    """DuckDB twin of :func:`html_to_text`, generated from the SAME
    HTML_RULES table (regexp_replace with the 'g' flag — DuckDB replaces
    first-match-only by default, Spark replaces all)."""
    expr = col
    for pattern, repl in HTML_RULES:
        expr = (
            f"regexp_replace({expr}, {_sql_str(pattern)},"
            f" {_sql_str(repl)}, 'g')"
        )
    return f"trim({expr})"


def extract_title_sql(col: str) -> str:
    """DuckDB twin of :func:`extract_title`."""
    return f"regexp_extract({col}, {_sql_str(_TITLE_RE)}, 1)"


def n_links_sql(col: str) -> str:
    """DuckDB twin of ``size(extract_links(col))``."""
    return f"len(regexp_extract_all({col}, {_sql_str(_HREF_RE)}, 1))"
