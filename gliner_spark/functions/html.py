"""HTML → text/metadata column functions.

The north-rule input table carries raw page markup
(``html binary`` next to ``text string``, see
``gliner_spark/sources/pages.py``); a real Common-Crawl pipeline
derives the ``text`` column from that markup before any NER pass, and
derives the web link graph (href targets per page) that feeds
host-level analytics (degree / PageRank over hosts instead of
entities). Everything here is pure built-in expressions (regexp +
string ops, JVM-side, codegen'd, shuffle-free) so a 100 TB pass is a
single map stage with the binary column pruned right after decode.

The regexes avoid backreferences and lookarounds so a DuckDB/RE2
oracle computes the identical function (inline ``(?is)`` flags and
lazy quantifiers are common to Java regex and RE2).

Extraction rules, applied in order (each independently testable):
  1. drop comments ``<!-- … -->``;
  2. drop ``<script>``/``<style>`` elements including their content,
     then the whole ``<head>`` element (title/meta are metadata, not
     visible text — ``html_title`` reads the raw markup separately);
  3. closing block-level tags (``</p> </div> </h1..6> </li> </tr>
     </table> </ul> </ol> </blockquote>``) and ``<br>`` become
     newlines (paragraph structure survives for the repetition /
     quality filters downstream);
  4. every remaining tag becomes a single space;
  5. decode the five XML entities plus ``&nbsp;`` (``&amp;`` last, so
     ``&amp;lt;`` correctly yields the literal ``&lt;``);
  6. collapse horizontal whitespace, collapse newline runs, trim.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_COMMENT = "(?s)<!--.*?-->"
_SCRIPT = "(?is)<script\\b[^>]*>.*?</script\\s*>"
_STYLE = "(?is)<style\\b[^>]*>.*?</style\\s*>"
_HEAD = "(?is)<head\\b[^>]*>.*?</head\\s*>"
_BLOCK_CLOSE = (
    "(?is)</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote)\\s*>|<br\\s*/?>"
)
_ANY_TAG = "(?s)<[^>]*>"
_HREF = "(?is)<a\\s[^>]*?href=\"([^\"]*)\""
_A_TAG = "(?is)<a\\s[^>]*?href=\"([^\"]*)\"[^>]*>(.*?)</a\\s*>"
_TITLE = "(?is)<title[^>]*>(.*?)</title\\s*>"

#: (pattern, replacement) pairs for entity decoding — ``&amp;`` LAST.
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _strip_markup(t: Column) -> Column:
    t = F.regexp_replace(t, _COMMENT, "")
    t = F.regexp_replace(t, _SCRIPT, "")
    t = F.regexp_replace(t, _STYLE, "")
    t = F.regexp_replace(t, _HEAD, "")
    t = F.regexp_replace(t, _BLOCK_CLOSE, "\n")
    return F.regexp_replace(t, _ANY_TAG, " ")


def _decode_entities(t: Column) -> Column:
    for pat, rep in _ENTITIES:
        t = F.replace(t, F.lit(pat), F.lit(rep))
    return t


def _normalize_ws(t: Column) -> Column:
    t = F.regexp_replace(t, "[ \\t\\r\\x0b\\f]+", " ")
    t = F.regexp_replace(t, " ?\\n[ \\n]*", "\n")
    return F.regexp_replace(t, "^[\\s]+|[\\s]+$", "")


def html_to_text(html: Column) -> Column:
    """Visible text of an HTML string column (rules in module
    docstring). Deterministic, total: non-HTML input passes through
    with only entity/whitespace normalization."""
    return _normalize_ws(_decode_entities(_strip_markup(html)))


def html_title(html: Column) -> Column:
    """``<title>`` content, entity-decoded and whitespace-normalized;
    empty string when the document has no title element."""
    return _normalize_ws(_decode_entities(F.regexp_extract(html, _TITLE, 1)))


def _inline_text(t: Column) -> Column:
    """Visible text of an inline fragment (anchor body): strip tags,
    decode entities, normalize whitespace — no block handling."""
    return _normalize_ws(_decode_entities(F.regexp_replace(t, _ANY_TAG, " ")))


def html_anchors(html: Column) -> Column:
    """``array<struct<href, anchor>>`` — link targets paired with their
    visible anchor text (inline markup stripped, entities decoded).
    Anchor text is the classic weak-supervision signal for entity
    linking: the web's own labels for what a URL points at. Two
    ``regexp_extract_all`` passes over the SAME pattern yield aligned
    lists (identical match set), zipped element-wise — all expressions,
    no UDF."""
    hrefs = F.regexp_extract_all(html, F.lit(_A_TAG), 1)
    anchors = F.regexp_extract_all(html, F.lit(_A_TAG), 2)
    return F.zip_with(
        hrefs,
        anchors,
        lambda h, a: F.struct(
            h.alias("href"), _inline_text(a).alias("anchor")
        ),
    )


def html_links(html: Column) -> Column:
    """``array<string>`` of raw ``href`` targets of ``<a>`` elements
    (double-quoted attributes — CC-style extractors normalize quoting
    upstream). Order of appearance preserved; no dedup (the link-graph
    aggregation counts multiplicity)."""
    return F.regexp_extract_all(html, F.lit(_HREF), 1)
