"""HTML link / canonical / robots-meta extraction, vectorized.

From-scratch regex-stream extractor with the semantics of the
reference's ``HtmlLinkExtractor``
(crawler/web/.../link/impl/HtmlLinkExtractor.java, config defaults at
HtmlLinkExtractorConfig.java):

* default tag set ``a[href] frame[src] iframe[src] img[src]
  meta[http-equiv=refresh]`` (:117-121);
* ``<base href>`` resolution for relative links;
* ``rel="nofollow"`` anchors skipped (:75-78);
* max URL length 2048 (:43); schemes http/https/ftp only (:46).

Canonical detection mirrors ``GenericCanonicalLinkDetector``
(web/.../canon/impl/GenericCanonicalLinkDetector.java:122-156 —
``<link rel=canonical>`` in the document head only). Robots-meta
mirrors ``StandardRobotsMetaProvider``
(web/.../robot/impl/StandardRobotsMetaProvider.java:37-92).

The extractors run inside the fused parse pass
(``make_parse_transformer``) and return (url, pos) lists, read as
``array<struct<url,pos>>`` so the caller can ``explode`` and keep
discovery order (pos = in-document order, the FIFO tie-break for
enqueued links).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .urls import resolve_href

MAX_URL_LENGTH = 2048
ALLOWED_SCHEMES = ("http://", "https://", "ftp://")

_BASE_RE = re.compile(r"<base\b[^>]*\bhref\s*=\s*[\"']?([^\"'\s>]+)", re.I)
_A_RE = re.compile(
    r"<a\b([^>]*)\bhref\s*=\s*[\"']?([^\"'\s>]+)[\"']?([^>]*)>", re.I
)
_SRC_TAG_RE = re.compile(
    r"<(?:frame|iframe|img)\b[^>]*\bsrc\s*=\s*[\"']?([^\"'\s>]+)", re.I
)
_META_REFRESH_RE = re.compile(
    # the URL= value may itself be quoted inside the content value
    # ("10;URL='/x.html'") — the reference strips those quotes
    # (LinkUtil.extractHttpEquivRefreshContentUrl)
    r"<meta\b[^>]*http-equiv\s*=\s*[\"']?refresh[\"']?[^>]*"
    r"content\s*=\s*[\"'][^\"']*?url\s*=\s*[\"']?([^\"'\s;>]+)",
    re.I,
)
_NOFOLLOW_RE = re.compile(r"\brel\s*=\s*[\"']?[^\"'>]*nofollow", re.I)
# script bodies must not contribute links — the reference blanks them
# before extraction (HtmlLinkExtractor.java:375-378 "Get rid of
# <script> tags content to eliminate possibly generated URLs"); a
# URL inside JS only becomes followable after rendering
# (sources/browserfetch.py). Bodies are replaced by same-length
# padding so the document-order positions of real links are unmoved.
_SCRIPT_BODY_RE = re.compile(
    r"(<script\b[^>]*>)(.*?)(</script>)", re.I | re.S
)
_HEAD_RE = re.compile(r"<head\b.*?</head>", re.I | re.S)
_CANONICAL_RE = re.compile(
    r"<link\b[^>]*rel\s*=\s*[\"']?canonical[\"']?[^>]*"
    r"href\s*=\s*[\"']?([^\"'\s>]+)|"
    r"<link\b[^>]*href\s*=\s*[\"']?([^\"'\s>]+)[\"']?[^>]*"
    r"rel\s*=\s*[\"']?canonical",
    re.I,
)
_ROBOTS_META_RE = re.compile(
    r"<meta\b[^>]*name\s*=\s*[\"']?robots[\"']?[^>]*"
    r"content\s*=\s*[\"']([^\"']*)[\"']",
    re.I,
)


def extract_links(base_url: str, html: str | None) -> list[tuple[str, int]]:
    """All followable (url, position) pairs from an HTML body.

    Position is document order across all tag kinds — it defines the
    enqueue order of discovered links (the reference enqueues links as
    it streams the document, LinkExtractorStage.java:200-212).
    """
    if not html:
        return []
    html = _SCRIPT_BODY_RE.sub(
        lambda m: m.group(1) + " " * len(m.group(2)) + m.group(3),
        html,
    )
    m = _BASE_RE.search(html)
    base = resolve_href(base_url, m.group(1)) if m else base_url
    if base is None:
        base = base_url

    found: list[tuple[int, str]] = []
    for m in _A_RE.finditer(html):
        attrs = m.group(1) + m.group(3)
        if _NOFOLLOW_RE.search(attrs):
            continue
        found.append((m.start(), m.group(2)))
    for m in _SRC_TAG_RE.finditer(html):
        found.append((m.start(), m.group(1)))
    for m in _META_REFRESH_RE.finditer(html):
        found.append((m.start(), m.group(1)))

    return _finalize_links(base, found)


def _finalize_links(
    base: str, found: list[tuple[int, str]]
) -> list[tuple[str, int]]:
    """Shared extractor tail: document order, resolution against the
    base, scheme/length caps, first-occurrence-wins per-doc dedup —
    identical across Html/Regex/XmlFeed extractors so they are
    drop-in alternatives in the parse-transformer slot."""
    found.sort(key=lambda t: t[0])
    out: list[tuple[str, int]] = []
    seen: set[str] = set()
    for _, href in found:
        url = resolve_href(base, href)
        if url is None or len(url) > MAX_URL_LENGTH:
            continue
        if not url.lower().startswith(ALLOWED_SCHEMES):
            continue
        if url in seen:  # per-document dedup, first occurrence wins
            continue
        seen.add(url)
        out.append((url, len(out)))
    return out


def extract_links_regex(
    base_url: str, text: str | None, patterns: list[str]
) -> list[tuple[str, int]]:
    """RegexLinkExtractor (web/.../link/impl/RegexLinkExtractor
    .java:98-150): every match of every configured pattern is a link
    candidate — for plain-text or otherwise non-HTML content. Same
    (url, position) contract as ``extract_links``."""
    if not text:
        return []
    found: list[tuple[int, str]] = []
    for p in patterns:
        for m in re.finditer(p, text):
            found.append((m.start(), m.group()))
    return _finalize_links(base_url, found)


_FEED_RSS_LINK_RE = re.compile(r"<link[^>/]*>\s*([^<\s]+)\s*</link>", re.I)
_FEED_ATOM_LINK_RE = re.compile(
    r"<link\b[^>]*\bhref\s*=\s*[\"']([^\"']+)[\"']", re.I
)
_FEED_ENCLOSURE_RE = re.compile(
    r"<enclosure\b[^>]*\burl\s*=\s*[\"']([^\"']+)[\"']", re.I
)


def extract_links_xml_feed(
    base_url: str, xml: str | None
) -> list[tuple[str, int]]:
    """XmlFeedLinkExtractor (web/.../link/impl/XmlFeedLinkExtractor
    .java:99-120): RSS ``<link>url</link>``, Atom ``<link href>`` and
    ``<enclosure url>`` targets, in document order, resolved against
    the feed URL."""
    if not xml:
        return []
    found: list[tuple[int, str]] = []
    for rx in (_FEED_RSS_LINK_RE, _FEED_ATOM_LINK_RE, _FEED_ENCLOSURE_RE):
        for m in rx.finditer(xml):
            found.append((m.start(), m.group(1)))
    return _finalize_links(base_url, found)


_LINK_HDR_CANON_RE = re.compile(
    r'<\s*([^<>]+?)\s*>\s*;[^,<]*\brel\s*=\s*"?canonical"?', re.I
)


def canonical_from_header(base_url: str, link_header: str | None) -> str | None:
    """``Link: <url>; rel="canonical"`` response header, resolved
    (GenericCanonicalLinkDetector.java:100-119 — the detector checks
    the HTTP header in the metadata phase, before the HTML head)."""
    if not link_header:
        return None
    m = _LINK_HDR_CANON_RE.search(link_header)
    return resolve_href(base_url, m.group(1)) if m else None


def parse_x_robots(value: str | None) -> tuple[bool, bool]:
    """(noindex, nofollow) from an ``X-Robots-Tag`` response header
    (StandardRobotsMetaProvider.java:37-92 reads the header and the
    meta tag through the same directive parser)."""
    if not value:
        return (False, False)
    v = value.lower()
    return ("noindex" in v, "nofollow" in v)


def effective_canonical(
    url: str,
    hdr_canon: str | None,
    html_canon: str | None,
) -> str | None:
    """Canonical precedence: the HTTP header is checked first (its
    stage runs in the metadata phase); a SELF header-canonical falls
    through to the HTML head's (the import-phase stage still runs).
    Inputs must already be normalized to ``url``'s form."""
    if hdr_canon and hdr_canon != url:
        return hdr_canon
    return html_canon


def extract_canonical(base_url: str, html: str | None) -> str | None:
    """<link rel=canonical> from the document head, resolved."""
    if not html:
        return None
    head_m = _HEAD_RE.search(html)
    scope = head_m.group(0) if head_m else html[:4096]
    m = _CANONICAL_RE.search(scope)
    if not m:
        return None
    href = m.group(1) or m.group(2)
    return resolve_href(base_url, href) if href else None


def extract_robots_meta(html: str | None) -> tuple[bool, bool]:
    """(noindex, nofollow) from <meta name=robots>."""
    if not html:
        return (False, False)
    m = _ROBOTS_META_RE.search(html)
    if not m:
        return (False, False)
    content = m.group(1).lower()
    return ("noindex" in content, "nofollow" in content)


LINKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("pos", T.IntegerType()),
        ]
    )
)


PARSE_FIELDS = T.StructType(
    [
        T.StructField("canonical", T.StringType()),
        T.StructField("noindex", T.BooleanType()),
        T.StructField("nofollow", T.BooleanType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("links", LINKS_TYPE),
        # DocumentFiltersStage verdict over the body (computed while
        # the html is in memory — it never leaves the parse pass)
        T.StructField("doc_filtered", T.BooleanType()),
        # post-import link candidates (PostImportLinksStage.java:
        # 42-90): URLs surfaced by an importer stage into a matched
        # metadata field — here the ``data-post-url`` attribute the
        # parse pass lifts — minus the doc's regular extracted links.
        # Normalized, deduped, sorted (the reference iterates a
        # HashSet, i.e. unordered; sorted is our deterministic choice).
        T.StructField("post_links", T.ArrayType(T.StringType())),
    ]
)

# the "importer-extracted field" surface for post-import links: any
# data-post-url attribute in the document (stands in for the
# reference's TextMatcher over importer metadata fields —
# WebCrawlerConfig.java:501 postImportLinks)
_POST_URL_RE = re.compile(r'data-post-url\s*=\s*"([^"]+)"', re.IGNORECASE)


def extract_post_links(
    base_url: str, html: str | None, extracted: list | None,
    normalizer=None,
) -> list[str]:
    """PostImportLinksStage candidate set for one document: matched
    field values, resolved + normalized, minus the already-extracted
    links (PostImportLinksStage.java:60-66), deduped, sorted.
    ``normalizer`` overrides the default pipeline (configured
    GenericUrlNormalizer analog)."""
    if not html:
        return []
    from .urls import normalize_url

    norm = normalizer or normalize_url
    seen: set[str] = set()
    for lurl, _pos in extracted or []:
        n = norm(lurl)
        if n:
            seen.add(n)
    out: set[str] = set()
    for m in _POST_URL_RE.finditer(html):
        u = resolve_href(base_url, m.group(1))
        n = norm(u) if u else None
        if n and n not in seen:
            out.add(n)
    return sorted(out)


def make_parse_transformer(
    max_depth: int,
    document_filters: tuple = (),
    post_import: bool = False,
    normalizer=None,
):
    """Fused per-batch parser: html in, parse fields out, html dropped.

    One Arrow crossing instead of one per extractor UDF — the ~KBs/row
    ``html`` column never re-enters the JVM, never lands in a cache,
    and never crosses a shuffle; only the distilled parse fields do.
    This is the Importer-handler-chain-in-one-pass shape
    (importer/.../Importer.java:150-204 runs all handlers over the doc
    while it is in memory once).

    Per row (200-status only): canonical link (normalized), robots
    meta, md5 content checksum, and — when the doc is followable
    (canonical-self, not nofollow, below max depth,
    LinkExtractorStage.java:59-66,162-171) — the outlinks.
    """
    import hashlib

    from .filters import content_reject
    from .urls import normalize_url as _default_norm

    normalize_url = normalizer or _default_norm

    def parse(batches):
        for pdf in batches:
            n = len(pdf)
            canon = [None] * n
            noidx = [False] * n
            nofol = [False] * n
            ck = [None] * n
            links = [None] * n
            docf = [False] * n
            post = [None] * n
            # response-header columns ride only when the fetch slot
            # provides them (pages-table join); consumed in-pass
            lh = (
                pdf["link_header"].tolist()
                if "link_header" in pdf.columns
                else [None] * n
            )
            xr = (
                pdf["x_robots"].tolist()
                if "x_robots" in pdf.columns
                else [None] * n
            )
            it = zip(
                pdf["url"].tolist(),
                pdf["html"].tolist(),
                pdf["http_status"].tolist(),
                pdf["depth"].tolist(),
            )
            for i, (u, h, s, d) in enumerate(it):
                if h is None or s is None or pd.isna(s) or int(s) != 200:
                    continue
                ch = canonical_from_header(u, lh[i])
                ch = normalize_url(ch) if ch else None
                c = extract_canonical(u, h)
                c = normalize_url(c) if c else None
                c = effective_canonical(u, ch, c)
                canon[i] = c
                ni, nf = extract_robots_meta(h)
                xni, xnf = parse_x_robots(xr[i])
                ni, nf = ni or xni, nf or xnf
                noidx[i], nofol[i] = ni, nf
                ck[i] = hashlib.md5(h.encode()).hexdigest()
                if document_filters:
                    docf[i] = content_reject(h, document_filters)
                if (
                    (c is None or c == u)
                    and not nf
                    and (max_depth < 0 or int(d) < max_depth)
                ):
                    links[i] = extract_links(u, h)
                if post_import:
                    # committer-phase stage — runs for docs heading to
                    # commit regardless of nofollow/depth (the engine
                    # gates the actual enqueue on outcome NEW/MODIFIED)
                    post[i] = extract_post_links(
                        u, h, links[i], normalizer=normalize_url
                    )
            out = pdf.drop(
                columns=[
                    c_
                    for c_ in ("html", "link_header", "x_robots")
                    if c_ in pdf.columns
                ]
            )
            out["canonical"] = canon
            out["noindex"] = noidx
            out["nofollow"] = nofol
            out["checksum"] = ck
            out["links"] = pd.Series(links, dtype=object, index=out.index)
            out["doc_filtered"] = docf
            out["post_links"] = pd.Series(post, dtype=object, index=out.index)
            yield out

    return parse


def extract_links_dom(
    base_url: str,
    html: str | None,
    tag: str,
    attr: str = "href",
) -> list[tuple[str, int]]:
    """DomLinkExtractor (web/.../link/impl/DomLinkExtractor.java —
    jsoup selectors): every element matching ``tag`` with the
    attribute contributes its value, in document order, through the
    shared finalize tail. A bare element tag stays on the regex fast
    path; anything richer — ``div.story a``, ``a#primary``,
    ``ul > li > a[rel=nofollow]`` — runs through the real DOM walk in
    functions/domselect.py (class/id/attribute/descendant/child
    selectors; pseudo-classes raise loudly)."""
    if not html:
        return []
    from .domselect import is_bare_tag, select

    if is_bare_tag(tag):
        rx = re.compile(
            rf"<{tag}\b[^>]*\b{re.escape(attr)}\s*=\s*[\"']([^\"']+)[\"']",
            re.I,
        )
        found = [(m.start(), m.group(1)) for m in rx.finditer(html)]
    else:
        found = [
            (n.order, n.attrs[attr])
            for n in select(html, tag)
            if n.attrs.get(attr)
        ]
    return _finalize_links(base_url, found)


# ---------------------------------------------------------------------------
# TikaLinkExtractor analog
# ---------------------------------------------------------------------------

# Tika's LinkContentHandler tag set: a[href] link[href] with rel,
# iframe/img/script[src]; anchors carry their (tag-stripped) text.
_TIKA_A_RE = re.compile(r"<a\b([^>]*)>(.*?)</a\s*>", re.I | re.S)
_TIKA_SRC_TAGS_RE = re.compile(r"<(link|script|iframe|img)\b([^>]*?)/?>", re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_TAG_STRIP_RE = re.compile(r"<[^>]*>")
_WS_COLLAPSE_RE = re.compile(r"\s+")
_ATTR_PAIR_RE = re.compile(
    r"([a-zA-Z][a-zA-Z0-9_:.-]*)\s*=\s*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))"
)


def _tag_attrs(s: str) -> dict[str, str]:
    """name->value for one tag's attribute string; first wins,
    names lowercased, any quoting style."""
    out: dict[str, str] = {}
    for m in _ATTR_PAIR_RE.finditer(s):
        name = m.group(1).lower()
        if name not in out:
            v = m.group(2)
            if v is None:
                v = m.group(3)
            if v is None:
                v = m.group(4)
            out[name] = v
    return out


def _has_nofollow_token(rel: str | None) -> bool:
    """rel value contains a whole "nofollow" token
    (TikaLinkExtractor.java:185-201: split on space/comma/tab/newline,
    case-insensitive)."""
    if not rel:
        return False
    return any(
        t.lower() == "nofollow" for t in re.split(r"[ ,\t\n\r]+", rel) if t
    )


def _tika_absolute(doc_url: str, base: str, href: str) -> str | None:
    """Tika's URL resolution (TikaLinkExtractor.java:160-168):
    ``?``/``#``-leading hrefs append to the document URL verbatim;
    everything else resolves against the base. Unlike the HTML
    extractor there is no scheme allowlist (tel:/mailto: are
    reported) and no length cap."""
    from html import unescape
    from urllib.parse import urljoin

    href = unescape(href).strip()
    if not href:
        return None
    if href.startswith(("?", "#")):
        return doc_url + href
    try:
        return urljoin(base, href) or None
    except ValueError:
        return None


def extract_links_tika(
    base_url: str,
    html: str | None,
    ignore_nofollow: bool = False,
    ignore_link_data: bool = False,
) -> list[dict]:
    """TikaLinkExtractor analog (web/.../link/impl/TikaLinkExtractor
    .java:78-186) — the alternative HTML extractor with Tika's
    LinkContentHandler semantics: tag set ``a[href] link[href]
    iframe[src] img[src] script[src]`` plus the meta-refresh URL;
    comments and script bodies contribute nothing; anchors keep a
    pre-defined link-data set (text, tag, attr, title, rel) unless
    ``ignore_link_data``; ``rel=nofollow`` (whole token, any case)
    skips the link unless ``ignore_nofollow``; ``tel:``/``mailto:``
    URIs are reported (no scheme allowlist, no 2048 cap — those are
    HtmlLinkExtractorConfig policies, not Tika's).

    Returns dicts ``{url, pos, text, tag, attr, title, rel}`` in
    document order, first-occurrence-wins per identical link.
    """
    if not html:
        return []
    html = _SCRIPT_BODY_RE.sub(
        lambda m: m.group(1) + " " * len(m.group(2)) + m.group(3),
        html,
    )
    html = _COMMENT_RE.sub(lambda m: " " * len(m.group(0)), html)
    m = _BASE_RE.search(html)
    base = resolve_href(base_url, m.group(1)) if m else base_url
    if base is None:
        base = base_url

    found: list[tuple[int, dict]] = []
    for m in _TIKA_A_RE.finditer(html):
        attrs = _tag_attrs(m.group(1))
        href = attrs.get("href")
        if href is None or not href.strip():
            continue
        rel = attrs.get("rel")
        if not ignore_nofollow and _has_nofollow_token(rel):
            continue
        url = _tika_absolute(base_url, base, href)
        if not url:
            continue
        from html import unescape

        text = (
            _WS_COLLAPSE_RE.sub(
                " ", unescape(_TAG_STRIP_RE.sub("", m.group(2)))
            ).strip()
            or None
        )
        found.append(
            (
                m.start(),
                {
                    "url": url,
                    "text": text,
                    "tag": "a",
                    "attr": "href",
                    "title": attrs.get("title"),
                    "rel": rel,
                },
            )
        )
    for m in _TIKA_SRC_TAGS_RE.finditer(html):
        tag = m.group(1).lower()
        attrs = _tag_attrs(m.group(2))
        key = "href" if tag == "link" else "src"
        v = attrs.get(key)
        if v is None or not v.strip():
            continue
        rel = attrs.get("rel")
        if not ignore_nofollow and _has_nofollow_token(rel):
            continue
        url = _tika_absolute(base_url, base, v)
        if not url:
            continue
        found.append(
            (
                m.start(),
                {
                    "url": url,
                    "text": None,
                    "tag": tag,
                    "attr": key,
                    "title": attrs.get("title"),
                    "rel": rel,
                },
            )
        )
    for m in _META_REFRESH_RE.finditer(html):
        url = _tika_absolute(base_url, base, m.group(1))
        if url:
            found.append(
                (
                    m.start(),
                    {
                        "url": url,
                        "text": None,
                        "tag": None,
                        "attr": None,
                        "title": None,
                        "rel": None,
                    },
                )
            )

    found.sort(key=lambda t: t[0])
    out: list[dict] = []
    seen: set[tuple] = set()
    for _, link in found:
        if ignore_link_data:
            link = {
                "url": link["url"],
                "text": None,
                "tag": None,
                "attr": None,
                "title": None,
                "rel": None,
            }
        k = (
            link["url"],
            link["text"],
            link["tag"],
            link["attr"],
            link["title"],
        )
        if k in seen:
            continue
        seen.add(k)
        link["pos"] = len(out)
        out.append(link)
    return out


def extract_links_tika_urls(
    base_url: str, html: str | None, ignore_nofollow: bool = False
) -> list[tuple[str, int]]:
    """(url, pos) adapter so the Tika extractor drops into the same
    parse-transformer slot as the Html/Dom/Regex/XmlFeed extractors."""
    return [
        (d["url"], d["pos"])
        for d in extract_links_tika(
            base_url, html, ignore_nofollow=ignore_nofollow
        )
    ]


_TIKA_LINK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("attr", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("rel", T.StringType()),
        ]
    )
)


@F.pandas_udf(_TIKA_LINK_SCHEMA)
def extract_links_tika_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """Arrow-batched column form: array<struct> of links with link
    data, for pipelines that keep anchor text/titles (e.g. image
    caption candidates from surrounding markup)."""
    return pd.Series(
        [
            [
                (
                    d["url"],
                    d["pos"],
                    d["text"],
                    d["tag"],
                    d["attr"],
                    d["title"],
                    d["rel"],
                )
                for d in extract_links_tika(u, h)
            ]
            for u, h in zip(url, html)
        ],
        dtype=object,
    )
