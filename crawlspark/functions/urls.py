"""URL canonicalization + host extraction, vectorized.

Re-implements (from scratch, in Python) the semantics of the
reference's ``GenericUrlNormalizer`` default pipeline
(crawler/web/.../url/impl/GenericUrlNormalizer.java:105-130 with the
default set at GenericUrlNormalizerConfig.java:93-102):

    REMOVE_FRAGMENT, LOWERCASE_SCHEME_HOST, UPPERCASE_ESCAPESEQUENCE,
    DECODE_UNRESERVED_CHARACTERS, REMOVE_DEFAULT_PORT,
    ENCODE_NON_URI_CHARACTERS

plus the most-used optional ops from the 30-op menu
(GenericUrlNormalizerConfig.java:41-88): remove_www, sort_query,
remove_session_ids, remove_directory_index, remove_trailing_slash.

Host/url-root extraction mirrors WebCrawlerEntry.java:132-140
(urlRoot = scheme://host[:port], derived on setReference).

Everything here must be *bit-exact deterministic*: the canonical URL
feeds ``xxhash64`` for the URL-seen set, so the same input string must
always produce the same output string on every executor.
"""

from __future__ import annotations

import re
from urllib.parse import quote, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}

# RFC 3986 unreserved characters — safe to percent-DECODE.
_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_UNRESERVED_SET = set(_UNRESERVED)

# Characters allowed raw in path/query per RFC 3986 (pchar + '/' + '?').
_SAFE_PATH = _UNRESERVED + ":@!$&'()*+,;=%/"
_SAFE_QUERY = _SAFE_PATH + "?="

_PCT_RE = re.compile(r"%[0-9a-fA-F]{2}")
_SESSION_ID_RE = re.compile(
    r"(;jsessionid=[^?#]*|(?:(?<=[?&])|^)(?:phpsessid|sessionid|sid|session_id)"
    r"=[^&#]*&?)",
    re.IGNORECASE,
)
_DIR_INDEX_RE = re.compile(
    r"/(index|default)\.(html?|php|aspx?|jsp|cfm)$", re.IGNORECASE
)


def _pct_normalize(s: str) -> str:
    """Uppercase escape sequences; decode unreserved ones.

    UPPERCASE_ESCAPESEQUENCE + DECODE_UNRESERVED_CHARACTERS in a single
    pass over the %xx matches.
    """

    def fix(m: re.Match[str]) -> str:
        hexpair = m.group(0)[1:]
        ch = chr(int(hexpair, 16))
        if ch in _UNRESERVED_SET:
            return ch
        return "%" + hexpair.upper()

    return _PCT_RE.sub(fix, s)


def normalize_url(
    url: str | None,
    *,
    remove_www: bool = False,
    sort_query: bool = False,
    remove_session_ids: bool = False,
    remove_directory_index: bool = False,
    remove_trailing_slash: bool = False,
) -> str | None:
    """Apply the default normalization pipeline; None on unparseable.

    A ``None`` return means REJECTED at the UrlNormalizerStage
    (UrlNormalizerStage.java:33-55: null => rejected).
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    # REMOVE_FRAGMENT
    frag = url.find("#")
    if frag >= 0:
        url = url[:frag]
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https", "ftp"):
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    if remove_www and host.startswith("www."):
        host = host[4:]
    # REMOVE_DEFAULT_PORT
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and port != DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"

    path = parts.path or "/"
    # ENCODE_NON_URI_CHARACTERS (space and other raw non-URI chars),
    # then escape-sequence normalization.
    path = quote(path, safe=_SAFE_PATH)
    path = _pct_normalize(path)
    query = quote(parts.query, safe=_SAFE_QUERY)
    query = _pct_normalize(query)

    if remove_session_ids:
        path = _SESSION_ID_RE.sub("", path)
        query = _SESSION_ID_RE.sub("", query).rstrip("&")
    if remove_directory_index:
        path = _DIR_INDEX_RE.sub("/", path)
    if remove_trailing_slash and len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    if sort_query and query:
        query = "&".join(sorted(query.split("&")))

    return urlunsplit((scheme, netloc, path, query, ""))


def url_host(url: str | None) -> str | None:
    """Lowercased host of an (already canonical) URL; None if absent."""
    if not url:
        return None
    try:
        h = urlsplit(url).hostname
    except ValueError:
        return None
    return h.lower() if h else None


def url_root(url: str | None) -> str | None:
    """scheme://host[:port] (WebCrawlerEntry.java:132-140 urlRoot)."""
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    if not parts.scheme or not parts.hostname:
        return None
    netloc = parts.hostname.lower()
    try:
        port = parts.port
    except ValueError:
        return None
    if port is not None and port != DEFAULT_PORTS.get(parts.scheme.lower()):
        netloc += f":{port}"
    return f"{parts.scheme.lower()}://{netloc}"


def resolve_href(base_url: str, href: str) -> str | None:
    """Resolve a (possibly relative) href against its page URL."""
    from urllib.parse import urljoin

    href = href.strip()
    if not href or href.startswith(("javascript:", "mailto:", "tel:", "data:")):
        return None
    try:
        return urljoin(base_url, href)
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# Spark surface: Arrow-vectorized UDFs + the JVM-side seen-key column.
# ---------------------------------------------------------------------------

# URLs matching this are FIXED POINTS of the default pipeline —
# normalize_url(u) == u — so the per-row Python walk can be skipped
# for them (one C-speed vectorized regex pass instead). Requirements
# mirror the pipeline: lowercase scheme http/https/ftp; lowercase
# bare host (no port, no userinfo, no escapes); a non-empty path of
# raw-safe pchars with no '%' (nothing to encode or case-normalize);
# an optional non-empty query of the same grammar; no fragment, no
# whitespace. test_urls property-checks the equivalence.
_FAST_CANONICAL_RE = re.compile(
    r"^(?:http|https|ftp)://[a-z0-9][a-z0-9.\-]*"
    r"/[A-Za-z0-9\-._~:@!$&'()*+,;=/]*"
    r"(?:\?[A-Za-z0-9\-._~:@!$&'()*+,;=/?]+)?\Z"
)


@F.pandas_udf(T.StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    """Default-pipeline canonicalizer over a string column.

    Fast path: already-canonical URLs (the overwhelming majority of a
    real crawl's extracted links) are detected with one vectorized
    regex and returned as-is; only the rest pay the per-row parse.
    """
    fast = urls.str.match(_FAST_CANONICAL_RE, na=False)
    if bool(fast.all()):
        return urls
    out = urls.copy()
    slow = ~fast
    out[slow] = urls[slow].map(
        lambda u: normalize_url(u) if u is not None else None
    )
    return out


# The function IS deterministic — the marker is a plan-shape tool:
# it stops Catalyst from cloning the Arrow node into both the
# null-filter and the projection (and from pushing duplicates into
# every union branch). Each ArrowEvalPython node costs a fixed
# per-task Python round-trip, and the measured queue-pipeline stages
# were ~95% that fixed latency.
normalize_url_udf = normalize_url_udf.asNondeterministic()


@F.pandas_udf(T.StringType())
def url_host_udf(urls: pd.Series) -> pd.Series:
    return urls.map(url_host)


def url_host_col(col):
    """JVM-side host extraction for CANONICAL URLs (normalize_url
    output): lowercase scheme, host already lowercased, optional
    userinfo and port. Equivalent to ``url_host`` on that grammar
    (property-checked in test_urls) with zero Python round-trips —
    this is the hot-path form; the UDF stays for arbitrary strings."""
    h = F.regexp_extract(col, r"^[a-z]+://(?:[^/@]*@)?([^/:?#]+)", 1)
    return F.nullif(h, F.lit(""))


def seen_key(col):
    """URL-seen key: xxhash64 of the canonical URL (JVM-side, no UDF).

    The engine's driver Bloom prefilter and its exact anti-join both
    key on this (SURVEY.md §1.3; reference exact-key dedup at
    CrawlerEntryLedger.java:361).
    """
    return F.xxhash64(col)
