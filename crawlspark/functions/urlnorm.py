"""Configurable URL normalization — the full GenericUrlNormalizer menu.

Re-expresses (from scratch) the reference's configurable normalizer
(crawler/web/.../url/impl/GenericUrlNormalizer.java:105-130: an
ordered list of NAMED normalizations applied first, then regex
replacements) with the complete 30-op menu of
GenericUrlNormalizerConfig.java:41-88. The hot-path default pipeline
stays in ``functions/urls.py`` (one fused vectorized pass); this
module is the parity surface for users porting a config that names
ops — each op is an independent string->string transform, applied in
the caller's order, exactly as the reference folds its Normalization
enum consumers over a working URL string.

Op semantics follow RFC 3986 and the standard URL-normalization
taxonomy the reference's javadoc cites; the reference's own unit
expectations (GenericUrlNormallizerTest.java: addDomainTrailingSlash,
uppercase-protocol preservation under encodeNonURICharacters,
removeTrailingSlash on a bare host, $N-backref replacements, the
issue-160/issue-29 fixed points) are asserted in
tests/test_urlnorm.py. REPLACE_IP_WITH_DOMAIN_NAME requires reverse
DNS: the lookup is injectable (``ip_resolver``) and the op is a
documented no-op without one (no network in CI).

Blank/None input normalizes to None — the UrlNormalizerStage rejects
such candidates (UrlNormalizerStage.java:33-55).
"""

from __future__ import annotations

import re
from typing import Callable, Iterable, Optional

from .urls import DEFAULT_PORTS, _pct_normalize, _SAFE_PATH, _SAFE_QUERY

# scheme://authority | path | ?query | #fragment
_URL_RE = re.compile(
    r"^(?P<head>[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"
    r"(?P<path>[^?#]*)(?P<query>\?[^#]*)?(?P<frag>#.*)?$"
)
_AUTH_RE = re.compile(
    r"^(?P<scheme>[a-zA-Z][a-zA-Z0-9+.\-]*)://(?P<userinfo>[^/@]*@)?"
    r"(?P<host>[^:/?#]*)(?P<port>:\d*)?$"
)

_DIR_INDEX_RE = re.compile(
    r"/(?:index|default|main)\.[a-zA-Z0-9]{2,5}$", re.IGNORECASE
)
_SESSION_PATH_RE = re.compile(r";jsessionid=[^?#/]*", re.IGNORECASE)
_SESSION_PARAM_RE = re.compile(
    r"^(?:phpsessid|aspsessionid[a-z]*|jsessionid|sid|session_id|sessionid)$",
    re.IGNORECASE,
)
_PCT_UPPER_RE = re.compile(r"%[0-9a-fA-F]{2}")
_IP_RE = re.compile(r"^\d{1,3}(?:\.\d{1,3}){3}$")


def _parts(url: str) -> Optional[tuple[str, str, str, str]]:
    m = _URL_RE.match(url)
    if not m:
        return None
    return (
        m.group("head"),
        m.group("path") or "",
        m.group("query") or "",
        m.group("frag") or "",
    )


def _on_path(url: str, fn: Callable[[str], str]) -> str:
    p = _parts(url)
    if p is None:
        return url
    head, path, query, frag = p
    return head + fn(path) + query + frag


def _on_query(url: str, fn: Callable[[str], str]) -> str:
    """fn over the query WITHOUT its '?'; returning '' drops the '?'."""
    p = _parts(url)
    if p is None:
        return url
    head, path, query, frag = p
    if not query:
        return url
    q = fn(query[1:])
    return head + path + (("?" + q) if q else "") + frag


def _on_params(
    url: str, fn: Callable[[list[tuple[str, Optional[str]]]],
                           list[tuple[str, Optional[str]]]]
) -> str:
    """fn over [(name, value-or-None)] parsed from the query."""

    def go(q: str) -> str:
        pairs: list[tuple[str, Optional[str]]] = []
        for part in q.split("&"):
            name, eq, value = part.partition("=")
            pairs.append((name, value if eq else None))
        out = fn(pairs)
        return "&".join(
            n if v is None else f"{n}={v}" for n, v in out
        )

    return _on_query(url, go)


def _on_auth(url: str, fn: Callable[[str, str, str, str], str]) -> str:
    """fn(scheme, userinfo, host, port) -> new authority head."""
    p = _parts(url)
    if p is None:
        return url
    head, path, query, frag = p
    m = _AUTH_RE.match(head)
    if not m:
        return url
    new_head = fn(
        m.group("scheme"),
        m.group("userinfo") or "",
        m.group("host"),
        m.group("port") or "",
    )
    return new_head + path + query + frag


def _rebuild(scheme: str, userinfo: str, host: str, port: str) -> str:
    return f"{scheme}://{userinfo}{host}{port}"


# ---------------------------------------------------------------------------
# the named ops (GenericUrlNormalizerConfig.Normalization, :41-75)
# ---------------------------------------------------------------------------


def add_directory_trailing_slash(url: str) -> str:
    def fix(path: str) -> str:
        if not path:
            return "/"
        last = path.rsplit("/", 1)[-1]
        if path.endswith("/") or "." in last:
            return path
        return path + "/"

    return _on_path(url, fix)


def add_domain_trailing_slash(url: str) -> str:
    p = _parts(url)
    if p is None:
        return url
    head, path, query, frag = p
    return head + (path or "/") + query + frag


def add_www(url: str) -> str:
    return _on_auth(
        url,
        lambda s, u, h, p: _rebuild(
            s, u, h if h.lower().startswith("www.") or "." not in h
            else "www." + h, p
        ),
    )


def decode_unreserved_characters(url: str) -> str:
    # reuse the default pipeline's single-pass %xx walk, decode half
    def fix(m: re.Match[str]) -> str:
        ch = chr(int(m.group(0)[1:], 16))
        return (
            ch
            if ch.isalnum() and ch.isascii() or ch in "-._~"
            else m.group(0)
        )

    return _PCT_UPPER_RE.sub(fix, url)


def encode_non_uri_characters(url: str) -> str:
    """Percent-encode raw characters outside the URI grammar, scheme
    case and existing escapes untouched
    (GenericUrlNormallizerTest.testUppercaseProtocol)."""
    from urllib.parse import quote

    p = _parts(url)
    if p is None:
        return url
    head, path, query, frag = p
    path = quote(path, safe=_SAFE_PATH)
    if query:
        q = quote(query[1:], safe=_SAFE_QUERY)
        # a bare trailing "?" (empty query) drops — the RFC 3986
        # component round-trip the fused default pipeline applies;
        # property-checked equivalent in test_urlnorm
        query = ("?" + q) if q else ""
    return head + path + query + frag


def encode_spaces(url: str) -> str:
    p = _parts(url)
    if p is None:
        return url
    head, path, query, frag = p
    return head + path.replace(" ", "%20") + query.replace(
        " ", "%20"
    ) + frag


def lower_case(url: str) -> str:
    return url.lower()


def lower_case_path(url: str) -> str:
    return _on_path(url, str.lower)


def lower_case_query(url: str) -> str:
    return _on_query(url, str.lower)


def lower_case_query_parameter_names(url: str) -> str:
    return _on_params(
        url, lambda ps: [(n.lower(), v) for n, v in ps]
    )


def lower_case_query_parameter_values(url: str) -> str:
    return _on_params(
        url,
        lambda ps: [(n, v.lower() if v else v) for n, v in ps],
    )


def lower_case_scheme_host(url: str) -> str:
    return _on_auth(
        url, lambda s, u, h, p: _rebuild(s.lower(), u, h.lower(), p)
    )


def remove_default_port(url: str) -> str:
    def fix(s: str, u: str, h: str, p: str) -> str:
        if p[1:].isdigit() and int(p[1:]) == DEFAULT_PORTS.get(
            s.lower()
        ):
            p = ""
        return _rebuild(s, u, h, p or "")

    return _on_auth(url, fix)


def remove_directory_index(url: str) -> str:
    return _on_path(url, lambda p: _DIR_INDEX_RE.sub("/", p))


def remove_dot_segments(url: str) -> str:
    """RFC 3986 §5.2.4 over the path."""

    def fix(path: str) -> str:
        out: list[str] = []
        for seg in path.split("/"):
            if seg == ".":
                continue
            if seg == "..":
                if len(out) > 1:
                    out.pop()
                continue
            out.append(seg)
        # preserve a trailing slash implied by ./.. final segments
        if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
            out.append("")
        return "/".join(out)

    return _on_path(url, fix)


def remove_duplicate_slashes(url: str) -> str:
    return _on_path(url, lambda p: re.sub(r"/{2,}", "/", p))


def remove_empty_parameters(url: str) -> str:
    return _on_params(
        url, lambda ps: [(n, v) for n, v in ps if n and v]
    )


def remove_fragment(url: str) -> str:
    i = url.find("#")
    return url[:i] if i >= 0 else url


def remove_query_string(url: str) -> str:
    p = _parts(url)
    if p is None:
        return url
    head, path, query, frag = p
    return head + path + frag


def remove_session_ids(url: str) -> str:
    url = _SESSION_PATH_RE.sub("", url)
    return _on_params(
        url,
        lambda ps: [
            (n, v) for n, v in ps if not _SESSION_PARAM_RE.match(n)
        ],
    )


def remove_trailing_fragment(url: str) -> str:
    return re.sub(r"#[^#]*$", "", url)


def remove_trailing_question_mark(url: str) -> str:
    return url[:-1] if url.endswith("?") else url


def remove_trailing_slash(url: str) -> str:
    """Strips a path's trailing slash — including the root slash on a
    bare host (GenericUrlNormallizerTest
    .testRemoveTrailingSlashWithOnlyHostname)."""
    return _on_path(
        url, lambda p: p[:-1] if p.endswith("/") else p
    )


def remove_trailing_hash(url: str) -> str:
    return url[:-1] if url.endswith("#") else url


def remove_www(url: str) -> str:
    return _on_auth(
        url,
        lambda s, u, h, p: _rebuild(
            s, u, h[4:] if h.lower().startswith("www.") else h, p
        ),
    )


def secure_scheme(url: str) -> str:
    return _on_auth(
        url,
        lambda s, u, h, p: _rebuild(
            "https" if s.lower() == "http" else s, u, h, p
        ),
    )


def sort_query_parameters(url: str) -> str:
    return _on_params(
        url, lambda ps: sorted(ps, key=lambda nv: nv[0])
    )


def unsecure_scheme(url: str) -> str:
    return _on_auth(
        url,
        lambda s, u, h, p: _rebuild(
            "http" if s.lower() == "https" else s, u, h, p
        ),
    )


def upper_case_escape_sequence(url: str) -> str:
    return _PCT_UPPER_RE.sub(lambda m: m.group(0).upper(), url)


def make_replace_ip_with_domain_name(
    ip_resolver: Optional[Callable[[str], Optional[str]]],
) -> Callable[[str], str]:
    """The one op needing I/O: reverse-resolve a dotted-quad host.
    Without a resolver the op is a no-op (documented: no DNS in CI);
    any callable host->domain-or-None slots in."""

    def op(url: str) -> str:
        if ip_resolver is None:
            return url

        def fix(s: str, u: str, h: str, p: str) -> str:
            if _IP_RE.match(h):
                domain = ip_resolver(h)
                if domain:
                    h = domain
            return _rebuild(s, u, h, p)

        return _on_auth(url, fix)

    return op


NORMALIZATIONS: dict[str, Callable[[str], str]] = {
    "ADD_DIRECTORY_TRAILING_SLASH": add_directory_trailing_slash,
    "ADD_DOMAIN_TRAILING_SLASH": add_domain_trailing_slash,
    "ADD_WWW": add_www,
    "DECODE_UNRESERVED_CHARACTERS": decode_unreserved_characters,
    "ENCODE_NON_URI_CHARACTERS": encode_non_uri_characters,
    "ENCODE_SPACES": encode_spaces,
    "LOWERCASE": lower_case,
    "LOWERCASE_PATH": lower_case_path,
    "LOWERCASE_QUERY": lower_case_query,
    "LOWERCASE_QUERY_PARAMETER_NAMES": lower_case_query_parameter_names,
    "LOWERCASE_QUERY_PARAMETER_VALUES": lower_case_query_parameter_values,
    "LOWERCASE_SCHEME_HOST": lower_case_scheme_host,
    "REMOVE_DEFAULT_PORT": remove_default_port,
    "REMOVE_DIRECTORY_INDEX": remove_directory_index,
    "REMOVE_DOT_SEGMENTS": remove_dot_segments,
    "REMOVE_DUPLICATE_SLASHES": remove_duplicate_slashes,
    "REMOVE_EMPTY_PARAMETERS": remove_empty_parameters,
    "REMOVE_FRAGMENT": remove_fragment,
    "REMOVE_QUERY_STRING": remove_query_string,
    "REMOVE_SESSION_IDS": remove_session_ids,
    "REMOVE_TRAILING_FRAGMENT": remove_trailing_fragment,
    "REMOVE_TRAILING_QUESTION_MARK": remove_trailing_question_mark,
    "REMOVE_TRAILING_SLASH": remove_trailing_slash,
    "REMOVE_TRAILING_HASH": remove_trailing_hash,
    "REMOVE_WWW": remove_www,
    "SECURE_SCHEME": secure_scheme,
    "SORT_QUERY_PARAMETERS": sort_query_parameters,
    "UNSECURE_SCHEME": unsecure_scheme,
    "UPPERCASE_ESCAPESEQUENCE": upper_case_escape_sequence,
    # resolver-injected at make_normalizer time:
    "REPLACE_IP_WITH_DOMAIN_NAME": None,  # type: ignore[dict-item]
}

# GenericUrlNormalizerConfig.java:93-102
DEFAULT_NORMALIZATIONS = (
    "REMOVE_FRAGMENT",
    "LOWERCASE_SCHEME_HOST",
    "UPPERCASE_ESCAPESEQUENCE",
    "DECODE_UNRESERVED_CHARACTERS",
    "REMOVE_DEFAULT_PORT",
    "ENCODE_NON_URI_CHARACTERS",
)

_JAVA_BACKREF_RE = re.compile(r"\$(\d+)")


def compile_replacement(
    match: str, value: Optional[str] = None
) -> tuple[re.Pattern, str]:
    """NormalizationReplace analog: Java regex + ``$N`` backrefs ->
    (compiled pattern, Python template). A null/absent value deletes
    the match (GenericUrlNormalizer.java replacement loop)."""
    repl = "" if value is None else _JAVA_BACKREF_RE.sub(
        r"\\\1", value
    )
    return re.compile(match), repl


def make_normalizer(
    normalizations: Iterable[str] = DEFAULT_NORMALIZATIONS,
    replacements: Iterable[tuple] = (),
    ip_resolver: Optional[Callable[[str], Optional[str]]] = None,
) -> Callable[[Optional[str]], Optional[str]]:
    """Build normalizeURL: named ops in order, then regex
    replacements (GenericUrlNormalizer.java:105-130). Unknown op
    names raise at build time, like the reference's enum parse."""
    ops: list[Callable[[str], str]] = []
    for name in normalizations:
        key = name.upper()
        if key not in NORMALIZATIONS:
            raise ValueError(
                f"unknown normalization {name!r}; choose from "
                f"{sorted(NORMALIZATIONS)}"
            )
        if key == "REPLACE_IP_WITH_DOMAIN_NAME":
            ops.append(make_replace_ip_with_domain_name(ip_resolver))
        else:
            ops.append(NORMALIZATIONS[key])
    compiled = [
        compile_replacement(m[0], m[1] if len(m) > 1 else None)
        for m in replacements
    ]

    def normalize(url: Optional[str]) -> Optional[str]:
        if url is None:
            return None
        url = url.strip()
        if not url:
            return None
        for op in ops:
            url = op(url)
        for rx, repl in compiled:
            url = rx.sub(repl, url)
        return url or None

    return normalize


_VALID_URL_RE = re.compile(r"^(?:http|https|ftp)://[^/?#:@]", re.IGNORECASE)


def engine_normalizer(
    normalizations: Iterable[str],
    replacements: Iterable[tuple] = (),
    ip_resolver: Optional[Callable[[str], Optional[str]]] = None,
) -> Callable[[Optional[str]], Optional[str]]:
    """The configured pipeline plus the crawl engine's validity gate
    (a fetchable scheme with a host — the reference validates scheme
    via its fetcher accept()s; here an unfetchable candidate rejects
    at the normalizer stage like the default pipeline does). Shared
    by CrawlEngine and CrawlSimulator so engine == oracle by
    construction.

    Naming REPLACE_IP_WITH_DOMAIN_NAME without an ``ip_resolver``
    raises: the engine surface must not silently drop a configured op
    (make_normalizer alone keeps the documented no-op for direct
    library use)."""
    normalizations = tuple(normalizations)
    if (
        ip_resolver is None
        and any(n.upper() == "REPLACE_IP_WITH_DOMAIN_NAME"
                for n in normalizations)
    ):
        raise ValueError(
            "REPLACE_IP_WITH_DOMAIN_NAME is configured but no "
            "ip_resolver was provided (config.url_ip_resolver / the "
            "ip_resolver argument); pass a host->domain callable or "
            "drop the op"
        )
    fn = make_normalizer(
        normalizations, tuple(replacements), ip_resolver
    )

    def normalize(url: Optional[str]) -> Optional[str]:
        v = fn(url)
        if v is None or not _VALID_URL_RE.match(v):
            return None
        return v

    return normalize
