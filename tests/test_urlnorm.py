"""Configurable URL normalizer — the full GenericUrlNormalizer menu.

Ports the reference's unit expectations
(GenericUrlNormallizerTest.java: addDomainTrailingSlash,
uppercase-protocol preservation, removeTrailingSlash on a bare host,
$N-backref replacements, the issue-160/issue-29 fixed points) and
exercises every named op (GenericUrlNormalizerConfig.java:41-75),
then proves the engine and the pure-Python oracle share the
configured pipeline on a real crawl."""

import pytest

from crawlspark.config import CrawlConfig
from crawlspark.functions.urlnorm import (
    DEFAULT_NORMALIZATIONS,
    NORMALIZATIONS,
    engine_normalizer,
    make_normalizer,
)
from crawlspark.functions.urls import normalize_url


def norm1(op, url):
    return make_normalizer([op])(url)


# --- reference test cases (GenericUrlNormallizerTest.java) -----------------


def test_add_domain_trailing_slash():
    assert norm1(
        "ADD_DOMAIN_TRAILING_SLASH", "http://example.com"
    ) == "http://example.com/"


def test_uppercase_protocol_preserved_by_encode():
    # issue 2904: encodeNonURICharacters must not touch scheme case
    assert norm1(
        "ENCODE_NON_URI_CHARACTERS", "HTTP://example.com/"
    ) == "HTTP://example.com/"


def test_remove_trailing_slash_with_only_hostname():
    # issue 290
    assert norm1(
        "REMOVE_TRAILING_SLASH", "http://bot.nerus.com/"
    ) == "http://bot.nerus.com"


def test_replacements_java_backrefs():
    n = make_normalizer(
        [],
        [
            (r"\.htm$", ".html"),
            ("&debug=true",),
            (r"(http://)(.*//)(www.example.com)", "$1$3"),
        ],
    )
    assert n(
        "http://www.example.com//www.example.com/page1.html"
    ) == "http://www.example.com/page1.html"
    assert n(
        "http://www.example.com/page1.htm"
    ) == "http://www.example.com/page1.html"
    assert n(
        "http://www.example.com/record?id=1&debug=true&view=print"
    ) == "http://www.example.com/record?id=1&view=print"


def test_github_issue_160_fixed_point():
    n = make_normalizer(
        [
            "LOWERCASE_SCHEME_HOST", "UPPERCASE_ESCAPESEQUENCE",
            "DECODE_UNRESERVED_CHARACTERS", "REMOVE_DEFAULT_PORT",
            "REMOVE_FRAGMENT", "REMOVE_DOT_SEGMENTS",
            "ADD_DIRECTORY_TRAILING_SLASH", "REMOVE_DUPLICATE_SLASHES",
            "REMOVE_SESSION_IDS", "UPPERCASE_ESCAPESEQUENCE",
        ]
    )
    s = "http://www.etools.ch/sitemap_index.xml"
    assert n(s) == s


def test_github_issue_29_fixed_point():
    n = make_normalizer(
        [
            "LOWERCASE_SCHEME_HOST", "UPPERCASE_ESCAPESEQUENCE",
            "DECODE_UNRESERVED_CHARACTERS", "REMOVE_DEFAULT_PORT",
        ],
        [("&view=print", "&view=html")],
    )
    s = "http://www.somehost.com/hook/"
    assert n(s) == s


# --- every named op ---------------------------------------------------------


@pytest.mark.parametrize(
    "op,src,want",
    [
        ("ADD_DIRECTORY_TRAILING_SLASH",
         "http://h/a/dir", "http://h/a/dir/"),
        ("ADD_DIRECTORY_TRAILING_SLASH",
         "http://h/a/file.html", "http://h/a/file.html"),
        ("ADD_DIRECTORY_TRAILING_SLASH",
         "http://h/dir?q=1", "http://h/dir/?q=1"),
        ("ADD_WWW", "http://example.com/p", "http://www.example.com/p"),
        ("ADD_WWW", "http://www.example.com/p",
         "http://www.example.com/p"),
        ("DECODE_UNRESERVED_CHARACTERS",
         "http://h/%7Euser%2Fx", "http://h/~user%2Fx"),
        ("ENCODE_NON_URI_CHARACTERS",
         "http://h/a b<c>", "http://h/a%20b%3Cc%3E"),
        ("ENCODE_SPACES", "http://h/a b?x=1 2",
         "http://h/a%20b?x=1%202"),
        ("LOWERCASE", "HTTP://H/A?B=C#D", "http://h/a?b=c#d"),
        ("LOWERCASE_PATH", "http://H/A/B?Q=V", "http://H/a/b?Q=V"),
        ("LOWERCASE_QUERY", "http://H/A?Q=V", "http://H/A?q=v"),
        ("LOWERCASE_QUERY_PARAMETER_NAMES",
         "http://h/p?Name=Val&X=Y", "http://h/p?name=Val&x=Y"),
        ("LOWERCASE_QUERY_PARAMETER_VALUES",
         "http://h/p?Name=Val&X=Y", "http://h/p?Name=val&X=y"),
        ("LOWERCASE_SCHEME_HOST",
         "HTTP://ExAmple.COM/Path", "http://example.com/Path"),
        ("REMOVE_DEFAULT_PORT", "http://h:80/p", "http://h/p"),
        ("REMOVE_DEFAULT_PORT", "https://h:443/p", "https://h/p"),
        ("REMOVE_DEFAULT_PORT", "http://h:8080/p", "http://h:8080/p"),
        ("REMOVE_DIRECTORY_INDEX",
         "http://h/a/index.html", "http://h/a/"),
        ("REMOVE_DIRECTORY_INDEX",
         "http://h/a/default.aspx?q=1", "http://h/a/?q=1"),
        ("REMOVE_DOT_SEGMENTS",
         "http://h/a/b/../c/./d", "http://h/a/c/d"),
        ("REMOVE_DUPLICATE_SLASHES",
         "http://h/a//b///c", "http://h/a/b/c"),
        ("REMOVE_EMPTY_PARAMETERS",
         "http://h/p?a=&b=x&=y&c", "http://h/p?b=x"),
        ("REMOVE_FRAGMENT", "http://h/p#frag", "http://h/p"),
        ("REMOVE_QUERY_STRING", "http://h/p?a=1#f", "http://h/p#f"),
        ("REMOVE_SESSION_IDS",
         "http://h/p;jsessionid=1E6FEC0D14D044541DD84D2D013D29ED?x=1",
         "http://h/p?x=1"),
        ("REMOVE_SESSION_IDS",
         "http://h/p?PHPSESSID=abc&x=1", "http://h/p?x=1"),
        ("REMOVE_SESSION_IDS",
         "http://h/p?sid=9&session_id=8", "http://h/p"),
        ("REMOVE_TRAILING_FRAGMENT", "http://h/p#frag", "http://h/p"),
        ("REMOVE_TRAILING_QUESTION_MARK", "http://h/p?", "http://h/p"),
        ("REMOVE_TRAILING_SLASH", "http://h/a/b/", "http://h/a/b"),
        ("REMOVE_TRAILING_HASH", "http://h/p#", "http://h/p"),
        ("REMOVE_WWW", "http://www.example.com/p",
         "http://example.com/p"),
        ("SECURE_SCHEME", "http://h/p", "https://h/p"),
        ("SECURE_SCHEME", "https://h/p", "https://h/p"),
        ("SORT_QUERY_PARAMETERS",
         "http://h/p?b=2&a=1&c=3", "http://h/p?a=1&b=2&c=3"),
        ("UNSECURE_SCHEME", "https://h/p", "http://h/p"),
        ("UPPERCASE_ESCAPESEQUENCE",
         "http://h/%c3%a9%2f", "http://h/%C3%A9%2F"),
    ],
)
def test_named_ops(op, src, want):
    assert norm1(op, src) == want


def test_replace_ip_with_domain_name_resolver_injection():
    no_dns = make_normalizer(["REPLACE_IP_WITH_DOMAIN_NAME"])
    assert no_dns("http://93.184.216.34/p") == "http://93.184.216.34/p"
    with_dns = make_normalizer(
        ["REPLACE_IP_WITH_DOMAIN_NAME"],
        ip_resolver=lambda ip: "example.com",
    )
    assert with_dns("http://93.184.216.34/p") == "http://example.com/p"
    assert with_dns("http://already.domain/p") == "http://already.domain/p"


def test_unknown_op_raises_and_menu_is_complete():
    with pytest.raises(ValueError, match="unknown normalization"):
        make_normalizer(["NOT_AN_OP"])
    # the full 30-op menu of GenericUrlNormalizerConfig.java:41-75
    assert len(NORMALIZATIONS) == 30


def test_default_list_matches_fused_pipeline():
    """make_normalizer's defaults == the hot-path normalize_url on a
    spread of URLs (the fused pipeline in urls.py implements exactly
    the default 6-op list)."""
    n = make_normalizer(DEFAULT_NORMALIZATIONS)
    for u in [
        "HTTP://ExAmple.com:80/a%7eb c#frag",
        "https://h:443/p?q=%2fx",
        "http://host/path/page.html?a=1&b=2",
        "ftp://Host:21/Dir/file",
        "http://h/%e9",
    ]:
        assert n(u) == normalize_url(u), u


def test_engine_normalizer_validity_gate():
    n = engine_normalizer(DEFAULT_NORMALIZATIONS)
    assert n("mailto:x@y") is None
    assert n("javascript:void(0)") is None
    assert n(None) is None
    assert n("   ") is None
    assert n("HTTP://A.com/x") == "http://a.com/x"


# --- engine == oracle on a configured pipeline ------------------------------


def test_crawl_parity_with_custom_normalizations(spark, tmp_path):
    from crawlspark.oracle.simulator import CrawlSimulator
    from crawlspark.plans.superstep import CrawlEngine
    from crawlspark.sources.webgen import SiteParams, build_site

    site = build_site(
        SiteParams(
            seed=41, n_hosts=3, depth=3, branching=3, dup_pct=0.25,
            redirect_pct=0.1, cross_pct=0.4, n_seed_hosts=2,
        )
    )
    cfg = CrawlConfig(
        max_depth=3,
        default_delay_ms=500,
        url_normalizations=DEFAULT_NORMALIZATIONS + (
            "REMOVE_DUPLICATE_SLASHES",
            "REMOVE_SESSION_IDS",
            "SORT_QUERY_PARAMETERS",
        ),
        url_replacements=((r";ref=[a-z]+$", ""),),
    )
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    eng = CrawlEngine(
        spark, str(tmp_path / "w"), cfg,
        spark.createDataFrame(site.pages),
        spark.createDataFrame(site.robots),
    )
    eng.bootstrap(seeds)
    eng.run()
    log = eng.fetch_log().toPandas()
    sim = CrawlSimulator(
        site.pages_dict(), site.robots_dict(), cfg
    ).run(seeds)
    assert log["url"].tolist() == [r["url"] for r in sim.fetch_log]
    assert len(log) > 10


# --- property: configured defaults == fused hot path -------------------------


def test_default_pipeline_equivalence_property():
    """Property sweep: make_normalizer(DEFAULT_NORMALIZATIONS) and the
    fused normalize_url agree on arbitrary URL-shaped strings (the
    fast path's correctness depends on this equivalence)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    host = st.from_regex(r"[A-Za-z0-9.\-]{1,12}", fullmatch=True)
    path = st.from_regex(
        r"[A-Za-z0-9%~._\-/ #?&=+;:@!$'()*,]{0,30}", fullmatch=True
    )
    scheme = st.sampled_from(["http", "HTTP", "https", "ftp", "Ftp"])
    port = st.sampled_from(["", ":80", ":443", ":21", ":8080", ":0"])

    n = make_normalizer(DEFAULT_NORMALIZATIONS)

    @settings(max_examples=300, deadline=None)
    @given(scheme=scheme, host=host, port=port, path=path)
    def check(scheme, host, port, path):
        u = f"{scheme}://{host}{port}/{path}"
        got = engine_normalizer(DEFAULT_NORMALIZATIONS)(u)
        want = normalize_url(u)
        assert got == want, (u, got, want)

    check()


def test_engine_ip_resolver_plumbing(spark, tmp_path):
    """REPLACE_IP_WITH_DOMAIN_NAME on the engine surface: raises
    loudly without a resolver (never a silent no-op), and an injected
    resolver reaches the executors inside the per-URL judge — for the
    seed (judged when the queue pipeline starts) and for extracted
    links (judged in the fetch+parse pass), whose robots verdict is
    keyed by the resolved host. The crawl equals the oracle's (the
    CrawlConfig.url_ip_resolver path)."""
    from crawlspark.oracle.simulator import CrawlSimulator
    from crawlspark.plans.superstep import CrawlEngine

    # local def: cloudpickle ships it by value inside the judge
    # (a test-module-level function would pickle by reference to a
    # module the executors cannot import)
    def _resolve_ip(host):
        return {"93.184.216.34": "example.com"}.get(host)

    ops = ("REPLACE_IP_WITH_DOMAIN_NAME",)
    with pytest.raises(ValueError, match="ip_resolver"):
        engine_normalizer(ops)
    fn = engine_normalizer(ops, ip_resolver=_resolve_ip)
    assert (
        fn("http://93.184.216.34/a") == "http://example.com/a"
    )
    assert fn("http://10.0.0.1/a") == "http://10.0.0.1/a"  # unresolved

    ip = "http://93.184.216.34"
    html = f'<a href="{ip}/a">a</a> <a href="{ip}/private/b">b</a>'
    pages = {
        "http://example.com/": dict(status=200, html=html, redirect_to=None),
        "http://example.com/a": dict(status=200, html="<p/>", redirect_to=None),
    }
    robots = {"example.com": "User-agent: *\nDisallow: /private"}
    cfg = CrawlConfig(
        max_depth=2,
        default_delay_ms=100,
        url_normalizations=DEFAULT_NORMALIZATIONS + ops,
        url_ip_resolver=_resolve_ip,
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path / "w"),
        cfg,
        spark.createDataFrame(
            [(u, p["status"], p["html"], None) for u, p in pages.items()],
            "url string, status int, html string, redirect_to string",
        ),
        spark.createDataFrame(list(robots.items()), "host string, body string"),
    )
    eng.bootstrap([ip + "/"])
    eng.run()
    got = {r["url"]: r["outcome"] for r in eng.urlseen().collect()}
    sim = CrawlSimulator(pages, robots, cfg).run([ip + "/"])
    assert got == {r["url"]: r["outcome"] for r in sim.urlseen()}
    assert got == {
        "http://example.com/": "NEW",
        "http://example.com/a": "NEW",
        "http://example.com/private/b": "ROBOTS_TXT",
    }
