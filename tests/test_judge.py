"""The per-URL judge (functions/judge.py) equals the oracle's ladder:
scope vs the referring URL (``CrawlSimulator._in_scope``), the
configured normalizer, the host, TOO_DEEP, ``_filtered`` and the
``RobotsMatcher`` verdict on ``match_target`` — over random URLs,
filter and scope configs and robots rules. Pure Python: the judge's
batch methods run on pandas frames, as in the fetch+parse pass."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from crawlspark.config import CrawlConfig
from crawlspark.functions.judge import UrlJudge, rules_by_host
from crawlspark.functions.robots import parse_robots_txt
from crawlspark.functions.urlnorm import DEFAULT_NORMALIZATIONS
from crawlspark.functions.urls import url_host
from crawlspark.oracle.simulator import CrawlSimulator, match_target

_HOSTS = ["example.test", "a.example.test", "b.a.example.test",
          "badexample.test", "other.test"]
_SEGS = ["a", "b", "private", "index.html", "doc.PDF", "img.jpg",
         "c.tar.gz", "x%7ey", "sp ace", "..", ""]
_QUERIES = ["", "?q=1", "?b=2&a=1", "?jsessionid=9", "?"]
_REFS = ["http://example.test/", "https://a.example.test:8080/x",
         "http://other.test/p/q", "ftp://example.test/f"]
_ROBOTS = [
    None,
    "User-agent: *\nDisallow: /private",
    "User-agent: *\nDisallow: /\nAllow: /a",
    "User-agent: crawlspark\nDisallow: /b\n\nUser-agent: *\nDisallow: /",
    "User-agent: *\nDisallow: /*.PDF$",
    "User-agent: *\nDisallow: /*?",
]


@st.composite
def _url(draw):
    kind = draw(st.sampled_from(["abs", "abs", "abs", "mailto", "rel"]))
    segs = "/".join(draw(st.lists(st.sampled_from(_SEGS), max_size=3)))
    if kind == "mailto":
        return "mailto:x@example.test"
    if kind == "rel":
        return "/" + segs
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "ftp"]))
    host = draw(st.sampled_from(_HOSTS + ["WWW.Example.test"]))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    query = draw(st.sampled_from(_QUERIES))
    frag = draw(st.sampled_from(["", "#top"]))
    return f"{scheme}://{host}{port}/{segs}{query}{frag}"


@st.composite
def _case(draw):
    pick = st.sampled_from
    cfg = CrawlConfig(
        max_depth=draw(pick([-1, 0, 1, 2])),
        include_patterns=draw(pick([(), (r"example\.test",), ("/a", "/b")])),
        exclude_patterns=draw(pick([(), ("private",), (r"\?",)])),
        blocked_extensions=draw(pick([(), ("pdf",), ("JPG", "gz")])),
        max_path_segments=draw(pick([-1, 0, 1, 2])),
        stay_on_domain=draw(st.booleans()),
        include_subdomains=draw(st.booleans()),
        stay_on_protocol=draw(st.booleans()),
        stay_on_port=draw(st.booleans()),
        stay_on_sitemap=draw(st.booleans()),
        use_sitemaps=draw(st.booleans()),
        honor_robots=draw(st.booleans()),
        url_normalizations=draw(
            pick([None, DEFAULT_NORMALIZATIONS + ("REMOVE_WWW",
                                                  "SORT_QUERY_PARAMETERS")])
        ),
    )
    return dict(
        cfg=cfg,
        robots={h: draw(pick(_ROBOTS)) for h in _HOSTS},
        sitemap_hosts=draw(st.sets(pick(_HOSTS), max_size=2)),
        ref=draw(pick(_REFS)),
        links=draw(st.lists(_url(), min_size=1, max_size=6)),
        depth=draw(st.integers(0, 2)),
    )


@settings(max_examples=150, deadline=None)
@given(_case())
def test_judge_equals_oracle_ladder(case):
    cfg, ref, links, depth = (
        case["cfg"], case["ref"], case["links"], case["depth"]
    )
    sim = CrawlSimulator(
        {}, case["robots"], cfg,
        sitemaps={h: "<urlset/>" for h in case["sitemap_hosts"]},
    )
    rows = [
        (h, p, allow)
        for h, body in case["robots"].items()
        for p, allow in parse_robots_txt(body, cfg.user_agent).rules
    ]
    # the engine passes sitemap hosts only when stay_on_sitemap applies
    sm = case["sitemap_hosts"] if cfg.stay_on_sitemap and cfg.use_sitemaps else ()
    judge = UrlJudge(cfg, rules_by_host(rows), sm)

    def oracle(raw, d):
        url = sim._normalize(raw)
        if url is None:
            return None, None, None
        host = url_host(url)
        if cfg.max_depth >= 0 and d > cfg.max_depth:
            return url, host, "TOO_DEEP"
        if sim._filtered(url):
            return url, host, "FILTERED"
        m = sim._matchers.get(host) if cfg.honor_robots else None
        if m is not None and not m.allowed(match_target(url)):
            return url, host, "ROBOTS_TXT"
        return url, host, None

    def cand(raw, pos, d):
        url, host, outcome = oracle(raw, d)
        return (url, pos, raw, host, outcome)

    # extracted links: scope on the raw link, then the ladder at d + 1;
    # a redirect target: no scope, the ladder at the row's depth
    # (a self-canonical is no target; another canonical is one)
    page = pd.DataFrame(
        {
            "url": [ref, ref, ref, ref],
            "depth": [depth] * 4,
            "http_status": [200, 301, 200, 200],
            "redirect_to": [None, links[0], None, None],
            "canonical": [None, None, ref, links[-1]],
            "links": [[(u, i) for i, u in enumerate(links)], None, None, None],
            "post_links": [links, None, None, None],
        }
    )
    out = next(judge.pages(iter([page])))
    in_scope = [u for u in links if sim._in_scope(u, ref)]
    assert [judge.in_scope(u, ref) for u in links] == [
        sim._in_scope(u, ref) for u in links
    ]
    assert out["links"][0] == [
        cand(u, i, depth + 1)
        for i, u in enumerate(links)
        if sim._in_scope(u, ref)
    ]
    assert out["post_links"][0] == [
        cand(u, k, depth + 1) for k, u in enumerate(in_scope)
    ]
    assert out["links_all_n"].tolist() == [len(links), None, None, None]
    canon = None if links[-1] == ref else cand(links[-1], 0, depth)
    assert out["target"].tolist() == [
        None, cand(links[0], 0, depth), None, canon
    ]

    # seeds, orphans and sitemap locs: no referring page, no scope
    seeds = pd.DataFrame({"raw_url": links, "depth": depth})
    got = next(judge.rows(iter([seeds])))
    assert list(zip(got["url"], got["host"], got["outcome"])) == [
        oracle(u, depth) for u in links
    ]


def test_scope_edges_match_oracle():
    """Subdomains and look-alike hosts under stay_on_domain, and
    resolved default ports under stay_on_port, as the oracle scopes
    them."""
    for cfg in (
        CrawlConfig(stay_on_domain=True),
        CrawlConfig(stay_on_domain=True, include_subdomains=True),
        CrawlConfig(stay_on_port=True),
    ):
        sim = CrawlSimulator({}, {}, cfg)
        judge = UrlJudge(cfg, None)
        for link in ("http://a.example.test/", "http://badexample.test/",
                     "http://example.test:80/", "https://example.test/"):
            ref = "http://example.test/x"
            assert judge.in_scope(link, ref) == sim._in_scope(link, ref)


def test_unreadable_port_is_out_of_port_scope():
    """An extracted link may carry a port urlsplit cannot read (the
    oracle raises on it): under stay_on_port it is out of scope, and
    the fetch+parse pass keeps running."""
    judge = UrlJudge(CrawlConfig(stay_on_port=True), None)
    assert judge.in_scope("http://h.test:99999/a", "http://h.test/") is False
    assert judge.in_scope("http://h.test:80/a", "http://h.test/") is True
