"""Browser (JS-rendering) fetch slot: the deterministic CI renderer,
the engine integration, and the MultiFetcher chain semantics.

Reference: PlaywrightFetcher.java (render flow), MultiFetcher.java:
110-158 (accept + first-accepting-fetcher-wins + bad-response
fall-through), AbstractFetcher.java:56-63 (reference-filter accept).
"""

import pytest

from crawlspark.config import CrawlConfig
from crawlspark.sources.browserfetch import (
    BrowserFetcherConfig,
    accept_fn,
    chain_fetchers,
    fake_browser_render_fn,
    make_browser_fetcher,
    render_static_js,
)

pytestmark = pytest.mark.usefixtures("spark")


# ---------------------------------------------------------------------------
# Mini-renderer unit behavior
# ---------------------------------------------------------------------------


def test_render_document_write():
    status, dom, red = render_static_js(
        "http://a/x",
        '<body><script>document.write("<a href=\'/js1\'>j</a>")'
        "</script><a href='/plain'>p</a></body>",
    )
    assert status == 200 and red is None
    assert "/js1" in dom and "/plain" in dom
    assert "<script" not in dom  # script replaced by its output


def test_render_inner_html():
    _, dom, _ = render_static_js(
        "http://a/x",
        "<div id='menu'></div><script>document.getElementById('menu')"
        ".innerHTML = \"<a href='/js2'>m</a>\"</script>",
    )
    assert "<div id='menu'><a href='/js2'>m</a></div>" in dom


def test_render_location_redirect():
    status, dom, red = render_static_js(
        "http://a/x",
        "<script>location.href = 'http://a/spa'</script>",
    )
    assert status == 200 and red == "http://a/spa"


def test_render_none_passthrough():
    assert render_static_js("http://a/x", None) == (None, None, None)


def test_fake_render_fn_sources():
    r = fake_browser_render_fn(pages={"http://a/": "<p>hi</p>"})
    assert r("http://a/")[0] == 200
    assert r("http://a/missing")[0] == 404
    # status/html/redirect tuple values pass through unrendered on
    # server-side redirects and bad statuses
    r2 = fake_browser_render_fn(
        pages={
            "http://a/r": (301, "", "http://a/t"),
            "http://a/bad": (500, "boom", None),
        }
    )
    assert r2("http://a/r") == (301, "", "http://a/t")
    assert r2("http://a/bad") == (500, "boom", None)
    with pytest.raises(ValueError):
        fake_browser_render_fn()


def test_playwright_gate_message():
    # without an injected render_fn the real path must fail loudly and
    # actionably when playwright is absent (import-gated, like the
    # kafka-python / translator client slots)
    try:
        import playwright  # noqa: F401

        pytest.skip("playwright present; gate not exercisable")
    except ImportError:
        pass
    from crawlspark.sources.browserfetch import playwright_render_fn

    render = playwright_render_fn(BrowserFetcherConfig())
    with pytest.raises(ImportError, match="render_fn"):
        render("http://a/")


# ---------------------------------------------------------------------------
# Engine integration: JS-injected links crawled only under rendering
# ---------------------------------------------------------------------------

JS_SITE = {
    "http://js.test/": (
        200,
        "<body><a href='/static'>s</a>"
        "<script>document.write(\"<a href='/appmenu'>m</a>\")</script>"
        "</body>",
        None,
    ),
    "http://js.test/static": (200, "<p>static leaf</p>", None),
    "http://js.test/appmenu": (
        200,
        "<div id='r'></div><script>document.getElementById('r')"
        ".innerHTML = \"<a href='/deep'>d</a>\"</script>",
        None,
    ),
    "http://js.test/deep": (200, "<p>deep leaf</p>", None),
}


def _crawl(spark, tmp_path, fetcher, tag):
    from crawlspark.plans.superstep import CrawlEngine

    cfg = CrawlConfig(max_depth=3, default_delay_ms=100)
    robots = spark.createDataFrame([], "host string, body string")
    eng = CrawlEngine(
        spark, str(tmp_path / tag), cfg, None, robots, fetcher=fetcher
    )
    eng.bootstrap(["http://js.test/"])
    eng.run()
    return {
        r["url"]
        for r in eng.fetch_log().select("url").collect()
    }


def test_engine_browser_vs_plain(spark, tmp_path):
    # plain fetcher: raw HTML, scripts never run -> JS links invisible
    plain = make_browser_fetcher(
        BrowserFetcherConfig(),
        render_fn=lambda u: JS_SITE.get(u, (404, None, None)),
    )
    got_plain = _crawl(spark, tmp_path, plain, "plain")
    assert got_plain == {"http://js.test/", "http://js.test/static"}

    # rendering fetcher: document.write + innerHTML links discovered
    browser = make_browser_fetcher(
        BrowserFetcherConfig(),
        render_fn=fake_browser_render_fn(pages=JS_SITE),
    )
    got_js = _crawl(spark, tmp_path, browser, "js")
    assert got_js == set(JS_SITE)


# ---------------------------------------------------------------------------
# MultiFetcher chain semantics
# ---------------------------------------------------------------------------


def test_accept_pattern():
    acc = accept_fn(BrowserFetcherConfig(accept_pattern=r"/app/"))
    assert acc("http://x/app/page") and not acc("http://x/static")
    assert accept_fn(BrowserFetcherConfig())("anything")


def test_chain_first_accepting_wins(spark, tmp_path):
    # renders run in executor worker processes, so route-call evidence
    # is appended to a shared file (local mode: same filesystem)
    log = str(tmp_path / "routes.log")

    def make_render(kind):
        def render(u):
            with open(log, "a") as f:
                f.write(f"{kind} {u}\n")
            if kind == "browser":
                return fake_browser_render_fn(pages=JS_SITE)(u)
            return JS_SITE.get(u, (404, None, None))

        return render

    def routed(kind):
        try:
            with open(log) as f:
                return {
                    l.split()[1]
                    for l in f
                    if l.startswith(kind + " ")
                }
        except FileNotFoundError:
            return set()

    # route everything except /static through the rendering fetcher
    chained = chain_fetchers(
        [
            (lambda u: "static" not in u, make_render("browser")),
            (lambda u: True, make_render("plain")),
        ]
    )
    got = _crawl(spark, tmp_path, chained, "chain")
    # rendered pages exposed their JS links, so the whole site crawls
    assert got == set(JS_SITE)
    assert "http://js.test/static" in routed("plain")
    assert "http://js.test/static" not in routed("browser")
    assert {
        "http://js.test/",
        "http://js.test/appmenu",
        "http://js.test/deep",
    } <= routed("browser")

    # the inverse routing: only deep-path pages rendered -> root's
    # document.write link stays invisible and the crawl stops early
    import os

    os.remove(log)
    inverted = chain_fetchers(
        [
            (
                lambda u: "appmenu" in u or "deep" in u,
                make_render("browser"),
            ),
            (lambda u: True, make_render("plain")),
        ]
    )
    got2 = _crawl(spark, tmp_path, inverted, "chain2")
    assert got2 == {"http://js.test/", "http://js.test/static"}
    assert not routed("browser")


def test_chain_routing_and_fallthrough():
    seen = []

    def flaky(u):
        seen.append("flaky")
        return (503, None, None)

    def solid(u):
        seen.append("solid")
        return (200, "<p>ok</p>", None)

    chained = chain_fetchers(
        [(lambda u: True, flaky), (lambda u: True, solid)]
    )
    gen = chained.batches
    import pandas as pd

    out = list(gen(iter([pd.DataFrame({"url": ["http://x/"]})])))[0]
    # bad response from the first fetcher fell through to the second
    assert seen == ["flaky", "solid"]
    assert out["http_status"].tolist() == [200]

    # nobody accepts -> unfetched row (engine error ladder handles it)
    none = chain_fetchers([(lambda u: False, solid)])
    out2 = list(
        none.batches(iter([pd.DataFrame({"url": ["http://x/"]})]))
    )[0]
    assert out2["http_status"].isna().all()

    with pytest.raises(ValueError):
        chain_fetchers([])


def test_engine_rejects_fetcher_without_batches(spark, tmp_path):
    """The engine's fetch slot is the generator form: a DataFrame-only
    transform is refused at construction, before any crawl work."""
    from crawlspark.plans.superstep import CrawlEngine

    robots = spark.createDataFrame([], "host string, body string")
    with pytest.raises(ValueError, match="batches"):
        CrawlEngine(
            spark, str(tmp_path / "nobatches"), CrawlConfig(), None,
            robots, fetcher=lambda df: df,
        )


def test_fetch_slot_dataframe_form_matches_batches(spark):
    """``fetch_slot(gen)(df)`` runs the same generator as ``.batches``
    (perfbench drives the DataFrame form directly)."""
    import pandas as pd

    chained = chain_fetchers(
        [(lambda u: True, lambda u: (200, f"<p>{u}</p>", None))]
    )
    urls = ["http://x/a", "http://x/b"]
    direct = list(chained.batches(iter([pd.DataFrame({"url": urls})])))[0]
    via_df = (
        chained(spark.createDataFrame([(u,) for u in urls], "url string"))
        .orderBy("url")
        .toPandas()
    )
    assert via_df["http_status"].tolist() == [200, 200]
    assert via_df["html"].tolist() == direct["html"].tolist()
