"""Deterministic synthetic web generator (the fetch oracle).

The PySpark analog of the reference's programmable ``MockWebsite``
test sites (crawler/web/src/test/.../mocks/MockWebsite.java:46-66) and
the benchmark synthetic-web scenarios
(benchmark/scenarios/web/{small-clean,dup-heavy,mixed-media}.yaml:
depth/branching/dup%/redirect%/error% knobs).

Every row is a *pure function of (seed, host, depth, index)* — hashed
RNG, no sequential state — so the same site can be built three ways
with identical content:

* in pandas for unit tests (``build_site``),
* as plain dicts for the pure-Python oracle simulator,
* distributed via ``spark.range`` + ``mapInPandas`` for bench scale
  (``spark_pages``) — the 10^10-URL frontier is *enumerable by index*,
  never materialized on the driver.

Fetching in the engine has two slots (plans/superstep.py): joining
candidates against a materialized ``pages`` table, or — the shape a
real HTTP fetcher takes — ``make_fetcher(params)``: a ``mapInPandas``
transform that resolves each URL's response directly in the fetch
task, no pages scan, no join shuffle.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

import pandas as pd


def _rng(*key) -> float:
    """Deterministic uniform [0,1) from a hashed key (process-stable)."""
    h = hashlib.blake2b(repr(key).encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") / 2.0**64


@dataclass(frozen=True)
class SiteParams:
    """Scenario knobs (benchmark/scenarios/web/*.yaml analog)."""

    seed: int = 42
    n_hosts: int = 3
    depth: int = 3
    branching: int = 3
    dup_pct: float = 0.0
    redirect_pct: float = 0.0
    error_pct: float = 0.0
    canonical_pct: float = 0.0
    variant_pct: float = 0.0
    cycle_pct: float = 0.0
    cross_pct: float = 0.05
    noindex_pct: float = 0.0
    # transient failures: these pages answer 503 on the FIRST fetch
    # attempt and succeed on retry — exercises the MultiFetcher retry
    # slot (MultiFetcher.java:94-138). The pages table / oracle view
    # carries the final-attempt response.
    flaky_pct: float = 0.0
    n_seed_hosts: int = 1
    # politeness: per-host crawl-delay seconds = 1 + host % 3; hosts
    # divisible by 5 have no robots.txt (default delay applies).
    default_delay_ms: int = 3000
    # incremental-crawl support: revision > 0 deterministically mutates
    # some page bodies (-> MODIFIED) and removes some pages (-> spoiled
    # 404) relative to revision 0 of the same seed.
    revision: int = 0
    mutate_pct: float = 0.0
    gone_pct: float = 0.0
    # revision > 0: fraction of pages that answer 500 (server broke) —
    # stays broken in later revisions, exercising GRACE_ONCE spoiling
    bad_pct: float = 0.0
    # fraction of hosts whose /sitemap.xml is a <sitemapindex> over
    # /sitemap_{0,1}.xml children instead of a flat <urlset>
    sitemap_index_pct: float = 0.0
    # revision > 0: fraction of pages whose Last-Modified header is
    # bumped WITHOUT a content change ("touched") — the false-positive
    # path for metadata checksummers (header says modified, content
    # checksum then says UNMODIFIED)
    touch_pct: float = 0.0
    # fraction of pages with a `Link: <...>; rel="canonical"` response
    # header pointing at the previous sibling (the header-canonical
    # detector path) and with an X-Robots-Tag header (noindex or
    # noindex,nofollow)
    header_canonical_pct: float = 0.0
    x_robots_pct: float = 0.0
    # fraction of pages carrying data-post-url attributes (the
    # post-import-links field surface): one skip-level target plus a
    # duplicate of the first child href (exercising the stage's
    # already-extracted subtraction)
    post_pct: float = 0.0

    def host(self, h: int) -> str:
        return f"site{h:04d}.example.test"

    def base(self, h: int) -> str:
        return f"http://{self.host(h)}"

    def n_at_depth(self, d: int) -> int:
        return self.branching**d

    def pages_per_host(self) -> int:
        return sum(self.branching**d for d in range(self.depth + 1))

    def total_pages(self) -> int:
        return self.n_hosts * self.pages_per_host()


def page_url(p: SiteParams, h: int, d: int, i: int) -> str:
    if d == 0:
        return p.base(h) + "/"
    return p.base(h) + f"/d{d}/p{i}.html"


def _is_variant(p: SiteParams, h: int, d: int, i: int) -> bool:
    return d > 0 and _rng(p.seed, h, d, i, "variant") < p.variant_pct


def _linked_url(p: SiteParams, h: int, d: int, i: int) -> str:
    """URL a parent renders for child (h,d,i) — sometimes a query variant."""
    u = page_url(p, h, d, i)
    return u + "?s=1" if _is_variant(p, h, d, i) else u


def _page_status(p: SiteParams, h: int, d: int, i: int) -> tuple[int, str | None]:
    """(status, redirect_to). Seeds' roots are always 200."""
    if d == 0:
        return 200, None
    if p.revision > 0 and _rng(p.seed, h, d, i, "gone") < p.gone_pct:
        return 404, None
    if p.revision > 0 and _rng(p.seed, h, d, i, "bad") < p.bad_pct:
        return 500, None
    r_err = _rng(p.seed, h, d, i, "err")
    if r_err < p.error_pct:
        return (404 if _rng(p.seed, h, d, i, "err2") < 0.5 else 500), None
    if _rng(p.seed, h, d, i, "redir") < p.redirect_pct:
        n_d = p.n_at_depth(d)
        j = (i + 1 + int(_rng(p.seed, h, d, i, "rt") * max(1, n_d - 1))) % n_d
        if j == i:
            j = (i + 1) % n_d
        if j == i:  # single page at this depth: redirect to root
            return 301, page_url(p, h, 0, 0)
        return 301, page_url(p, h, d, j)
    return 200, None


def _own_html(p: SiteParams, h: int, d: int, i: int) -> str:
    """HTML for a 200 page, links rendered in deterministic order."""
    url = page_url(p, h, d, i)
    head = [f"<title>{url}</title>"]
    if d > 0 and i > 0 and _rng(p.seed, h, d, i, "canon") < p.canonical_pct:
        head.append(
            f'<link rel="canonical" href="{page_url(p, h, d, i - 1)}"/>'
        )
    if _rng(p.seed, h, d, i, "meta") < p.noindex_pct:
        head.append('<meta name="robots" content="noindex">')
    rev = (
        f" rev={p.revision}"
        if p.revision > 0 and _rng(p.seed, h, d, i, "mut") < p.mutate_pct
        else ""
    )
    body = [f"<h1>{url}</h1><p>host={h} d={d} i={i} seed={p.seed}{rev}</p>"]
    if d < p.depth:
        for j in range(p.branching):
            ci = i * p.branching + j
            body.append(f'<a href="{_linked_url(p, h, d + 1, ci)}">c{j}</a>')
    if _rng(p.seed, h, d, i, "cycle") < p.cycle_pct:
        body.append(f'<a href="{p.base(h)}/">home</a>')
    if p.n_hosts > 1 and _rng(p.seed, h, d, i, "cross") < p.cross_pct:
        body.append(f'<a href="{p.base((h + 1) % p.n_hosts)}/">x</a>')
    if _rng(p.seed, h, d, i, "post") < p.post_pct:
        pd_ = min(p.depth, d + 2)
        pi = (i * p.branching * p.branching + 1) % p.n_at_depth(pd_)
        body.append(
            f'<span data-post-url="{page_url(p, h, pd_, pi)}">p</span>'
        )
        if d < p.depth:
            # duplicate of the first child href — must be subtracted
            body.append(
                f'<span data-post-url="{_linked_url(p, h, d + 1, i * p.branching)}">q</span>'
            )
    return f"<html><head>{''.join(head)}</head><body>{''.join(body)}</body></html>"


def page_html(p: SiteParams, h: int, d: int, i: int) -> str:
    """Body, honoring duplicate-content groups (dup pages clone the
    first sibling at their depth — same checksum => dedup hit)."""
    if d > 0 and i > 0 and _rng(p.seed, h, d, i, "dup") < p.dup_pct:
        return _own_html(p, h, d, 0)
    return _own_html(p, h, d, i)


def page_last_modified(p: SiteParams, h: int, d: int, i: int) -> str:
    """Deterministic Last-Modified header. Bumps exactly when the body
    mutates (the honest-server case) or on a revision "touch" draw
    (header-only change — metadata checksummers see modified, the
    content checksum then says UNMODIFIED)."""
    day = 1 + (h * 7 + d * 3 + i) % 28
    stamp = f"Mon, {day:02d} Jan 2024 00:00:00 GMT"
    if p.revision > 0 and (
        _rng(p.seed, h, d, i, "mut") < p.mutate_pct
        or _rng(p.seed, h, d, i, "touch") < p.touch_pct
    ):
        stamp = f"Tue, {day:02d} Mar 2026 00:00:0{p.revision % 10} GMT"
    return stamp


def page_rows(p: SiteParams, h: int, d: int, i: int) -> list[dict]:
    """All ``pages`` rows for one page id (base + optional variant)."""
    url = page_url(p, h, d, i)
    status, redirect_to = _page_status(p, h, d, i)
    html = page_html(p, h, d, i) if status == 200 else None
    row = {
        "url": url,
        "host": p.host(h),
        "status": status,
        "redirect_to": redirect_to,
        "html": html,
        "depth_from_seed": d,
        # response headers (the HEAD-fetch surface): Last-Modified and
        # a content-derived ETag (changes iff the body changes)
        "last_modified": (
            page_last_modified(p, h, d, i) if status == 200 else None
        ),
        "etag": (
            hashlib.md5(html.encode()).hexdigest()[:16]
            if html is not None
            else None
        ),
        "link_header": (
            f'<{page_url(p, h, d, i - 1)}>; rel="canonical"'
            if (
                status == 200
                and d > 0
                and i > 0
                and _rng(p.seed, h, d, i, "hcanon") < p.header_canonical_pct
            )
            else None
        ),
        "x_robots": (
            (
                "noindex, nofollow"
                if _rng(p.seed, h, d, i, "xrob2") < 0.5
                else "noindex"
            )
            if (
                status == 200
                and _rng(p.seed, h, d, i, "xrob") < p.x_robots_pct
            )
            else None
        ),
    }
    rows = [row]
    if _is_variant(p, h, d, i):
        rows.append({**row, "url": url + "?s=1"})
    return rows


def robots_body(p: SiteParams, h: int) -> str | None:
    """Per-host robots.txt; None => 404 (no rules, default delay)."""
    if h % 5 == 0:
        return None
    delay = 1 + h % 3
    lines = ["User-agent: *"]
    # block a path prefix at the deepest level (prefix match, ~1/10th
    # of leaves for branching>=3 since p1 matches p1, p1x, p1xx...)
    lines.append(f"Disallow: /d{p.depth}/p1")
    if h % 4 == 1:  # exercise Allow-beats-Disallow (strictly longer)
        lines.append(f"Disallow: /d{min(2, p.depth)}/")
        lines.append(f"Allow: /d{min(2, p.depth)}/p")
        lines.append(f"Disallow: /d{min(2, p.depth)}/p1.html$")
    lines.append(f"Crawl-delay: {delay}")
    lines.append(f"Sitemap: {p.base(h)}/sitemap.xml")
    return "\n".join(lines) + "\n"


def _sitemap_url_entries(p: SiteParams, h: int) -> list[str]:
    urls = []
    for i in range(min(p.branching, p.n_at_depth(min(1, p.depth)))):
        d = min(1, p.depth)
        # every third entry omits <lastmod> so the recrawlable
        # resolver's changefreq branch is reachable
        lastmod = (
            ""
            if (h + i) % 3 == 0
            else f"<lastmod>2024-01-{1 + (h + i) % 28:02d}</lastmod>"
        )
        urls.append(
            "<url><loc>{}</loc>{}"
            "<changefreq>daily</changefreq><priority>0.{}</priority></url>".format(
                page_url(p, h, d, i), lastmod, 5 + i % 5
            )
        )
    return urls


def _urlset(entries: list[str]) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + "".join(entries)
        + "</urlset>"
    )


def sitemap_xml(p: SiteParams, h: int) -> str:
    """Small <urlset> listing the host's depth-1 pages."""
    return _urlset(_sitemap_url_entries(p, h))


def _host_uses_index(p: SiteParams, h: int) -> bool:
    return _rng(p.seed, h, "smidx") < p.sitemap_index_pct


def sitemap_rows(p: SiteParams, h: int) -> list[dict]:
    """All sitemap files for one host. Flat layout: /sitemap.xml is a
    <urlset>. Index layout (sitemap_index_pct draw): /sitemap.xml is a
    <sitemapindex> pointing at /sitemap_0.xml and /sitemap_1.xml which
    split the same url list (index-of-sitemaps, the large-site layout
    GenericSitemapResolver.java:84-165 recurses into)."""
    host = p.host(h)
    entries = _sitemap_url_entries(p, h)
    if not _host_uses_index(p, h):
        return [{"host": host, "path": "/sitemap.xml", "xml": _urlset(entries)}]
    half = (len(entries) + 1) // 2
    chunks = [entries[:half], entries[half:]]
    index = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + "".join(
            f"<sitemap><loc>{p.base(h)}/sitemap_{k}.xml</loc></sitemap>"
            for k in range(len(chunks))
        )
        + "</sitemapindex>"
    )
    rows = [{"host": host, "path": "/sitemap.xml", "xml": index}]
    rows.extend(
        {"host": host, "path": f"/sitemap_{k}.xml", "xml": _urlset(chunk)}
        for k, chunk in enumerate(chunks)
    )
    return rows


def seed_rows(p: SiteParams) -> list[dict]:
    """Un-normalized on purpose — exercises the canonicalizer
    (FIXTURES.md §2)."""
    rows = []
    for h in range(min(p.n_seed_hosts, p.n_hosts)):
        raw = f"HTTP://{p.host(h).upper()}:80/#top"
        rows.append({"url": raw, "seq": h})
    return rows


@dataclass
class Site:
    """Small-scale materialization (tests + simulator input)."""

    params: SiteParams
    pages: pd.DataFrame = field(repr=False, default=None)
    seeds: pd.DataFrame = field(repr=False, default=None)
    robots: pd.DataFrame = field(repr=False, default=None)
    sitemaps: pd.DataFrame = field(repr=False, default=None)

    # Spark frames with EXPLICIT schemas: inference over the pandas
    # frames is environment-dependent (all-None object columns, e.g.
    # redirect_to at redirect_pct=0, fail [CANNOT_DETERMINE_TYPE]
    # without Arrow) — the entry contract must not depend on it.
    def spark_pages_df(self, spark):
        return spark.createDataFrame(
            self.pages[PAGES_COLUMNS], schema=PAGES_SCHEMA
        )

    def spark_robots_df(self, spark):
        return spark.createDataFrame(
            self.robots[["host", "body"]], schema=ROBOTS_SCHEMA
        )

    def spark_sitemaps_df(self, spark):
        return spark.createDataFrame(
            self.sitemaps[["host", "path", "xml"]], schema=SITEMAPS_SCHEMA
        )

    def pages_dict(self) -> dict[str, dict]:
        return {r["url"]: r for r in self.pages.to_dict("records")}

    def robots_dict(self) -> dict[str, str | None]:
        return {
            r["host"]: r["body"] for r in self.robots.to_dict("records")
        }

    def sitemaps_dict(self) -> dict[str, dict[str, str]]:
        """host -> {path: xml} (multiple files per host under the
        index-of-sitemaps layout)."""
        out: dict[str, dict[str, str]] = {}
        for r in self.sitemaps.to_dict("records"):
            out.setdefault(r["host"], {})[r["path"]] = r["xml"]
        return out


def build_site(p: SiteParams) -> Site:
    rows: list[dict] = []
    for h in range(p.n_hosts):
        for d in range(p.depth + 1):
            for i in range(p.n_at_depth(d)):
                rows.extend(page_rows(p, h, d, i))
    robots = [
        {"host": p.host(h), "body": robots_body(p, h)} for h in range(p.n_hosts)
    ]
    sitemaps = [row for h in range(p.n_hosts) for row in sitemap_rows(p, h)]
    return Site(
        params=p,
        pages=pd.DataFrame(rows),
        seeds=pd.DataFrame(seed_rows(p)),
        robots=pd.DataFrame(robots),
        sitemaps=pd.DataFrame(sitemaps),
    )


# ---------------------------------------------------------------------------
# Simulated HTTP fetcher (the MultiFetcher/HttpClientFetcher slot,
# HttpClientFetcher.java:315-402): URL -> response computed in the fetch
# task itself. Must return exactly what the pages-table join would.
# ---------------------------------------------------------------------------

_URL_RE = re.compile(
    r"^http://site(\d+)\.example\.test(/|/d(\d+)/p(\d+)\.html)(\?s=1)?$"
)


def _is_flaky(p: SiteParams, h: int, d: int, i: int) -> bool:
    return d > 0 and _rng(p.seed, h, d, i, "flaky") < p.flaky_pct


def fetch_one(
    p: SiteParams, url: str, attempt: int = -1
) -> tuple[int | None, str | None, str | None]:
    """(http_status, html, redirect_to) for a canonicalized URL;
    (None, None, None) when the URL resolves to no page (DNS/404 slot —
    the engine maps a null status to NOT_FOUND). ``attempt=0`` gives
    flaky pages their transient 503; ``attempt=-1`` (default) is the
    final-attempt view the pages table and the oracle see."""
    m = _URL_RE.match(url)
    if not m:
        return None, None, None
    h = int(m.group(1))
    if h >= p.n_hosts:
        return None, None, None
    if m.group(2) == "/":
        d, i = 0, 0
    else:
        d, i = int(m.group(3)), int(m.group(4))
    if d > p.depth or i >= p.n_at_depth(d):
        return None, None, None
    if m.group(5) is not None and not _is_variant(p, h, d, i):
        return None, None, None
    if attempt == 0 and _is_flaky(p, h, d, i):
        return 503, None, None
    status, redirect_to = _page_status(p, h, d, i)
    html = page_html(p, h, d, i) if status == 200 else None
    return status, html, redirect_to


TRANSIENT_STATUSES = {503}


def fetch_batches(p: SiteParams, retries: int = 0):
    """Per-batch fetch generator: pandas frames with a ``url`` column
    in, same frames + (http_status, html, redirect_to) out. The real
    async-HTTP fetcher implements this exact signature; the engine
    composes it with the parse transformer into ONE mapInPandas so
    fetched bodies are parsed in-process and never serialized.

    ``retries``: MultiFetcher semantics (MultiFetcher.java:94-138) —
    transient statuses retried up to ``retries`` times inside the
    fetch task before the response is surfaced."""

    def fetch_with_retry(u: str):
        r = fetch_one(p, u, attempt=0)
        attempt = 0
        while (
            attempt < retries
            and r[0] is not None
            and int(r[0]) in TRANSIENT_STATUSES
        ):
            attempt += 1
            r = fetch_one(p, u, attempt=attempt)
        return r

    def gen(batches):
        for pdf in batches:
            res = [fetch_with_retry(u) for u in pdf["url"]]
            out = pdf.copy()
            out["http_status"] = pd.array([r[0] for r in res], dtype="Int32")
            out["html"] = [r[1] for r in res]
            out["redirect_to"] = [r[2] for r in res]
            yield out

    return gen


def fetch_slot(gen):
    """Wrap a fetch-batches generator (pandas batches with ``url`` ->
    the same batches + http_status/html/redirect_to) as the engine's
    ``fetcher`` slot. The engine reads ``.batches`` and fuses it with
    the parse pass into one mapInPandas; calling the slot on a batch
    DataFrame runs the fetch alone (one Arrow batch per politeness
    partition, zero shuffle)."""

    def fetch(batch_df):
        schema = (
            batch_df.sparkSession.createDataFrame([], batch_df.schema)
            .selectExpr(
                "*",
                "cast(null as int) http_status",
                "cast(null as string) html",
                "cast(null as string) redirect_to",
            )
            .schema
        )
        return batch_df.mapInPandas(gen, schema=schema)

    fetch.batches = gen
    return fetch


def make_fetcher(p: SiteParams, retries: int = 0):
    """Engine ``fetcher`` slot over the synthetic site (see
    ``fetch_slot``)."""
    return fetch_slot(fetch_batches(p, retries=retries))


# ---------------------------------------------------------------------------
# Distributed generation (bench scale): pages enumerable by global index.
# ---------------------------------------------------------------------------

PAGES_SCHEMA = (
    "url string, host string, status int, redirect_to string, "
    "html string, depth_from_seed int, last_modified string, etag string, "
    "link_header string, x_robots string"
)
PAGES_COLUMNS = [
    "url", "host", "status", "redirect_to", "html", "depth_from_seed",
    "last_modified", "etag", "link_header", "x_robots",
]
ROBOTS_SCHEMA = "host string, body string"
SITEMAPS_SCHEMA = "host string, path string, xml string"


def _unrank(p: SiteParams, gidx: int) -> tuple[int, int, int]:
    """Global page index -> (host, depth, index-at-depth)."""
    per = p.pages_per_host()
    h, r = divmod(gidx, per)
    d = 0
    while r >= p.n_at_depth(d):
        r -= p.n_at_depth(d)
        d += 1
    return h, d, r


def spark_pages(spark, p: SiteParams, num_partitions: int | None = None):
    """Generate the pages table distributed: one task per index slice.

    At 10^10 scale this is the *only* viable path — each partition
    materializes just its own slice from the index formula.
    """
    total = p.total_pages()
    rng = spark.range(0, total, 1, num_partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            out: list[dict] = []
            for gidx in pdf["id"].tolist():
                h, d, i = _unrank(p, int(gidx))
                out.extend(page_rows(p, h, d, i))
            yield pd.DataFrame(out, columns=PAGES_COLUMNS)

    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)
