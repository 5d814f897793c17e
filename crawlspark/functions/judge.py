"""The per-URL judge: the one implementation of a candidate's
row-local verdict, in the oracle's stage order (``CrawlSimulator``):
scope vs the referring URL on the raw link (links only,
GenericUrlScopeResolver.java:79-152), the configured normalizer (None:
a bad URL), the host, then TOO_DEEP, FILTERED, ROBOTS_TXT. The
URL-seen check the oracle runs before TOO_DEEP stays in the engine (an
anti-join); no verdict here depends on it, so judging first changes
no outcome. The engine runs ``UrlJudge.pages`` after ``parse`` in the
fetch+parse pass, and ``UrlJudge.rows`` over seeds, orphans and
sitemap locs."""

from __future__ import annotations

import functools
import re
from urllib.parse import urlsplit

import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import types as T

from .links import PARSE_FIELDS
from .robots import RobotsMatcher, RobotsRules
from .urls import _FAST_CANONICAL_RE, normalize_url, url_host

# one judged candidate: normalized url (None: a bad URL), in-document
# position, raw spelling, host, outcome (None: it may be queued)
CANDIDATE = T.StructType(
    [
        T.StructField(n, T.IntegerType() if n == "pos" else T.StringType())
        for n in ("url", "pos", "raw_url", "host", "outcome")
    ]
)
# the parse fields as they leave the fetch+parse pass: links and
# post-import links judged, plus the row's judged redirect or canonical
# target and its pre-scope link count (the URLS_EXTRACTED metric)
JUDGED_FIELDS = T.StructType(
    [
        T.StructField(f.name, T.ArrayType(CANDIDATE))
        if f.name in ("links", "post_links") else f
        for f in PARSE_FIELDS.fields
    ]
    + [T.StructField("target", CANDIDATE),
       T.StructField("links_all_n", T.IntegerType())]
)
# what UrlJudge.rows adds to a candidate frame
ROW_FIELDS = [CANDIDATE[n] for n in ("url", "host", "outcome")]

_EXT_RE = re.compile(r"\.([^./]+)$")


def rules_by_host(rows) -> dict[str, list[tuple[str, bool]]]:
    """Collected (host, pattern, allow) rows of the robots rules dim ->
    per-host rule lists (a host's allow-all sentinel adds none)."""
    out: dict[str, list[tuple[str, bool]]] = {}
    for host, pattern, allow in rows:
        if pattern is not None:
            out.setdefault(host, []).append((pattern, bool(allow)))
    return out


def host_matchers(rules: dict[str, list[tuple[str, bool]]]):
    """host -> its ``RobotsMatcher`` (None: no rules, allow all),
    built once per host."""

    @functools.lru_cache(maxsize=None)
    def matcher(host):
        rs = rules.get(host) if host else None
        return RobotsMatcher(RobotsRules(rules=rs)) if rs else None

    return matcher


def robots_target(url: str) -> str:
    """Path(+query) a robots rule is matched against."""
    parts = urlsplit(url)
    return (parts.path or "/") + (f"?{parts.query}" if parts.query else "")


def _default_normalize(url):
    # already-canonical URLs are fixed points of the default pipeline
    # (property-checked in test_urls): skip the per-row parse for them
    if url is not None and _FAST_CANONICAL_RE.match(url):
        return url
    return normalize_url(url)


def _port(parts) -> int:
    if parts.port is not None:
        return parts.port
    return {"http": 80, "https": 443}.get((parts.scheme or "").lower(), -1)


class UrlJudge:
    """The verdicts for one crawl configuration. ``robots`` maps host ->
    [(pattern, allow)] (``rules_by_host``), or is a broadcast of that
    map, read on the executor at first use; ``sitemap_hosts`` are the
    hosts whose sitemap is present, for ``stay_on_sitemap``."""

    def __init__(self, cfg, robots, sitemap_hosts=()):
        self.normalize = _default_normalize
        if cfg.url_normalizations is not None:
            from .urlnorm import engine_normalizer

            self.normalize = engine_normalizer(
                cfg.url_normalizations,
                cfg.url_replacements,
                cfg.url_ip_resolver,
            )
        self.cfg = cfg
        self._includes = [re.compile(p) for p in cfg.include_patterns]
        self._excludes = [re.compile(p) for p in cfg.exclude_patterns]
        self._blocked_ext = {e.lower() for e in cfg.blocked_extensions}
        self._sitemap_hosts = frozenset(sitemap_hosts)
        self._scoped = bool(
            cfg.stay_on_protocol
            or cfg.stay_on_domain
            or cfg.stay_on_port
            or self._sitemap_hosts
        )
        self._robots = robots if cfg.honor_robots else None
        self._matcher = None

    def in_scope(self, link: str, ref: str) -> bool:
        """Stay-on-protocol/domain/port/sitemap of ``link`` vs the
        referring URL ``ref``."""
        if not self._scoped:
            return True
        cfg = self.cfg
        lp, rp = urlsplit(link), urlsplit(ref)
        if cfg.stay_on_protocol and (
            (lp.scheme or "").lower() != (rp.scheme or "").lower()
        ):
            return False
        rh = (rp.hostname or "").lower()
        if cfg.stay_on_domain:
            lh = (lp.hostname or "").lower()
            if lh != rh and not (cfg.include_subdomains and lh.endswith("." + rh)):
                return False
        if cfg.stay_on_port:
            try:
                if _port(lp) != _port(rp):
                    return False
            except ValueError:  # an unreadable port matches none
                return False
        # extracted links are never sitemap records: on a site with a
        # present sitemap they are all out of scope
        return rh not in self._sitemap_hosts

    def _filtered(self, url: str) -> bool:
        if any(rx.search(url) for rx in self._excludes):
            return True
        if self._includes and not any(rx.search(url) for rx in self._includes):
            return True
        path = urlsplit(url).path or ""
        # ExtensionReferenceFilter: the chars after the last '.' of the
        # last path segment
        m = _EXT_RE.search(path) if self._blocked_ext else None
        if m and m.group(1).lower() in self._blocked_ext:
            return True
        # SegmentCountUrlFilter: non-empty path segments
        nseg = self.cfg.max_path_segments
        return nseg >= 0 and len([s for s in path.split("/") if s]) > nseg

    def judge(self, raw: str | None, depth: int):
        """(url, host, outcome) of one candidate; url None: a bad URL."""
        url = self.normalize(raw)
        if url is None:
            return None, None, None
        host = url_host(url)
        if 0 <= self.cfg.max_depth < depth:
            return url, host, "TOO_DEEP"
        if self._filtered(url):
            return url, host, "FILTERED"
        if self._robots is not None:
            if self._matcher is None:
                rules = self._robots
                if isinstance(rules, Broadcast):
                    rules = rules.value
                self._matcher = host_matchers(rules)
            m = self._matcher(host)
            if m is not None and not m.allowed(robots_target(url)):
                return url, host, "ROBOTS_TXT"
        return url, host, None

    def _candidate(self, raw: str, pos: int, depth: int) -> tuple:
        url, host, outcome = self.judge(raw, depth)
        return (url, pos, raw, host, outcome)

    def pages(self, batches):
        """``parse`` output batches -> the same batches with
        JUDGED_FIELDS: in-scope links (at their document position) and
        post-import links (in order) judged at depth + 1, the redirect
        target (301/302) or non-self canonical at the row's depth, and
        the pre-scope link count."""
        for pdf in batches:
            n = len(pdf)
            links, post, target, n_all = ([None] * n for _ in range(4))
            rows = zip(
                *(pdf[c].tolist() for c in ("url", "depth", "http_status",
                                            "redirect_to", "canonical",
                                            "links", "post_links"))
            )
            for i, (u, d, s, redirect_to, canon, ls, ps) in enumerate(rows):
                d = int(d)
                if ls is not None:
                    n_all[i] = len(ls)
                    links[i] = [self._candidate(lu, p, d + 1)
                                for lu, p in ls if self.in_scope(lu, u)]
                if ps is not None:
                    ps = [p for p in ps if self.in_scope(p, u)]
                    post[i] = [self._candidate(p, k, d + 1)
                               for k, p in enumerate(ps)]
                raw = redirect_to if s in (301, 302) else (
                    canon if canon != u else None
                )
                if raw is not None:
                    target[i] = self._candidate(raw, 0, d)
            for name, col in (("links", links), ("post_links", post),
                              ("target", target), ("links_all_n", n_all)):
                pdf[name] = pd.Series(col, dtype=object, index=pdf.index)
            yield pdf

    def rows(self, batches):
        """Candidate batches with ``raw_url`` and ``depth`` -> the same
        rows plus url, host and outcome (no referring page, no scope)."""
        for pdf in batches:
            out = [
                self.judge(r, int(d))
                for r, d in zip(pdf["raw_url"].tolist(), pdf["depth"].tolist())
            ]
            cols = list(zip(*out)) or [(), (), ()]
            yield pdf.assign(url=cols[0], host=cols[1], outcome=cols[2])
