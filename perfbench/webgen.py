"""Seeded synthetic webs the benchmark crawls.

Every web is a fan-out tree per host, so a crawl is only a few BFS
rounds deep. Page j of a host links to children ``F*j+1 .. F*j+F``
(href forms vary: absolute URL, absolute path, relative, trailing
slash), two cross links inside the host, the home page, a duplicate of
its first child and one anchor of every kind the admission rules
block. The polite webs add robots targets: a disallowed /private/ page
on every page and eight allowed /private/public/ pages on the home
page.

The seed changes page text only. Structure, cross links, which polite
pages fail and the server's per-request delays derive from the URL
alone, so every seed crawls the same URLs in the same rounds and does
the same amount of work.
"""

from __future__ import annotations

import random
import zlib
from collections import deque
from dataclasses import dataclass
from urllib.parse import urlparse

import pandas as pd

_VOCAB = (
    "crawl frontier round host bucket seen bloom fetch parse span link "
    "admit block robots delay budget page text media queue order depth "
    "rank window join shuffle task batch arrow worker driver commit"
).split()

HTML_CT = "text/html; charset=utf-8"

# politeness of the polite webs: the engine's per-host cap, and the
# robots crawl delay of every fourth host (tokens per round =
# CrawlConfig.round_budget_ms 60 s // 600 ms = 100)
MAX_PER_HOST_ROUND = 160
CRAWL_DELAY_MS = 600
ROUND_BUDGET_MS = 60_000


@dataclass(frozen=True)
class Web:
    suffix: str
    hosts: int
    fanout: int
    levels: int  # depth of the full tree below the home page
    polite: bool  # robots targets, 404/429 pages, crawl delays

    @property
    def pages_per_host(self) -> int:
        return sum(self.fanout**i for i in range(self.levels + 1))


# 48 x 1,057 = 50,736 pages in 2 rounds: each home page is a hub that
# links 1,056 leaves. The seen set passes CrawlConfig.use_bloom_min_seen
# (50,000) when round 1 commits, so round 2 (50,688 leaves) probes the
# bloom prefilter. Each round costs about 8 s however few URLs it
# visits, so a deeper tree would spend the run on per-round overhead.
WIDE = Web("wide.test", hosts=48, fanout=1056, levels=1, polite=False)
# 12 x (1 + 192 + 8) = 2,412 pages: uncapped this is a 2-round crawl;
# the per-host caps (160, or 100 on delayed hosts) spread the 200
# pages found on each home page over rounds 2 and 3.
POLITE = Web("polite.test", hosts=12, fanout=192, levels=1, polite=True)
# warm-up web: home pages only, so a one-round crawl
WARMUP = Web("warmup.test", hosts=4, fanout=1, levels=0, polite=False)


def host_name(web: Web, h: int) -> str:
    return f"host{h}.{web.suffix}"


def page_path(j: int) -> str:
    return "/" if j == 0 else f"/p{j}"


def page_url(host: str, j: int) -> str:
    return f"https://{host}{page_path(j)}"


def _href(host: str, c: int) -> str:
    m = c % 4
    if m == 0:
        return f"/p{c}/"  # trailing slash: normalizes away
    if m == 1:
        return f"https://{host}/p{c}"
    if m == 2:
        return f"p{c}"  # relative: resolves against /p{j} or /
    return f"/p{c}"


def children(web: Web, j: int) -> list[int]:
    n = web.pages_per_host
    return [c for c in range(web.fanout * j + 1, web.fanout * j + web.fanout + 1)
            if c < n]


def cross_links(web: Web, j: int) -> list[int]:
    n = web.pages_per_host
    return [(37 * j + 11) % n, (7 * j + 3) % n]


def private_links(web: Web, j: int) -> list[str]:
    if not web.polite:
        return []
    out = [f"/private/p{j}"]
    if j == 0:
        out.extend(f"/private/public/p{k}" for k in range(8))
    return out


def page_html(web: Web, seed: int, host: str, j: int) -> str:
    rng = random.Random(zlib.crc32(f"{seed}|{host}|{j}".encode()))

    def text(k: int) -> str:
        return " ".join(rng.choice(_VOCAB) for _ in range(k))

    kids = children(web, j)
    parts = [
        "<!DOCTYPE html>",
        f"<html><head><title>{host} p{j}</title>",
        '<link rel="stylesheet" href="/css/site.css">',
        '<script src="/js/app.js"></script></head><body>',
        f"<h1>Page {j}</h1><p>{text(10)}</p>",
    ]
    for c in kids:
        parts.append(
            f'<p>{text(3)} <a href="{_href(host, c)}">child {c}</a>'
            f' <img src="/img/{c}.png"> {text(2)}</p>'
        )
    for x in cross_links(web, j):
        parts.append(f'<p><a href="{page_path(x)}">see {x}</a> {text(3)}</p>')
    parts.append('<p><a href="/">home</a></p>')
    if kids:
        parts.append(f'<p><a href="{_href(host, kids[0])}">again</a></p>')
    for p in private_links(web, j):
        parts.append(f'<p><a href="{p}">members</a></p>')
    parts.extend(
        [
            '<a href="#top">top</a>',
            '<a href="/tag/news">tag</a>',
            '<a href="/author/admin">author</a>',
            '<a href="/page/2/">next</a>',
            f'<a href="{page_path(j)}?e-page-1a2b=3">elementor</a>',
            '<a href="/assets/logo.png">logo</a>',
            '<a href="/static/docs/readme">docs</a>',
            '<a href="/theme/style.css">css</a>',
            '<a href="mailto:info@example.test">mail</a>',
            '<a href="tel:+15550100">call</a>',
            '<a href="javascript:void(0)">js</a>',
            f'<a href="https://offsite.{web.suffix}/x">offsite</a>',
            f'<a href="https://sub.{host}/x">subdomain</a>',
            f"<p>{text(6)}</p></body></html>",
        ]
    )
    return "\n".join(parts)


def page_index(path: str) -> int | None:
    """Inverse of ``page_path`` (also for /private/ leaves): the page
    number, or None for a path the web does not serve."""
    if path in ("", "/"):
        return 0
    for prefix in ("/private/public/p", "/private/p", "/p"):
        if path.startswith(prefix) and path[len(prefix):].isdigit():
            return int(path[len(prefix):])
    return None


def polite_status(host: str, path: str) -> str:
    """'ok', '404' or '429' (429 on the first request, then 200): about
    1 page in 37 each, fixed by the URL."""
    if path.startswith("/private/") or path in ("", "/"):
        return "ok"
    h = zlib.crc32(f"{host}|{path}|s".encode()) % 37
    return "404" if h == 0 else "429" if h == 1 else "ok"


def request_delay_ms(host: str, path: str) -> int:
    """Fixed per-request server delay derived from the URL: 1-8 ms."""
    return 1 + zlib.crc32(f"{host}|{path}|d".encode()) % 8


def serve_page(web: Web, seed: int, host: str, path: str) -> str | None:
    """HTML for ``path`` on ``host``, or None if the web has no such page.
    /private/ pages are leaves that link home only."""
    if not host.endswith("." + web.suffix):
        return None
    j = page_index(path)
    if j is None or j >= web.pages_per_host:
        return None
    if path.startswith("/private/"):
        if not web.polite:
            return None
        return (f"<html><body><p>members {j}</p>"
                '<a href="/">home</a></body></html>')
    return page_html(web, seed, host, j)


def sites_pdf(web: Web) -> pd.DataFrame:
    return pd.DataFrame(
        [
            {"siteid": h + 1, "custid": 100 + h,
             "url": f"https://{host_name(web, h)}", "enabled": True}
            for h in range(web.hosts)
        ]
    )


def delayed(h: int) -> bool:
    return h % 4 == 0


def robots_pdf(web: Web) -> pd.DataFrame:
    rows = []
    for h in range(web.hosts):
        host = host_name(web, h)
        rows.append({"host": host, "user_agent": "*", "rule_type": "disallow",
                     "path_prefix": "/private/", "crawl_delay_ms": None})
        rows.append({"host": host, "user_agent": "*", "rule_type": "allow",
                     "path_prefix": "/private/public/", "crawl_delay_ms": None})
        if delayed(h):
            rows.append({"host": host, "user_agent": "*", "rule_type": "allow",
                         "path_prefix": "/", "crawl_delay_ms": CRAWL_DELAY_MS})
    return pd.DataFrame(rows)


def host_caps(web: Web) -> dict[str, int]:
    """Per-host URLs-per-round cap the engine should enforce: the robots
    token budget for delayed hosts, ``MAX_PER_HOST_ROUND`` otherwise."""
    return {
        host_name(web, h): (
            ROUND_BUDGET_MS // CRAWL_DELAY_MS if delayed(h) else MAX_PER_HOST_ROUND
        )
        for h in range(web.hosts)
    }


def expected_visits(web: Web) -> set[str]:
    """Every page reachable from the seeds through admitted links, derived
    from the generator's structure (not by parsing its HTML). On a
    polite web, 404 pages contribute no links and /private/ pages other
    than /private/public/ are never fetched."""
    out: set[str] = set()
    for h in range(web.hosts):
        host = host_name(web, h)
        q = deque([0])
        seen = {0}
        out.add(page_url(host, 0))
        while q:
            j = q.popleft()
            if web.polite and polite_status(host, page_path(j)) == "404":
                continue
            for p in private_links(web, j):
                if p.startswith("/private/public/"):
                    out.add(f"https://{host}{p}")
            for c in children(web, j) + cross_links(web, j):
                if c not in seen:
                    seen.add(c)
                    out.add(page_url(host, c))
                    q.append(c)
    return out


def make_wide_fetcher(web: Web, seed: int):
    """In-task synthetic fetch callback (operators/fetch.py contract):
    builds each page from its URL; unknown paths answer 404."""

    def fetch(req: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for u in req["url_key"]:
            p = urlparse(u)
            html = serve_page(web, seed, p.netloc, p.path)
            ok = html is not None
            rows.append(
                {
                    "url_key": u,
                    "status_code": 200 if ok else 404,
                    "content_type": HTML_CT,
                    "html": html,
                    "rendered_html": None,
                    "first_attempts_429": 0,
                    "response_time_ms": 1,
                    "content_length": len(html) if ok else 0,
                }
            )
        return pd.DataFrame(rows)

    return fetch


class LoopbackSession:
    """``requests``-shaped session for ``make_http_fetcher`` that sends
    every GET to the benchmark's HTTP server on 127.0.0.1, carrying the
    page's host in the Host header. Only loopback traffic is possible."""

    def __init__(self, port: int):
        import requests

        self.port = port
        self._s = requests.Session()

    def get(self, url, headers=None, timeout=None, allow_redirects=True,
            verify=True):
        p = urlparse(url)
        path = p.path or "/"
        if p.query:
            path += "?" + p.query
        return self._s.get(
            f"http://127.0.0.1:{self.port}{path}",
            headers={**(headers or {}), "Host": p.netloc},
            timeout=timeout,
            allow_redirects=False,
        )
