"""Live fetch stage — the deployment's HTTP GET (SURVEY.md §2.1 S5).

In tests and benchmarks the engine "fetches" by equi-joining against a
synthetic `pages` table; in a real deployment each politeness-budgeted
partition fetches its URLs over HTTP inside mapInPandas. This module is
that fetch body: stdlib urllib (requests isn't in the image), one
opener per partition (connection/session reuse — the Spark analogue of
the reference's per-thread session, Elsevier/paper_xml.py:244-263),
bounded timeouts, and error-class mapping compatible with
operators/frontier.route_fetch_outcomes.

Offline testing uses file:// URLs — same code path, no network.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd

FETCHED_SCHEMA_SUFFIX = "status int, html binary"


@dataclass(frozen=True)
class LoginConfig:
    """Form POST login → session cookie (S6; the reference's AIP flow,
    Borges/spiders/AIP/aip_spider.py:43-64: GET showLogin, harvest the
    hidden `id` input, POST urlencoded credentials to doLogin, crawl
    with the session cookie).

    submit_url: the form action (doLogin).
    form: static fields (login, password, loginSubmit, ...).
    login_page_url: GET first and harvest `hidden_fields` input values
        into the form (aip_spider.py:44: `//input[@name="id"]/@value`).
    """

    submit_url: str
    form: tuple[tuple[str, str], ...] = ()
    login_page_url: str | None = None
    hidden_fields: tuple[str, ...] = ()


@dataclass(frozen=True)
class RenderConfig:
    """Headless-browser (Splash) rendering for JS-heavy hosts (S8; the
    reference renders RSC pages via scrapy-splash —
    Borges/spiders/RSC/metadata.py:39 `SplashRequest(url, ..., args=
    {'wait': 10, 'timeout': 90, 'resource-timeout': 10})`,
    Borges/settings.py:94-104 points at the Splash daemon).

    URLs whose host is in `hosts` are fetched THROUGH the Splash HTTP
    API (`{endpoint}?url=<url>&wait=<wait_s>&timeout=<timeout_s>`) —
    the render daemon is an external service exactly as in the
    reference; everything engine-side (routing, the widened timeout,
    the per-host politeness cost of the render wait) is modeled here."""

    endpoint: str  # e.g. http://splash:8050/render.html
    hosts: tuple[str, ...] = ()
    wait_s: float = 10.0
    timeout_s: float = 90.0


def _hidden_value(html: str, name: str) -> str | None:
    m = re.search(
        rf'<input[^>]*name="{re.escape(name)}"[^>]*value="([^"]*)"', html
    ) or re.search(rf'<input[^>]*value="([^"]*)"[^>]*name="{re.escape(name)}"', html)
    return m.group(1) if m else None


def make_http_fetcher(
    timeout_s: float = 10.0,
    max_bytes: int = 16 * 1024 * 1024,  # the reference's blob ceiling
    user_agent: str = "borges-spark/0.1 (+compliance)",
    login: LoginConfig | None = None,
    render: RenderConfig | None = None,
):
    """Build a mapInPandas body: batches with a `url` column ->
    same columns + (status, html). Everything else (politeness, retry
    accounting, parse) stays in the engine.

    With `login`, each partition's opener carries a CookieJar and
    performs the form POST once before its first fetch — the Spark
    analogue of the reference's one login per scraper session."""

    def fetch_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import http.cookiejar
        import urllib.error
        import urllib.parse
        import urllib.request

        jar = http.cookiejar.CookieJar()
        opener = urllib.request.build_opener(urllib.request.HTTPCookieProcessor(jar))
        opener.addheaders = [("User-Agent", user_agent)]

        if login is not None:
            fields = dict(login.form)
            if login.login_page_url:
                with opener.open(login.login_page_url, timeout=timeout_s) as resp:
                    page = resp.read(max_bytes).decode("utf-8", "replace")
                for name in login.hidden_fields:
                    val = _hidden_value(page, name)
                    if val is not None:
                        fields[name] = val
            req = urllib.request.Request(
                login.submit_url,
                data=urllib.parse.urlencode(fields).encode(),
                headers={"Content-Type": "application/x-www-form-urlencoded"},
                method="POST",
            )
            with opener.open(req, timeout=timeout_s) as resp:
                resp.read(max_bytes)  # session cookie now lives in `jar`

        render_hosts = set(render.hosts) if render is not None else set()

        def fetch_one(url: str) -> tuple[int, bytes | None]:
            timeout = timeout_s
            if render_hosts:
                host = urllib.parse.urlsplit(url).hostname or ""
                if host in render_hosts:
                    # route through the Splash render endpoint with the
                    # reference's wait/timeout args (metadata.py:39)
                    url = (
                        f"{render.endpoint}?url={urllib.parse.quote(url, safe='')}"
                        f"&wait={render.wait_s:g}&timeout={render.timeout_s:g}"
                    )
                    timeout = max(timeout_s, render.timeout_s)
            try:
                with opener.open(url, timeout=timeout) as resp:
                    body = resp.read(max_bytes + 1)
                    if len(body) > max_bytes:
                        return 413, None  # too large -> permanent, dead-letter
                    status = getattr(resp, "status", 200) or 200
                    return int(status), bytes(body)
            except urllib.error.HTTPError as ex:
                return int(ex.code), None
            except urllib.error.URLError:
                return 503, None  # connection-level: transient, retried
            except (TimeoutError, OSError):
                return 503, None
            except ValueError:
                return 400, None  # malformed URL: permanent

        for pdf in it:
            statuses, bodies = [], []
            for url in pdf["url"]:
                s, b = fetch_one(url)
                statuses.append(s)
                bodies.append(b)
            out = pdf.copy()
            out["status"] = pd.Series(statuses, dtype="int32")
            out["html"] = bodies
            yield out

    return fetch_batches


def fetch_urls(
    df,
    timeout_s: float = 10.0,
    extra_cols: str = "",
    login: LoginConfig | None = None,
    render: RenderConfig | None = None,
):
    """Attach (status, html) to a DataFrame of URLs via live fetch.

    df must be repartitioned by (host, host_salt) upstream so one
    host's budgeted URLs share a partition (session reuse + per-host
    ordering) — `operators/credentials.partition_for_fetch` does this.
    With `login`, every partition logs in once (cookie session) before
    fetching — S6 (aip_spider.py:43-64).
    """
    schema_prefix = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{schema_prefix}, {FETCHED_SCHEMA_SUFFIX}"
    return df.mapInPandas(make_http_fetcher(timeout_s, login=login, render=render), schema)
