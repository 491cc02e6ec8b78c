"""Single-process reference crawl simulator.

Plays the role of the original single-process toolkit (one request in
flight, insertion-order frontier, keyed dedup probe before insert —
Borges/spiders/ECS/metadata.py:33-37, Borges/db_scripts/insert_jl.py:28-38)
under the *documented* total order the distributed engine implements.
The equivalence tests (SURVEY.md §5.3) run this simulator and the
CrawlEngine on the same synthetic web + seeds + politeness budget and
require: identical (round, rank_in_round, url, status) crawl logs and
identical final URL-seen sets.

Pure Python, shares the exact canonicalization/parse functions with the
engine's pandas UDFs (borges_spark.functions.html) so byte-identical
text is by construction — any drift is a real bug.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from borges_spark.functions.html import decode_html, extract_links, extract_text
from borges_spark.functions.urls import url_host_py
from borges_spark.operators.politeness import PolitenessConfig, budget_for, hour_of_round


@dataclass
class SimEntry:
    url: str
    url_hash: int
    host: str
    depth: int
    priority: float
    discovered_seq: int
    state: str = "pending"
    attempts: int = 0
    next_allowed_round: int = 0
    stage: int = 0


@dataclass
class SimResult:
    crawl_log: list = field(default_factory=list)  # (round, rank, url, status, text, stage)
    seen_urls: set = field(default_factory=set)
    rounds_run: int = 0


def simulate_crawl(
    pages: dict[str, bytes],
    seeds: list[tuple[str, int]],
    url_hash: dict[str, int],
    politeness: PolitenessConfig = PolitenessConfig(),
    order_mode: str = "priority",
    max_rounds: int = 50,
    max_attempts: int = 3,
    retry_backoff_rounds: int = 1,
    fail_every: int = 0,
    initial_cash: float = 1_000_000.0,
    n_stages: int = 1,
    stage_windows: tuple = (),
) -> SimResult:
    """pages: url -> raw html bytes.  url_hash: url -> xxhash64 (from Spark,
    so tie-breaks and failure injection agree bit-for-bit with the engine).

    order_mode: 'fifo' | 'priority' (depth-weighted) | 'opic' (cash flow:
    fetched pages split integer-valued cash over out-link occurrences;
    integer arithmetic keeps accumulation order-independent, matching
    the engine exactly).

    n_stages/stage_windows mirror the engine's chained-crawl tiers
    (ECS metadata -> full-HTML): a 200 at stage s < n_stages-1 re-enters
    pending at stage s+1 with fresh attempts; stage_windows[s] hour-
    gates a stage; per-host order drains lower stages first."""
    delays = dict(politeness.host_delays)
    windows = {h: (a, b) for h, a, b in politeness.host_windows}

    def hash_of(u: str) -> int:
        return url_hash.get(u, 0)

    seed_priority = initial_cash if order_mode == "opic" else 1.0
    frontier: dict[str, SimEntry] = {}
    for url, seq in sorted(seeds, key=lambda t: t[1]):
        if url in frontier:
            continue
        frontier[url] = SimEntry(
            url=url, url_hash=hash_of(url), host=url_host_py(url),
            depth=0, priority=seed_priority, discovered_seq=seq,
        )
    next_seq = len(frontier)

    res = SimResult()
    for r in range(max_rounds):
        hour = hour_of_round(r, politeness)
        def stage_open(stage: int) -> bool:
            if n_stages <= 1 or stage >= len(stage_windows):
                return True
            w = stage_windows[stage]
            if w is None:
                return True
            a, b = w
            return (a <= hour < b) if a <= b else (hour >= a or hour < b)

        eligible = [
            e for e in frontier.values()
            if e.state == "pending" and e.attempts < max_attempts
            and e.next_allowed_round <= r and stage_open(e.stage)
        ]
        # host gates + per-host top-k budget; within-round total order is
        # HOST-MAJOR (host ASC, then the per-host priority/fifo order) —
        # matching the engine, whose dense rank derives from host_rank +
        # per-host offsets rather than a global cross-host sort
        selected: list[SimEntry] = []
        by_host: dict[str, list[SimEntry]] = {}
        for e in eligible:
            by_host.setdefault(e.host, []).append(e)
        for host in sorted(by_host):
            entries = by_host[host]
            d = delays.get(host, politeness.default_delay_s)
            k, m = budget_for(d, politeness.round_budget_s)
            if r % m != 0:
                continue
            w = windows.get(host)
            if w is not None:
                a, b = w
                ok = (a <= hour < b) if a <= b else (hour >= a or hour < b)
                if not ok:
                    continue
            if order_mode == "fifo":
                entries.sort(key=lambda e: (e.stage, e.discovered_seq, e.url_hash))
            else:
                entries.sort(key=lambda e: (e.stage, -e.priority, e.discovered_seq, e.url_hash))
            selected.extend(entries[:k])

        if not selected:
            break

        # fetch + parse, in rank order; discoveries appended FIFO
        new_this_round: list[tuple[str, int]] = []  # (url, depth)
        queued: set[str] = set()
        cash_flow: dict[str, float] = {}  # OPIC: url -> accumulated cash this round
        for rank, e in enumerate(selected, start=1):
            raw = pages.get(e.url)
            if raw is None:
                status = 404
            elif fail_every > 0 and e.url_hash % fail_every == 0 and e.attempts == 0:
                status = 503
            else:
                status = 200

            text = None
            if status == 200:
                html = decode_html(raw)
                text = extract_text(html)
                links = extract_links(e.url, html)
                share = float(int(e.priority / len(links))) if (order_mode == "opic" and links) else 0.0
                for link in links:
                    if order_mode == "opic":
                        cash_flow[link] = cash_flow.get(link, 0.0) + share
                    if link in frontier or link in queued:
                        continue
                    queued.add(link)
                    new_this_round.append((link, e.depth + 1))
            res.crawl_log.append((r, rank, e.url, status, text, e.stage))

            e.attempts += 1
            if status == 200 and e.stage < n_stages - 1:
                # chained-crawl promotion: fresh attempts, next tier
                e.stage += 1
                e.state = "pending"
                e.attempts = 0
                e.next_allowed_round = r + 1
            elif status == 200:
                e.state = "fetched"
            # spelled out, not frontier.TRANSIENT_STATUSES: the simulator
            # is the independent reference arm of the engine equivalence gate
            elif status in (429, 500, 502, 503) and e.attempts < max_attempts:
                e.state = "pending"
                e.next_allowed_round = r + 1 + retry_backoff_rounds
            else:
                e.state = "dead"

        # OPIC: cash to already-known URLs accrues only to rows still
        # pending after this round's fetch routing (mirrors the engine)
        if order_mode == "opic":
            for url, cash in cash_flow.items():
                ent = frontier.get(url)
                if ent is not None and ent.state == "pending":
                    ent.priority += cash

        for url, depth in new_this_round:
            if order_mode == "opic":
                prio = cash_flow.get(url, 0.0)
            else:
                prio = 1.0 / (1.0 + depth)
            frontier[url] = SimEntry(
                url=url, url_hash=hash_of(url), host=url_host_py(url),
                depth=depth, priority=prio,
                discovered_seq=next_seq, next_allowed_round=r + 1,
            )
            next_seq += 1
        res.rounds_run += 1

    res.seen_urls = set(frontier)
    return res
