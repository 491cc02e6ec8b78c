"""The crawl workloads: crawl_rounds and crawl_bulk.

crawl_rounds runs FRESH_ROUNDS politeness-bounded rounds on a fresh
store, stops, and resumes with a new CrawlEngine on the same store for
one more round, so the checkpoint layer is both written and read.
crawl_bulk runs one drain-sized round over a web whose every page is
seeded and admitted. Both compare the committed crawl log tuple for
tuple with plans/simulator.simulate_crawl, the comparison
__spark_entry__._crawl_diff makes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
from spans import CrawlProbe, duration

FRESH_ROUNDS = 2  # crawl_rounds: rounds before the stop; the resume adds one


@dataclass
class Unit:
    """One measured repetition of a workload."""

    wall_s: float
    items: int
    rounds_s: list[float]
    attempted: int
    failures: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)


class CrawlWorkload:
    def __init__(self, bulk: bool):
        self.bulk = bulk

    def crawl_config(self):
        from borges_spark.operators.politeness import PolitenessConfig
        from borges_spark.plans.engine import CrawlConfig

        if self.bulk:
            # a budget that admits every page in one round (bench.py's crawl leg)
            pol = PolitenessConfig(default_delay_s=0.001, round_budget_s=60.0)
            return CrawlConfig(max_rounds=1, order_mode="priority", use_bloom=True, politeness=pol)
        pol = PolitenessConfig(default_delay_s=1.0, round_budget_s=60.0)
        return CrawlConfig(
            max_rounds=FRESH_ROUNDS, order_mode="priority", use_bloom=True,
            fail_every=13, politeness=pol,
        )

    def setup(self, ctx) -> dict:
        web = inputs.web_config(ctx.seed, self.bulk)
        web_dir = os.path.join(ctx.tmp, "web")
        sizes = inputs.write_web(ctx.spark, web, web_dir)
        return {"web_dir": web_dir, "sizes": sizes}

    # A crawl warms up inside its first round and checks each unit's
    # output as it ends (see check_crawl), so these are empty.
    def warm_up(self, ctx, state: dict) -> dict:
        return {}

    def check(self, ctx, state: dict, outputs: dict) -> list[str]:
        return []

    def rows_out(self, outputs: dict) -> dict:
        return {}

    def unit(self, ctx, state: dict, i: int) -> Unit:
        from borges_spark.plans.checkpoint import SnapshotStore
        from borges_spark.plans.engine import CrawlEngine

        spark, cfg = ctx.spark, self.crawl_config()
        pages = spark.read.parquet(f"{state['web_dir']}/pages")
        seeds = spark.read.parquet(f"{state['web_dir']}/seeds")
        store_root = os.path.join(ctx.tmp, f"store{i}")

        probes, stats, resume_s, raised = [], [], None, []
        t0 = time.perf_counter()
        try:
            store = SnapshotStore(store_root)
            engine = CrawlEngine(spark, pages, seeds, store, cfg)
            probes.append(CrawlProbe(ctx.tracer, engine, store, "fresh"))
            stats += engine.run(resume=False)["round_stats"]
            if not self.bulk:
                t_r = time.perf_counter()
                store = SnapshotStore(store_root)
                engine = CrawlEngine(spark, pages, seeds, store, cfg)
                probes.append(CrawlProbe(ctx.tracer, engine, store, "resume"))
                stats += engine.run(resume=True, extra_rounds=1)["round_stats"]
                resume_s = time.perf_counter() - t_r
        except Exception as ex:  # a raising round is a failed op; the run still reports
            raised.append(f"crawl raised {type(ex).__name__}: {str(ex)[:200]}")
        wall = time.perf_counter() - t0

        unit = Unit(
            wall_s=wall,
            items=sum(s["n_selected"] for s in stats),
            rounds_s=[duration(s) for p in probes for s in p.rounds.values()],
            attempted=len(stats) + len(raised),
            failures=raised,
        )
        if raised:
            return unit
        with ctx.tracer.span("bench.check"):
            unit.failures = self.check_crawl(engine, pages, seeds, cfg, stats)
            unit.layers = self.layers(engine, store_root, stats, resume_s)
        return unit

    # -- output checks ---------------------------------------------------
    def check_crawl(self, engine, pages, seeds, cfg, stats) -> list[str]:
        """Crawl log == simulator log, tuple for tuple; for the drain
        round also scheduled == fetched + errors == selected with one
        log row per selected URL."""
        from borges_spark.plans.simulator import simulate_crawl

        failures = []
        log = engine.crawl_log()
        elog = sorted(
            (r["round"], r["rank_in_round"], r["url"], r["status"], r["stage"], r["text"] or "")
            for r in log.select("round", "rank_in_round", "url", "status", "stage", "text").collect()
        )
        if self.bulk:
            m = engine.metrics().agg(
                *[F.sum(c).alias(c) for c in ("scheduled", "fetched", "errors")]
            ).first()
            selected = sum(s["n_selected"] for s in stats)
            n_urls = len({t[2] for t in elog})
            if not (m["scheduled"] == m["fetched"] + m["errors"] == selected == len(elog) == n_urls):
                failures.append(
                    f"drain counts: scheduled={m['scheduled']} fetched={m['fetched']} "
                    f"errors={m['errors']} selected={selected} log_rows={len(elog)} urls={n_urls}"
                )
        page_html = {r["url"]: bytes(r["html"]) for r in pages.select("url", "html").collect()}
        seed_rows = [(r["url"], r["seq"]) for r in seeds.collect()]
        frontier = engine.frontier().select("url", F.xxhash64("url").alias("h")).collect()
        hashes = {r["url"]: r["h"] for r in frontier}
        sim = simulate_crawl(
            page_html, seed_rows, hashes, politeness=cfg.politeness, order_mode=cfg.order_mode,
            max_rounds=len(stats), max_attempts=cfg.max_attempts,
            retry_backoff_rounds=cfg.retry_backoff_rounds, fail_every=cfg.fail_every,
        )
        slog = sorted((t[0], t[1], t[2], t[3], t[5], t[4] or "") for t in sim.crawl_log)
        if elog != slog:
            diff = len(set(elog) ^ set(slog))
            failures.append(f"crawl log differs from the simulator in {diff} tuples")
        if set(hashes) != sim.seen_urls:
            failures.append(
                f"frontier urls differ from the simulator's seen set in "
                f"{len(set(hashes) ^ sim.seen_urls)} urls"
            )
        return failures

    # -- per-layer numbers -----------------------------------------------
    def layers(self, engine, store_root, stats, resume_s) -> dict:
        """Counts and times this unit exposes without the event log:
        round_stats phase times, seen-set counters from engine.metrics()
        and checkpoint bytes per dataset."""
        m = engine.metrics().agg(
            F.sum("new_urls").alias("new"), F.sum("dedup_hits").alias("hits"),
            F.sum("parsed").alias("parsed"),
        ).first()
        ds_bytes = _dataset_bytes(store_root)
        last_round = max(ds_bytes.get("seen_shards", {0: 0}))
        out = {
            "round_stats": stats,
            "seen.candidates": m["new"] + m["hits"],
            "seen.new_urls": m["new"],
            "seen.dedup_hits": m["hits"],
            "seen.shard_bytes": ds_bytes.get("seen_shards", {}).get(last_round, 0),
            "checkpoint.store_bytes_per_page": inputs.dir_bytes(store_root) / max(m["parsed"], 1),
            "checkpoint.resume_round_s": resume_s,
            "dataset_bytes": ds_bytes,
        }
        return out


def _dataset_bytes(store_root: str) -> dict[str, dict[int, int]]:
    """Bytes on disk per dataset per round: <root>/r<round>/<dataset>/..."""
    out: dict[str, dict[int, int]] = {}
    for dirpath, _dirs, files in os.walk(store_root):
        rel = os.path.relpath(dirpath, store_root).split(os.sep)
        if len(rel) < 2 or not rel[0].startswith("r"):
            continue
        n = sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        per_round = out.setdefault(rel[1], {})
        per_round[int(rel[0][1:])] = per_round.get(int(rel[0][1:]), 0) + n
    return out
