"""borges_spark benchmark: one workload per process.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 5 --trace 0

Workloads: crawl_rounds, crawl_bulk, corpus_dedup (see README.md).
--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of a traced run. The last stdout line is one JSON object with
keys correct, attempted, failed and metrics. The exit code is 0 only
when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_rounds", "crawl_bulk", "corpus_dedup")
DRIVER_MEM = "4g"  # well under the 15 GB box, which the Python workers share

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "items_per_s": "1/s", "round_p50_s": "s"}
ENGINE_PHASES = (
    "select_s", "parse_s", "fetch_parse_discover_s", "count_new_s",
    "ckpt_s", "sync_write_s", "commit_wait_s",
)
EVENT_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "jvm_cpu_s", "non_jvm_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
ROUND_EVENT_NAMES = {
    "jobs": "jobs_per_round", "stages": "stages_per_round", "tasks": "tasks_per_round",
}
DATASETS = ("frontier", "crawl_log", "metrics", "seen_shards")
OP_EVENT_KEYS = (
    "jobs", "executor_run_s", "jvm_cpu_s", "non_jvm_s", "shuffle_write_bytes", "spill_bytes",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in BENCHMARK.json order."""
    from corpus import OPS

    def unit_of(key: str) -> str:
        if key.endswith("_s"):
            return "s"
        return "bytes" if key.endswith("_bytes") else "count"

    out = {f"engine.{p}": "s" for p in ENGINE_PHASES}
    out.update({f"engine.{ROUND_EVENT_NAMES.get(k, k)}": unit_of(k) for k in EVENT_KEYS})
    out.update({
        "seen.candidates": "count", "seen.new_urls": "count", "seen.dedup_hits": "count",
        "seen.new_per_candidate": "ratio", "seen.shard_bytes": "bytes",
    })
    for d in DATASETS:
        out[f"checkpoint.write_s.{d}"] = "s"
        out[f"checkpoint.write_bytes.{d}"] = "bytes"
    out.update({
        "checkpoint.commit_s": "s", "checkpoint.resume_round_s": "s",
        "checkpoint.store_bytes_per_page": "bytes",
    })
    for op, _key in OPS:
        out[f"{op}.wall_s"] = "s"
        out.update({f"{op}.{k}": unit_of(k) for k in OP_EVENT_KEYS})
        out[f"{op}.rows_out"] = "count"
    out["peak_rss_mb"] = "MB"
    out["trace.wall_s"] = "s"
    out["trace.overhead_s"] = "s"
    out["trace.unattributed_jobs"] = "count"
    return out


@dataclass
class Context:
    """What a workload's setup, warm-up, check and unit calls share."""

    spark: object
    tracer: object
    tmp: str
    seed: int


def isolate(tmp: str) -> None:
    """Keep every file the run writes inside tmp, run the program with
    its defaults, and let Python workers import it from the checkout."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["BORGES_NO_SHM_LOCAL"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for knob in ("BORGES_CKPT_SER", "BORGES_IO_CODEC", "BORGES_SNAPSHOT_CODEC", "PYSPARK_PIN_THREAD"):
        os.environ.pop(knob, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT]


def start_spark(tmp: str, eventlog: bool):
    from borges_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}"
        ),
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    cores = len(os.sched_getaffinity(0))
    return get_spark(cores=cores, app_name="perfbench", extra_conf=conf)


def stop_jvm() -> None:
    """Stop Spark and the JVM it runs in, and wait for both to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher JVM exits when its stdin closes
        proc.wait(timeout=60)


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of this process and every
    descendant -- the JVM, the Python worker daemon and its workers --
    keyed by "<pid>:<command>"."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def make_workload(name: str):
    if name == "corpus_dedup":
        from corpus import CorpusWorkload

        return CorpusWorkload()
    from crawl import CrawlWorkload

    return CrawlWorkload(bulk=name == "crawl_bulk")


def measure(wl, ctx, state, seconds: float) -> list:
    """Repeat the workload's unit until `seconds` have passed (at least once)."""
    units = []
    t0 = time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        units.append(wl.unit(ctx, state, len(units)))
    return units


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def run(args, tmp: str) -> dict:
    from spans import Tracer, self_times

    wl = make_workload(args.workload)
    t = time.perf_counter()
    spark = start_spark(tmp, eventlog=bool(args.trace))
    session_s = time.perf_counter() - t
    # the untraced run records timestamps only; the traced run also tags
    # every Spark job with the span that caused it
    tracer = Tracer(spark.sparkContext if args.trace else None)
    ctx = Context(spark, tracer, tmp, args.seed)
    # input generation is repeated and its median counted, so one slow
    # (the first, cold) generation does not move setup_s
    gen_s, state = [], None
    with tracer.span("bench.setup"):
        for _ in range(3):
            t = time.perf_counter()
            state = wl.setup(ctx)
            gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tracer.span("bench.warm_up"):
        outputs = wl.warm_up(ctx, state)
    warm_s = time.perf_counter() - t
    # references are built outside every timed region
    t = time.perf_counter()
    with tracer.span("bench.check"):
        failures = wl.check(ctx, state, outputs)
    check_s = time.perf_counter() - t
    attempted = len(outputs)

    units = measure(wl, ctx, state, args.seconds)
    rss = tree_peak_rss_mb()
    stop_jvm()  # also completes the event log
    for u in units:
        attempted += u.attempted
        failures += u.failures
    wall = median(u.wall_s for u in units)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": state["sizes"],
        "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warm_s, "check_s": check_s},
        "units": [
            {"wall_s": u.wall_s, "rounds_s": u.rounds_s, "items": u.items,
             "round_stats": u.layers.get("round_stats")}
            for u in units
        ],
        "peak_rss_mb": rss,
        "ops_failed_frac": len(failures) / max(attempted, 1),
        "failures": failures,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    untraced_path = os.path.join(out_dir, f"untraced-{args.workload}-seed{args.seed}.json")
    if not args.trace:
        metrics = {
            "setup_s": session_s + statistics.median(gen_s) + warm_s,
            "wall_s": wall,
            "items_per_s": median(u.items / u.wall_s for u in units),
            "round_p50_s": median(r for u in units for r in u.rounds_s),
        }
        units_of = E2E_UNITS
        with open(untraced_path, "w") as fh:
            json.dump(report, fh, default=str)
    else:
        metrics, report["events"] = layer_metrics(tmp, tracer, units, wl.rows_out(outputs))
        metrics["peak_rss_mb"] = sum(rss.values())
        metrics["trace.wall_s"] = wall
        # overhead against the untraced run of the same workload and seed,
        # when one has run in this checkout
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                untraced = json.load(fh)
            metrics["trace.overhead_s"] = wall - median(u["wall_s"] for u in untraced["units"])
        units_of = per_layer_units()
        self_s = self_times(tracer.spans)
        spans = [{**s, "self_s": self_s[s["id"]]} for s in tracer.spans]
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({**report, "spans": spans}, fh, default=str)
    print(json.dumps(report, default=str), file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units_of.items()},
    }


def layer_metrics(tmp: str, tracer, units, rows_out) -> tuple[dict, dict]:
    """Per-layer metrics of the traced units from round_stats, store
    counters, spans, and the event log folded per span."""
    import eventlog
    from corpus import OPS
    from spans import duration, subtree

    by_group = eventlog.fold(eventlog.read_events(os.path.join(tmp, "eventlog")))
    spans = tracer.spans

    def counters(span_list):
        c = eventlog.Counters()
        for s in span_list:
            c.add(by_group.get(f"pb{s['id']}", eventlog.Counters()))
        return c.as_dict()

    m: dict = {}
    layers = [u.layers for u in units]
    stats = [st for la in layers for st in la.get("round_stats", [])]
    for p in ENGINE_PHASES:
        m[f"engine.{p}"] = median(st.get(p) for st in stats)
    rounds = [s for s in spans if s["name"] == "engine.round"]
    per_round = [counters(subtree(spans, r)) for r in rounds]
    for k in EVENT_KEYS:
        m[f"engine.{ROUND_EVENT_NAMES.get(k, k)}"] = median(c[k] for c in per_round)
    for k in ("seen.candidates", "seen.new_urls", "seen.dedup_hits", "seen.shard_bytes",
              "checkpoint.store_bytes_per_page", "checkpoint.resume_round_s"):
        m[k] = median(la.get(k) for la in layers)
    if m["seen.candidates"]:
        m["seen.new_per_candidate"] = m["seen.new_urls"] / m["seen.candidates"]
    for d in DATASETS:
        m[f"checkpoint.write_s.{d}"] = median(
            duration(s) for s in spans if s["name"] == f"checkpoint.write.{d}"
        )
        m[f"checkpoint.write_bytes.{d}"] = median(
            b for la in layers for b in la.get("dataset_bytes", {}).get(d, {}).values()
        )
    m["checkpoint.commit_s"] = median(duration(s) for s in spans if s["name"] == "checkpoint.commit")
    for op, _key in OPS:
        calls = [s for s in spans if s["name"] == op]
        m[f"{op}.wall_s"] = median(duration(s) for s in calls)
        per_call = [counters([s]) for s in calls]
        for k in OP_EVENT_KEYS:
            m[f"{op}.{k}"] = median(c[k] for c in per_call)
        m[f"{op}.rows_out"] = rows_out.get(op, 0)
    m["trace.unattributed_jobs"] = by_group.get(None, eventlog.Counters()).jobs
    detail = {
        "per_round_events": per_round,
        "unattributed": by_group.get(None, eventlog.Counters()).as_dict(),
    }
    return m, detail


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "borges_spark", "plans", "engine.py")):
        print(f"perfbench: no borges_spark package under {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(tmp)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        result = run(args, tmp)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
