"""Benchmark-side tracing: spans, layer probes and event-log exchanges.

Nothing here runs inside the program. The traced crawl wraps the
engine's layer entry points (``instrument``) in spans and, around every
round, re-executes each layer through its public function on that
round's real inputs (``probe_round``), materialized with Spark's
``noop`` sink so the layer's own execution time and counts are
measured where the work happens. Spark's event log supplies the
exchange (shuffle) and task numbers.

A span is ``{run_id, span_id, parent, name, start_ms, end_ms, attrs}``;
self time = duration minus the part covered by child spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from unittest import mock

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from web_scraper_spark.functions.urls import canonicalize_url
from web_scraper_spark.operators import bloom as bloom_ops
from web_scraper_spark.operators import seen as seen_ops
from web_scraper_spark.operators.bloom import bloom_might_contain
from web_scraper_spark.operators.extract import extract_pages
from web_scraper_spark.operators.politeness import select_polite, split_robots
from web_scraper_spark.operators.seen import build_seen_bloom, filter_unseen
from web_scraper_spark.plans import rounds as rounds_mod
from web_scraper_spark.plans.rounds import CrawlEngine
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog

__all__ = [
    "Tracer",
    "instrument",
    "probe_init",
    "probe_round",
    "probe_after_round",
    "catalog_sizes",
    "round_windows",
    "exchange_metrics",
]

CATALOG_TABLES = ("frontier", "extractions", "fetch_log", "seen_bloom")


class Tracer:
    """In-memory span recorder for one benchmark run (single driver
    thread, so a stack gives the parent links)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "run_id": self.run_id,
            "span_id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def self_seconds(self) -> dict[str, float]:
        """Summed self time per span name."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += s["end_ms"] - s["start_ms"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end_ms"] - s["start_ms"] - child_ms[s["span_id"]]) / 1000.0
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "self_seconds": self.self_seconds(),
                    "counts": self.counts,
                    "spans": self.spans,
                },
                f,
            )


def _wrap(tracer: Tracer, name: str, fn, attr_of=None):
    def traced(*args, **kwargs):
        attrs = attr_of(*args, **kwargs) if attr_of else {}
        with tracer.span(name, **attrs):
            return fn(*args, **kwargs)

    return traced


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Span every layer entry point the round plan calls, for the
    duration of the block. Lazy operators record their (driver-side)
    plan-building time; catalog writes include the execution they
    trigger."""
    table = lambda self, name, *a, **k: {"table": name}  # noqa: E731
    patches = [
        (CrawlEngine, "init_frontier", "plans.rounds.init_frontier", None),
        (CrawlEngine, "run_round", "plans.rounds.run_round", lambda self, r, *a, **k: {"round_id": r}),
        (ParquetSnapshotCatalog, "write_snapshot", "sources.catalog.write_snapshot", table),
        (ParquetSnapshotCatalog, "write_round_partition", "sources.catalog.write_round_partition", table),
        (ParquetSnapshotCatalog, "read", "sources.catalog.read", table),
        (ParquetSnapshotCatalog, "read_log", "sources.catalog.read_log", table),
        (rounds_mod, "split_robots", "operators.politeness.split_robots", None),
        (rounds_mod, "select_polite", "operators.politeness.select_polite", None),
        (rounds_mod, "filter_unseen", "operators.seen.filter_unseen", None),
        (rounds_mod, "build_seen_bloom", "operators.seen.build_seen_bloom", None),
        (rounds_mod, "extract_pages", "operators.extract.extract_pages", None),
        (rounds_mod, "canonicalize_url", "functions.urls.canonicalize_url", None),
        (seen_ops, "bloom_might_contain", "operators.bloom.bloom_might_contain", None),
        (bloom_ops, "merge_bloom_tables", "operators.bloom.merge_bloom_tables", None),
    ]
    with contextlib.ExitStack() as stack:
        for owner, attr, name, attr_of in patches:
            original = getattr(owner, attr)
            stack.enter_context(mock.patch.object(owner, attr, _wrap(tracer, name, original, attr_of)))
        yield


def _timed_noop(tracer: Tracer, name: str, df: DataFrame) -> float:
    """Execute ``df`` fully (noop sink) inside a span; seconds taken."""
    with tracer.span(name) as rec:
        df.write.format("noop").mode("overwrite").save()
    return (rec["end_ms"] - rec["start_ms"]) / 1000.0


def _observed(df: DataFrame, **aggs) -> tuple[DataFrame, Observation]:
    """``df`` counting its rows (and ``aggs``) as it executes, so a probe
    takes its counts from the same job it times."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), *[e.alias(k) for k, e in aggs.items()]), obs


def _probe(tracer: Tracer, name: str, metric: str, df: DataFrame, **aggs) -> dict:
    """Time ``df`` as layer ``name`` into ``metric``; its observed counts."""
    df, obs = _observed(df, **aggs)
    tracer.count(metric, _timed_noop(tracer, name, df))
    return obs.get


def probe_init(tracer: Tracer, spark, tasks_path: str) -> None:
    """URL canonicalization over the seed-expanded task URLs — the
    volume ``init_frontier`` canonicalizes."""
    urls = spark.read.parquet(tasks_path).select(canonicalize_url(F.col("url")).alias("u"))
    got = _probe(tracer, "functions.urls.canonicalize_url", "urls.canonicalize_s", urls)
    tracer.count("urls.rows", got["rows"])


def probe_round(
    tracer: Tracer,
    engine: CrawlEngine,
    round_id: int,
    robots: DataFrame,
    seen_total_prev: int,
) -> None:
    """Re-run the selection-side layers on the state the engine's round
    ``round_id`` starts from (before it runs)."""
    catalog, spec, nb = engine.catalog, engine.spec, engine.n_buckets
    frontier = catalog.read("frontier", version=round_id - 1)
    frontier_rows = _probe(
        tracer, "sources.catalog.read_frontier", "catalog.read_frontier_s", frontier
    )["rows"]
    candidates = frontier.filter((F.col("state") == "pending") & (F.col("not_before") <= round_id))

    allowed, blocked = split_robots(candidates, robots)
    _probe(tracer, "operators.politeness.split_robots", "politeness.split_robots_s", allowed)
    tracer.count("politeness.blocked", blocked.count())

    seen = frontier.filter(F.col("state") == "fetched").select("url_hash", "url")
    bloom = None
    if seen_total_prev > 0:
        per_bucket = max(1000, seen_total_prev // nb * engine.BLOOM_HEADROOM)
        bloom = build_seen_bloom(seen, n_buckets=nb, expected_items_per_bucket=per_bucket, fpp=engine.bloom_fpp)
        tracer.count("bloom.build_s", _timed_noop(tracer, "operators.bloom.build", bloom))
        if catalog.current_version("seen_bloom") == round_id - 1:
            bloom = catalog.read("seen_bloom", version=round_id - 1)  # what the round probes
        flagged = bloom_might_contain(allowed, bloom, nb)
        got = _probe(
            tracer, "operators.bloom.probe", "bloom.probe_s", flagged,
            maybe=F.sum(F.col("might_be_seen").cast("long")),
        )
        maybe = int(got["maybe"] or 0)
        tracer.count("bloom.probed", got["rows"])
        tracer.count("bloom.maybe_seen", maybe)
        if maybe:
            maybe_rows = flagged.filter(F.col("might_be_seen")).select("url_hash", "url")
            tracer.count(
                "bloom.confirmed_new", maybe_rows.join(seen, ["url_hash", "url"], "left_anti").count()
            )

    unseen = filter_unseen(allowed, seen, bloom, nb, confirm_cols=["url_hash", "url"])
    got = _probe(tracer, "operators.seen.filter_unseen", "seen.filter_unseen_s", unseen)
    tracer.count("politeness.rows_in", got["rows"])

    selected = select_polite(unseen, robots, spec, candidate_upper_bound=frontier_rows)
    got = _probe(tracer, "operators.politeness.select_polite", "politeness.select_polite_s", selected)
    tracer.count("politeness.rows_out", got["rows"])


def probe_after_round(
    tracer: Tracer,
    engine: CrawlEngine,
    round_id: int,
    pages_resolved: DataFrame,
    scratch_dir: str,
) -> None:
    """Re-run the layers that consume the round's committed output:
    extraction of its fetched pages, canonicalization of its outlinks,
    and a copy-on-write rewrite of its frontier snapshot."""
    catalog = engine.catalog
    ok = (
        catalog.read_log("fetch_log")
        .filter((F.col("round_id") == round_id) & (F.col("status") == "success"))
        .select("url")
    )
    pages, obs = _observed(
        pages_resolved.join(F.broadcast(ok), pages_resolved.url_canon == ok.url, "left_semi").select(
            "url_hash", F.col("url_canon").alias("url"), "html"
        ),
        html_bytes=F.sum(F.length("html")),
    )
    tracer.count("extract.pages_s", _timed_noop(tracer, "operators.extract.extract_pages", extract_pages(pages)))
    tracer.count("extract.rows", obs.get["rows"])
    tracer.count("extract.html_mb", (obs.get["html_bytes"] or 0) / 2**20)

    outlinks = (
        catalog.read_log("extractions")
        .filter(F.col("round_id") == round_id)
        .select(F.explode("outlinks").alias("raw"))
        .select(canonicalize_url(F.col("raw")).alias("u"))
    )
    got = _probe(tracer, "functions.urls.canonicalize_url", "urls.canonicalize_s", outlinks)
    tracer.count("urls.rows", got["rows"])

    copy = ParquetSnapshotCatalog(engine.spark, os.path.join(scratch_dir, f"cow_probe_{round_id}"))
    with tracer.span("sources.catalog.write_snapshot", table="frontier") as rec:
        copy.write_snapshot("frontier", catalog.read("frontier", version=round_id), version=round_id)
    tracer.count("catalog.write_snapshot_s", (rec["end_ms"] - rec["start_ms"]) / 1000.0)
    copy.drop("frontier")


def catalog_sizes(root: str) -> dict[str, float]:
    """Bytes and data files each catalog table holds after the crawl
    (every snapshot is retained, so this is what the crawl wrote)."""
    out = {}
    for table in CATALOG_TABLES:
        files = [
            p
            for p in glob.glob(os.path.join(root, table, "**", "part-*"), recursive=True)
            if os.path.isfile(p)
        ]
        out[f"catalog.bytes_written.{table}"] = float(sum(os.path.getsize(p) for p in files))
        out[f"catalog.files_written.{table}"] = float(len(files))
    return out


def round_windows(tracer: Tracer) -> list[tuple[float, float]]:
    """(start, end) epoch ms of each round the engine executed; the
    resume's calls for already-committed rounds return at once and are
    dropped."""
    rounds: dict[int, tuple[float, float]] = {}
    for s in tracer.spans:
        if s["name"] == "plans.rounds.run_round":
            rid, w = s["attrs"]["round_id"], (s["start_ms"], s["end_ms"])
            if rid not in rounds or w[1] - w[0] > rounds[rid][1] - rounds[rid][0]:
                rounds[rid] = w
    return list(rounds.values())


def _events(eventlog_dir: str):
    # one file per application, or a directory of rolled files per
    # application (eventlog_v2_<app>/events_<n>_<app>)
    for path in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an in-progress log


def exchange_metrics(eventlog_dir: str, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Shuffle volume, task skew, executor busy share and jobs per
    round, over the tasks/jobs that started inside ``windows`` (the
    engine's run_round spans, epoch ms)."""

    def inside(t: float) -> int | None:
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    jobs_per_window = [0] * len(windows)
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_wall: dict[int, float] = {}
    wr = rd = run_ms = 0.0
    for ev in _events(eventlog_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            i = inside(ev["Submission Time"])
            if i is not None:
                jobs_per_window[i] += 1
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            if inside(info.get("Launch Time", 0)) is None:
                continue
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            wr += sw.get("Shuffle Bytes Written", 0)
            rd += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            run_ms += m.get("Executor Run Time", 0)
            stage_tasks[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time") and inside(si["Submission Time"]) is not None:
                stage_wall[si["Stage ID"]] = si["Completion Time"] - si["Submission Time"]
    skew = 1.0
    slowest = max((s for s in stage_wall if stage_tasks.get(s)), key=stage_wall.get, default=None)
    if slowest is not None:
        durations = stage_tasks[slowest]
        skew = max(durations) / max(1.0, statistics.median(durations))
    wall_ms = sum(b - a for a, b in windows)
    return {
        "exchange.shuffle_write_mb": wr / 2**20,
        "exchange.shuffle_read_mb": rd / 2**20,
        "exchange.task_skew": skew,
        "exchange.executor_busy_frac": run_ms / max(1.0, wall_ms * cores),
        "rounds.spark_jobs": float(statistics.median(jobs_per_window)) if windows else 0.0,
    }
