"""Crawl-round benchmark: one command, every metric by name.

    python3 crawlbench/run.py --workload reference_parity --seed 1 --seconds 10 --trace 0

Runs from any working directory: it finds the engine package next to
its own directory and ships it to the Python workers via PYTHONPATH.
Everything it writes stays under ``.crawlbench/`` beside that package.

One run, on ``local[<cores>]`` from this single driver process:

1. world: the workload's seeded world (cached by generator parameters,
   seed and generator digest; untimed); the oracle's expectation is
   computed in a child Python process while the JVM starts;
2. the session starts (the JVM launch, reported as ``session_start_s``);
3. set-up, three times (``setup_s`` = median): get the session, the
   engine's ingest-time ``resolve_pages`` written once, a warm-up job.
   Beside the first (cold) set-up, one thread crawls a one-host slice
   of the world once (init + one round, unchecked) and another builds,
   probes and merges a bloom, to warm the JIT, codegen and Python
   workers; the later set-ups start once both are done;
4. timed crawls until ``--seconds`` have passed (at least one):
   ``init_frontier`` (timed ``INIT_REPS`` times, the first ones on
   throwaway catalogs), ``rounds`` rounds, then a fresh engine over the
   catalog that resumes past them and commits one more round;
5. ``--trace 1``: one more crawl with spans around every layer call,
   per-round layer probes and Spark's event log, for the per-layer
   metrics; its wall minus the untraced crawl's is the tracing overhead.

Every crawl is checked against the pure-Python oracle and the fetch-log
invariants (``check.py``); a crawl that raises or fails the check counts
as failed. The last stdout line is the JSON result; the line before it
(``crawlbench:``) carries the details (cores, heap, per-crawl values).
Exit code 0 only when every crawl was correct; 2 when the engine package
is missing.

Every process the run starts (the oracle, the JVM, the Python worker
daemon and its forked workers) inherits a run token in its environment.
On every way out, SIGTERM and SIGHUP included, the run stops the JVM,
then signals each process still carrying the token and waits until none
is left before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".crawlbench"
SETUP_REPS = 3
INIT_REPS = 5
TRACES_KEEP = 20
RUN_TOKEN_ENV = "CRAWLBENCH_RUN_TOKEN"

E2E_UNITS = {
    "crawl_urls_per_s": "URLs/s",
    "crawl_wall_s": "s",
    "round_wall_s_p50": "s",
    "init_frontier_s": "s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def box_resources() -> tuple[int, int]:
    """(task slots, driver heap GiB): every core this process may run
    on, and an eighth of RAM (1-6 GiB), which leaves room for the Python
    workers and for other tenants of a shared box."""
    cores = len(os.sched_getaffinity(0))
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    return cores, max(1, min(6, round(mem_kib / (8 * 2**20))))


class MemorySampler:
    """Peak summed memory of a process tree (driver JVM + Python
    workers), sampled from /proc. Each process counts its proportional
    set size (PSS): forked Python workers share pages with their daemon,
    and plain RSS would count those pages once per worker."""

    INTERVAL_S = 0.25

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(entry))
        pids, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(children.get(pid, []))
        return pids

    @staticmethod
    def _pss_kib(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass  # exited since the listing
        return 0

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        self.peak_kib = max(self.peak_kib, sum(self._pss_kib(p) for p in self._tree()))

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kib / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of every CPU since boot, from /proc/stat:
    steal is time the hypervisor ran something else on this box's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _token_pids(token: str) -> list[int]:
    """Every live process but this one whose environment carries the
    run token (a zombie's environ reads empty, so it is not listed)."""
    needle = f"{RUN_TOKEN_ENV}={token}".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(entry))
        except OSError:
            pass  # exited since the listing, or not ours to read
    return pids


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_token_processes(token: str, grace_s: float = 10.0) -> list[int]:
    """SIGTERM every process carrying the run token, SIGKILL what is
    left after ``grace_s``, and return once none is alive. Returns the
    pids it had to signal."""
    signalled: list[int] = []
    sig, kill_at = signal.SIGTERM, time.monotonic() + grace_s
    while True:
        _reap_children()
        pids = _token_pids(token)
        if not pids:
            return signalled
        if time.monotonic() >= kill_at:
            sig = signal.SIGKILL
        for pid in pids:
            if pid not in signalled or sig == signal.SIGKILL:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            if pid not in signalled:
                signalled.append(pid)
        time.sleep(0.05)


def _exit_on_signal(signum, _frame):
    # unwinds through run()'s finally, which stops every started process
    raise SystemExit(128 + signum)


class Bench:
    """State of one benchmark run: session, world, scratch directories."""

    def __init__(self, args: argparse.Namespace):
        from crawlbench import worlds

        self.args = args
        self.workload = worlds.WORKLOADS[args.workload]
        self.cores, self.heap_gib = box_resources()
        self.run_id = f"{int(time.time())}-{uuid.uuid4().hex[:8]}"
        self.token = uuid.uuid4().hex
        os.environ[RUN_TOKEN_ENV] = self.token  # before any process starts
        self.run_dir = STATE / "runs" / self.run_id
        self.eventlog_dir = self.run_dir / "eventlog"
        for d in ("local", "tmp", "eventlog"):
            (self.run_dir / d).mkdir(parents=True, exist_ok=True)
        # every Spark, JVM and Python-worker scratch file stays in the run dir
        os.environ["SPARK_LOCAL_DIRS"] = str(self.run_dir / "local")
        os.environ["TMPDIR"] = tempfile.tempdir = str(self.run_dir / "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        )
        cache = STATE / "worlds"
        cache.mkdir(parents=True, exist_ok=True)
        self.world = worlds.prepare_world(self.workload, args.seed, str(cache))
        # the oracle (pure Python, one core) runs beside the JVM launch
        self.oracle = None
        if not os.path.exists(self.world.expected_path):
            self.oracle = subprocess.Popen(
                [
                    sys.executable,
                    "-c",
                    "import sys; from crawlbench import worlds; "
                    "worlds.write_expected(sys.argv[1], int(sys.argv[2]), sys.argv[3])",
                    self.workload.name,
                    str(args.seed),
                    self.world.expected_path,
                ]
            )
        self.expected: dict | None = None  # loaded at the first check
        self.spark = None
        self.crawls = 0
        self.failed_crawls = 0
        self.failures: list[str] = []

    # ---- session -----------------------------------------------------------
    def _session_conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": f"{self.heap_gib}g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.run_dir / "local"),
            # a fixed-size, pre-touched heap: no run-to-run variance from
            # heap resizing, and peak_rss_mb does not depend on how many
            # heap regions G1 happened to touch before its peak; no
            # hsperfdata files outside the run directory
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.heap_gib}g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.run_dir / 'tmp'}"
            ),
            "spark.hadoop.hadoop.tmp.dir": str(self.run_dir / "tmp"),
        }
        if self.args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.eventlog_dir.as_uri()
            conf["spark.eventLog.compress"] = "false"  # plain JSON lines
        return conf

    def _resolved_path(self) -> str:
        return str(self.run_dir / "pages_resolved")

    def session(self):
        """The engine's SparkSession for this box (the first call
        launches the JVM; later calls return the live session)."""
        from web_scraper_spark.session import get_spark

        self.spark = get_spark(
            app_name="crawlbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self._session_conf(),
        )
        return self.spark

    def setup_once(self) -> float:
        """One set-up: get the session, make the world available (the
        engine's ingest-time page resolve, written once) and run a
        warm-up job through the JVM and a Python worker."""
        from pyspark.sql import functions as F

        from web_scraper_spark.sources.pages_source import resolve_pages

        t0 = time.monotonic()
        spark = self.session()
        resolve_pages(spark.read.parquet(self.world.paths["pages"])).write.mode("overwrite").parquet(
            self._resolved_path()
        )
        df = spark.range(100_000).select("id", F.col("id").cast("string").alias("s"))
        df.repartition(self.cores, "id").groupBy((F.col("id") % 7).alias("k")).count().collect()

        def _identity(batches):
            yield from batches

        df.limit(1000).mapInPandas(_identity, df.schema).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    def warm_ups(self) -> list:
        """Two independent warm-ups, run each in its own thread: crawl a
        one-host slice of the world once (init + one round); build,
        probe and OR-merge a bloom (the seen-filter stages a crawl first
        reaches in its second round). Together they warm the JIT, codegen
        and Python workers for every round plan shape. Nothing here is
        timed or checked. The slice reads the pages through
        ``resolve_pages`` itself, so it can run beside the first set-up,
        which writes them."""
        from pyspark.sql import functions as F

        from web_scraper_spark.operators.bloom import bloom_might_contain, merge_bloom_tables
        from web_scraper_spark.operators.seen import build_seen_bloom
        from web_scraper_spark.plans.rounds import CrawlEngine
        from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
        from web_scraper_spark.sources.pages_source import resolve_pages

        spark, world = self.spark, self.world
        engine = CrawlEngine(
            spark, ParquetSnapshotCatalog(spark, str(self.run_dir / "catalog_warmup")), world.workload.spec
        )

        def crawl_slice() -> None:
            seeds = spark.read.parquet(world.paths["seeds"]).filter(F.col("seed_rank") == 0)
            engine.init_frontier(seeds, world.config.period_start, world.config.period_end)
            engine.run_round(
                1,
                resolve_pages(spark.read.parquet(world.paths["pages"])),
                spark.read.parquet(world.paths["robots"]),
                seeds,
            )

        def bloom_stages() -> None:
            keys = spark.range(2000).select(F.col("id").alias("url_hash"), F.col("id").cast("string").alias("url"))
            bloom = build_seen_bloom(keys, n_buckets=engine.n_buckets, expected_items_per_bucket=1000)
            for df in (bloom_might_contain(keys, bloom, engine.n_buckets), merge_bloom_tables(bloom, bloom)):
                df.write.format("noop").mode("overwrite").save()

        return [crawl_slice, bloom_stages]

    def join_oracle(self) -> None:
        if self.oracle is None:
            return
        code = self.oracle.wait()
        self.oracle = None
        if code != 0:
            raise RuntimeError(f"oracle process exited with {code}")

    def gateway_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # a gateway call cut by a signal; the JVM is still stopped below
                traceback.print_exc(file=sys.stderr)
            self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # ---- one crawl ---------------------------------------------------------
    def crawl(self, tracer=None) -> dict | None:
        """init + ``rounds`` rounds + a resumed round of the workload's
        world on a fresh catalog, checked against the oracle. None when
        it raised or was wrong."""
        self.crawls += 1
        cat_root = str(self.run_dir / f"catalog_{self.crawls}")
        try:
            timings = self._crawl(cat_root, tracer)
            failures = self._check(cat_root)
        except Exception:  # a crawl that raises is a failed crawl; keep measuring
            traceback.print_exc(file=sys.stderr)
            failures = [f"crawl {self.crawls} raised"]
            timings = None
        finally:
            shutil.rmtree(cat_root, ignore_errors=True)
        if failures:
            self.failed_crawls += 1
            self.failures.extend(failures)
            return None
        return timings

    def _crawl(self, cat_root: str, tracer) -> dict:
        from crawlbench import trace
        from web_scraper_spark.plans.rounds import CrawlEngine
        from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog

        spark, world = self.spark, self.world
        wl, cfg = world.workload, world.config
        seeds = spark.read.parquet(world.paths["seeds"])
        robots = spark.read.parquet(world.paths["robots"])
        pages = spark.read.parquet(self._resolved_path())
        engine = CrawlEngine(spark, ParquetSnapshotCatalog(spark, cat_root), wl.spec)

        def traced(name, **attrs):
            return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()

        def engine_call():
            return trace.instrument(tracer) if tracer else contextlib.nullcontext()

        t_start = time.monotonic()
        with traced("crawl", workload=wl.name, seed=world.seed):
            if tracer:
                with traced("probe.init"):
                    trace.probe_init(tracer, spark, world.paths["tasks"])
            # untraced: the first inits go to throwaway catalogs, the
            # last one starts the crawl
            init_samples = []
            for i in range(1 if tracer else INIT_REPS):
                last = i == (0 if tracer else INIT_REPS - 1)
                root = cat_root if last else f"{cat_root}_init{i}"
                init_engine = engine if last else CrawlEngine(spark, ParquetSnapshotCatalog(spark, root), wl.spec)
                t0 = time.monotonic()
                with engine_call():
                    init_engine.init_frontier(seeds, cfg.period_start, cfg.period_end)
                init_samples.append(time.monotonic() - t0)
                if not last:
                    shutil.rmtree(root, ignore_errors=True)
            init_s = init_samples[-1]

            def probed_round(r: int, run_it) -> tuple[dict, float]:
                """One engine round, with layer probes around it when traced."""
                if tracer:
                    prev = engine.catalog.read_round_manifest(r - 1) if r > 1 else {}
                    with traced("probe.before"):
                        trace.probe_round(tracer, engine, r, robots, prev.get("seen_total", 0))
                t0 = time.monotonic()
                with engine_call():
                    s = run_it()
                wall = time.monotonic() - t0
                if tracer:
                    with traced("probe.after"):
                        trace.probe_after_round(tracer, engine, r, pages, str(self.run_dir))
                return s, wall

            walls, selected, stats = [], [], []
            for r in range(1, wl.rounds + 1):
                with traced("round", round_id=r):
                    s, wall = probed_round(r, lambda: engine.run_round(r, pages, robots, seeds))
                walls.append(wall)
                selected.append(s["selected"])
                stats.append(s)
            # a fresh engine over the same catalog skips the committed
            # rounds and commits one more
            resumed = CrawlEngine(spark, ParquetSnapshotCatalog(spark, cat_root), wl.spec)
            with traced("resume", round_id=wl.rounds + 1):
                s, resume_s = probed_round(
                    wl.rounds + 1, lambda: resumed.run(wl.rounds + 1, pages, robots, seeds)[-1]
                )
            stats.append(s)
        out = {
            "init_frontier_s": init_s,
            "init_samples_s": init_samples,
            "round_walls_s": walls,
            "resume_s": resume_s,
            "selected": selected,
            "wall_s": time.monotonic() - t_start,
            "stats": stats,
        }
        if tracer:
            tracer.counts.update(trace.catalog_sizes(cat_root))
        return out

    def _check(self, cat_root: str) -> list[str]:
        from pyspark.sql import functions as F

        from crawlbench.check import check_crawl
        from web_scraper_spark.operators.priority import PRIORITY_COLS
        from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog

        catalog = ParquetSnapshotCatalog(self.spark, cat_root)
        n_rounds = self.workload.rounds + 1
        log = (
            catalog.read_log("fetch_log")
            .select("round_id", "host", "status", *PRIORITY_COLS)
            .collect()
        )
        order: dict[str, list[str]] = {}
        for row in sorted(
            (r for r in log if r["status"] != "robots"),
            key=lambda r: (r["round_id"], *(r[c] for c in PRIORITY_COLS)),
        ):
            order.setdefault(row["host"], []).append(row["url"])
        record = {
            "rounds": [catalog.read_round_manifest(r) for r in range(1, n_rounds + 1)],
            "fetch_log": [
                {"round_id": r["round_id"], "url": r["url"], "host": r["host"], "status": r["status"]}
                for r in log
            ],
            "seen": [
                r["url"]
                for r in catalog.read("frontier").filter(F.col("state") == "fetched").select("url").collect()
            ],
            "order_per_host": order,
            "text_sha256": {
                r["url"]: r["sha"]
                for r in catalog.read_log("extractions")
                .select("url", F.sha2(F.col("text"), 256).alias("sha"))
                .collect()
            },
        }
        if self.expected is None:
            self.expected = self.world.expected()
        return check_crawl(record, self.expected)


def _median_of(crawls: list[dict], key) -> float:
    return statistics.median(key(c) for c in crawls)


def end_to_end(crawls: list[dict], setup_s: list[float], peak_rss_mb: float) -> dict[str, float]:
    return {
        "crawl_urls_per_s": _median_of(crawls, lambda c: sum(c["selected"]) / sum(c["round_walls_s"])),
        "crawl_wall_s": _median_of(crawls, lambda c: c["init_frontier_s"] + sum(c["round_walls_s"])),
        "round_wall_s_p50": _median_of(crawls, lambda c: statistics.median(c["round_walls_s"])),
        "init_frontier_s": statistics.median(s for c in crawls for s in c["init_samples_s"]),
        "resume_s": _median_of(crawls, lambda c: c["resume_s"]),
        "setup_s": statistics.median(setup_s),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(traced: dict, untraced_wall_s: float, tracer, exchanges: dict) -> dict[str, float]:
    c = tracer.counts
    stats = traced["stats"]

    def section(name: str) -> float:
        return statistics.median(s["sections"].get(name, 0.0) for s in stats)

    probed = c.get("bloom.probed", 0.0)
    out = {
        "rounds.plan_prep_s": section("plan_prep"),
        "rounds.select_fetch_extract_s": section("select_fetch_extract"),
        "rounds.fetch_log_write_s": section("fetch_log_write"),
        "rounds.state_commit_s": section("state_commit"),
        "rounds.metrics_rollup_s": section("metrics_rollup"),
        "rounds.frontier_write_s": statistics.median(s["frontier_write_seconds"] for s in stats),
        "rounds.bloom_merge_s": statistics.median(s["bloom_merge_seconds"] for s in stats),
        "extract.pages_s": c["extract.pages_s"],
        "extract.rows": c["extract.rows"],
        "extract.html_mb": c["extract.html_mb"],
        "extract.mb_per_s": c["extract.html_mb"] / c["extract.pages_s"],
        "politeness.split_robots_s": c["politeness.split_robots_s"],
        "politeness.select_polite_s": c["politeness.select_polite_s"],
        "politeness.rows_in": c["politeness.rows_in"],
        "politeness.rows_out": c["politeness.rows_out"],
        "politeness.blocked": c["politeness.blocked"],
        "seen.filter_unseen_s": c["seen.filter_unseen_s"],
        "bloom.probe_s": c.get("bloom.probe_s", 0.0),
        "bloom.build_s": c.get("bloom.build_s", 0.0),
        "bloom.maybe_seen": c.get("bloom.maybe_seen", 0.0),
        "bloom.confirmed_new": c.get("bloom.confirmed_new", 0.0),
        "bloom.useful_ratio": (probed - c.get("bloom.maybe_seen", 0.0)) / probed if probed else 0.0,
        "seen.total": float(stats[-1]["seen_total"]),
        "catalog.write_snapshot_s": c["catalog.write_snapshot_s"],
        "catalog.read_frontier_s": c["catalog.read_frontier_s"],
        "urls.canonicalize_s": c["urls.canonicalize_s"],
        "urls.rows": c["urls.rows"],
        "trace.overhead_s": traced["wall_s"] - untraced_wall_s,
    }
    out.update({k: v for k, v in c.items() if k.startswith("catalog.") and k not in out})
    out.update(exchanges)
    return out


def _keep_newest(directory: Path, keep: int) -> None:
    files = sorted(directory.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in files[keep:]:
        old.unlink()


def run(args: argparse.Namespace) -> int:
    from crawlbench import trace

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    bench = None
    sampler = None
    try:
        bench = Bench(args)
        t0 = time.monotonic()
        bench.session()
        session_start_s = time.monotonic() - t0
        sampler = MemorySampler(bench.gateway_pid())
        sampler.start()

        bench.join_oracle()
        # the warm-ups run beside the first set-up: all are cold (JIT,
        # codegen, worker start), and the first of three set-ups is never
        # their median; a traced run reports no setup_s, its one set-up
        # makes the world available
        warm_errors: list[BaseException] = []

        def _warm(fn) -> None:
            try:
                fn()
            except BaseException as e:  # re-raised in the main thread
                warm_errors.append(e)

        t0 = time.monotonic()
        warms = [threading.Thread(target=_warm, args=(fn,), daemon=True) for fn in bench.warm_ups()]
        for t in warms:
            t.start()
        setup_s = [bench.setup_once()]
        for t in warms:
            t.join()
        warmup_s = time.monotonic() - t0
        if warm_errors:
            raise warm_errors[0]
        if not args.trace:
            setup_s += [bench.setup_once() for _ in range(SETUP_REPS - 1)]

        crawls = []
        deadline = time.monotonic() + args.seconds
        steal0, total0 = cpu_ticks()
        while True:
            c = bench.crawl()
            if c is not None:
                crawls.append(c)
            if time.monotonic() >= deadline:
                break
        steal1, total1 = cpu_ticks()
        # a diagnostic, not a metric: a shared host that steals CPU time
        # slows every timed value of the run together
        host_steal_frac = (steal1 - steal0) / max(1, total1 - total0)

        traced = tracer = None
        if args.trace:
            tracer = trace.Tracer(bench.run_id)
            with tracer.span("run", workload=args.workload, seed=args.seed):
                traced = bench.crawl(tracer)
        peak_rss_mb = sampler.stop()
        sampler = None
        bench.shutdown()

        metrics = {}
        if crawls and (traced or not args.trace):
            if args.trace:
                exchanges = trace.exchange_metrics(
                    str(bench.eventlog_dir), trace.round_windows(tracer), bench.cores
                )
                untraced_wall = statistics.median(c["wall_s"] for c in crawls)
                values, unit_of = per_layer(traced, untraced_wall, tracer, exchanges), layer_unit
                trace_dir = STATE / "traces"
                trace_dir.mkdir(parents=True, exist_ok=True)
                tracer.write(str(trace_dir / f"{args.workload}-s{args.seed}-{bench.run_id}.json"))
                _keep_newest(trace_dir, TRACES_KEEP)
            else:
                values, unit_of = end_to_end(crawls, setup_s, peak_rss_mb), E2E_UNITS.get
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": bench.cores,
            "driver_heap_gib": bench.heap_gib,
            "world_build_s": bench.world.build_s,
            "session_start_s": session_start_s,
            "setup_s": setup_s,
            "first_setup_and_warmup_s": warmup_s,
            "crawls": [
                {k: c[k] for k in ("init_samples_s", "round_walls_s", "resume_s", "selected", "wall_s")}
                for c in crawls
            ],
            "host_steal_frac": host_steal_frac,
            "failures": bench.failures,
        }
        print("crawlbench: " + json.dumps(details), flush=True)
        correct = not bench.failures and bool(metrics)
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": bench.crawls,
                    "failed": bench.failed_crawls,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0 if correct else 1
    finally:
        if sampler is not None:
            sampler.stop()
        if bench is not None:
            if bench.oracle is not None:
                bench.oracle.kill()
                bench.oracle.wait()
            try:
                bench.shutdown()
            finally:
                stray = stop_token_processes(bench.token)
                if stray:
                    print(f"crawlbench: stopped {len(stray)} process(es) left after shutdown", file=sys.stderr)
                shutil.rmtree(bench.run_dir, ignore_errors=True)


def layer_unit(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MiB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.startswith("catalog.bytes_written."):
        return "bytes"
    if name.endswith(("_ratio", "_frac", "task_skew")):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "web_scraper_spark" / "__init__.py").is_file():
        print(f"crawlbench: engine package web_scraper_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from crawlbench import worlds

    if args.workload not in worlds.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; one of {sorted(worlds.WORKLOADS)}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
