"""Seeded benchmark worlds and their oracle expectations.

Every world is the engine's own fixture universe
(``sources.fixtures.build_world``) salted by the benchmark seed — yacht
ids, missing/error page classes, dirty URL variants and prices all come
from ``random.Random(seed)``. ``bulk_extract`` additionally pads every
good page with ~18 KB of deterministic prose so the Arrow extraction
stage scans realistic page weights.

The pure-Python ``OracleCrawler`` runs over the SAME world, so every
workload (not only the reference-sized one) is checked against the
oracle on any seed.

Worlds are cached under the benchmark's state directory, keyed by every
generator parameter, the seed and a digest of the generator + oracle
sources: a changed generator can never silently reuse a stale world.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

from web_scraper_spark.oracle import crawler as oracle_crawler
from web_scraper_spark.oracle import pyrobots, pyurl
from web_scraper_spark.oracle.crawler import OracleCrawler
from web_scraper_spark.sources import fixtures, pages_source
from web_scraper_spark.sources.fixtures import FixtureConfig, PolitenessSpec

__all__ = [
    "Workload",
    "WORKLOADS",
    "World",
    "prepare_world",
    "oracle_record",
    "write_expected",
]

# sources whose change must invalidate a cached world / expectation
_DIGEST_MODULES = (fixtures, pages_source, oracle_crawler, pyurl, pyrobots)

# prose block padding each good page (bulk_extract); ~150 bytes/sentence
_FILLER_SENTENCES = 120
_FILLER = (
    "<p>Lorem charter fleet availability notes segment {i} with berth and "
    "skipper manifest entries recorded for audit trail purposes {n}.</p>\n"
)
_FORM_ANCHOR = '<div id="yachtReservationDialogForm">'
_WORLD_CACHE_KEEP = 6


@dataclass(frozen=True)
class Workload:
    name: str
    n_competitors: int
    yachts_each: int  # 0 = the reference's skewed per-competitor counts
    spec: PolitenessSpec
    rounds: int  # committed by the timed crawl; the resume adds one more
    page_filler: bool

    def fixture_config(self, seed: int) -> FixtureConfig:
        cfg = FixtureConfig(seed=seed, politeness=self.spec)
        if self.yachts_each:
            cfg = cfg.scaled(self.n_competitors, self.yachts_each)
        return cfg

    def params(self) -> dict:
        return dataclasses.asdict(self)


WORKLOADS = {
    w.name: w
    for w in (
        # the reference's world and 196-URL/round budget: fixed per-round
        # cost (jobs, planning, small-file commits) is nearly all of it
        Workload("reference_parity", 16, 0, PolitenessSpec(), 1, False),
        # budget never binds (86400 s rounds, 1M global): round 1 fetches
        # and extracts every full-weight page; the bloom has nothing to
        # probe until round 2
        Workload(
            "bulk_extract",
            12,
            5,
            PolitenessSpec(
                round_seconds=86400, global_batch_urls=1_000_000, global_pause_s=86400
            ),
            1,
            True,
        ),
    )
}


@dataclass
class World:
    workload: Workload
    seed: int
    config: FixtureConfig
    dir: str
    paths: dict  # seeds / robots / pages / tasks parquet
    build_s: float  # 0.0 on a cache hit

    @property
    def expected_path(self) -> str:
        return os.path.join(self.dir, "expected.json")

    def expected(self) -> dict:
        with open(self.expected_path) as f:
            return json.load(f)


def generator_digest() -> str:
    h = hashlib.sha256()
    for mod in _DIGEST_MODULES:
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def world_key(workload: Workload, seed: int) -> str:
    blob = json.dumps(
        {"workload": workload.params(), "seed": seed, "gen": generator_digest()},
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _build(workload: Workload, seed: int) -> fixtures.World:
    world = fixtures.build_world(workload.fixture_config(seed))
    if workload.page_filler:
        _pad_pages(world, seed)
    return world


def _pad_pages(world: fixtures.World, seed: int) -> None:
    for p in world.pages:
        html = p["html"].decode("utf-8")
        if _FORM_ANCHOR not in html:
            continue  # error page: stays a bare STATUS:500 body
        digest = hashlib.blake2b(f"{seed}|{p['url']}".encode(), digest_size=8).digest()
        base = int.from_bytes(digest, "little")
        filler = "".join(
            _FILLER.format(i=i, n=(base >> (i % 40)) % 10_000_000)
            for i in range(_FILLER_SENTENCES)
        )
        html = html.replace(_FORM_ANCHOR, '<div class="prose">\n' + filler + "</div>\n" + _FORM_ANCHOR)
        p["html"] = html.encode("utf-8")
        p["text"] = ""  # golden text column unused by the engine; the oracle derives its own


def oracle_record(world: fixtures.World, spec: PolitenessSpec, n_rounds: int) -> dict:
    """What a correct crawl of ``world`` commits in ``n_rounds`` rounds:
    per-round counts, the URL-seen set, per-host fetch order, a sha256
    per extracted text (byte-identity without shipping text) and the
    politeness budgets the fetch log must respect."""
    oracle = OracleCrawler(world, spec)
    stats = oracle.run(n_rounds)
    rounds = []
    seen_total = 0
    for s in stats:
        r = s["round_id"]
        robots = sum(
            1 for e in oracle.fetch_log if e["round_id"] == r and e["status"] == "robots"
        )
        seen_total += s["success"] + s["empty"]
        rounds.append(
            {
                "round_id": r,
                "selected": s["selected"],
                "success": s["success"],
                "empty": s["empty"],
                "error": s["error"],
                "robots": robots,
                "discovered": s["discovered"],
                "seen_total": seen_total,
            }
        )
    return {
        "rounds": rounds,
        "seen": sorted(oracle.seen),
        "order_per_host": oracle.order_per_host,
        "text_sha256": {
            u: hashlib.sha256(e["text"].encode("utf-8")).hexdigest()
            for u, e in oracle.extractions.items()
        },
        "fetch_log": [
            {k: e[k] for k in ("round_id", "url", "host", "status")}
            for e in oracle.fetch_log
        ],
        "host_budget": {r["host"]: spec.host_budget(r["crawl_delay_s"]) for r in world.robots},
        "global_budget": spec.global_budget,
    }


def write_expected(workload_name: str, seed: int, path: str) -> None:
    """Oracle expectation over ``rounds + 1`` rounds (the timed crawl
    plus the resume round), written atomically to ``path``. Rebuilds the
    world from (workload, seed), so it can run in its own process."""
    workload = WORKLOADS[workload_name]
    expected = oracle_record(_build(workload, seed), workload.spec, workload.rounds + 1)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, path)


def _evict_old(cache_root: str, keep: int) -> None:
    entries = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if os.path.isdir(os.path.join(cache_root, d))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def prepare_world(workload: Workload, seed: int, cache_root: str) -> World:
    """The workload's world tables for ``seed``, from cache when the key
    matches. The oracle expectation is separate (``write_expected``):
    it is only needed once the crawl is checked."""
    cfg = workload.fixture_config(seed)
    wdir = os.path.join(cache_root, f"{workload.name}-s{seed}-{world_key(workload, seed)}")
    names = ("seeds", "robots", "pages", "tasks")
    paths = {n: os.path.join(wdir, "world", f"{n}.parquet") for n in names}
    done = os.path.join(wdir, "_WORLD_DONE")
    if os.path.exists(done):
        os.utime(wdir)
        return World(workload, seed, cfg, wdir, paths, 0.0)

    t0 = time.monotonic()
    shutil.rmtree(wdir, ignore_errors=True)
    pages_source.write_world_parquet(_build(workload, seed), os.path.join(wdir, "world"))
    with open(done, "w") as f:
        f.write(world_key(workload, seed))
    _evict_old(cache_root, _WORLD_CACHE_KEEP)
    return World(workload, seed, cfg, wdir, paths, time.monotonic() - t0)
