"""Shared fixtures: one SparkSession, a small deterministic crawl world,
and a fully-run engine+oracle pair reused by the parity tests."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from web_scraper_spark.oracle.crawler import OracleCrawler
from web_scraper_spark.plans.rounds import CrawlEngine
from web_scraper_spark.session import get_spark
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.fixtures import (
    FixtureConfig,
    PolitenessSpec,
    build_world,
)
from web_scraper_spark.sources.pages_source import resolve_pages, write_world_parquet

N_ROUNDS = 4


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", shuffle_partitions=8, app_name="wss-tests")
    yield s
    s.stop()


def small_config() -> FixtureConfig:
    """~90-URL world with budgets tight enough that politeness binds."""
    return FixtureConfig(
        n_competitors=6,
        yacht_counts=(2, 1, 3, 1, 2, 1),
        period_start="2025-04-12",
        period_end="2025-06-14",  # 9 weekly periods
        missing_page_fraction=0.08,
        error_page_fraction=0.05,
        politeness=PolitenessSpec(
            round_seconds=600,  # host budgets: 20 (30 s hosts) / 40 (15 s)
            global_batch_urls=30,
            global_pause_s=600,
        ),
    )


@pytest.fixture(scope="session")
def world():
    return build_world(small_config())


@pytest.fixture(scope="session")
def oracle(world):
    o = OracleCrawler(world, world.config.politeness)
    o.stats = o.run(N_ROUNDS)
    return o


@pytest.fixture(scope="session", params=["hinted", "unhinted"])
def engine_run(request, spark, world):
    """(engine, catalog, stats, tables dict) after N_ROUNDS rounds.

    Parametrized over the two plan shapes of the key-semi html fetch —
    parity must hold on both. ``hinted`` runs the default thresholds
    (key set and crawl attrs broadcast, html never exchanged);
    ``unhinted`` sets both thresholds to 0 and turns off Spark's
    size-based auto-broadcast, so this small world plans the shuffled
    semi-join that frontier-scale selections get. ``tables
    ["extraction_plans"]`` holds each round's physical plan of the
    extractions write, taken as the write is issued.
    """
    tmp = tempfile.mkdtemp(prefix="wss_test_")
    paths = write_world_parquet(world, tmp + "/world")
    catalog = ParquetSnapshotCatalog(spark, tmp + "/state")
    engine = CrawlEngine(spark, catalog, world.config.politeness, n_buckets=8)
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    # resolved once at ingest, as a deployment (and the benchmark) runs
    # the engine: the plan check then sees only the round's own exchanges
    resolve_pages(spark.read.parquet(paths["pages"])).write.parquet(
        tmp + "/world/pages_resolved"
    )
    pages = spark.read.parquet(tmp + "/world/pages_resolved")
    plans = []
    write_partition = catalog.write_round_partition

    def recording_write(table, df):
        if table == "extractions":
            plans.append(df._jdf.queryExecution().executedPlan())
        return write_partition(table, df)

    auto_broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(catalog, "write_round_partition", recording_write)
        if request.param == "unhinted":
            mp.setattr(CrawlEngine, "SEMI_FETCH_THRESHOLD", 0)
            mp.setattr(CrawlEngine, "ATTRS_BROADCAST_THRESHOLD", 0)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            engine.init_frontier(
                seeds, world.config.period_start, world.config.period_end
            )
            stats = engine.run(N_ROUNDS, pages, robots, seeds)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto_broadcast)
    tables = {
        "seeds": seeds,
        "robots": robots,
        "pages": pages,
        "paths": paths,
        "tmp": tmp,
        "plan_shape": request.param,
        "extraction_plans": plans,
    }
    yield engine, catalog, stats, tables
    shutil.rmtree(tmp, ignore_errors=True)
