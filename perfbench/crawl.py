"""Crawl workloads: corpus set-up, one closed-loop crawl per iteration,
and the output checks.

Every input comes from ``crawlspark.synth`` at the run's seed. A crawl
drives ``WaveDriver.run_until_done`` against its own warehouse; each
wave starts only after the previous one has committed (closed loop, one
client). Wave walls are taken from outside the engine by timing each
``run_wave`` call.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlspark import synth
from crawlspark.driver import WaveDriver, table_hash
from crawlspark.schemas import PAGES_SCHEMA
from crawlspark.session import get_spark
from crawlspark.tables import SnapshotStore
from hostprobe import tree_cpu_s

PAGES = 2000
# bench.py's politeness budget: schedules are computed per host but no
# host ever runs out of tokens, so a cycle is one list wave plus one
# detail wave
NONBINDING_WAVE_MS = 3_600_000_000
# the recrawl cycle's first wave lands on wave 4 (bootstrap 0, cycle 1
# waves 1-2, reseed 3), so compaction runs once inside the measured cycle
RECRAWL_COMPACT_EVERY = 4
MAX_WAVES = 50


def _detail_id():
    """Detail-page id parsed from synth's detail url grammar; '' for list
    pages."""
    return F.regexp_extract("url", r"id(\d+)\.html$", 1)


def start_spark(work: Path, slots: int) -> SparkSession:
    spark = get_spark(
        "perfbench", master=f"local[{slots}]", shuffle_partitions=slots,
        extra_conf={
            # a fixed, pre-touched heap: peak RSS then tracks what the
            # engine holds outside it, not when the collector grew the heap
            "spark.driver.memory": "2g",
            # C1 only: C2's warm-up outlasts a run of about a minute and its
            # compiler threads compete with the crawl for cores, so a crawl
            # timed while C2 still compiles burns up to twice the CPU, runs
            # 20-40% slow and swings with the host; at C1 the first crawl
            # after the warm-up already runs at its steady speed
            "spark.driver.extraJavaOptions":
                f"-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                f"-XX:ReservedCodeCacheSize=256m "
                f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
            # the traced run attributes every job of a run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_stats(root: Path) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    sizes = [os.path.getsize(os.path.join(d, f))
             for d, _, files in os.walk(root) for f in files]
    return len(sizes), sum(sizes)


@dataclass
class Crawl:
    """One measured crawl cycle."""
    store: SnapshotStore
    drv: WaveDriver
    base_wave: int
    wall_s: float
    cpu_s: float  # driver, JVM and Python workers over ``wall_s``
    jobs: int  # Spark jobs run over ``wall_s``
    wave_walls: list[float]
    wave_times: list[tuple[float, float]]  # epoch start and end per wave
    stats: list[dict]
    stored_bytes: int
    checks: dict = field(default_factory=dict)

    @property
    def urls(self) -> int:
        return sum(s["fetched"] for s in self.stats)


def run_cycle(drv: WaveDriver, pages: DataFrame, robots: DataFrame,
              ranks: DataFrame, before=None) -> Crawl:
    """Time ``before()`` (if given) plus ``run_until_done``, in wall and
    process-tree CPU seconds, and count its Spark jobs; per-wave walls
    come from a timing shim on this driver's ``run_wave``."""
    walls: list[float] = []
    times: list[tuple[float, float]] = []
    inner = drv.run_wave

    def run_wave(*args, **kwargs):
        start, t = time.time(), time.perf_counter()
        out = inner(*args, **kwargs)
        walls.append(time.perf_counter() - t)
        times.append((start, time.time()))
        return out

    drv.run_wave = run_wave
    tracker = drv.spark.sparkContext.statusTracker()
    jobs0 = len(tracker.getJobIdsForGroup(None))
    base_wave = drv.store.latest_wave()
    _, bytes0 = dir_stats(drv.store.root)
    try:
        cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        if before is not None:
            before()
        stats = drv.run_until_done(pages, robots, ranks, max_waves=MAX_WAVES)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
    finally:
        del drv.run_wave
    # untraced jobs carry no job group
    jobs = len(tracker.getJobIdsForGroup(None)) - jobs0
    return Crawl(drv.store, drv, base_wave, wall, cpu, jobs, walls, times,
                 stats, dir_stats(drv.store.root)[1] - bytes0)


class CrawlWorkload:
    """Shared corpus handling; subclasses define the cycle under test."""

    name = ""
    corpus_waves: tuple[int, ...] = (1,)
    cycle_wave = 1  # the corpus wave the measured cycle crawls

    def __init__(self, spark: SparkSession, work: Path, seed: int,
                 pages: int, slots: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.n, self.slots = pages, slots
        self.pages: dict[int, DataFrame] = {}
        self.seeds = {}
        self._serial = 0

    def _gen_corpus(self) -> None:
        for w in self.corpus_waves:
            path = str(self.work / f"pages-w{w}.parquet")
            pdf = synth.gen_pages_pandas(self.n, seed=self.seed, wave=w)
            self.spark.createDataFrame(pdf, schema=PAGES_SCHEMA) \
                .write.parquet(path)
            self.pages[w] = self.spark.read.parquet(path)
            self.seeds[w] = synth.gen_seed_list(self.n, seed=self.seed, wave=w)
        self.robots = self.spark.createDataFrame(
            synth.gen_robots(seed=self.seed, wave_ms=NONBINDING_WAVE_MS))
        self.ranks = self.spark.createDataFrame(
            synth.gen_host_rank(seed=self.seed))

    def _warehouse(self, tag: str) -> Path:
        self._serial += 1
        return self.work / f"wh-{self._serial}-{tag}"

    def driver(self, root: Path) -> WaveDriver:
        return WaveDriver(self.spark, SnapshotStore(root),
                          num_partitions=self.slots)

    def bootstrap(self, tag: str) -> tuple[WaveDriver, float]:
        """One warehouse set-up: store, driver and the seeded frontier."""
        t0 = time.perf_counter()
        drv = self.driver(self._warehouse(tag))
        drv.bootstrap(self.seeds[1])
        return drv, time.perf_counter() - t0

    # -- checks ----------------------------------------------------------
    def expected_details(self, pages: DataFrame) -> DataFrame:
        raise NotImplementedError

    def check(self, crawl: Crawl) -> dict:
        """One check per expected detail url: fetched, and its extracted
        text byte-identical to ``pages.text``; no other detail url
        extracted. One check per list page: fetched, counted through the
        fetched total, which must be exactly lists plus expected details
        (every missing or extra fetch is one failed check)."""
        spark, pages = self.spark, self.pages[self.cycle_wave]
        expected = (self.expected_details(pages)
                    .select("url", F.col("text").alias("golden"),
                            F.lit(1).alias("_e")))
        extracted = (crawl.store.read(spark, "extracted")
                     .filter(F.col("wave") > crawl.base_wave)
                     .select("url", "text", F.lit(1).alias("_x")))
        both = F.col("_x").isNotNull() & F.col("_e").isNotNull()
        d = (extracted.join(expected, "url", "full_outer").agg(
            F.count("_e").alias("expected"),
            F.count(F.when(F.col("_x").isNull(), 1)).alias("missing"),
            F.count(F.when(F.col("_e").isNull(), 1)).alias("unexpected"),
            F.count(F.when(both & ~F.col("text").eqNullSafe(F.col("golden")),
                           1)).alias("text_mismatch"))
            .first().asDict())
        d["lists"] = pages.filter(_detail_id() == "").count()
        d["fetched_off"] = abs(crawl.urls - d["lists"] - d["expected"])
        d["attempted"] = d["expected"] + d["lists"]
        d["failed"] = (d["missing"] + d["unexpected"] + d["text_mismatch"]
                       + d["fetched_off"])
        return d

    def fingerprint(self, crawl: Crawl) -> tuple[int, int, int]:
        """Crawl order and URL-seen set, as in bench.py: content hashes of
        the resolved seen view and the extracted and jobs tables."""
        spark = self.spark
        return (table_hash(crawl.drv.seen_view()),
                table_hash(crawl.store.read(spark, "extracted")),
                table_hash(crawl.store.read(spark, "jobs")))


class FreshCrawl(CrawlWorkload):
    """First crawl cycle over an empty warehouse."""

    name = "fresh_crawl"

    def setup(self) -> None:
        self._gen_corpus()
        # warm-up: bootstrap plus the list wave (the cold JVM and Python
        # workers cost most in the first wave)
        drv, _ = self.bootstrap("warmup")
        drv.run_wave(self.pages[1], self.robots, self.ranks)

    def iteration(self, tag: str) -> Crawl:
        drv, _ = self.bootstrap(tag)
        return run_cycle(drv, self.pages[1], self.robots, self.ranks)

    def expected_details(self, pages: DataFrame) -> DataFrame:
        return pages.filter((_detail_id() != "")
                            & ~F.col("url").contains("/private-"))


class Recrawl(CrawlWorkload):
    """Second cycle: reseed with the wave-2 list pages, then crawl the
    wave-2 corpus (20% updated, 70% unchanged, 10% new) on a warehouse
    whose first cycle was built during set-up."""

    name = "recrawl"
    corpus_waves = (1, 2)
    cycle_wave = 2

    def driver(self, root: Path) -> WaveDriver:
        return WaveDriver(self.spark, SnapshotStore(root),
                          num_partitions=self.slots,
                          compact_every=RECRAWL_COMPACT_EVERY)

    def setup(self) -> None:
        self._gen_corpus()
        # the first cycle doubles as the warm-up
        drv, _ = self.bootstrap("cycle1")
        drv.run_until_done(self.pages[1], self.robots, self.ranks,
                           max_waves=MAX_WAVES)
        self.template = drv.store.root

    def iteration(self, tag: str) -> Crawl:
        root = self._warehouse(tag)
        shutil.copytree(self.template, root)
        drv = self.driver(root)
        return run_cycle(drv, self.pages[2], self.robots, self.ranks,
                         before=lambda: drv.reseed(self.seeds[2]))

    def expected_details(self, pages: DataFrame) -> DataFrame:
        ids = _detail_id().cast("long")
        # new ids, and the ids synth.updated_mask bumps in wave 2
        changed = (ids > self.n) | (ids % 10 == 3) | (ids % 10 == 7)
        return pages.filter((_detail_id() != "") & changed
                            & ~F.col("url").contains("/private-"))


WORKLOADS = {w.name: w for w in (FreshCrawl, Recrawl)}
