"""Crawl-order contract (P7): priority DESC then reference FIFO
(wave, page, rank), deterministic under any partitioning."""

import pandas as pd
from pyspark.sql import functions as F

from crawlspark import politeness, synth
from crawlspark.frontier import crawl_sequence, host_of


def _frontier(spark, rows):
    cols = ["url", "host", "source", "id", "last_updated_on", "depth",
            "wave", "page", "rank", "priority", "state", "attempts"]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


def test_crawl_sequence_fifo(spark):
    rows = [
        (f"u{i:03d}", "h1", "s", str(i), None, 1, w, p, r, pr, "pending", 0)
        for i, (w, p, r, pr) in enumerate([
            (1, 1, 2, 0.5), (1, 1, 1, 0.5), (1, 2, 1, 0.5),  # FIFO ties
            (2, 1, 1, 0.5),                                   # later wave
            (1, 9, 9, 0.9),                                   # high priority wins
        ])
    ]
    seq = {r["url"]: r["seq"]
           for r in crawl_sequence(_frontier(spark, rows)).collect()}
    # priority 0.9 first, then FIFO by (wave, page, rank)
    assert seq["u004"] == 1
    assert seq["u001"] == 2   # (1,1,1)
    assert seq["u000"] == 3   # (1,1,2)
    assert seq["u002"] == 4   # (1,2,1)
    assert seq["u003"] == 5   # (2,1,1)


def test_schedule_slots_follow_fifo_within_host(spark):
    """Politeness slots = FIFO position within the host when priority is
    constant — the reference's list-order contract through the real
    grouped-map scheduler."""
    n = 300
    ids = __import__("numpy").arange(1, n + 1, dtype="int64")
    hosts = synth.assign_hosts(ids, 42)
    page, rank = synth.fifo_positions(ids, hosts)
    rows = [(f"https://{synth.host_name(int(h))}/id{i}", synth.host_name(int(h)),
             "s", str(i), None, 1, 1, int(p), int(r), 0.5, "pending", 0)
            for i, h, p, r in zip(ids, hosts, page, rank)]
    robots = spark.createDataFrame(synth.gen_robots())
    sched = politeness.schedule(_frontier(spark, rows), robots,
                                "2026-01-01 00:00:00").toPandas()
    for host, g in sched.groupby("host"):
        g = g.sort_values("slot")
        keys = list(zip(g["page"], g["rank"]))
        assert keys == sorted(keys), host
        # deterministic schedule times: slot * crawl_delay
        delays = g["scheduled_ts"].diff().dropna().dt.total_seconds() * 1000
        assert delays.nunique() <= 1


def test_host_of(spark):
    df = spark.createDataFrame([("https://Viec01.Example.VN/a/b?q=1",)], "url string")
    assert df.select(host_of(F.col("url")).alias("h")).first()["h"] == "viec01.example.vn"


def test_starvation_guard(spark, tmp_path):
    """Zero budget => loop stops after one no-progress wave instead of
    burning max_waves."""
    from crawlspark.driver import WaveDriver
    from crawlspark.tables import SnapshotStore

    pages = spark.createDataFrame(synth.gen_pages_pandas(100))
    robots = spark.createDataFrame(synth.gen_robots().assign(tokens_per_wave=0))
    ranks = spark.createDataFrame(synth.gen_host_rank())
    drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"), num_partitions=4)
    drv.bootstrap(synth.gen_seed_list(100))
    stats = drv.run_until_done(pages, robots, ranks, max_waves=10)
    assert len(stats) <= 2


class TestCanonicalizeUrl:
    def test_transforms(self, spark):
        from crawlspark.frontier import canonicalize_url

        cases = {
            "HTTP://Viec.VN:80/j?b=2&a=1#f": "http://viec.vn/j?a=1&b=2",
            "https://X.vn:443": "https://x.vn/",
            "https://x.vn:8443/p?z=1": "https://x.vn:8443/p?z=1",  # non-default port kept
            "https://x.vn/p?": "https://x.vn/p",                   # empty query dropped
            "https://x.vn/p?a=1&&b=2": "https://x.vn/p?a=1&b=2",   # empty params dropped
            "ftp://other/x": "ftp://other/x",                      # non-http passthrough
        }
        df = spark.createDataFrame([(k,) for k in cases], "u string")
        got = {r.u: r.c for r in
               df.select("u", canonicalize_url(F.col("u")).alias("c")).collect()}
        assert got == cases

    def test_idempotent(self, spark):
        from crawlspark.frontier import canonicalize_url

        df = spark.createDataFrame(
            [("HTTP://A.VN:80/x?b=2&a=1#f",)], "u string")
        once = df.select(canonicalize_url(F.col("u")).alias("c"))
        twice = once.select(canonicalize_url(F.col("c")).alias("c"))
        assert once.first()["c"] == twice.first()["c"]
