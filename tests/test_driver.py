"""End-to-end wave driver tests: full crawl, three-way state machine
across waves, robots, budget deferral, kill-resume determinism."""

import json
import shutil
import time
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from crawlspark import synth
from crawlspark.driver import WaveDriver, table_hash
from crawlspark.tables import SnapshotStore

N = 400


@pytest.fixture()
def world(spark, tmp_path):
    pages = spark.createDataFrame(synth.gen_pages_pandas(N, seed=42)).cache()
    robots = spark.createDataFrame(synth.gen_robots())
    ranks = spark.createDataFrame(synth.gen_host_rank())
    seeds = synth.gen_seed_list(N)
    store = SnapshotStore(tmp_path / "wh")
    drv = WaveDriver(spark, store, num_partitions=4)
    drv.bootstrap(seeds)
    return dict(pages=pages, robots=robots, ranks=ranks, seeds=seeds,
                store=store, drv=drv)


def crawl_all(w, max_waves=6):
    return w["drv"].run_until_done(w["pages"], w["robots"], w["ranks"], max_waves)


def state_hashes(spark, drv):
    """Content hashes of the RESOLVED views (the observable state of the
    O(delta) commit scheme) and the append-only output tables."""
    return {
        "frontier": table_hash(drv.frontier_view()),
        "seen": table_hash(drv.seen_view()),
        "jobs": table_hash(drv.store.read(spark, "jobs")),
        "extracted": table_hash(drv.store.read(spark, "extracted")),
    }


@contextmanager
def shuffle_parallelism(spark, n):
    """Run the block at `n` real shuffle partitions: AQE coalescing is
    off, otherwise a small input collapses every shuffle to the same
    single partition whatever the configured count."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], str(n))
    spark.conf.set(keys[1], "false")
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


class TestFullCrawl:
    def test_two_wave_crawl(self, spark, world):
        stats = crawl_all(world)
        # wave 1 fetches all list pages; wave 2 fetches enqueued details
        assert stats[0]["fetched"] == len(world["seeds"])
        assert stats[0]["new"] > 0 and stats[0]["unchanged"] == 0
        st = world["store"]
        jobs = st.read(spark, "jobs")
        extracted = st.read(spark, "extracted")
        frontier = world["drv"].frontier_view()  # resolved O(delta) state

        # ~5% of urls are robots-disallowed, never fetched
        n_disallowed = frontier.filter(F.col("state") == "disallowed").count()
        assert n_disallowed > 0
        assert frontier.filter(F.col("state") == "disallowed")\
            .filter(~F.col("url").contains("/private-")).count() == 0
        assert jobs.count() == N - n_disallowed
        assert extracted.count() == N - n_disallowed

        # BYTE-IDENTITY through the full engine: committed extracted.text
        # equals the frozen golden pages.text for every fetched url
        golden = world["pages"].select("url", F.col("text").alias("golden"))
        bad = (extracted.join(golden, "url")
               .filter(F.col("text") != F.col("golden")).count())
        assert bad == 0

        # lineage recorded per wave with real counts
        lineage = st.read(spark, "lineage")
        agg = lineage.groupBy("wave").agg(F.sum("urls_fetched").alias("f")).collect()
        assert {r["wave"]: r["f"] for r in agg}[1] == len(world["seeds"])

        # audit side channel has JobPosting + Organization blobs
        audit = st.read(spark, "jsonld_audit")
        assert audit.count() > (N - n_disallowed)  # >=1 per detail + org blobs

    def test_wave2_three_way_state_machine(self, spark, world):
        """FIXTURES.md §4: re-crawl with wave-2 corpus -> ~20% UPDATED,
        ~70% UNCHANGED, 10% new ids NEW (deduplicator.go:49-67)."""
        crawl_all(world)
        pages2 = spark.createDataFrame(synth.gen_pages_pandas(N, seed=42, wave=2))
        # new cycle's seed list includes pagination tail pages added by
        # corpus growth — reseed must enqueue them (driver.reseed)
        world["drv"].reseed(synth.gen_seed_list(N, seed=42, wave=2))
        stats = world["drv"].run_until_done(pages2, world["robots"], world["ranks"], 6)
        s1 = stats[0]  # the list-recrawl wave
        total = s1["new"] + s1["updated"] + s1["unchanged"]
        assert total == synth.n_total_ids(N)
        assert s1["new"] == synth.n_total_ids(N) - N          # the 10% new ids
        assert abs(s1["updated"] / N - 0.2) < 0.05            # ~20% bumped
        assert s1["unchanged"] > 0.6 * N                      # rest skipped
        # unchanged jobs were NOT refetched: only new+updated detail fetches
        fetched_details = sum(s["fetched"] for s in stats[1:])
        disallowed_rate = 0.06
        assert fetched_details <= (s1["new"] + s1["updated"])
        assert fetched_details >= (s1["new"] + s1["updated"]) * (1 - disallowed_rate) - 2

    def test_budget_deferral(self, spark, world):
        """P1 token budgets: tokens_per_wave=5 forces multi-wave drain,
        FIFO within host preserved."""
        robots = spark.createDataFrame(
            synth.gen_robots().assign(tokens_per_wave=5))
        drv = world["drv"]
        s1 = drv.run_wave(world["pages"], robots, world["ranks"])  # list pages
        s2 = drv.run_wave(world["pages"], robots, world["ranks"])  # details
        assert s2["deferred"] > 0  # hot host's detail fan-out exceeds budget
        assert s2["fetched"] <= 5 * synth.N_HOSTS
        stats = drv.run_until_done(world["pages"], robots, world["ranks"], 40)
        # eventually drains completely
        assert drv.pending_count() == 0
        frontier = drv.frontier_view()
        assert frontier.filter(F.col("state") == "pending").count() == 0


class TestResume:
    def test_kill_resume_bit_identical(self, spark, tmp_path, world):
        """north_rule P10: kill after wave k; resume produces the same
        frontier/seen/jobs as the uninterrupted run."""
        crawl_all(world)  # uninterrupted run in store A
        hA = state_hashes(spark, world["drv"])

        # interrupted run in store B: wave 1, "crash", new driver resumes
        storeB = SnapshotStore(tmp_path / "whB")
        drvB = WaveDriver(spark, storeB, num_partitions=4)
        drvB.bootstrap(world["seeds"])
        drvB.run_wave(world["pages"], world["robots"], world["ranks"])
        # simulate a crash mid-wave-2: orphan data dir, no manifest entry
        orphan = storeB.root / "data" / "999" / "frontier"
        orphan.mkdir(parents=True)
        (orphan / "part-zzz.parquet").write_bytes(b"garbage")
        drvB2 = WaveDriver(spark, SnapshotStore(storeB.root), num_partitions=4)
        drvB2.run_until_done(world["pages"], world["robots"], world["ranks"], 6)
        hB = state_hashes(spark, drvB2)
        assert hA == hB

    def test_time_travel(self, spark, world):
        crawl_all(world)
        st = world["store"]
        sids = [s["sid"] for s in st.snapshots()]
        assert len(sids) >= 3
        f0 = st.read(spark, "frontier", snapshot_id=sids[0])
        fN = st.read(spark, "frontier")
        assert f0.filter(F.col("state") == "pending").count() > 0
        assert f0.count() < fN.count()
        # an unknown snapshot is an error, not "table absent"
        bad = max(sids) + 100
        with pytest.raises(KeyError, match=str(bad)):
            st.read(spark, "frontier", snapshot_id=bad)
        with pytest.raises(KeyError, match=str(bad)):
            st.read_split(spark, "frontier", snapshot_id=bad)
        assert st.read(spark, "no_such_table", snapshot_id=sids[0]) is None

    def test_resume_from_manifest_with_select_key(self, spark, tmp_path,
                                                  world):
        """A warehouse written before the folded-commit path was removed
        carries an (always empty) `select` map in every snapshot, and one
        written before reads stopped consulting the base's directory
        partitioning carries a `layout` map. It still reads, resumes to
        the same state as an uninterrupted run, and new snapshots carry
        only the current keys."""
        crawl_all(world)
        drvA = world["drv"]
        hA = (table_hash(drvA.frontier_view()), table_hash(drvA.seen_view()),
              table_hash(drvA.store.read(spark, "jobs")))

        storeB = SnapshotStore(tmp_path / "whOld")
        drvB = WaveDriver(spark, storeB)
        drvB.bootstrap(world["seeds"])
        drvB.run_wave(world["pages"], world["robots"], world["ranks"])
        manifest = json.loads(storeB._manifest_path.read_text())
        for snap in manifest["snapshots"]:
            snap["select"] = {}
            snap["layout"] = {}
        storeB._manifest_path.write_text(json.dumps(manifest, indent=1))
        n_old = len(manifest["snapshots"])
        assert storeB.read(spark, "frontier", snapshot_id=1).count() > 0

        drvB2 = WaveDriver(spark, SnapshotStore(storeB.root))
        drvB2.run_until_done(world["pages"], world["robots"], world["ranks"], 6)
        hB = (table_hash(drvB2.frontier_view()), table_hash(drvB2.seen_view()),
              table_hash(drvB2.store.read(spark, "jobs")))
        assert hA == hB
        new = drvB2.store.snapshots()[n_old:]
        assert new
        for snap in new:
            assert set(snap) == {"sid", "wave", "tables", "committed_at"}

    def test_resume_without_manifest_schemas(self, spark, tmp_path, world):
        """A warehouse whose manifest carries no `schemas` map reads by
        schema inference and resumes bit-identical to an uninterrupted
        run; the next commits record the schemas of what they write (the
        first wave fetches list pages only, so it writes no jobs)."""
        crawl_all(world)
        hA = state_hashes(spark, world["drv"])

        storeB = SnapshotStore(tmp_path / "whNoSchemas")
        drvB = WaveDriver(spark, storeB, num_partitions=4)
        drvB.bootstrap(world["seeds"])
        drvB.run_wave(world["pages"], world["robots"], world["ranks"])
        manifest = json.loads(storeB._manifest_path.read_text())
        assert set(manifest.pop("schemas")) == {"frontier", "seen", "lineage",
                                                "blooms"}
        storeB._manifest_path.write_text(json.dumps(manifest, indent=1))
        assert storeB.read(spark, "frontier").count() > 0

        drvB2 = WaveDriver(spark, SnapshotStore(storeB.root), num_partitions=4)
        drvB2.run_until_done(world["pages"], world["robots"], world["ranks"], 6)
        assert state_hashes(spark, drvB2) == hA
        # the resumed waves fetch detail pages only: no seen or blooms write
        schemas = json.loads(storeB._manifest_path.read_text())["schemas"]
        assert set(schemas) == {"frontier", "lineage", "jobs", "extracted",
                                "jsonld_audit"}
        for snap in drvB2.store.snapshots():
            assert "schemas" not in snap  # top level only


class TestParallelismInvariance:
    def test_same_state_at_different_parallelism(self, spark, tmp_path, world):
        """Scaling-determinism evidence: identical final state when run
        at different shuffle and input partition counts (the local
        analogue of N vs 4N executors holding the same crawl order +
        seen set)."""
        crawl_all(world)
        drvA = world["drv"]
        hA = (table_hash(drvA.seen_view()),
              table_hash(drvA.store.read(spark, "jobs")),
              table_hash(drvA.store.read(spark, "extracted")))
        storeB = SnapshotStore(tmp_path / "whP")
        drvB = WaveDriver(spark, storeB)
        drvB.bootstrap(world["seeds"])
        with shuffle_parallelism(spark, 13):
            drvB.run_until_done(world["pages"].repartition(7),
                                world["robots"], world["ranks"], 6)
        hB = (table_hash(drvB.seen_view()),
              table_hash(drvB.store.read(spark, "jobs")),
              table_hash(drvB.store.read(spark, "extracted")))
        assert hA == hB


class TestDeltaState:
    def test_missing_urls_retried_then_capped(self, spark, tmp_path, world):
        """P8: a scheduled url absent from pages returns to the pending
        pool (state='pending', attempts+1) and is retried until
        max_retries, then parked — never silently dropped in a
        transient 'scheduled' state."""
        # drop a slice of detail pages from the corpus
        pages = world["pages"].filter(~F.col("url").rlike(r"3\.html$"))
        dropped = world["pages"].join(pages, "url", "left_anti")
        n_dropped_details = dropped.count()
        assert n_dropped_details > 0
        drv = world["drv"]
        stats = drv.run_until_done(pages, world["robots"], world["ranks"], 12)
        missing_waves = [s["missing"] for s in stats if s["missing"] > 0]
        assert len(missing_waves) == drv.max_retries  # retried to the cap
        parked = (drv.frontier_view()
                  .filter((F.col("state") == "pending")
                          & (F.col("attempts") >= drv.max_retries)))
        assert parked.count() > 0
        assert drv.pending_count() == 0  # capped rows leave the pool

    def test_missing_urls_match_pages_anti_join(self, spark, world):
        """The missing set comes from the fetch cache, not a pages.url
        scan: per wave, the `missing`/`missing_retryable` stats and the
        re-pended frontier rows must equal what an anti join of the
        scheduled urls against pages.url gives — also when pages holds
        two captures of one url, which counts once in ``fetched`` and
        commits its later capture."""
        pages = world["pages"]
        lists = sorted(r["url"] for r in pages.filter(
            F.col("url").contains("/viec-lam-")).select("url").collect())
        dup = pages.filter(F.col("url").rlike(r"id15\.html$"))
        assert dup.count() == 1
        pages = (pages.filter(~F.col("url").rlike(r"3\.html$")
                              & (F.col("url") != lists[0]))
                 .unionByName(dup.withColumn(
                     "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))))
        page_urls = [r["url"] for r in pages.select("url").collect()]
        captures = {u: page_urls.count(u) for u in set(page_urls)}
        drv = world["drv"]
        total_missing = 0
        for _ in range(8):
            before = {r["url"]: r["attempts"] for r in drv.frontier_view()
                      .filter(drv._pending()).collect()}
            if not before:
                break
            stats = drv.run_wave(pages, world["robots"], world["ranks"])
            after = {r["url"]: (r["state"], r["attempts"])
                     for r in drv.frontier_view().collect()}
            # scheduled = every pending row that neither stayed deferred
            # (unchanged) nor was disallowed
            scheduled = {u for u, a in before.items()
                         if after[u] != ("pending", a)
                         and after[u][0] != "disallowed"}
            missing = {u for u in scheduled if u not in captures}
            assert stats["missing"] == len(missing)
            assert stats["missing_retryable"] == sum(
                before[u] + 1 < drv.max_retries for u in missing)
            assert stats["fetched"] == len(scheduled - missing)  # urls
            for u in scheduled:
                want = (("pending", before[u] + 1) if u in missing
                        else ("fetched", before[u]))
                assert after[u] == want, u
            total_missing += len(missing)
        assert total_missing > drv.max_retries  # the list page and details
        dup_url = dup.first()["url"]
        assert after[dup_url][0] == "fetched"
        # the duplicated url committed one row, from its later capture
        assert drv.store.read(spark, "extracted").filter(
            F.col("url") == dup_url).count() == 1
        later = pages.filter(F.col("url") == dup_url).agg(F.max("warc_ts")).first()[0]
        assert [r["crawled_at"] for r in drv.store.read(spark, "jobs")
                .filter(F.col("source_url") == dup_url).collect()] == [later]

    def test_zero_budget_wave_stops_loop(self, spark, world):
        """Starvation guard: a wave that only defers (zero tokens) is
        no progress -> stop, even though the pending count is static."""
        robots0 = spark.createDataFrame(
            synth.gen_robots().assign(tokens_per_wave=0))
        stats = world["drv"].run_until_done(
            world["pages"], robots0, world["ranks"], 10)
        assert len(stats) == 1
        assert stats[0]["fetched"] == 0 and stats[0]["deferred"] > 0

    def test_equal_pending_count_with_progress_continues(self, spark, world):
        """A wave that fetches N list pages while enqueuing ~N links
        keeps the loop alive (work done, not pending-count equality)."""
        stats = crawl_all(world)
        assert len(stats) >= 2  # wave 2 ran despite similar pending counts

    def test_per_wave_commit_is_o_delta(self, spark, world):
        """The frontier/seen appends of a wave contain ONLY that wave's
        changed rows — not a rewrite of the full state table."""
        crawl_all(world)
        st = world["store"]
        total = world["drv"].frontier_view().count()
        # last wave's frontier delta dir
        last_entry = st.snapshots()[-1]["tables"]["frontier"]
        assert isinstance(last_entry, list) and len(last_entry) >= 3
        last_delta = spark.read.parquet(str(st.root / last_entry[-1]))
        assert 0 < last_delta.count() < total  # strictly a subset

    def test_compaction_preserves_views(self, spark, tmp_path, world):
        """compact() (here auto, every wave) rewrites the base without
        changing the resolved views or the crawl outcome."""
        crawl_all(world)
        hA = (table_hash(world["drv"].frontier_view()),
              table_hash(world["drv"].seen_view()))
        storeB = SnapshotStore(tmp_path / "whC")
        drvB = WaveDriver(spark, storeB, num_partitions=4, compact_every=1)
        drvB.bootstrap(world["seeds"])
        drvB.run_until_done(world["pages"], world["robots"], world["ranks"], 6)
        hB = (table_hash(drvB.frontier_view()), table_hash(drvB.seen_view()))
        assert hA == hB
        # after compaction the base is a single dir + later deltas
        fr_entry = storeB.snapshots()[-1]["tables"]["frontier"]
        base_len = len(fr_entry) if isinstance(fr_entry, list) else 1
        raw = storeB.read(spark, "frontier").count()
        assert raw == drvB.frontier_view().count()  # fully compacted base

    def test_compaction_drops_expired_seen(self, spark, tmp_path):
        """compact() physically removes TTL-expired seen rows (the
        Redis expiry of deduplicator.go:76-84) — lazy reads already
        hid them; after compaction the storage does too."""
        import pandas as pd
        from crawlspark import dedup as D
        from pyspark.sql import functions as F

        store = SnapshotStore(tmp_path / "whT")
        drv = WaveDriver(spark, store, num_partitions=2, use_bloom=False)
        drv.bootstrap(synth.gen_seed_list(60))
        # seed a seen delta: one row far expired, one alive
        from crawlspark.driver import wave_start
        rows = pd.DataFrame({
            "source": ["s", "s"], "id": ["dead", "alive"],
            "url_hash": [1, 2], "last_updated_on": ["1", "2"],
            "expires_at": [pd.Timestamp("2020-01-01"),
                           pd.Timestamp("2100-01-01")],
            "salt": [0, 1],
        })
        from crawlspark.schemas import SEEN_SCHEMA
        delta = (spark.createDataFrame(rows)
                 .select(*[F.col(f.name).cast(f.dataType) for f in SEEN_SCHEMA.fields])
                 .withColumn("_wseq", F.lit(1)))
        store.commit(1, {}, appends={"seen": delta})
        assert drv.seen_view().count() == 2  # raw view keeps both
        drv.compact()
        left = {r["id"] for r in drv.seen_view().collect()}
        assert left == {"alive"}  # expired row physically gone
        raw = store.read(spark, "seen")
        assert raw.filter(F.col("id") == "dead").count() == 0

    def test_compaction_of_all_expired_seen_reads_back_and_resumes(
            self, spark, world):
        """Every seen row expired: compaction writes an EMPTY
        salt-partitioned seen base (no parquet file a reader could infer
        a schema from). It reads back through the manifest schema and
        the crawl resumes on it."""
        import pandas as pd
        from crawlspark.schemas import SEEN_SCHEMA

        store, drv = world["store"], world["drv"]
        rows = pd.DataFrame({
            "source": ["s"] * 3, "id": ["d0", "d1", "d2"],
            "url_hash": [1, 2, 3], "last_updated_on": ["1", "2", "3"],
            "expires_at": [pd.Timestamp("2020-01-01")] * 3,
            "salt": [0, 1, 2]})
        delta = (spark.createDataFrame(rows)
                 .select(*[F.col(f.name).cast(f.dataType)
                           for f in SEEN_SCHEMA.fields])
                 .withColumn("_wseq", F.lit(1)))
        store.commit(1, {}, appends={"seen": delta})
        drv.compact()
        snap = store.latest()
        assert "layout" not in snap
        assert not any((store.root / snap["tables"]["seen"]).rglob("*.parquet"))
        assert drv.seen_view().count() == 0

        drv2 = WaveDriver(spark, SnapshotStore(store.root), num_partitions=4)
        stats = drv2.run_until_done(world["pages"], world["robots"],
                                    world["ranks"], 6)
        assert stats[0]["fetched"] == len(world["seeds"])
        assert stats[0]["new"] > 0 and stats[0]["unchanged"] == 0
        assert drv2.pending_count() == 0
        frontier = drv2.frontier_view()
        n_disallowed = frontier.filter(F.col("state") == "disallowed").count()
        assert store.read(spark, "jobs").count() == N - n_disallowed
        assert drv2.seen_view().count() == N


class TestSeenDeterminism:
    def test_duplicate_listing_keeps_earliest_discovery(self, spark, tmp_path):
        """A wave that lists the same (source,id) twice with conflicting
        values resolves seen deterministically: the earliest FIFO
        discovery (page, rank) wins — same tie-break as frontier_delta,
        so resume/parallelism invariance holds even for dup listings."""
        import pandas as pd

        host = synth.host_name(0)
        durl = synth.detail_url(host, "nhan-vien-x", 7)

        def list_html(updated):
            a = (f'<div class="job-item"><a class="job-link" href="{durl}" '
                 f'data-id="7" data-updated="{updated}">X</a></div>')
            return ("<!DOCTYPE html><html><head></head><body>"
                    f"{a}</body></html>").encode()

        # page 2 carries the LATER listing with a different value; the
        # earliest page (1) must win regardless of partition order
        pages = spark.createDataFrame(pd.DataFrame({
            "url": [synth.list_url(host, 1), synth.list_url(host, 2)],
            "warc_ts": [pd.Timestamp("2026-01-01")] * 2,
            "html": [list_html(1111), list_html(2222)],
            "text": ["", ""], "lang": ["vi", "vi"],
        }), schema="url string, warc_ts timestamp, html binary, text string, lang string")
        seeds = pd.DataFrame({
            "url": [synth.list_url(host, 1), synth.list_url(host, 2)],
            "host": [host, host], "page": [1, 2], "depth": [0, 0]})
        robots = spark.createDataFrame(synth.gen_robots())
        ranks = spark.createDataFrame(synth.gen_host_rank())

        hashes = set()
        for i, (n_shuffle, n_pages) in enumerate([(4, 1), (13, 2)]):
            drv = WaveDriver(spark, SnapshotStore(tmp_path / f"wh{i}"))
            drv.bootstrap(seeds)
            with shuffle_parallelism(spark, n_shuffle):
                drv.run_wave(pages.repartition(n_pages), robots, ranks)
            seen = drv.seen_view().filter(F.col("id") == "7").collect()
            assert len(seen) == 1
            assert seen[0]["last_updated_on"] == "1111"  # page 1 wins
            hashes.add(table_hash(drv.seen_view()))
        assert len(hashes) == 1  # invariant across partition layouts


class TestMultiCapture:
    def test_latest_capture_wins_at_any_layout(self, spark, tmp_path):
        """Crawl input can hold several captures of one url (Common
        Crawl does): the fetch keeps the latest warc_ts per url, so the
        raw jobs log, jobs_view and extracted_view are the same at any
        partition layout, the extracted text is the later capture's, and
        ``fetched`` counts urls. Two detail urls listed under one item
        id resolve in jobs_view to the smaller source_url."""
        import re

        import numpy as np
        import pandas as pd

        from crawlspark.schemas import PAGES_SCHEMA

        first = synth.gen_pages_pandas(120)
        ids = np.arange(1, 121)
        second = synth.gen_detail_chunk(ids[synth.updated_mask(ids)], wave=2)
        second["warc_ts"] = second["warc_ts"] + pd.Timedelta(hours=1)
        # one list page lists its first two public detail urls under the
        # first one's item id
        li = int(first.index[first["url"].str.contains("/viec-lam-")][0])
        html = first.at[li, "html"].decode()
        links = [m for m in re.finditer(
            r'href="([^"]+)" data-id="(\d+)"', html)
            if "/private-" not in m.group(1)][:2]
        pair = sorted(m.group(1) for m in links)
        shared_id = links[0].group(2)
        b = links[1]
        first.at[li, "html"] = (html[:b.start(2)] + shared_id
                                + html[b.end(2):]).encode()
        both = pd.concat([first, second], ignore_index=True)
        latest = both.sort_values("warc_ts").groupby("url")["text"].last()
        robots = spark.createDataFrame(synth.gen_robots())
        ranks = spark.createDataFrame(synth.gen_host_rank())

        hashes = set()
        layouts = [(both, 4, 1), (both.iloc[::-1], 13, 7)]
        for i, (pdf, n_shuffle, n_pages) in enumerate(layouts):
            pages = spark.createDataFrame(pdf, PAGES_SCHEMA).repartition(n_pages)
            drv = WaveDriver(spark, SnapshotStore(tmp_path / f"wh{i}"))
            drv.bootstrap(synth.gen_seed_list(120))
            with shuffle_parallelism(spark, n_shuffle):
                stats = drv.run_until_done(pages, robots, ranks, 6)
            assert sum(s["fetched"] for s in stats) == drv.frontier_view() \
                .filter(F.col("state") == "fetched").count()
            text = {r["url"]: r["text"]
                    for r in drv.extracted_view().collect()}
            assert set(second["url"]) - set(text) <= {
                u for u in second["url"] if "/private-" in u}
            assert {u: latest[u] for u in text} == text
            kept = drv.jobs_view().filter(F.col("id") == shared_id).collect()
            assert [r["source_url"] for r in kept] == pair[:1]
            hashes.add((table_hash(drv.store.read(spark, "jobs")),
                        table_hash(drv.jobs_view()),
                        table_hash(drv.extracted_view())))
        assert len(hashes) == 1


class TestObsGet:
    def test_unfired_observation_falls_back_without_hanging(self, spark):
        """ADVICE r3: getAsJava blocks forever on an unfired
        observation. _obs_get must detect the missing metrics with the
        non-blocking getRowOrEmpty probe and run the deterministic
        fallback aggregate instead — the cache-hit-above-CollectMetrics
        wave path depends on it."""
        from pyspark.sql import Observation

        from crawlspark.driver import _obs_get

        obs = Observation("never_fires")
        df = spark.range(7)
        df.observe(obs, F.count("*").alias("n"))  # observed plan NEVER run
        t0 = time.monotonic()
        got = _obs_get(obs, ["n"], df, [F.count("*").alias("n")])
        assert got == {"n": 7}
        assert time.monotonic() - t0 < 30  # not the blocked future

    def test_fired_observation_reads_metrics(self, spark):
        from pyspark.sql import Observation

        from crawlspark.driver import _obs_get

        obs = Observation("fires")
        df = spark.range(5).observe(obs, F.count("*").alias("n"))
        df.count()
        # fallback frame is wrong on purpose: metrics must win
        got = _obs_get(obs, ["n"], spark.range(99), [F.count("*").alias("n")])
        assert got == {"n": 5}


class TestManifestDurability:
    def test_manifest_fsynced_before_swap(self, tmp_path, monkeypatch):
        """A power loss must never publish an empty or torn manifest:
        the tmp file is fsynced with its full content BEFORE os.replace
        makes it visible, and the directory is fsynced after."""
        import os
        import stat

        events = []
        real_fsync, real_replace = os.fsync, os.replace

        def fsync(fd):
            st = os.fstat(fd)
            events.append(("fsync", stat.S_ISDIR(st.st_mode), st.st_ino,
                           st.st_size))
            real_fsync(fd)

        def replace(src, dst):
            events.append(("replace", os.stat(src).st_ino, str(dst)))
            real_replace(src, dst)

        monkeypatch.setattr(os, "fsync", fsync)
        monkeypatch.setattr(os, "replace", replace)
        store = SnapshotStore(tmp_path / "wh")
        assert store.commit(wave=1, tables={}) == 1
        manifest = tmp_path / "wh" / "_manifest.json"
        assert [e[0] for e in events] == ["fsync", "replace", "fsync"]
        (_, is_dir, ino, size), (_, src_ino, dst), (_, dir_after, _, _) = events
        assert not is_dir and ino == src_ino  # the tmp file itself
        assert size == manifest.stat().st_size  # with its full content
        assert dst == str(manifest) and dir_after
        assert store.latest()["sid"] == 1


def _job_ids(spark) -> set[int]:
    """Ids of every job the status store holds, once the listener bus
    has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _jobs_by_execution(spark, ids: set[int]) -> dict[str, int]:
    """Job counts per SQL execution (description) for the given job ids;
    jobs outside any SQL execution (e.g. schema inference) are grouped
    under one key."""
    owner = {}
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    while it.hasNext():
        e = it.next()
        desc = (e.description() or "").splitlines()[0][:60]
        jobs = e.jobs().keySet().iterator()
        while jobs.hasNext():
            owner[int(jobs.next())] = f"execution {e.executionId()}: {desc}"
    out: dict[str, int] = {}
    for j in sorted(ids):
        key = owner.get(j, "<no SQL execution>")
        out[key] = out.get(key, 0) + 1
    return out


class TestJobBudget:
    # Spark jobs run by run_until_done on the 120-page world below
    # (bootstrap excluded): 2 waves plus the initial pending count
    MAX_JOBS = 47
    # ... and by reseed plus run_until_done of the recrawl below
    MAX_RECRAWL_JOBS = 72

    def test_wave_loop_job_budget(self, spark, tmp_path):
        """Job-count guard on the wave loop, counted as
        perfbench/crawl.py:run_cycle does (every job the session ran in
        between). A plan change that re-runs a cached subtree, adds an
        exchange-backed action or brings back schema inference shows up
        here; the failure message lists the jobs per SQL execution."""
        pages = spark.createDataFrame(synth.gen_pages_pandas(120))
        robots = spark.createDataFrame(synth.gen_robots())
        ranks = spark.createDataFrame(synth.gen_host_rank())
        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4)
        drv.bootstrap(synth.gen_seed_list(120))

        ids0 = _job_ids(spark)
        stats = drv.run_until_done(pages, robots, ranks, 6)
        ran = _job_ids(spark) - ids0
        assert len(stats) == 2
        assert len(ran) <= self.MAX_JOBS, json.dumps(
            _jobs_by_execution(spark, ran), indent=1)

        # reads apply the manifest schema: no inference job
        ids0 = _job_ids(spark)
        for table in drv.store.latest()["tables"]:
            drv.store.read(spark, table)
            drv.store.read_split(spark, table)
        ran = _job_ids(spark) - ids0
        assert not ran, json.dumps(_jobs_by_execution(spark, ran), indent=1)

    def test_recrawl_job_budget(self, spark, tmp_path):
        """The same guard on the recrawl half of _crawl_then_recrawl
        (reseed plus its wave loop), the half whose list wave probes the
        bloom and appends a bloom layer. compact_every=4 puts the
        compaction, and with it the bloom base rebuild, inside the
        counted half, as perfbench's recrawl workload does."""
        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4, compact_every=4)
        drv.bootstrap(synth.gen_seed_list(120))
        drv.run_until_done(spark.createDataFrame(synth.gen_pages_pandas(120)),
                           spark.createDataFrame(synth.gen_robots()),
                           spark.createDataFrame(synth.gen_host_rank()), 6)

        ids0 = _job_ids(spark)
        stats = _recrawl(spark, drv)
        ran = _job_ids(spark) - ids0
        assert [s["wave"] for s in stats] == [4, 5]  # compacts after wave 4
        assert stats[0]["unchanged"] > 0  # a bloom-probed list wave
        assert len(ran) <= self.MAX_RECRAWL_JOBS, json.dumps(
            _jobs_by_execution(spark, ran), indent=1)


class TestWaveSides:
    """A wave runs only the sides it has rows for: classification when
    it fetched list links, the detail outputs when it fetched a detail
    page."""

    @pytest.fixture()
    def classify_calls(self, monkeypatch):
        """Names of the dedup classify entry points called, in order."""
        from crawlspark import dedup as D

        calls = []
        for name in ("classify", "classify_with_bloom"):
            def spy(*args, _real=getattr(D, name), _name=name, **kwargs):
                calls.append(_name)
                return _real(*args, **kwargs)
            monkeypatch.setattr(D, name, spy)
        return calls

    def test_list_and_detail_waves_write_only_their_tables(
            self, spark, tmp_path, classify_calls):
        """On the 120-page world the first wave fetches list pages only
        and the second detail pages only: the list wave classifies and
        writes no jobs, extracted or jsonld_audit directory; the detail
        wave calls no classify and writes no seen or blooms directory."""
        store = SnapshotStore(tmp_path / "wh")
        drv = WaveDriver(spark, store, num_partitions=4)
        drv.bootstrap(synth.gen_seed_list(120))
        pages = spark.createDataFrame(synth.gen_pages_pandas(120))
        robots = spark.createDataFrame(synth.gen_robots())
        ranks = spark.createDataFrame(synth.gen_host_rank())

        waves = []
        for _ in range(2):
            n_calls = len(classify_calls)
            stats = drv.run_wave(pages, robots, ranks)
            written = {d.name for d in
                       (store.root / "data" / str(store.latest()["sid"])).iterdir()}
            waves.append((stats, classify_calls[n_calls:], written))
        (list_stats, list_calls, list_written), \
            (detail_stats, detail_calls, detail_written) = waves

        assert list_stats["enqueued"] > 0 and list_calls
        assert list_written == {"frontier", "seen", "blooms", "lineage"}
        assert detail_stats["fetched"] > 0 and detail_calls == []
        assert detail_written == {"frontier", "lineage", "jobs", "extracted",
                                  "jsonld_audit"}
        assert not detail_stats["work_remains"]

    def test_mixed_wave_classifies_links_and_writes_details(self, spark,
                                                             tmp_path):
        """Under a binding budget a reseed mid-crawl gives a wave that
        fetches list and detail pages: it classifies exactly the links
        of its list pages and appends one jobs row per detail page."""
        from crawlspark.extract import extract_links

        pdf = synth.gen_pages_pandas(300)
        pages = spark.createDataFrame(pdf)
        robots = spark.createDataFrame(synth.gen_robots(wave_ms=12000))
        ranks = spark.createDataFrame(synth.gen_host_rank())
        store = SnapshotStore(tmp_path / "wh")
        drv = WaveDriver(spark, store, num_partitions=4)
        drv.bootstrap(synth.gen_seed_list(300))
        drv.run_wave(pages, robots, ranks)
        drv.run_wave(pages, robots, ranks)
        drv.reseed(synth.gen_seed_list(300))
        stats = drv.run_wave(pages, robots, ranks)

        delta = spark.read.parquet(
            str(store.root / store.latest()["tables"]["frontier"][-1]))
        lists = [r["url"] for r in delta.filter(
            (F.col("depth") == 0) & (F.col("state") == "fetched")).collect()]
        html = dict(zip(pdf["url"], pdf["html"]))
        links = sum(len(extract_links(html[u].decode())) for u in lists)
        details = stats["fetched"] - len(lists)
        assert lists and links > 0 and details > 0
        assert stats["new"] + stats["updated"] + stats["unchanged"] == links
        jobs = store.read(spark, "jobs").filter(F.col("wave") == stats["wave"])
        assert jobs.count() == details


def _crawl_then_recrawl(spark, drv, n=120) -> list[dict]:
    """A crawl of the wave-1 corpus, then a reseeded recrawl of the
    wave-2 corpus (its first wave probes the bloom with every list
    link). Returns the stats of every wave."""
    drv.bootstrap(synth.gen_seed_list(n))
    stats = drv.run_until_done(
        spark.createDataFrame(synth.gen_pages_pandas(n)),
        spark.createDataFrame(synth.gen_robots()),
        spark.createDataFrame(synth.gen_host_rank()), 6)
    return stats + _recrawl(spark, drv, n)


def _recrawl(spark, drv, n=120) -> list[dict]:
    """The recrawl half of _crawl_then_recrawl: reseed with the wave-2
    list pages, then crawl the wave-2 corpus."""
    drv.reseed(synth.gen_seed_list(n, wave=2))
    return drv.run_until_done(
        spark.createDataFrame(synth.gen_pages_pandas(n, wave=2)),
        spark.createDataFrame(synth.gen_robots()),
        spark.createDataFrame(synth.gen_host_rank()), 6)


class TestLineage:
    def test_lineage_sums_match_wave_stats(self, spark, tmp_path):
        """The committed lineage rows of a wave add up to the stats the
        wave returned, bloom-probed waves included, and the lineage table
        is written under LINEAGE_SCHEMA."""
        from crawlspark.schemas import LINEAGE_SCHEMA

        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4)
        stats = _crawl_then_recrawl(spark, drv)
        assert any(s["unchanged"] for s in stats)  # a bloom-probed recrawl
        sums = {r["wave"]: r for r in
                drv.store.read(spark, "lineage").groupBy("wave").agg(
                    *(F.sum(c).alias(c) for c in (
                        "urls_fetched", "new", "updated",
                        "unchanged"))).collect()}
        for s in stats:
            got = sums[s["wave"]]
            assert (got["urls_fetched"], got["new"], got["updated"],
                    got["unchanged"]) == (
                s["fetched"], s["new"], s["updated"], s["unchanged"]), s["wave"]
        schemas = json.loads(drv.store._manifest_path.read_text())["schemas"]
        assert schemas["lineage"] == LINEAGE_SCHEMA.toDDL()

    def test_lineage_with_dedup_hits_column_still_reads(self, spark, tmp_path,
                                                        monkeypatch):
        """Lineage files committed with the former ``dedup_hits`` column
        (a copy of ``unchanged``) read back beside the files of a later
        wave, and every wave's ``unchanged`` sum equals its stats."""
        from crawlspark.schemas import LINEAGE_SCHEMA

        store = SnapshotStore(tmp_path / "wh")
        drv = WaveDriver(spark, store, num_partitions=4)
        commit = store.commit

        def commit_with_dedup_hits(wave, tables, **kw):
            lin = kw["appends"].get("lineage")
            if lin is not None:
                kw["appends"]["lineage"] = lin.select(
                    "wave", "partition_id", "urls_fetched",
                    F.col("unchanged").alias("dedup_hits"), "new", "updated",
                    "unchanged", "wall_ms", "committed_at")
            return commit(wave, tables, **kw)

        robots = spark.createDataFrame(synth.gen_robots())
        ranks = spark.createDataFrame(synth.gen_host_rank())
        pages2 = spark.createDataFrame(synth.gen_pages_pandas(120, wave=2))
        with monkeypatch.context() as m:
            m.setattr(store, "commit", commit_with_dedup_hits)
            drv.bootstrap(synth.gen_seed_list(120))
            stats = drv.run_until_done(
                spark.createDataFrame(synth.gen_pages_pandas(120)),
                robots, ranks, 6)
            drv.reseed(synth.gen_seed_list(120, wave=2))
            stats.append(drv.run_wave(pages2, robots, ranks))
        assert stats[-1]["unchanged"] > 0  # bloom-probed, old format
        stats.append(drv.run_wave(pages2, robots, ranks))

        paths = store.latest()["tables"]["lineage"]
        old = spark.read.parquet(str(store.root / paths[0]))
        new = spark.read.parquet(str(store.root / paths[-1]))
        assert "dedup_hits" in old.columns
        assert new.columns == LINEAGE_SCHEMA.fieldNames()
        lin = store.read(spark, "lineage")
        assert lin.columns == LINEAGE_SCHEMA.fieldNames()
        sums = {r["wave"]: r["unchanged"] for r in
                lin.groupBy("wave").agg(F.sum("unchanged").alias("unchanged"))
                .collect()}
        assert sums == {s["wave"]: s["unchanged"] for s in stats}


class TestCacheHygiene:
    def test_crawl_and_recrawl_leave_no_persisted_rdd(self, spark, tmp_path,
                                                      monkeypatch):
        """Every frame a wave persists is unpersisted before run_wave
        returns, on bloom-probed waves too: after a crawl and a reseeded
        recrawl the session holds as many persisted RDDs as before."""
        from crawlspark import dedup as D

        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4)
        probed_waves = []
        real = D.classify_with_bloom

        def spy(*args, **kwargs):
            probed_waves.append(drv.store.latest_wave() + 1)
            return real(*args, **kwargs)

        monkeypatch.setattr(D, "classify_with_bloom", spy)
        persisted = spark.sparkContext._jsc.getPersistentRDDs
        before = persisted().size()
        stats = _crawl_then_recrawl(spark, drv)
        assert persisted().size() == before
        # the recrawl's list wave classified its links through the bloom
        list_wave = next(s for s in stats if s["unchanged"])
        assert list_wave["wave"] in probed_waves

    def test_failed_commit_leaves_no_persisted_rdd(self, spark, tmp_path,
                                                   monkeypatch):
        """A wave whose commit raises still releases the frames it
        persisted: the error propagates and the session holds as many
        persisted RDDs as before the wave."""
        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4)
        drv.bootstrap(synth.gen_seed_list(40))

        def boom(*args, **kwargs):
            raise OSError("commit failed")

        monkeypatch.setattr(drv.store, "commit", boom)
        persisted = spark.sparkContext._jsc.getPersistentRDDs
        before = persisted().size()
        with pytest.raises(OSError, match="commit failed"):
            drv.run_wave(spark.createDataFrame(synth.gen_pages_pandas(40)),
                         spark.createDataFrame(synth.gen_robots()),
                         spark.createDataFrame(synth.gen_host_rank()))
        assert persisted().size() == before


# three crawl cycles of the 120-page world: the wave-1 corpus, the
# wave-2 corpus (20% updated, 10% new) and a grown wave-2 corpus
_CYCLES = ((120, 1), (120, 2), (150, 2))


def _three_cycles(spark, drv, after_first=None):
    """Crawl _CYCLES on ``drv``, each cycle reseeded with its list pages;
    ``after_first(drv)`` runs between the first and second cycle.
    Robots allow one list page per host per wave (detail pages keep
    their budgets), so the host with two list pages spreads each
    cycle's listing over two enqueuing waves. Returns the stats of every
    wave (less its wall time) and the state hashes after each cycle."""
    rb = synth.gen_robots()
    robots = spark.createDataFrame(rb.assign(
        detail_delay_ms=rb["crawl_delay_ms"],
        detail_tokens_per_wave=rb["tokens_per_wave"], tokens_per_wave=1))
    ranks = spark.createDataFrame(synth.gen_host_rank())
    stats, hashes = [], []
    for i, (n, wave) in enumerate(_CYCLES):
        seeds = synth.gen_seed_list(n, wave=wave)
        if i == 0:
            drv.bootstrap(seeds)
        else:
            drv.reseed(seeds)
        stats += [{k: v for k, v in st.items() if k != "wall_ms"}
                  for st in drv.run_until_done(
                      spark.createDataFrame(
                          synth.gen_pages_pandas(n, wave=wave)),
                      robots, ranks, 8)]
        hashes.append(state_hashes(spark, drv))
        if i == 0 and after_first is not None:
            after_first(drv)
    return stats, hashes


def _bloom_paths(snapshot) -> list[str]:
    """The bloom layer paths a snapshot holds, base first."""
    entry = snapshot["tables"].get("blooms", [])
    return entry if isinstance(entry, list) else [entry]


def _probe_entries(monkeypatch, drv) -> dict[int, list[str]]:
    """wave -> the bloom layer paths its probe reads (base first)."""
    entries = {}
    read = drv.store.read

    def spy(spark, table, *args, **kwargs):
        paths = _bloom_paths(drv.store.latest())
        if table == "blooms" and paths:
            entries[drv.store.latest_wave() + 1] = paths
        return read(spark, table, *args, **kwargs)

    monkeypatch.setattr(drv.store, "read", spy)
    return entries


class TestBloomLayers:
    # compaction at wave 5 folds the first two cycles' layers into a
    # base; the third cycle's second list wave (wave 10) then probes that
    # base plus the layers of waves 6 and 9
    COMPACT_EVERY = 5

    @pytest.fixture(scope="class")
    def plain(self, spark, tmp_path_factory):
        """The same three cycles classified without the bloom."""
        drv = WaveDriver(spark, SnapshotStore(tmp_path_factory.mktemp("p")),
                         num_partitions=4, use_bloom=False,
                         compact_every=self.COMPACT_EVERY)
        return _three_cycles(spark, drv)

    def test_layered_bloom_matches_plain_classify(self, spark, tmp_path,
                                                  monkeypatch, plain):
        """Per-wave bloom layers over a compacted base classify exactly
        as the plain seen join does, and every stored layer is sized to
        the keys it holds."""
        from crawlspark import dedup as D

        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4, compact_every=self.COMPACT_EVERY)
        entries = _probe_entries(monkeypatch, drv)
        stats, hashes = _three_cycles(spark, drv)
        assert (stats, hashes) == plain

        snaps = drv.store.snapshots()
        bases = {s["tables"]["blooms"] for s in snaps
                 if isinstance(s["tables"].get("blooms"), str)}
        by_wave = {s["wave"]: s for s in stats}
        layered = [w for w, paths in entries.items()
                   if paths[0] in bases and len(paths) >= 3
                   and by_wave[w]["unchanged"] > 0]
        assert layered, entries  # base + >= 2 layers on a list wave

        for path in {p for s in snaps for p in _bloom_paths(s)}:
            for r in spark.read.parquet(str(drv.store.root / path)).collect():
                assert len(r["bits"]) * 8 == D.bloom_params(r["n_keys"])[0]

    def test_fixed_capacity_bloom_table_resumes(self, spark, tmp_path,
                                                monkeypatch, plain):
        """A warehouse whose bloom table is one overwritten fixed-m table
        (the format before bloom layers: every salt at the capacity of
        1M keys) resumes: the table is read as the first layer, and the
        bloom-probed waves after it classify as the plain seen join."""
        import numpy as np

        from crawlspark import dedup as D

        def to_fixed_capacity(drv):
            keys = drv.seen_view().select("salt", "url_hash").toPandas()
            m, k = D.bloom_params(1_000_000)
            rows = []
            for salt, g in keys.groupby("salt"):
                bits = np.zeros(m // 64, dtype=np.uint64)
                pos = D._bloom_positions(g["url_hash"].to_numpy(), m, k).ravel()
                np.bitwise_or.at(bits, pos // 64,
                                 np.uint64(1) << (pos % 64).astype(np.uint64))
                rows.append((int(salt), m, k, bits.tobytes(), len(g)))
            drv.store.commit(drv.store.latest_wave(), {
                "blooms": spark.createDataFrame(rows, D.BLOOM_SCHEMA)})
            fixed.append(drv.store.latest()["tables"]["blooms"])

        fixed = []
        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4, compact_every=self.COMPACT_EVERY)
        entries = _probe_entries(monkeypatch, drv)
        stats, hashes = _three_cycles(spark, drv, after_first=to_fixed_capacity)
        assert (stats, hashes) == plain
        assert isinstance(fixed[0], str)
        by_wave = {s["wave"]: s for s in stats}
        assert any(paths[0] == fixed[0] and by_wave[w]["unchanged"] > 0
                   for w, paths in entries.items()), entries
