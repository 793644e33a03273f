"""Wave driver (SURVEY §3): the crawl loop, one snapshot per wave.

Per wave:
  pending frontier -> politeness schedule (per-host budgets, robots)
  -> "fetch" = equi-join against the pages table (S7: the closed-world
  analogue of the HTTP GET) -> ONE combined extraction pass (list
  pages: link scan; detail pages: JSON-LD enrichment + audit blobs)
  -> dedup classify (layered bloom + seen join) -> enqueue
  NEW/UPDATED, append seen delta -> normalize -> append jobs batch
  -> lineage rows per partition -> ONE atomic snapshot commit.

This inverts the reference's topology (three processes x Redis queues,
one Redis round-trip per job — SURVEY §3.1-3.3) into one declarative
plan per wave; the publish-then-mark at-least-once contract
(vieclam24h/crawler.go:131-141) strengthens to exactly-once because
frontier append and seen append commit atomically.

State tables are O(delta) per wave (Iceberg merge-on-read analogue):
  - frontier and seen commit ONLY the wave's changed rows, stamped
    with a commit sequence (_wseq); readers resolve last-write-wins
    per key through frontier_view()/seen_view() windows.
  - deferred rows write NOTHING (they simply stay pending in the
    resolved view) — deferral is free.
  - compact() (auto every ``compact_every`` waves, wave-count-keyed so
    kill-resume replays it deterministically) rewrites the resolved
    views as a fresh base, physically drops TTL-expired seen rows
    (deduplicator.go:76-84's Redis expiry), and rebuilds the bloom
    base from surviving keys. Between compactions, per-wave commit
    IO never scales with total state size.
  - blooms are layered the way seen is: a wave that enqueues keys
    appends one bloom per salt sized to its seen delta (O(delta) bytes,
    nothing read or rewritten), and a probe ORs the base and every
    layer since. compact() folds the layers into a base sized to the
    surviving keys.

Resume (north_rule, P10): every wave is a snapshot; a killed run
restarts from the last committed wave and reproduces the uninterrupted
run bit-for-bit on the resolved views (tests/test_driver.py pins this).

Scale notes:
- pages join: frontier wave (budget-bounded) broadcasts against pages
  (the 100 TB side) on url, so the fat html column NEVER crosses a
  shuffle — pages stream from parquet straight into extraction. At a
  10^10 frontier the same guarantee comes from bucketing both tables
  by url hash (storage-layer config); plan shape is identical.
- html stays BINARY end-to-end and is dropped inside the same stage
  that extracts from it; nothing html-bearing is ever persisted.
- the fetch keeps ONE capture per url (latest ``warc_ts``, ties broken
  by the html hash), so the extraction cache is 1:1 with the fetched
  urls and every url-keyed output is the same at any partition layout.
- a wave runs only the work it has rows for. One count per (partition,
  kind, retry class, list page) over the cached scheduled and processed
  rows, plus the list links, fills the schedule and extraction caches
  (serializing the Python stage so the commit's concurrent writes cannot
  duplicate it). Only a wave with list links reads seen and blooms and
  classifies (its classified rows counted by status in a second action);
  seen and blooms are appended only when it enqueued, jobs, extracted
  and jsonld_audit only when it fetched a detail page. Wave stats and
  lineage rows are sums over the counts; loop control is exact
  arithmetic over the stats, never a frontier re-read.
"""

from __future__ import annotations

import time
from collections import Counter, defaultdict
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import dedup as D
from . import politeness
from .clean import udfs as clean_udfs
from .extract import extract_pages
from .frontier import host_of, priority_expr
from .normalize import normalize_vieclam24h
from .schemas import FRONTIER_SCHEMA, LINEAGE_SCHEMA, SEEN_SCHEMA
from .session import cache_scope, cached
from .tables import SnapshotStore

WAVE_EPOCH = datetime(2026, 1, 1)
WAVE_SECONDS = 3600  # one wave = one cron cycle (cmd/vieclam24h/crawler/main.go:24)

_FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
_SEEN_COLS = [f.name for f in SEEN_SCHEMA.fields]

_STAT_KEYS = ("fetched", "missing", "missing_retryable", "deferred",
              "disallowed", "enqueued", "new", "updated", "unchanged")


def _obs_get(obs: Observation, names: list[str], fallback: DataFrame,
             exprs: list) -> dict:
    """Observation metrics with a deterministic fallback.

    No engine code calls this since the wave counts ``missing`` from
    its pre-commit aggregate; it is kept only because perfbench's tracer
    (``perfbench/tracing.py``) patches it by name, and goes with the
    next tracer change.

    Metrics ride CollectMetrics accumulators on jobs the wave runs
    anyway (zero dedicated counter jobs). Two PySpark 4.1.2 edge cases
    are handled: Observation.get's toPyRow asserts on the schemaless
    row produced when the observed node first executes inside a
    broadcast-build job (read getAsJava instead), and a query that hits
    the persisted cache ABOVE the metrics node can complete first with
    no metrics at all — then recompute the same aggregates directly on
    the cached frame (tiny: one job over cached partitions, rare in
    practice).

    Missing metrics are detected with the NON-blocking getRowOrEmpty
    (None until the observation fires): getAsJava blocks forever on an
    unfired observation's future, which would hang the driver on the
    cache-hit path instead of reaching the fallback (verified
    empirically on 4.1.2). One short grace retry covers listener
    latency between job completion and metric registration."""
    # NB getRowOrEmpty returns a *scala Option* — py4j hands back a
    # JavaObject proxy even for None$, so test isEmpty(), not `is None`
    fired = not obs._jo.getRowOrEmpty().isEmpty()
    if not fired:
        time.sleep(0.1)
        fired = not obs._jo.getRowOrEmpty().isEmpty()
    if fired:
        m = dict(obs._jo.getAsJava())
        if all(n in m for n in names):
            return {n: int(m[n]) for n in names}
    row = fallback.agg(*exprs).first()
    return {n: int(row[n]) for n in names}


def _first_per_key(df: DataFrame, keys: list[str], *order) -> DataFrame:
    """One row per ``keys``: the first in ``order`` (row_number() = 1)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def wave_start(wave: int) -> datetime:
    return WAVE_EPOCH + timedelta(seconds=wave * WAVE_SECONDS)


def table_hash(df: DataFrame) -> int:
    """Order-insensitive content fingerprint (determinism evidence)."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in df.columns]
    row_hash = F.xxhash64(F.concat_ws("\x1f", *cols)).cast("decimal(38,0)")
    out = df.select(row_hash.alias("h")).agg(
        F.sum("h").alias("s"), F.count("*").alias("n")).first()
    return hash((int(out["s"] or 0), int(out["n"])))


# Output files per fat-table write (jobs, extracted) and per compacted
# frontier base; control, delta and bloom tables write with their
# natural partitioning, saving one shuffle per table per wave (Iceberg's
# writer sizes files in production). Sizing MUST be repartition, not
# coalesce: coalesce would pull the upstream compute (normalize/clean
# Python UDFs) down to SNAPSHOT_FILES tasks; repartition keeps compute
# wide and only shuffles the small finished rows into the output files.
SNAPSHOT_FILES = 8


class WaveDriver:
    # the label of every row and seen key: the wave's one normalizer
    # (normalize_vieclam24h) decides the source, not a setting
    source = "vieclam24h"
    # P8: fetch attempts before a url that keeps going missing is parked
    max_retries = 3

    def __init__(self, spark: SparkSession, store: SnapshotStore,
                 num_partitions: int = 32, use_bloom: bool = True,
                 compact_every: int = 8):
        self.spark = spark
        self.store = store
        self.num_partitions = num_partitions
        self.use_bloom = use_bloom
        self.compact_every = compact_every

    # -- pending predicate ---------------------------------------------------
    def _pending(self) -> F.Column:
        return (F.col("state") == "pending") & (F.col("attempts") < self.max_retries)

    # -- delta resolution (merge-on-read views) ------------------------------
    def _resolved(self, table: str, keys: list[str]) -> DataFrame | None:
        """Last-write-wins per key — the read side of the O(delta)
        commit scheme (Iceberg MoR / Redis SET equivalence).

        The base (bootstrap or last compaction) is already one row per
        key, and every delta is too (per-wave dedup), so ONLY the delta
        chain is window-resolved; the base streams through a broadcast
        anti join against the RAW delta keys (a key changed in several
        waves repeats, but an anti join does not fan out on duplicate
        build keys, so no distinct). The window is the read's ONE hash
        exchange: O(delta-chain) rows, never O(total state) — the
        round-2 scheme's full-table `row_number() OVER (source,id)`
        shuffle+sort is gone. Delta waves always carry a higher `_wseq`
        than the base they follow, so delta-wins is exact. The broadcast
        of delta keys is bounded by compact_every waves of changes
        (compaction folds the chain back into the base); production
        analogue: Iceberg bucket-partitioned MoR with storage-partitioned
        joins."""
        base, deltas = self.store.read_split(self.spark, table)
        if base is None:
            return None
        if deltas is None:
            return base
        dres = _first_per_key(deltas, keys, F.col("_wseq").desc())
        survivors = base.join(F.broadcast(deltas.select(*keys)), keys,
                              "left_anti")
        return dres.unionByName(survivors)

    def frontier_view(self) -> DataFrame | None:
        """Current frontier state: one row per url."""
        out = self._resolved("frontier", ["url"])
        return None if out is None else out.select(*_FRONTIER_COLS)

    def seen_view(self) -> DataFrame | None:
        """Current seen set: one row per (source, id); TTL expiry is
        applied lazily by consumers via dedup.seen_live. Column order is
        canonicalized (a salt-partitioned base reads salt last)."""
        out = self._resolved("seen", ["source", "id"])
        if out is None:
            return None
        return out.select(*_SEEN_COLS)

    # -- bootstrap ----------------------------------------------------------
    def _seed_rows(self, seeds: pd.DataFrame, wave: int) -> DataFrame:
        """Pending frontier rows for a seed list stamped with `wave`.
        seeds: pandas (url, host, page, depth)."""
        pdf = seeds.assign(
            source=self.source,
            id=seeds["url"],  # D6 fallback: id=url when no API id
            last_updated_on=None, wave=wave, rank=0, priority=0.0,
            state="pending", attempts=0)
        return self.spark.createDataFrame(pdf[_FRONTIER_COLS],
                                          schema=FRONTIER_SCHEMA)

    def bootstrap(self, seeds: pd.DataFrame) -> int:
        """Seed the frontier with depth-0 list pages (wave 0 snapshot).
        seeds: pandas (url, host, page, depth)."""
        fr = self._seed_rows(seeds, 0).withColumn("_wseq", F.lit(0))
        seen = (self.spark.createDataFrame([], SEEN_SCHEMA)
                .withColumn("_wseq", F.lit(0)))
        return self.store.commit(0, {}, appends={"frontier": fr, "seen": seen})

    def reseed(self, seeds: pd.DataFrame) -> int:
        """Model the cron re-crawl (P6): flip fetched list pages back to
        pending for the next cycle — as an O(list pages) delta, never a
        frontier rewrite — and enqueue the cycle's seed urls the
        frontier has not seen: a growing corpus adds pagination tail
        pages that the previous cycle never saw (the reference reaches
        them by re-paginating the API until LastPage each run,
        vieclam24h/crawler.go:76-166). seeds: pandas (url, host, page,
        depth)."""
        wave = self.store.latest_wave()
        fv = self.frontier_view()
        flips = (fv.filter((F.col("depth") == 0) & (F.col("state") == "fetched"))
                 .withColumn("state", F.lit("pending"))
                 .withColumn("wave", F.lit(wave + 1)))
        fresh = (self._seed_rows(seeds, wave + 1)
                 .join(fv.select("url"), "url", "left_anti"))
        delta = (flips.unionByName(fresh.select(*flips.columns))
                 .withColumn("_wseq", F.lit(wave + 1)))
        return self.store.commit(wave + 1, {}, appends={"frontier": delta})

    # -- one wave -----------------------------------------------------------
    def run_wave(self, pages: DataFrame, robots: DataFrame,
                 host_rank: DataFrame) -> dict:
        """Run one wave and commit it as one snapshot; returns its stats.
        The committed lineage ``wall_ms`` is the wave's wall time up to
        the commit and excludes the commit's writes; ``stats["wall_ms"]``
        covers the whole call (commit and any compaction included)."""
        t0 = time.time()
        spark = self.spark
        wave = self.store.latest_wave() + 1
        ws = wave_start(wave)
        now_ts = F.to_timestamp(F.lit(str(ws)))

        pending = (self.frontier_view() or
                   spark.createDataFrame([], FRONTIER_SCHEMA)).filter(self._pending())

        # priority (north_rule): recrawl age = waves since enqueue
        age_hours = (F.lit(wave) - F.col("wave")) * F.lit(WAVE_SECONDS / 3600.0)
        pending = (pending.drop("priority")
                   .join(F.broadcast(host_rank.withColumnRenamed("rank", "_hr")),
                         "host", "left")
                   .withColumn("priority",
                               priority_expr(F.col("depth"), F.col("_hr"), age_hours))
                   .drop("_hr")
                   .select(*_FRONTIER_COLS))

        # the scope releases the wave's caches however the wave ends
        with cache_scope():
            # persist shared lineage: sched, processed and classified are
            # each read by several writes and by the count that fills them
            sched = cached(politeness.schedule(pending, robots, ws))
            to_fetch = sched.filter(F.col("state") == "scheduled").drop("slot", "scheduled_ts")
            # deferred rows stay pending: no delta row, counted by the aggregate
            disallowed = (sched.filter(F.col("state") == "disallowed")
                          .drop("slot", "scheduled_ts"))

            # "fetch": equi-join with the pages table. The frontier side is
            # explicitly broadcast (inner join) and PRUNED to the columns
            # the downstream stages read: the wave is politeness-budget-
            # bounded while pages is the 100 TB side — broadcasting the
            # small side guarantees the fat html column NEVER crosses a
            # shuffle. html stays binary; the combined mapInArrow page stage
            # (pandas-free — 2.3x faster measured, BENCH.md) decodes per
            # Arrow batch and html is dropped inside the same stage, so the
            # wave-long cache holds only extracted columns.
            # One capture per url: pages may hold several (Common Crawl
            # does), so the latest warc_ts wins, ties broken by the html
            # hash taken in the scan stage; the window runs over the
            # extraction output, after html is dropped. processed is then
            # 1:1 with the fetched urls.
            fetch_cols = to_fetch.select("url", "depth", "page", "id",
                                         "last_updated_on", "attempts")
            processed = cached(_first_per_key(extract_pages(
                pages.select("url", "html", F.col("warc_ts").alias("_warc_ts"),
                             F.xxhash64("html").alias("_html_hash"))
                     .join(F.broadcast(fetch_cols), "url", "inner")),
                ["url"], F.col("_warc_ts").desc(), F.col("_html_hash").asc())
                .select("url", "depth", "page", "id", "last_updated_on",
                        "attempts", "_warc_ts", "_links", "x", "jsonld"))
            # P8 retry: missing urls return to the pending pool with
            # attempts+1 (state left 'scheduled' would orphan them forever;
            # the pending filter caps at max_retries). The cached
            # processed.url IS the fetched set: missing and fetched rows
            # split to_fetch on it (one broadcast, reused by both joins) —
            # pages is never scanned again for them, and the aggregate
            # counts them as scheduled minus fetched.
            got = F.broadcast(processed.select("url"))
            missing = (to_fetch.join(got, "url", "left_anti")
                       .withColumn("attempts", F.col("attempts") + 1)
                       .withColumn("state", F.lit("pending")))

            # ---- list pages -> frontier candidates (S5 + D1/D2) --------------
            links = (processed.filter(F.col("depth") == 0)
                     .withColumn("l", F.explode("_links"))
                     .select(F.col("l.href").alias("url"),
                             F.lit(self.source).alias("source"),
                             F.coalesce(F.col("l.item_id"), F.col("l.href")).alias("id"),
                             F.col("l.item_updated").alias("last_updated_on"),
                             (F.col("depth") + 1).alias("depth"),
                             F.lit(wave).alias("wave"),
                             F.col("page"),
                             F.col("l.rank").alias("rank"))
                     .withColumn("host", host_of(F.col("url"))))

            # ---- detail pages -> extract -> normalize -> jobs append ---------
            details = processed.filter(F.col("depth") > 0)
            staged = (details
                      .withColumn("source", F.lit(self.source))
                      .withColumn("item_title", F.col("x.title"))
                      .withColumn("crawled_at", F.col("_warc_ts")))
            # single-consumer frame: its one write computes it once — no
            # cache, and it stays OUT of the counter job (the normalize +
            # unescape-pUDF subtree would dominate the stats action). N1
            # source dispatch (normalizer.go:30-43): the closed-world
            # fixtures are vieclam24h-shaped, so that normalizer runs here.
            # One row per url; two urls listed under one id both append,
            # and jobs_view decides between them.
            jobs_batch = (normalize_vieclam24h(staged)
                          .withColumn("wave", F.lit(wave))
                          .repartition(SNAPSHOT_FILES))

            # the byte-identity surface (C2, worker.go:145-147): CleanToText of
            # the extracted description, committed per url
            _, clean_to_text_udf, _ = clean_udfs()
            extracted_batch = details.select(
                "url", F.lit(wave).alias("wave"),
                clean_to_text_udf(F.col("x.job_description")).alias("text")
            ).repartition(SNAPSHOT_FILES)
            audit = details.select("url", F.lit(wave).alias("wave"),
                                   F.posexplode("jsonld").alias("blob_index", "blob"))

            # ---- frontier delta (O(changed rows), never a rewrite) -----------
            fetched_rows = (to_fetch.join(got, "url", "left_semi")
                            .withColumn("state", F.lit("fetched")))
            wave_delta = (fetched_rows.select(*_FRONTIER_COLS)
                          .unionByName(missing.select(*_FRONTIER_COLS))
                          .unionByName(disallowed.select(*_FRONTIER_COLS))
                          .withColumn("_pri", F.lit(0)))

            # ---- THE pre-commit aggregate: what the wave has rows for ---------
            # A count over the two cached frames per partition, kind
            # ("fetched" for processed rows, the schedule state for sched
            # rows), retry class and list flag, plus the list pages' links.
            # Collecting it fills the caches beneath it (sched, the Python
            # extraction stage), so the commit's writes see only cached
            # frames; the stats, the lineage rows and which sides of the wave
            # run are sums over it. A url re-pended as missing stays
            # retryable while attempts + 1 < max_retries.
            pid = F.spark_partition_id().alias("partition_id")
            retry = (F.col("attempts") + 1 < self.max_retries).alias("retry")
            is_list = (F.col("depth") == 0).alias("list")
            tagged = (processed.select(pid, F.lit("fetched").alias("kind"), retry,
                                       is_list, F.size("_links").alias("links"))
                      .unionByName(sched.select(pid, F.col("state").alias("kind"),
                                                retry, is_list, F.lit(0).alias("links"))))
            total, retryable = Counter(), Counter()
            per_part: dict[int, Counter] = defaultdict(Counter)
            n_links = n_details = 0
            for part, kind, r, lst, rows, part_links in (
                    tagged.groupBy("partition_id", "kind", "retry", "list")
                    .agg(F.count("*"), F.sum("links")).collect()):
                total[kind] += rows
                retryable[kind] += rows if r else 0
                if kind == "fetched":
                    per_part[part][kind] += rows
                    n_links += part_links if lst else 0
                    n_details += 0 if lst else rows

            # ---- dedup classify (layered bloom + seen join) -------------------
            # Only list links are candidate keys (as only the reference's
            # list crawler consults the URL-seen set, crawler.go:98): a wave
            # without any reads neither seen nor blooms. The classified
            # rows' own count fills their cache (and runs the bloom probe).
            if n_links:
                seen = self.seen_view() or spark.createDataFrame([], SEEN_SCHEMA)
                blooms_prev = self.store.read(spark, "blooms") if self.use_bloom else None
                classified = cached(
                    D.classify(links, seen, now_ts) if blooms_prev is None
                    else D.classify_with_bloom(links, seen, blooms_prev, now_ts))
                for part, status, rows in (classified.groupBy(pid, "status")
                                           .count().collect()):
                    total[status] += rows
                    per_part[part][status] += rows

                changed = classified.filter(F.col("status") != D.STATUS_UNCHANGED)
                enqueue = (changed.drop("status")
                           .withColumn("priority", F.lit(0.0))
                           .withColumn("state", F.lit("pending"))
                           .withColumn("attempts", F.lit(0))
                           .select(*_FRONTIER_COLS))
                wave_delta = wave_delta.unionByName(enqueue.withColumn("_pri", F.lit(1)))

                # publish-then-mark, atomically: the seen DELTA commits in
                # the same snapshot as the frontier delta (O(delta), no
                # anti-join against the stored seen set). One row per
                # (source,id): a wave that lists the same item twice keeps
                # the earliest FIFO discovery — the same deterministic
                # tie-break as frontier_delta, so resolved seen values stay
                # parallelism/resume-invariant.
                seen_new = (D.seen_delta(
                    _first_per_key(changed, ["source", "id"],
                                   F.col("page").asc_nulls_last(),
                                   F.col("rank").asc_nulls_last(),
                                   F.col("last_updated_on").asc_nulls_last(),
                                   F.col("url").asc())
                    .select("source", "id", "host", "last_updated_on"),
                    now_ts)
                    .withColumn("_wseq", F.lit(wave)))
            counted = {k: total[k] for k in ("fetched", "deferred", "disallowed")}
            counted.update(new=total[D.STATUS_NEW], updated=total[D.STATUS_UPDATED],
                           unchanged=total[D.STATUS_UNCHANGED],
                           enqueued=total[D.STATUS_NEW] + total[D.STATUS_UPDATED],
                           missing=total["scheduled"] - total["fetched"],
                           missing_retryable=retryable["scheduled"] - retryable["fetched"])

            # Within-wave resolution: one row per url. An enqueue beats a
            # state update (an UPDATED link re-pends a just-fetched url for
            # recrawl — publisher.go:30-83 re-push semantics); duplicate
            # enqueues keep the earliest FIFO discovery (page, rank).
            frontier_delta = (_first_per_key(
                wave_delta, ["url"], F.col("_pri").desc(),
                F.col("page").asc_nulls_last(), F.col("rank").asc_nulls_last(),
                F.col("last_updated_on").asc_nulls_last(), F.col("id").asc())
                .drop("_pri")
                .withColumn("_wseq", F.lit(wave)))

            # ---- lineage (per-partition metrics, north_rule) ------------------
            # from the collected counts; one file per wave. wall_ms is the
            # wave up to here — every job but the commit's writes.
            wall_ms, committed_at = int((time.time() - t0) * 1000), datetime.now()
            lineage_new = spark.createDataFrame(
                [(wave, part, c["fetched"], c[D.STATUS_NEW], c[D.STATUS_UPDATED],
                  c[D.STATUS_UNCHANGED], wall_ms, committed_at)
                 for part, c in sorted(per_part.items())],
                LINEAGE_SCHEMA).coalesce(1)

            # a wave appends only the frames it has rows for: seen and one
            # bloom layer per salt (sized to the seen delta) when it
            # enqueued, the detail outputs when it fetched a detail page
            appends = {"frontier": frontier_delta, "lineage": lineage_new}
            if counted["enqueued"]:
                appends["seen"] = seen_new
                if self.use_bloom:
                    appends["blooms"] = D.build_blooms(seen_new)
            if n_details:
                appends.update(jobs=jobs_batch, extracted=extracted_batch,
                               jsonld_audit=audit)
            self.store.commit(wave, {}, appends=appends)
        stats = {"wave": wave, **{k: int(counted[k]) for k in _STAT_KEYS}}
        # exact pending-work indicator: deferred rows stay pending,
        # enqueues become pending, retryable missing re-pend; every
        # other pending row transitioned this wave
        stats["work_remains"] = (stats["enqueued"] + stats["deferred"]
                                 + stats["missing_retryable"]) > 0
        if self.compact_every and wave % self.compact_every == 0:
            self.compact()
        stats["wall_ms"] = int((time.time() - t0) * 1000)
        return stats

    # -- compaction ----------------------------------------------------------
    def compact(self) -> int:
        """Rewrite frontier/seen as their resolved views (fresh base for
        the delta chain), physically drop TTL-expired seen rows, and
        rebuild the bloom base, sized to the surviving keys, in place of
        the base and its wave layers. Keyed to the current
        wave (deterministic under kill-resume); the expiry cutoff is the
        wave start, never the wall clock."""
        wave = self.store.latest_wave()
        now_ts = F.to_timestamp(F.lit(str(wave_start(wave))))
        # cluster the base by state within files: parquet row-group
        # min/max stats then let the every-wave pending filter SKIP the
        # (dominant, ever-growing) fetched row groups instead of
        # scanning the whole frontier
        fr = (self._resolved("frontier", ["url"])
              .repartition(SNAPSHOT_FILES).sortWithinPartitions("state"))
        # seen base is stored bucketed by salt (directory partitioning —
        # the plain-parquet analogue of Iceberg bucket-partitioned MoR):
        # clustered by the same key the blooms and the hot-domain skew
        # scheme use, one file per salt (repartition on salt, not a
        # blind N-way split), so per-salt maintenance and salt-pruned
        # probes read only their bucket's files.
        sn = (D.seen_live(self._resolved("seen", ["source", "id"]), now_ts)
              .repartition(F.col("salt")))
        tables: dict[str, DataFrame] = {"frontier": fr, "seen": sn}
        if self.use_bloom:
            tables["blooms"] = D.build_blooms(sn)
        return self.store.commit(wave, tables,
                                 partition_by={"seen": ["salt"]})

    # -- read-side views (append tables resolve last-write-wins here,
    # the parquet-sandbox equivalent of Iceberg MERGE results) ----------
    def _latest_view(self, table: str, key: str, *tie) -> DataFrame | None:
        df = self.store.read(self.spark, table)
        if df is None:
            return None
        return _first_per_key(df, [key], F.col("wave").desc(), *tie)

    def jobs_view(self) -> DataFrame | None:
        """Normalized jobs, last write per id (K3 upsert semantics). A
        wave appends one row per fetched url, so two urls listed under
        one id tie on wave: the smaller ``source_url`` wins."""
        return self._latest_view("jobs", "id", F.col("source_url").asc())

    def extracted_view(self) -> DataFrame | None:
        """Extracted text, last write per url (byte-identity surface). A
        wave appends one row per fetched url (its latest capture), so
        the last wave decides."""
        return self._latest_view("extracted", "url")

    # -- loop ---------------------------------------------------------------
    def pending_count(self) -> int:
        fr = self.frontier_view()
        if fr is None:
            return 0
        return fr.filter(self._pending()).count()

    def run_until_done(self, pages: DataFrame, robots: DataFrame,
                       host_rank: DataFrame, max_waves: int = 10) -> list[dict]:
        """P5 termination: loop while pending work remains. Starvation
        guard: progress is measured by WORK DONE (fetched / enqueued /
        state transitions), not by the pending count staying equal — a
        wave that fetches N rows while enqueuing exactly N new links is
        real progress; a wave where only deferrals happen (e.g. zero
        robots budget) is not, and stops the loop."""
        out: list[dict] = []
        if self.pending_count() == 0:
            return out
        while len(out) < max_waves:
            stats = self.run_wave(pages, robots, host_rank)
            out.append(stats)
            progressed = (stats["fetched"] + stats["enqueued"]
                          + stats["disallowed"] + stats["missing"]) > 0
            if not stats["work_remains"] or not progressed:
                break
        return out
