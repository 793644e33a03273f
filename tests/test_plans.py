"""Physical-plan shape audits: the plan properties that matter at
100 TB, asserted on `.explain`/executedPlan text at sandbox scale.

These pin: predicate pushdown to the parquet scan, column pruning,
broadcast of small dimensions, map-side partial aggregation, top-k as
TakeOrdered (not global sort), and — the crawl engine's core invariant
— the fat html column never crossing a shuffle.
"""

import re

import pytest
from pyspark.sql import functions as F

from crawlspark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestScanPushdown:
    def test_filter_pushed_to_parquet(self, spark):
        df = Q.q_pricing_summary(spark, SF)
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_column_pruning(self, spark):
        df = Q.q_pricing_summary(spark, SF)
        m = re.search(r"FileScan parquet \[([^\]]*)\]", plan_of(df))
        cols = m.group(1)
        # only the 6 referenced columns are read, not the 11-column table
        assert "l_orderkey" not in cols and "l_partkey" not in cols
        assert "l_quantity" in cols and "l_shipdate" in cols


class TestJoins:
    def test_small_dims_broadcast(self, spark):
        plan = plan_of(Q.q_nation_revenue(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2  # nation + region
        assert "BroadcastExchange" in plan

    def test_topk_not_global_sort(self, spark):
        plan = plan_of(Q.q_top_orders(spark, SF))
        assert "TakeOrderedAndProject" in plan


class TestAggregation:
    def test_partial_then_final(self, spark):
        plan = plan_of(Q.q_pricing_summary(spark, SF))
        # map-side combine: partial_sum before the exchange, then merge
        assert "partial_sum" in plan or "partial_avg" in plan
        assert "Exchange hashpartitioning" in plan


class TestCrawlPipeline:
    def _extraction_plan(self, spark):
        from crawlspark import synth
        from crawlspark.extract import extract_pages

        pages = spark.createDataFrame(synth.gen_pages_pandas(50))
        fetch_cols = (pages.select("url")
                      .withColumn("depth", F.lit(1))
                      .withColumn("page", F.lit(1)))
        df = (extract_pages(
            pages.select("url", "html", F.col("warc_ts").alias("_warc_ts"))
                 .join(F.broadcast(fetch_cols), "url", "inner"))
            .select("url", "depth", "page", "x", "jsonld"))
        return plan_of(df)

    def test_html_never_crosses_a_shuffle(self, spark):
        """The engine invariant: extraction consumes html straight off
        the scan (broadcast join), so no Exchange carries html bytes."""
        plan = self._extraction_plan(spark)
        assert "BroadcastHashJoin" in plan
        # every Exchange in the plan must not carry the html column
        for chunk in plan.split("Exchange")[1:]:
            assert "html" not in chunk.splitlines()[0]

    def test_extraction_is_single_python_stage(self, spark):
        from crawlspark import synth
        from crawlspark.extract import extract_pages

        pages = spark.createDataFrame(synth.gen_pages_pandas(50))
        df = (extract_pages(pages.withColumn("depth", F.lit(1)))
              .select("url", "x.job_description"))
        plan = plan_of(df)
        assert plan.count("MapInArrow") == 1
        assert "ArrowEvalPython" not in plan
        assert "Exchange" not in plan  # narrow end to end

    def test_arrow_extraction_is_one_maparrow_stage(self, spark):
        """The driver hot path keeps its round-3 shape: ONE pandas-free
        MapInArrow stage and no second Python stage."""
        plan = self._extraction_plan(spark)
        assert plan.count("MapInArrow") == 1
        assert "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan

    def test_dedup_classify_never_exchanges_seen(self, spark, tmp_path):
        """The 100 TB invariant: classify streams the seen side — no
        hash-partitioning Exchange anywhere in the plan. Seen is probed
        ONCE: the candidate keys broadcast into a semi join over the
        streamed seen scan, and those hit values broadcast into one
        left outer join with the candidates."""
        from crawlspark import dedup as D
        from crawlspark.schemas import SEEN_SCHEMA

        spark.createDataFrame(
            [("s", "1", 1, "100", None, 0)], SEEN_SCHEMA
        ).write.parquet(str(tmp_path / "seen"))
        seen = spark.read.parquet(str(tmp_path / "seen"))
        cands = spark.createDataFrame(
            [("s", "1", "h", "100")], "source string, id string, host string, last_updated_on string")
        plan = plan_of(D.classify(cands, seen))
        # no hash exchange at all: the key set needs no distinct (a semi
        # join does not fan out on duplicate build keys)
        assert "Exchange hashpartitioning" not in plan
        joins = re.findall(r"BroadcastHashJoin .*?, (\w+), Build(\w+)", plan)
        assert sorted(joins) == [("LeftOuter", "Right"), ("LeftSemi", "Right")]
        # the seen scan appears once: one probe, not one per branch
        assert plan.count("FileScan parquet") == 1

class TestPolitenessPlan:
    def test_no_python_stage_in_schedule(self, spark):
        """Round-2 fix: slot assignment is JVM window arithmetic, not a
        grouped-map pandas UDF — no FlatMapGroupsInPandas anywhere."""
        df = Q.q_politeness_schedule(spark, SF)
        plan = plan_of(df)
        assert "FlatMapGroupsInPandas" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Window" in plan


class TestR5Shapes:
    def test_ranked_topk_never_windows_the_full_frame(self, spark):
        """r5: top_users / frontier_order rank via TakeOrderedAndProject
        + a window over the LIMITED frame only — the old form ran
        row_number over the whole input in ONE partition (the
        WindowExec 'No Partition Defined' trap, fatal at frontier
        scale)."""
        for q in (Q.q_top_users, Q.q_frontier_order):
            plan = plan_of(q(spark, SF))
            assert "TakeOrderedAndProject" in plan, plan
            # the single window must sit ABOVE the TakeOrdered (ranking
            # k rows), never below it (ranking the full frame)
            assert plan.index("Window") < plan.index(
                "TakeOrderedAndProject"), plan

    def test_chunk_and_quantize_zero_exchange(self, spark):
        """r5: chunking and quantization are per-row — no shuffle."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        for df in (X.chunk_documents(docs),
                   X.quantize_embeddings(emb)):
            assert "Exchange" not in plan_of(df)

    def test_simhash_frame_zero_exchange(self, spark):
        """r5: simhash64_frame is a pure projection — no Exchange, no
        Generate (explode), no aggregate, no Python stage. (The r4
        form's 65-buffer HashAggregate cost ~7 s of Janino compile on
        every cold run and shuffled every token.)"""
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        from crawlspark import dedup as D

        plan = plan_of(D.simhash64_frame(docs, "doc_id"))
        for banned in ("Exchange", "Generate", "HashAggregate",
                       "ArrowEvalPython", "BatchEvalPython"):
            assert banned not in plan, banned

    def test_repetition_metrics_zero_exchange(self, spark):
        """r5: repetition metrics are per-document — the staged
        projection form must not shuffle, explode, or join."""
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        from crawlspark import textops as X

        plan = plan_of(X.repetition_metrics(docs))
        for banned in ("Exchange", "Generate", "HashAggregate",
                       "SortMergeJoin", "BroadcastHashJoin"):
            assert banned not in plan, banned

    def test_lsh_verify_prunes_to_candidates(self, spark):
        """r5: the LSH verify must shingle only candidate members —
        the candidate-id prune appears as a broadcast join BELOW the
        shingle projection (the pre-r5 form shingled the whole corpus
        on both verify sides)."""
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        from crawlspark import textops as X

        plan = plan_of(X.minhash_lsh_pairs(docs))
        # the two id-prune joins + the pair join all broadcast
        assert plan.count("BroadcastHashJoin") >= 3
        assert "InMemoryTableScan" in plan  # cand persisted, not re-run

    def test_para_dedup_window_keyed_by_content(self, spark):
        """r5: paragraph dedup's corpus-wide exchange is keyed by the
        paragraph content (the window that finds first locations)."""
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        from crawlspark import textops as X

        plan = plan_of(X.paragraph_dedup(docs, para_tokens=10))
        assert "hashpartitioning(p#" in plan
        assert "Window" in plan


class TestAnnIndex:
    def test_probe_prunes_partitions(self, spark, tmp_path):
        """The persisted LSH index is partitioned by bucket; a probe
        reads only its buckets' directories (partition pruning)."""
        from crawlspark import textops as X

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        path = str(tmp_path / "annidx")
        X.build_ann_index(emb, path, dim=len(q), n_planes=6)
        df = X.ann_topk_lsh_indexed(spark, path, q, k=10, n_planes=6,
                                    probe_hamming=1)
        plan = plan_of(df)
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "_bucket" in m.group(1)

    def test_indexed_equals_unindexed(self, spark, tmp_path):
        from crawlspark import textops as X

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        path = str(tmp_path / "annidx2")
        X.build_ann_index(emb, path, dim=len(q), n_planes=6)
        a = [(r["vec_id"], r["cosine"]) for r in
             X.ann_topk_lsh(emb, q, n_planes=6, probe_hamming=2).collect()]
        b = [(r["vec_id"], r["cosine"]) for r in
             X.ann_topk_lsh_indexed(spark, path, q, k=10, n_planes=6,
                                    probe_hamming=2).collect()]
        assert a == b


class TestStateReadPlan:
    def test_view_never_exchanges_base(self, spark, tmp_path):
        """Merge-on-read views: only the delta chain is window-resolved
        (one hashpartitioning Exchange of O(delta) rows); the big
        compacted base streams through a broadcast anti join — the
        round-2 full-state row_number shuffle is gone."""
        from crawlspark import synth
        from crawlspark.driver import WaveDriver
        from crawlspark.tables import SnapshotStore

        pages = spark.createDataFrame(synth.gen_pages_pandas(120))
        robots = spark.createDataFrame(synth.gen_robots())
        ranks = spark.createDataFrame(synth.gen_host_rank())
        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4, compact_every=0)
        drv.bootstrap(synth.gen_seed_list(120))
        drv.run_until_done(pages, robots, ranks, 3)  # base + delta chain

        for view in (drv.seen_view(), drv.frontier_view()):
            plan = plan_of(view)
            # exactly one delta-chain exchange — the last-write-wins
            # window — and NOTHING over the base: it streams into a
            # broadcast anti join against the raw delta keys
            assert plan.count("Exchange hashpartitioning") == 1
            assert re.search(r"BroadcastHashJoin .*, LeftAnti, BuildRight", plan)

        # right after compaction the view is a bare base scan — zero
        # exchanges, zero joins
        drv.compact()
        for view in (drv.seen_view(), drv.frontier_view()):
            plan = plan_of(view)
            assert "Exchange hashpartitioning" not in plan
            assert "Join" not in plan

    def test_seen_base_is_salt_partitioned(self, spark, tmp_path):
        """Compaction writes the seen base bucketed by salt (directory
        partitioning — the Iceberg bucket-partitioned MoR analogue);
        a salt-filtered probe prunes to its bucket's files."""
        from crawlspark import synth
        from crawlspark.driver import WaveDriver
        from crawlspark.tables import SnapshotStore

        pages = spark.createDataFrame(synth.gen_pages_pandas(120))
        robots = spark.createDataFrame(synth.gen_robots())
        ranks = spark.createDataFrame(synth.gen_host_rank())
        drv = WaveDriver(spark, SnapshotStore(tmp_path / "wh"),
                         num_partitions=4, compact_every=1)
        drv.bootstrap(synth.gen_seed_list(120))
        drv.run_until_done(pages, robots, ranks, 2)

        base, _ = drv.store.read_split(spark, "seen")
        probe = base.filter(F.col("salt") == 3)
        plan = plan_of(probe)
        assert re.search(r"PartitionFilters: \[.*salt.*\]", plan)


class TestCorpusShapePlans:
    """r5 session 3: plan shapes of the corpus-shape operators."""

    def test_pmi_bigrams_topk_and_cached_counts(self, spark):
        """pmi top-k must be a TakeOrderedAndProject (never a global
        sort), and the twice-referenced unigram/bigram count tables
        must come from cache (each uncached reference re-tokenizes
        the corpus)."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.pmi_bigrams(docs))
        assert "TakeOrderedAndProject" in plan, plan
        assert "Sort " not in plan.split("TakeOrderedAndProject")[0]
        assert "InMemoryTableScan" in plan

    def test_grouped_ntile_never_single_partition(self, spark):
        """The distributed ntile must never funnel a group through one
        task: no SinglePartition exchange, window keyed by
        (input-partition, group), offsets joined via broadcast."""
        from crawlspark import textops as X

        rows = [("a", i, float(i % 7)) for i in range(50)] + \
               [("b", i, float(i % 5)) for i in range(20)]
        df = spark.createDataFrame(rows,
                                   "lang string, doc_id long, s double")
        plan = plan_of(X.grouped_ntile(df, "lang", ["s", "doc_id"]))
        assert "SinglePartition" not in plan, plan
        assert "BroadcastHashJoin" in plan
        assert "rangepartitioning" in plan

    def test_inverted_index_partial_aggregated(self, spark):
        """Both index aggregates must combine map-side (partial
        collect_list) — a final-only aggregate would ship every
        (token, pos) row through the shuffle unreduced."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.build_inverted_index(docs, df_cap=100))
        assert plan.count("partial_collect_list") == 2, plan
        assert "posexplode" in plan

    def test_shard_plan_never_single_partition(self, spark):
        """The global-rank shard planner must range-partition on the
        hash, never funnel the corpus through one task."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.shard_plan(docs.select("doc_id"), "doc_id", 64))
        assert "SinglePartition" not in plan, plan
        assert "rangepartitioning" in plan

    def test_vocab_coverage_windows_only_the_vocab_head(self, spark):
        """The rank window must sit above the TakeOrdered vocab head
        (max(ks) rows), never over the full token-count table."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.vocab_coverage(docs))
        assert "TakeOrderedAndProject" in plan, plan
        assert plan.index("Window") < plan.index("TakeOrderedAndProject")


class TestRound5Session4Plans:
    def test_utf8_stats_zero_exchange(self, spark):
        """utf8_stats is a narrow per-row projection — no shuffle, no
        Python stage; the width histogram solves algebraically from
        two regexp_count passes inside codegen."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.utf8_stats(docs))
        for banned in ("Exchange", "ArrowEvalPython", "BatchEvalPython",
                       "MapInPandas"):
            assert banned not in plan, banned

    def test_kmv_and_zipf_never_single_partition(self, spark):
        """The rank windows run partitioned by group over the
        VOCAB-sized distinct/count frames — never one global task."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        for df in (X.kmv_distinct(docs), X.zipf_slope(docs)):
            assert "SinglePartition" not in plan_of(df)

    def test_warc_parse_is_one_python_stage_one_shuffle(self, spark):
        """WARC: records built JVM-side, ONE exchange on the chunk
        key, ONE MapInPandas segmenter — no other Python stage."""
        from crawlspark import warc as W

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(W.parse_warc_chunks(W.build_warc_chunks(docs)))
        assert plan.count("MapInPandas") == 1, plan
        assert "BatchEvalPython" not in plan

    def test_source_reputation_broadcasts_global_mean(self, spark):
        """The corpus mean joins back as a 1-row broadcast — the
        per-source frame never re-shuffles for it."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.source_reputation(docs))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_line_dedup_zero_exchange(self, spark):
        """Within-doc line dedup is a pure projection (array_distinct
        in codegen) — no shuffle, no explode, no Python stage."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.line_dedup(docs))
        for banned in ("Exchange", "Generate", "ArrowEvalPython",
                       "BatchEvalPython"):
            assert banned not in plan, banned

    def test_vocab_prune_head_takeordered_and_broadcast(self, spark):
        """The vocab head must be TakeOrdered (never a global sort of
        the full vocab) and scoring must broadcast the k-row head."""
        from crawlspark import textops as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(X.vocab_prune_stats(docs))
        assert "TakeOrderedAndProject" in plan, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_semdedup_bucket_join_not_cartesian(self, spark):
        """The SemDeDup pair join is an equi join on the bucket —
        a cartesian/NL join over the corpus would be fatal at scale."""
        from crawlspark import textops as X

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = plan_of(X.semantic_dedup(emb, threshold=0.3))
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
            or "BroadcastHashJoin" in plan, plan
