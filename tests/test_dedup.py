"""Dedup state machine, TTL arithmetic, blooms, content hash, simhash."""

from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from crawlspark import dedup as D


def _seen(spark, rows):
    pdf = pd.DataFrame(rows, columns=["source", "id", "url_hash",
                                      "last_updated_on", "expires_at", "salt"])
    pdf["expires_at"] = pd.to_datetime(pdf["expires_at"])
    return spark.createDataFrame(pdf)


def _cands(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "id", "host", "last_updated_on"]))


def _now():
    return F.to_timestamp(F.lit("2026-01-10 00:00:00"))


class TestClassify:
    def test_three_way(self, spark):
        # deduplicator.go:49-67 state machine
        seen = _seen(spark, [
            ("s", "1", 0, "100", "2026-02-01", 0),   # live, same value
            ("s", "2", 0, "100", "2026-02-01", 0),   # live, older value
            ("s", "3", 0, "100", "2025-12-31", 0),   # EXPIRED -> reads as unseen
        ])
        cands = _cands(spark, [
            ("s", "1", "h", "100"),   # UNCHANGED
            ("s", "2", "h", "200"),   # UPDATED
            ("s", "3", "h", "100"),   # NEW (ttl expired)
            ("s", "4", "h", "100"),   # NEW (never seen)
        ])
        got = {r["id"]: r["status"]
               for r in D.classify(cands, seen, _now()).collect()}
        assert got == {"1": "UNCHANGED", "2": "UPDATED", "3": "NEW", "4": "NEW"}

    def test_with_bloom_equivalence(self, spark):
        """Bloom path must classify identically to the plain join."""
        seen_rows = [("s", str(i), 0, "100", "2026-02-01", 0) for i in range(50)]
        seen = _seen(spark, seen_rows)
        seen = seen.withColumn("url_hash", D.url_hash(F.col("source"), F.col("id"))) \
                   .withColumn("salt", D.salt_of(F.col("id")))
        cands = _cands(spark, [("s", str(i), str(i), "100" if i % 2 else "200")
                               for i in range(0, 100)])
        cands = cands.withColumn("salt_src", F.col("id"))
        plain = D.classify(
            cands.withColumn("url_hash", D.url_hash(F.col("source"), F.col("id")))
                 .withColumn("salt", D.salt_of(F.col("id"))),
            seen, _now())
        blooms = D.build_blooms(seen)
        # classify_with_bloom salts by host; align by making host==id
        got = D.classify_with_bloom(
            cands.withColumn("host", F.col("id")), seen, blooms, _now())
        want = {r["id"]: r["status"] for r in plain.collect()}
        have = {r["id"]: r["status"] for r in got.collect()}
        assert want == have

    def test_bloom_prunes_misses(self, spark):
        seen = _seen(spark, [("s", "1", 0, "100", "2026-02-01", 0)])
        seen = seen.withColumn("url_hash", D.url_hash(F.col("source"), F.col("id"))) \
                   .withColumn("salt", D.salt_of(F.col("id")))
        blooms = D.build_blooms(seen)
        cands = (_cands(spark, [("s", str(i), str(i), "100") for i in range(2, 500)])
                 .withColumn("url_hash", D.url_hash(F.col("source"), F.col("id")))
                 .withColumn("salt", D.salt_of(F.col("id"))))
        probed = D.bloom_might_contain(cands, blooms)
        frac_hit = probed.filter("might_contain").count() / probed.count()
        assert frac_hit < 0.05  # ~fpp, far below 1.0


class TestMarkSeen:
    def test_ttl_arithmetic(self, spark):
        # D2 MarkSeenWithTTL (deduplicator.go:72-89), delta form:
        # future expired_on -> expired_on + 1d; past/absent -> now + 30d + 1d
        emitted = spark.createDataFrame(pd.DataFrame({
            "source": ["s", "s"],
            "id": ["a", "b"],
            "host": ["h1", "h2"],
            "last_updated_on": ["1", "2"],
            "expired_on": [pd.Timestamp("2026-03-01"), pd.Timestamp("2025-01-01")],
        }))
        got = {r["id"]: r for r in D.seen_delta(emitted, _now()).collect()}
        assert str(got["a"]["expires_at"]) == "2026-03-02 00:00:00"
        assert str(got["b"]["expires_at"]) == "2026-02-10 00:00:00"  # now+31d


class TestContentHash:
    def test_matches_reference_shape(self, spark):
        # sha256 first 16 bytes hex = 32 chars (deduplicator.go:127-130)
        df = spark.createDataFrame([("hello",)], "t string")
        h = df.select(D.content_hash(F.col("t")).alias("h")).first()["h"]
        import hashlib
        assert h == hashlib.sha256(b"hello").hexdigest()[:32]

    def test_exact_dedup(self, spark):
        df = spark.createDataFrame(
            [("u1", "same"), ("u2", "same"), ("u3", "other")], "url string, text string")
        kept = sorted(r["url"] for r in D.exact_dedup(df).collect())
        assert kept == ["u1", "u3"]  # min-key winner deterministic


class TestSimhash:
    def test_identical_and_near(self, spark):
        t1 = "python spark dedup engine for web pages at scale"
        t2 = "python spark dedup engine for web pages at scale!"  # 1 token differs
        t3 = "hoàn toàn khác biệt nội dung tiếng việt riêng"
        a, b, c = (D.simhash64_py(t) for t in (t1, t2, t3))
        assert a == D.simhash64_py(t1)  # deterministic
        ham_ab = bin((a ^ b) & (2**64 - 1)).count("1")
        ham_ac = bin((a ^ c) & (2**64 - 1)).count("1")
        assert ham_ab < ham_ac

    def test_near_dup_pairs(self, spark):
        rows = [("a", "spark engine web crawl dedup pipeline batch wave"),
                ("b", "spark engine web crawl dedup pipeline batch wave"),
                ("c", "a completely different document about cooking recipes")]
        df = spark.createDataFrame(rows, "url string, text string")
        pairs = D.simhash_near_dups(df, max_hamming=3).collect()
        assert len(pairs) == 1
        assert (pairs[0]["key_a"], pairs[0]["key_b"]) == ("a", "b")
        assert pairs[0]["hamming"] == 0

    def test_jvm_frame_matches_py(self, spark):
        """simhash64_frame (the JVM hot path) must equal simhash64_py
        bit-for-bit, including empty/null/whitespace-only edge rows and
        tab/newline token separators."""
        texts = ["one two three", "", None, "Xin chào thế giới",
                 "  padded   runs\tof\nwhitespace  ", "single",
                 "UPPER lower MiXeD case TOKENS here now"]
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, t string")
        got = {r["key"]: r["sh"]
               for r in D.simhash64_frame(df, "t", "doc_id").collect()}
        exp = {i: D.simhash64_py(t) for i, t in enumerate(texts)}
        assert got == exp

    def test_jvm_frame_matches_py_on_corpus(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        got = {r["key"]: r["sh"]
               for r in D.simhash64_frame(docs, "text", "doc_id").collect()}
        exp = {r["doc_id"]: D.simhash64_py(r["text"])
               for r in docs.select("doc_id", "text").collect()}
        assert got == exp and len(got) > 100

    def test_jvm_frame_plan_has_no_python_stage(self, spark):
        """The round-3 verdict's ask: no Python stage in the simhash
        plan — the md5 bit-vote runs entirely in JVM codegen."""
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, t string")
        out = D.simhash64_frame(df, "t", "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        for marker in ("ArrowEvalPython", "BatchEvalPython",
                       "FlatMapGroupsInPandas", "MapInPandas"):
            assert marker not in plan, marker


class TestDupClusters:
    def test_min_label_components(self, spark):
        """Connected components: a 4-chain (diameter 3 — needs real
        iteration, not one hop), a pair, and two singletons."""
        nodes = spark.createDataFrame([(i,) for i in range(8)], "key long")
        pairs = spark.createDataFrame([(1, 2), (2, 3), (0, 1), (5, 6)],
                                      "key_a long, key_b long")
        got = {r.key: r.cluster
               for r in D.dup_clusters(nodes, pairs).collect()}
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}

    def test_no_pairs_all_singletons(self, spark):
        nodes = spark.createDataFrame([(3,), (9,)], "key long")
        pairs = spark.createDataFrame([], "key_a long, key_b long")
        got = {r.key: r.cluster
               for r in D.dup_clusters(nodes, pairs).collect()}
        assert got == {3: 3, 9: 9}


class TestNullSemantics:
    def test_null_value_handling(self, spark):
        """deduplicator.go:60-66: Redis GET distinguishes key-missing
        from empty/NULL value — presence marker + null-safe compare."""
        seen = _seen(spark, [
            ("s", "1", 0, None, "2026-02-01", 0),    # seen, stored NULL
            ("s", "2", 0, "100", "2026-02-01", 0),   # seen, non-null
        ])
        cands = _cands(spark, [
            ("s", "1", "h", None),    # NULL vs stored NULL -> UNCHANGED
            ("s", "2", "h", None),    # NULL vs non-null    -> UPDATED
            ("s", "3", "h", None),    # unseen              -> NEW
        ])
        got = {r["id"]: r["status"]
               for r in D.classify(cands, seen, _now()).collect()}
        assert got == {"1": "UNCHANGED", "2": "UPDATED", "3": "NEW"}

    def test_seen_null_vs_candidate_value(self, spark):
        seen = _seen(spark, [("s", "1", 0, None, "2026-02-01", 0)])
        cands = _cands(spark, [("s", "1", "h", "v")])
        got = D.classify(cands, seen, _now()).first()["status"]
        assert got == "UPDATED"


class TestBloomDistribution:
    def test_layered_probe_matches_one_shot_build(self, spark):
        """A bloom table of two layers (one per half of the keys, each
        sized to its half) probes like a one-shot build over the union:
        every member hits, so no false negatives, and non-members stay
        near the per-layer false-positive rate."""
        prep = lambda df: (df
            .withColumn("url_hash", D.url_hash(F.col("source"), F.col("id")))
            .withColumn("salt", D.salt_of(F.col("id"))))
        half1 = prep(_seen(spark, [("s", str(i), 0, "1", "2026-02-01", 0)
                                   for i in range(300)]))
        half2 = prep(_seen(spark, [("s", str(i), 0, "1", "2026-02-01", 0)
                                   for i in range(300, 500)]))
        layered = D.build_blooms(half1).unionByName(D.build_blooms(half2))
        full = D.build_blooms(half1.unionByName(half2))
        rows = layered.collect()
        assert max(Counter(r["salt"] for r in rows).values()) == 2
        for r in rows:  # each layer sized to its own keys
            assert len(r["bits"]) * 8 == D.bloom_params(r["n_keys"])[0]
        assert sum(r["n_keys"] for r in rows) == 500

        cands = prep(_cands(spark, [("s", str(i), str(i), "1")
                                    for i in range(1000)]))

        def hits(blooms):
            return {r["id"] for r in D.bloom_might_contain(cands, blooms)
                    .filter("might_contain").collect()}

        members = {str(i) for i in range(500)}
        got, want = hits(layered), hits(full)
        assert got & members == want & members == members
        assert len(got - members) < 0.05 * 500

    def test_probe_with_missing_salt_bucket(self, spark):
        """Candidates whose salt has no bloom row are definitively NEW
        (empty bucket), exercised through the cogroup path."""
        seen = _seen(spark, [("s", "1", 0, "100", "2026-02-01", 0)])
        seen = (seen.withColumn("url_hash", D.url_hash(F.col("source"), F.col("id")))
                .withColumn("salt", F.lit(2)))
        blooms = D.build_blooms(seen)
        cands = (_cands(spark, [("s", "x", "hx", "1"), ("s", "y", "hy", "1")])
                 .withColumn("url_hash", D.url_hash(F.col("source"), F.col("id")))
                 .withColumn("salt", F.lit(7)))  # bucket with no bloom
        probed = D.bloom_might_contain(cands, blooms)
        assert probed.filter("might_contain").count() == 0


class TestSimhashHotBuckets:
    def test_mass_duplication_completes_with_bounded_buckets(self, spark):
        """10k byte-identical docs: the pair form is inherently O(g^2)
        output; the class form collapses the exact-simhash group to one
        representative BEFORE banding, so the banded join sees DISTINCT
        hashes only and finishes instantly with a full class map."""
        from crawlspark.dedup import simhash_dup_classes

        base = ("mot hai ba bon nam sau bay tam chin muoi "
                "con meo nhay qua hang rao ") * 3
        dup = spark.range(10_000).select(
            F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 6, "0")
                     ).alias("url"),
            F.lit(base).alias("text"))
        distinct = spark.createDataFrame(
            [("zz1", base + " qq"),   # hamming 2 from the group (near-dup)
             ("zz2", "hoan toan khac van ban nay day")],
            "url string, text string")
        classes, rep_pairs = simhash_dup_classes(
            dup.unionByName(distinct), bands=4, max_hamming=3)

        cl = classes.groupBy("rep").agg(
            F.count("*").alias("n"), F.max("group_size").alias("gs")).collect()
        by_rep = {r.rep: (r.n, r.gs) for r in cl}
        assert by_rep["u000000"] == (10_000, 10_000)  # one exact class
        assert by_rep["zz1"] == (1, 1) and by_rep["zz2"] == (1, 1)

        # the banded join ran over 3 representatives, not 10k rows:
        # near-dup pairs only BETWEEN class reps
        pairs = {(r.key_a, r.key_b): r.hamming for r in rep_pairs.collect()}
        assert ("u000000", "zz1") in pairs and len(pairs) == 1
        assert pairs[("u000000", "zz1")] <= 3

    def test_classes_agree_with_pairwise_form_on_small_input(self, spark):
        """On duplication-free input the class form is the identity map
        and rep_pairs matches simhash_near_dups exactly."""
        from crawlspark.dedup import simhash_dup_classes, simhash_near_dups

        docs = spark.createDataFrame(
            [("a", "xin chao viet nam"), ("b", "xin chao viet nam nhe"),
             ("c", "noi dung hoan toan khac biet")],
            "url string, text string")
        classes, rep_pairs = simhash_dup_classes(docs)
        assert {(r.key, r.rep, r.group_size) for r in classes.collect()} == \
            {("a", "a", 1), ("b", "b", 1), ("c", "c", 1)}
        exp = {(r.key_a, r.key_b, r.hamming)
               for r in simhash_near_dups(docs).collect()}
        got = {(r.key_a, r.key_b, r.hamming) for r in rep_pairs.collect()}
        assert got == exp


class TestClassifyForms:
    def test_broadcast_false_parity_and_dup_keys(self, spark):
        """The non-broadcast escape hatch must classify identically,
        and duplicate candidate keys must not fan out in either form."""
        seen = _seen(spark, [
            ("s", "1", 0, "100", "2026-02-01", 0),
            ("s", "2", 0, "200", "2026-02-01", 0),
        ])
        cands = _cands(spark, [
            ("s", "1", "h", "100"),   # UNCHANGED
            ("s", "1", "h", "999"),   # dup key, different value: UPDATED
            ("s", "2", "h", "200"),   # UNCHANGED
            ("s", "3", "h", "x"),     # NEW
        ])
        for bc in (True, False):
            got = sorted((r["id"], r["last_updated_on"], r["status"])
                         for r in D.classify(cands, seen, _now(),
                                             broadcast=bc).collect())
            assert got == [("1", "100", "UNCHANGED"), ("1", "999", "UPDATED"),
                           ("2", "200", "UNCHANGED"), ("3", "x", "NEW")], bc


class TestSimhashMultiplicity:
    def test_duplicate_keys_keep_row_multiplicity(self, spark):
        """Review r4: the grouped JVM form must not collapse rows
        sharing a key — output multiplicity matches the input, and
        identical-text duplicates still hash correctly (doubled votes
        keep the same signs)."""
        rows = [("u1", "alpha beta gamma"), ("u1", "alpha beta gamma"),
                ("u2", "other words here")]
        df = spark.createDataFrame(rows, "url string, text string")
        out = D.simhash64_frame(df, "text", "url").collect()
        assert len(out) == 3
        hashes = sorted((r["key"], r["sh"]) for r in out)
        expected = D.simhash64_py("alpha beta gamma")
        assert hashes[0] == ("u1", expected) and hashes[1] == ("u1", expected)
        assert hashes[2][0] == "u2"


class TestKeepBestPerCluster:
    def test_one_survivor_per_cluster_ties_min_key(self, spark):
        """Highest quality wins; ties break to the MINIMUM key — a
        total order, so the survivor set is parallelism-independent."""
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
            "key long, cluster long")
        scores = spark.createDataFrame(
            [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.1), (6, 0.3)],
            "key long, quality double")
        out = D.keep_best_per_cluster(labels, scores)
        kept = sorted(r.key for r in out.filter("kept").collect())
        assert kept == [2, 4, 6]
        # every input row present, exactly one survivor per cluster
        assert out.count() == 6
        per = {r.cluster: r.n for r in
               out.filter("kept").groupBy("cluster")
                  .agg(F.count("*").alias("n")).collect()}
        assert per == {1: 1, 4: 1, 6: 1}


class TestDupClustersInitFold:
    def test_deep_chain_after_folded_init(self, spark):
        """r6: the first propagation step is folded into label
        initialization. A 7-chain (diameter 6) still needs several
        loop rounds AFTER the folded hop — pins that the fold changed
        the starting point, not the fixpoint. Edges arrive in mixed
        orientation to exercise the symmetrize + init path."""
        import crawlspark.dedup as D

        nodes = spark.createDataFrame([(i,) for i in range(9)], "key long")
        pairs = spark.createDataFrame(
            [(1, 0), (1, 2), (3, 2), (3, 4), (5, 4), (5, 6)],
            "key_a long, key_b long")
        got = {r.key: r.cluster
               for r in D.dup_clusters(nodes, pairs).collect()}
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0,
                       7: 7, 8: 8}
