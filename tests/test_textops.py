"""Training-data ops over the real testdata tables + DuckDB cross-checks."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from crawlspark import textops as X

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


class TestTextAnalysis:
    def test_token_count_matches_duckdb(self, docs):
        got = {r["doc_id"]: r["n"] for r in docs.select(
            "doc_id", X.token_count(F.col("text")).alias("n")).collect()}
        want = dict(duckdb.sql(rf"""
            select doc_id, len(string_split_regex(trim(lower(text)), '\s+'))
            from '{SF}/documents.parquet' where trim(text) != ''
        """).fetchall())
        for k, v in want.items():
            assert got[k] == v

    def test_lang_id_is_reasonable(self, docs):
        out = docs.select("lang", X.lang_id(F.col("text")).alias("pred"))
        agree = out.filter(F.col("lang") == F.col("pred")).count()
        total = out.filter(F.col("lang").isin("vi", "en")).count()
        if total:
            assert agree / total > 0.5

    def test_quality_score_bounds(self, docs):
        s = docs.select(X.quality_score(F.col("text")).alias("q"))
        assert s.filter((F.col("q") < 0) | (F.col("q") > 1)).count() == 0


class TestDedup:
    def test_exact_dup_groups_matches_duckdb(self, docs):
        got = {r["text_hash"]: (r["n_dups"], r["keep_id"])
               for r in X.exact_dup_groups(docs).collect()}
        want = {h: (n, k) for h, n, k in duckdb.sql(f"""
            select md5(text), count(*) as n, min(doc_id)
            from '{SF}/documents.parquet' group by 1 having count(*) > 1
        """).fetchall()}
        assert got == want

    def test_minhash_signature_matches_duckdb(self, docs):
        sig = X.minhash_signature(docs, num_perm=4)
        got = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(4))
               for r in sig.collect()}
        want = {}
        for doc_id, *mhs in duckdb.sql(rf"""
            with toks as (
              select doc_id, string_split_regex(trim(lower(text)), '\s+') as t
              from '{SF}/documents.parquet' where trim(text) != ''
            ), sh as (
              select distinct doc_id, array_to_string(t[i:i+1], ' ') as s
              from toks, (select unnest(generate_series(1, 10000)) as i)
              where i <= len(t) - 1
            )
            select doc_id, min(md5('0:' || s)), min(md5('1:' || s)),
                   min(md5('2:' || s)), min(md5('3:' || s))
            from sh group by doc_id
        """).fetchall():
            want[doc_id] = tuple(mhs)
        assert got.keys() == want.keys()
        assert got == want

    def test_lsh_finds_exact_dups(self, spark):
        rows = [(1, "the quick brown fox jumps over the lazy dog today"),
                (2, "the quick brown fox jumps over the lazy dog today"),
                (3, "the quick brown fox jumps over the lazy cat today"),
                (4, "completely unrelated text about spark partitions and shuffles")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = X.minhash_lsh_pairs(df)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert (1, 2) in got and got[(1, 2)] == 1.0
        assert all(a != 4 and b != 4 for a, b in got)

    def test_ngram_jaccard_all_pairs(self, spark):
        rows = [(1, "a b c d e"), (2, "a b c d x"), (3, "z z z z z")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in X.ngram_jaccard_all_pairs(df, threshold=0.0).collect()}
        # shingles(1)={ab,bc,cd,de}, shingles(2)={ab,bc,cd,dx}: 3/5
        assert got[(1, 2)] == 0.6
        assert (1, 3) not in got


class TestFingerprint:
    def test_matches_duckdb(self, docs):
        got = {r["doc_id"]: r["fp"] for r in docs.select(
            "doc_id", X.doc_fingerprint(F.col("text")).alias("fp")).collect()}
        want = dict(duckdb.sql(f"""
            with t as (select doc_id, text from '{SF}/documents.parquet')
            select doc_id, min(md5(substr(text, i, 8)))
            from t, (select unnest(generate_series(1, 100000)) as i)
            where i <= greatest(length(text) - 7, 1)
            group by doc_id
        """).fetchall())
        assert got == want


class TestANN:
    def test_brute_force_matches_duckdb(self, emb):
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        got = [(r["vec_id"], r["cosine"])
               for r in X.brute_force_topk(emb, q, k=5).collect()]
        qlit = "[" + ",".join(repr(x) for x in q) + "]::FLOAT[]"
        want = duckdb.sql(f"""
            select vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                   {qlit}::DOUBLE[]), 6) as c
            from '{SF}/embeddings.parquet'
            order by c desc, vec_id limit 5
        """).fetchall()
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) < 1e-5

    def test_lsh_recall(self, emb):
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        exact = {r["vec_id"] for r in X.brute_force_topk(emb, q, k=10).collect()}
        approx = {r["vec_id"] for r in
                  X.ann_topk_lsh(emb, q, n_planes=6, probe_hamming=2).collect()}
        assert len(exact & approx) / 10 >= 0.5  # multi-probe recall

    def test_lsh_bucket_deterministic(self, emb):
        dim = len(emb.first()["embedding"])
        b1 = emb.select(X.lsh_bucket(F.col("embedding"), dim).alias("b")).collect()
        b2 = emb.select(X.lsh_bucket(F.col("embedding"), dim).alias("b")).collect()
        assert [r["b"] for r in b1] == [r["b"] for r in b2]


class TestMultimodal:
    def test_feature_pipeline(self, spark):
        """End-to-end: REAL png/wav/video payloads decoded + featurized
        through mapInPandas; deterministic across runs."""
        from crawlspark import multimodal as M

        media = spark.createDataFrame(M.gen_media_pandas(30), schema=M.MEDIA_SCHEMA)
        feats = M.extract_features(media).collect()
        assert len(feats) == 30
        by_id = {r["media_id"]: r for r in feats}
        assert all(len(r["feature"]) == M.FEATURE_DIM for r in feats)
        vids = [r for r in feats if r["kind"] == "video"]
        assert vids and all(r["n_frames"] >= 1 for r in vids)
        # audio features carry real signal (nonzero RMS + band energy)
        auds = [r for r in feats if r["kind"] == "audio"]
        assert auds and all(r["feature"][0] > 0.1 for r in auds)
        # deterministic across runs
        feats2 = {r["media_id"]: list(r["feature"])
                  for r in M.extract_features(media).collect()}
        assert all(list(by_id[k]["feature"]) == v for k, v in feats2.items())

    def test_exotic_mime_is_gated(self):
        from crawlspark import multimodal as M

        with pytest.raises(NotImplementedError):
            M.decode_and_featurize(b"ID3\x04", "audio", "audio/mp3")
        with pytest.raises(ValueError):
            M.decode_and_featurize(b"\xff\xd8\xff", "image", "image/jpeg")


class TestNormText:
    def test_fold_roundtrip(self, spark):
        import pandas as pd
        from crawlspark.textops import norm_text, fold_ascii, _VI_CHARS

        df = spark.createDataFrame(pd.DataFrame({
            "t": ["Kỹ Sư Dữ Liệu", "kinh nghiệm 5 năm", _VI_CHARS, "plain ascii"]}))
        got = [r["n"] for r in df.select(norm_text(F.col("t")).alias("n")).collect()]
        assert got[0] == "ky su du lieu"
        assert got[1] == "kinh nghiem 5 nam"
        assert got[2] == "a" * 17 + "e" * 11 + "i" * 5 + "o" * 17 + "u" * 11 + "y" * 5 + "d"
        assert got[3] == "plain ascii"

    def test_search_parity(self, spark):
        """The Q4 contract: 'ky su' (user input, no diacritics) matches
        a diacritic title through the norm column."""
        import pandas as pd
        from crawlspark.textops import norm_text

        df = spark.createDataFrame(pd.DataFrame({
            "title": ["Tuyển Kỹ Sư Phần Mềm", "Nhân viên kinh doanh"]}))
        hit = df.filter(norm_text(F.col("title")).contains("ky su")).count()
        assert hit == 1


class TestEmbeddingNearDups:
    def test_lsh_subset_of_exact(self, spark):
        """LSH-bucketed pairs are a subset of exact pairs (same cosine
        values), never false positives after verification."""
        from crawlspark.textops import embedding_near_dups

        emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
               .filter(F.col("vec_id") % 5 == 0))
        exact = {(r["id_a"], r["id_b"]): r["cosine"] for r in
                 embedding_near_dups(emb, threshold=0.25, exact=True).collect()}
        lsh = {(r["id_a"], r["id_b"]): r["cosine"] for r in
               embedding_near_dups(emb, threshold=0.25, n_planes=4).collect()}
        assert set(lsh) <= set(exact)
        assert all(exact[k] == v for k, v in lsh.items())
        assert len(exact) > 0

    def test_empty_frame_needs_dim(self, spark):
        """With no rows there is no dimension to infer: both LSH
        operators say so with a ValueError; embedding_near_dups runs
        once dim= is given."""
        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        for op in (X.embedding_near_dups, X.semantic_dedup):
            with pytest.raises(ValueError, match="cannot infer"):
                op(empty)
        assert X.embedding_near_dups(empty, dim=8).count() == 0


class TestIVF:
    def test_full_probe_equals_brute_force_and_pruning(self, spark, tmp_path):
        from crawlspark import textops as X

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        path = str(tmp_path / "ivf")
        X.build_ivf_index(emb, path, n_centroids=8, max_iter=10)

        # nprobe = n_centroids degrades to exact brute force
        exact = {(r.vec_id, r.cosine)
                 for r in X.brute_force_topk(emb, q, k=10).collect()}
        full = {(r.vec_id, r.cosine)
                for r in X.ann_topk_ivf(spark, path, q, nprobe=8).collect()}
        assert full == exact

        # a narrow probe reads ONLY its cells (partition pruning) and
        # still finds the query's own vector plus mostly-right results
        import re
        df = X.ann_topk_ivf(spark, path, q, nprobe=3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[.*_centroid.*\]", plan)
        got = {r.vec_id for r in df.collect()}
        # random near-orthogonal fixture vectors are the WORST case for
        # any clustering quantizer; recall@10 >= 0.5 at 3/8 cells still
        # demonstrates cells carry signal (full probe above is exact)
        assert len(got & {v for v, _ in exact}) >= 5
        assert emb.orderBy("vec_id").first()["vec_id"] in got


class TestJaccardForms:
    def test_count_form_equals_array_verify(self, spark):
        """The count-based all-pairs form must equal the array-verify
        path (ngram_jaccard over the same candidates) exactly."""
        from crawlspark import textops as X
        from pyspark.sql import functions as F

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = {(r.id_a, r.id_b, r.jaccard) for r in
               X.ngram_jaccard_all_pairs(docs, threshold=0.3).collect()}
        sh = docs.select("doc_id",
                         F.explode(X.word_shingles(F.col("text"), 2)).alias("s"))
        a, b = sh.alias("a"), sh.alias("b")
        cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("id_a"),
                        F.col("b.doc_id").alias("id_b")).distinct())
        exp = {(r.id_a, r.id_b, r.jaccard) for r in
               X.ngram_jaccard(docs, cand)
               .filter(F.col("jaccard") >= 0.3).collect()}
        assert got == exp and len(got) > 0

    def test_pair_restricted_count_form_equals_array_verify(self, spark):
        """ngram_jaccard_for_pairs (the LSH verify hot path) must match
        the array twin on every candidate pair with jaccard > 0, and
        drop only zero-intersection pairs."""
        from crawlspark import textops as X
        from pyspark.sql import functions as F

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        ids = [r.doc_id for r in docs.select("doc_id").limit(40).collect()]
        pair_rows = [(a, b) for a in ids[:20] for b in ids[20:] if a < b][:60]
        cand = spark.createDataFrame(pair_rows, "id_a long, id_b long")
        got = {(r.id_a, r.id_b, r.jaccard) for r in
               X.ngram_jaccard_for_pairs(docs, cand).collect()}
        arr = X.ngram_jaccard(docs, cand).collect()
        exp_pos = {(r.id_a, r.id_b, r.jaccard) for r in arr if r.jaccard > 0}
        exp_zero = {(r.id_a, r.id_b) for r in arr if r.jaccard == 0}
        assert got == exp_pos
        assert {(a, b) for a, b, _ in got}.isdisjoint(exp_zero)

    def test_lsh_pairs_unchanged_by_count_verify(self, spark):
        """minhash_lsh_pairs output must be identical before/after the
        verify rewrite: compare against the array-verify composition."""
        from crawlspark import textops as X
        from pyspark.sql import functions as F

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = {(r.id_a, r.id_b, r.jaccard) for r in
               X.minhash_lsh_pairs(docs).collect()}
        sig = X.minhash_signature(docs, 8)
        bands, rpb = 4, 2
        bs = [F.struct(F.lit(b).alias("band"),
                       F.concat_ws("|", *[F.col(f"mh{b * rpb + r}")
                                          for r in range(rpb)]).alias("val"))
              for b in range(bands)]
        banded = (sig.select("doc_id", F.explode(F.array(*bs)).alias("bv"))
                  .select("doc_id", "bv.band", "bv.val"))
        a, b = banded.alias("a"), banded.alias("b")
        cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.val") == F.col("b.val"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("id_a"),
                        F.col("b.doc_id").alias("id_b")).distinct())
        exp = {(r.id_a, r.id_b, r.jaccard) for r in
               X.ngram_jaccard(docs, cand)
               .filter(F.col("jaccard") >= 0.5).collect()}
        assert got == exp and len(got) > 0


class TestCorpusHygiene:
    def test_repetition_discriminates(self, spark):
        from crawlspark import textops as X

        rows = [(1, "the cat sat on the mat near the door"),
                (2, "spam spam spam spam spam spam spam spam"),
                (3, ""), (4, None), (5, "one"),
                (6, "a b a b a b a b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        m = {r.doc_id: r for r in X.repetition_metrics(df).collect()}
        assert m[2].distinct_ratio == 0.125 and m[2].top_bigram_frac == 1.0
        assert m[1].top_bigram_frac < 0.3
        assert m[3].n_words == 0 and m[3].top_bigram_frac == 0.0
        assert m[4].n_words == 0
        assert m[5].n_words == 1 and m[5].top_bigram_frac == 0.0
        # 'a b' occupies 4 of 7 bigrams
        assert m[6].top_bigram_frac == round(4 / 7, 4)

    def test_decontaminate_flags_twins_only(self, spark):
        from crawlspark import textops as X

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [(0, base),                       # eval doc
                (1, base + " extra tail words here"),  # shares 8-grams
                (2, "totally different words with no overlap at all ok")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ev = df.filter(F.col("doc_id") == 0)
        got = {r.doc_id: (r.n_overlap, r.contaminated)
               for r in X.decontaminate(df, ev).collect()}
        assert got[0][1] and got[1][1] and not got[2][1]
        assert got[0][0] == 3          # 10 words -> 3 distinct 8-grams
        assert got[1][0] == 3          # the shared prefix ones
        assert got[2] == (0, False)

    def test_decontaminate_size_gated_fallback(self, spark, monkeypatch):
        """r5 (VERDICT r4 §5): above the token bound the eval side must
        NOT broadcast — the join falls back to a shuffle join on the
        n-gram key. Pins (a) result equality between the two paths on
        the sf0.001 corpus and (b) the fallback plan containing no
        BroadcastHashJoin/BroadcastExchange."""
        from crawlspark import textops as X

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        bc = X.decontaminate(docs, ev)
        monkeypatch.setattr(X, "EVAL_BROADCAST_LIMIT_TOKENS", 0)
        shuf = X.decontaminate(docs, ev)
        a = sorted(tuple(r) for r in bc.collect())
        b = sorted(tuple(r) for r in shuf.collect())
        assert a == b and len(a) > 100
        # the n-gram join specifically (the doc_id join-back is a small
        # frame and legitimately broadcasts in BOTH paths)
        plan = shuf._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin [g#" in plan, plan
        assert "BroadcastHashJoin [g#" not in plan, plan
        bplan = bc._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin [g#" in bplan  # normal path broadcasts

    def test_paragraph_dedup_first_location_wins(self, spark):
        """Corpus-level paragraph dedup: a paragraph survives only at
        its minimum (doc, position) occurrence; clean_text re-joins
        survivors in original order; null/empty docs stay total."""
        from crawlspark import textops as X

        rows = [(0, "a b c d e f"),      # ["a b c", "d e f"] both first
                (1, "x y z a b c"),      # "x y z" first, "a b c" dup
                (2, "a b c x y z"),      # both dups
                (3, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.key: (r.n_paras, r.n_kept, r.clean_text)
               for r in X.paragraph_dedup(df, para_tokens=3).collect()}
        assert got[0] == (2, 2, "a b c d e f")
        assert got[1] == (2, 1, "x y z")
        assert got[2] == (2, 0, "")
        assert got[3] == (0, 0, "")

    def test_paragraph_dedup_newline_mode(self, spark):
        """para_tokens=0 splits on newline runs (the real-HTML shape):
        an intra-doc repeat keeps only its first position."""
        from crawlspark import textops as X

        rows = [(10, "intro\nfooter text"), (11, "body\nfooter text\nbody")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.key: (r.n_paras, r.n_kept, r.clean_text)
               for r in X.paragraph_dedup(df).collect()}
        assert got[10] == (2, 2, "intro footer text")
        # doc 11: "footer text" lost to doc 10; second "body" intra-dup
        assert got[11] == (3, 1, "body")

    def test_lm_score_rare_tokens_score_higher(self, spark):
        """Docs made of corpus-rare tokens carry more self-information
        than docs of head tokens; empty docs stay total at 0.0. The
        corpus has 1,108 distinct words, so the 1000-word model cuts
        through the count-2 fillers: w0994 is the last word inside it
        (5 head words + w0000..w0994), w0995 scores at the OOV floor.
        Every score equals a pure-Python replay."""
        import math

        from crawlspark import textops as X

        common = "the and of to in " * 20
        fillers = [f"w{j:04d}" for j in range(1100)]
        bulk = " ".join(w for w in fillers if w not in ("w0994", "w0995"))
        rows = [(0, common), (1, common), (2, common),
                (3, "zyzzyva qwyjibo floccinaucinihilipilification"),
                (4, None), (5, bulk), (6, bulk),
                (7, "w0994 w0994"), (8, "w0995 w0995")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_scored, r.lm_score)
               for r in X.lm_quality_score(df).collect()}
        assert got[4] == (0, 0.0)
        assert got[3][1] > got[0][1]          # rare >> head tokens
        assert got[0] == got[1] == got[2]     # identical docs, same score
        assert got[8][1] > got[7][1]          # w0995 falls outside the cut

        counts = {}
        for _, t in rows:
            for w in (t or "").split():
                counts[w] = counts.get(w, 0) + 1
        assert len(counts) > 1000
        total = sum(counts.values())
        vocab = sorted(counts, key=lambda w: (-counts[w], w))[:1000]
        info = {w: -math.log2(counts[w] / total) for w in vocab}
        oov = -math.log2(1.0 / total)
        for doc_id, t in rows:
            toks = (t or "").split()
            if not toks:
                continue
            want = sum(info.get(w, oov) for w in toks) / len(toks)
            assert got[doc_id][0] == len(toks)
            assert got[doc_id][1] == pytest.approx(want, abs=1e-4)

    def test_stratified_sample_deterministic_and_rated(self, spark):
        """The sample must be identical under repartitioning (the
        property df.sample() lacks) and per-stratum rates must land
        near their targets."""
        from crawlspark import textops as X

        rows = [(i, "en" if i % 2 == 0 else "vi") for i in range(4000)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        rates = {"en": 0.25, "vi": 0.9}
        a = sorted(r.doc_id for r in X.stratified_sample(df, rates).collect())
        b = sorted(r.doc_id
                   for r in X.stratified_sample(df.repartition(13), rates)
                   .collect())
        assert a == b and len(a) > 0
        en = sum(1 for i in a if i % 2 == 0) / 2000
        vi = sum(1 for i in a if i % 2 == 1) / 2000
        assert abs(en - 0.25) < 0.05 and abs(vi - 0.9) < 0.05

    def test_pack_sequences_parallelism_invariant(self, spark):
        """The distributed prefix sum must be EXACT: the packing at 1
        partition and 7 partitions is identical, budget boundaries
        land where the straight cumsum says, and no plan stage ever
        collapses to a single partition (the global-window trap)."""
        from crawlspark import textops as X

        rows = [(i, "w " * ((i * 37) % 90 + 1)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(tuple(r) for r in
                   X.pack_sequences(df, budget=100, num_partitions=1)
                   .collect())
        b = sorted(tuple(r) for r in
                   X.pack_sequences(df, budget=100, num_partitions=7)
                   .collect())
        assert a == b
        # reference cumsum
        start = 0
        for key, n, seq_id, off in a:
            assert (seq_id, off) == (start // 100, start % 100), key
            start += n
        plan = (X.pack_sequences(df, budget=100, num_partitions=7)
                ._jdf.queryExecution().executedPlan().toString())
        assert "SinglePartition" not in plan, plan

    def test_pack_sequences_build_runs_no_job(self, spark):
        """Building the packing runs no Spark job: the prefix-sum
        offsets come from a lazy window, not a driver-side collect.
        Counted through a job group."""
        rows = [(i, "w " * (i % 9 + 1)) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sc = spark.sparkContext
        sc.setJobGroup("pack_sequences_build", "pack_sequences build")
        try:
            X.pack_sequences(df, budget=10, num_partitions=3)
        finally:
            sc.setJobGroup(None, None)
        assert sc.statusTracker().getJobIdsForGroup(
            "pack_sequences_build") == []

    def test_mix_corpus_rates_and_determinism(self, spark):
        """Rates derive from measured token totals (clamped at 1),
        unweighted and zero-token sources keep nothing, and the drawn
        mixture is identical at any partitioning."""
        from crawlspark import textops as X

        rows = ([(i, "a", "w " * 10) for i in range(100)] +        # T=1000
                [(100 + i, "b", "w " * 10) for i in range(10)] +   # T=100
                [(200 + i, "c", "w " * 10) for i in range(50)] +   # unweighted
                [(300, "d", "")])                                  # zero tokens
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        weights = {"a": 1.0, "b": 1.0, "d": 2.0}
        out = X.mix_corpus(df, weights, budget_tokens=1000).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], []).append(r)
        # a: desired 250 of 1000 -> rate 0.25; b: desired 250 of 100 -> 1.0
        assert all(r["rate"] == 0.25 for r in by_src["a"])
        assert len(by_src["b"]) == 10 and all(r["rate"] == 1.0
                                              for r in by_src["b"])
        assert "c" not in by_src and "d" not in by_src
        # the hash filter at rate 0.25 lands near 25 of 100 docs
        assert 10 <= len(by_src["a"]) <= 45
        a = sorted(tuple(r) for r in out)
        b = sorted(tuple(r) for r in
                   X.mix_corpus(df.repartition(7), weights,
                                budget_tokens=1000).collect())
        assert a == b

    def test_chunk_documents_semantics(self, spark):
        """Crafted lengths pin the containment rule: a trailing window
        is emitted only when it extends past its predecessor, nulls
        and empties vanish, and the plan never shuffles."""
        from crawlspark import textops as X

        rows = [(0, None), (1, ""), (2, "a" * 5), (3, "a" * 512),
                (4, "a" * 513), (5, "a" * 960), (6, "a" * 961)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["key"]: r for r in
               X.chunk_documents(df)
               .groupBy("key").agg(F.count("*").alias("n"),
                                   F.max("chunk_start").alias("last"))
               .collect()}
        # size 512, overlap 64, step 448; n = max(1, ceil((L-64)/448))
        assert 0 not in out and 1 not in out
        assert (out[2]["n"], out[3]["n"]) == (1, 1)
        # L=513: chunk at 448 covers 65 chars > overlap -> 2 chunks
        assert (out[4]["n"], out[4]["last"]) == (2, 448)
        # L=960: chars past start 896 = 64 == overlap -> contained, still 2
        assert out[5]["n"] == 2
        assert (out[6]["n"], out[6]["last"]) == (3, 896)
        # offsets+lens tile the doc: sum(len) - overlap*(n-1) == L
        chunks = X.chunk_documents(df).collect()
        import collections
        tot = collections.Counter()
        for r in chunks:
            tot[r["key"]] += r["chunk_len"]
        assert tot[6] == 961 + 64 * (out[6]["n"] - 1)
        plan = (X.chunk_documents(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan, plan

    def test_quantize_embeddings_semantics(self, spark):
        from crawlspark import textops as X

        rows = [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0]), (2, None),
                (3, [127.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["key"]: r for r in X.quantize_embeddings(df).collect()}
        # max|x| maps to ±127 exactly; others scale linearly
        assert out[0]["codes"] == "64,-127,32"  # round(1/(2/127))=63.5->64
        assert out[0]["scale"] == 2.0 / 127.0
        assert out[1]["codes"] == "0,0" and out[1]["scale"] == 0.0
        assert out[2]["codes"] == "" and out[2]["dim"] == 0
        assert out[3]["codes"] == "127" and out[3]["scale"] == 1.0
        plan = (X.quantize_embeddings(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan, plan

    def test_tfidf_topk_ranking(self, spark):
        """A corpus-wide stopword must rank below a doc-unique term
        even at lower tf; ties break by term alphabetically, and only
        the top 3 terms of a doc survive."""
        from crawlspark import textops as X

        rows = [(0, "the the the zebra yak xylo"), (1, "the apple"),
                (2, "the banana banana")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = X.tfidf_topk(df).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["key"], []).append((r["rank"], r["term"]))
        # 'the' has df=3 -> idf=1+ln(4/4)=1; uniques have idf=1+ln(2);
        # tf=3 wins, the three tied uniques break by term, zebra is cut
        assert sorted(by_doc[0]) == [(1, "the"), (2, "xylo"), (3, "yak")]
        assert sorted(by_doc[1])[0] == (1, "apple")
        assert sorted(by_doc[2])[0] == (1, "banana")

    def test_pii_scrub_order_and_counts(self, spark):
        from crawlspark import textops as X

        rows = [(1, "mail a.b+c@x-y.example.io then +84-555-1234 at 10.0.3.7"),
                (2, "ip-like domain user@1.2.3.4 stays one email"),
                (3, "clean text no pii"), (4, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in X.pii_scrub(df).collect()}
        assert got[1].clean_text == "mail <EMAIL> then <PHONE> at <IP>"
        assert got[1].n_pii == 3
        # a numeric-only domain is NOT an email (the RX requires an
        # alpha TLD) — the dotted quad falls through to the IP rule
        assert got[2].clean_text == "ip-like domain user@<IP> stays one email"
        assert got[2].n_pii == 1
        assert got[3].n_pii == 0 and got[4].clean_text == ""


class TestCorpusShapeOps:
    """Round-5 session-3 operators: length histogram, inverted index,
    distributed ntile, PMI collocations."""

    def test_length_histogram_power_of_two_exact(self, spark):
        # bucket boundaries are integer bit-length, so n=1024 must land
        # in bucket 10 with no float-log2 ulp flip; empty/null -> n=0,
        # clamped into bucket 0
        rows = [(1, "a"), (2, "a b"), (3, "a b c"),
                (4, " ".join(["t"] * 1024)), (5, " ".join(["t"] * 1025)),
                (6, ""), (7, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.bucket: r for r in X.length_histogram(df).collect()}
        assert set(got) == {0, 1, 10}
        assert got[0].n_docs == 3 and got[0].min_tokens == 0 \
            and got[0].max_tokens == 1 and got[0].total_tokens == 1
        assert got[1].n_docs == 2 and got[1].total_tokens == 5
        assert got[10].n_docs == 2 and got[10].min_tokens == 1024 \
            and got[10].max_tokens == 1025

    def test_inverted_index_postings_and_cap(self, spark):
        rows = [(1, "the cat sat"), (2, "the dog"), (3, "the cat the")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        idx = {r.w: r for r in X.build_inverted_index(df).collect()}
        assert idx["the"].df == 3 and idx["the"].cf == 4
        # entries in doc order, positions sorted and pipe-joined
        assert idx["the"].postings == "1:1:0;2:1:0;3:2:0|2"
        assert idx["cat"].postings == "1:1:1;3:1:1"
        assert idx["sat"].df == 1 and idx["sat"].cf == 1
        # df_cap elides the stopword-shaped token entirely
        capped = {r.w for r in
                  X.build_inverted_index(df, df_cap=2).collect()}
        assert "the" not in capped and "cat" in capped

    def test_grouped_ntile_matches_window_and_parallelism(self, spark):
        from pyspark.sql import Window

        rows = [(g, i, float((i * 37) % 13))
                for g, n in (("a", 7), ("b", 5), ("c", 1), ("d", 12))
                for i in range(n)]
        df = spark.createDataFrame(rows, "lang string, doc_id long, s double")
        w = Window.partitionBy("lang").orderBy("s", "doc_id")
        want = sorted(
            (r.lang, r.doc_id, r.nt) for r in
            df.withColumn("nt", F.ntile(3).over(w)).collect())
        for p in (1, 8):
            got = sorted(
                (r.lang, r.doc_id, r.bucket) for r in
                X.grouped_ntile(df, "lang", ["s", "doc_id"],
                                num_partitions=p).collect())
            assert got == want, p

    def test_pmi_bigrams_math(self, spark):
        # one bigram "xI yI" per doc, seen n times: unigram counts n
        # each, so pmi = log2((n/NB) / (n/N)^2) = log2(4 NB / n) with
        # N = 2 NB — rarer bigrams score higher. The four n=4 bigrams
        # would top the list but fall under the 5-count floor; the 40
        # n=5 bigrams come next, then the n=6 ones by text until the
        # top-50 cut (b00..b09 of b00..b19).
        pairs = ([(f"d{j} e{j}", 4) for j in range(4)]
                 + [(f"a{j:02d} c{j:02d}", 5) for j in range(40)]
                 + [(f"b{j:02d} f{j:02d}", 6) for j in range(20)])
        rows = [(i, t) for i, t in
                enumerate(t for t, n in pairs for _ in range(n))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [(r.bigram, r.n, r.pmi) for r in X.pmi_bigrams(df).collect()]
        nb = sum(n for _, n in pairs)
        want = sorted(((t, n, round(math.log(4 * nb / n) / math.log(2), 4))
                       for t, n in pairs if n >= 5),
                      key=lambda r: (-r[2], r[0]))[:50]
        assert [g[:2] for g in got] == [w[:2] for w in want]
        assert got[-1][0] == "b09 f09"
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[2], abs=1e-4)

    def test_group_quantiles_exact_lower_discrete(self, spark):
        # lang a: values 1..10 -> p25 = ceil(10*.25)=rank 3 -> 3.0,
        # p50 = rank 5 -> 5.0, p75 = rank 8 -> 8.0; lang b: single row
        rows = [("a", i, float(i)) for i in range(1, 11)] + \
               [("b", 99, 42.0)]
        df = spark.createDataFrame(rows, "lang string, doc_id long, q double")
        got = sorted((r.lang, r.q_pct, r.value) for r in
                     X.group_quantiles(df, "lang", "q", "doc_id").collect())
        assert got == [("a", 25, 3.0), ("a", 50, 5.0), ("a", 75, 8.0),
                       ("b", 25, 42.0), ("b", 50, 42.0), ("b", 75, 42.0)]

    def test_vocab_coverage_counts(self, spark):
        # counts: x:6, y:3, then 18 singletons (total 27); ranks x=1,
        # y=2, singletons by token: w00..w16, z
        singles = " ".join(f"w{i:02d}" for i in range(17)) + " z"
        rows = [(1, "x x x y"), (2, "x x x y y"), (3, singles)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.k: (r.vocab_used, r.covered_tokens, r.coverage) for r in
               X.vocab_coverage(df).collect()}
        assert X.VOCAB_COVERAGE_KS == (1, 16, 256, 4096)
        assert got[1] == (1, 6, 0.222222)
        assert got[16] == (16, 23, 0.851852)  # x, y + w00..w13
        assert got[256] == got[4096] == (20, 27, 1.0)

    def test_shard_plan_shapes_and_parallelism_invariance(self, spark):
        df = spark.createDataFrame([(i,) for i in range(200)],
                                   "doc_id long")
        a = sorted((r.doc_id, r.shard, r.pos_in_shard) for r in
                   X.shard_plan(df, "doc_id", 64, num_partitions=1)
                   .collect())
        b = sorted((r.doc_id, r.shard, r.pos_in_shard) for r in
                   X.shard_plan(df, "doc_id", 64, num_partitions=8)
                   .collect())
        assert a == b
        assert len(a) == 200 and len({t[0] for t in a}) == 200
        sizes = {}
        for _, sh, pos in a:
            assert 0 <= pos < 64
            sizes[sh] = sizes.get(sh, 0) + 1
        # 200 docs / 64 -> shards 0,1,2 full, shard 3 holds 8
        assert sizes == {0: 64, 1: 64, 2: 64, 3: 8}
        # slot assignment within a shard is unique
        assert len({(sh, pos) for _, sh, pos in a}) == 200

    def test_vocab_growth_first_occurrence(self, spark):
        # doc 1 brings {a,b}; doc 16 repeats a; doc 17 brings {c};
        # doc 64 brings {d}; doc 300 brings {e}
        rows = [(1, "a b a"), (16, "a a"), (17, "c a"), (64, "d b"),
                (300, "e")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.k_docs: r.vocab_size for r in
               X.vocab_growth(df).collect()}
        assert X.VOCAB_GROWTH_CHECKPOINTS == (16, 64, 256, 1024)
        assert got == {16: 2, 64: 4, 256: 4, 1024: 5}

    def test_dedup_report_token_mass(self, spark):
        kept = spark.createDataFrame(
            [(1, True), (2, False), (3, True)], "key long, kept boolean")
        meta = spark.createDataFrame(
            [(1, "s1", "one two"), (2, "s1", "three"), (3, "s2", "x")],
            "key long, source string, text string")
        got = {r.source: r for r in
               X.dedup_report(kept, meta, key_col="key").collect()}
        assert (got["s1"].docs_in, got["s1"].docs_kept,
                got["s1"].docs_dropped) == (2, 1, 1)
        assert (got["s1"].tokens_kept, got["s1"].tokens_dropped) == (2, 1)
        assert (got["s2"].docs_in, got["s2"].tokens_kept) == (1, 1)

    def test_bigram_lm_score_math(self, spark):
        # corpus: "a b" x3, "a c" x1 -> bigrams: "a b":3, "a c":1.
        # C(a·)=4, V(successors)={b,c}=2, alpha=.5:
        # p(b|a) = 3.5/5 = 0.7, p(c|a) = 1.5/5 = 0.3
        import math
        rows = [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c"), (5, "x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_pairs, r.bigram_lp) for r in
               X.bigram_lm_score(df).collect()}
        assert got[1] == (1, round(math.log2(0.7), 4))
        assert got[4] == (1, round(math.log2(0.3), 4))
        # a 1-token doc has no pairs and scores 0.0
        assert got[5] == (0, 0.0)


class TestCorpusHealthOps:
    """Round-5 session-4 batch: KMV cardinality, Zipf fit, UTF-8
    health, source reputation."""

    def test_kmv_exact_when_under_k(self, spark):
        # 10 distinct tokens < k=128 -> estimate IS the exact count
        rows = [(i, "s", " ".join(f"w{j}" for j in range(10)))
                for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        r = X.kmv_distinct(df).collect()[0]
        assert r.n_exact == 10 and r.kmv_est == 10.0

    def test_kmv_estimate_within_tolerance(self, spark):
        # 5000 distinct tokens, k=128: KMV standard error ~ 1/sqrt(k-2)
        # ~ 8.9%; assert within 4 sigma (deterministic md5 hashes, so
        # this is a fixed number, not a flaky draw)
        rows = [(i, "s", " ".join(f"tok{i}_{j}" for j in range(50)))
                for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        r = X.kmv_distinct(df).collect()[0]
        assert r.n_exact == 5000
        assert abs(r.kmv_est - 5000) / 5000 < 0.36
        # parallelism-invariant (the sketch is order-free)
        r2 = X.kmv_distinct(df.repartition(13)).collect()[0]
        assert (r2.n_exact, r2.kmv_est) == (r.n_exact, r.kmv_est)

    def test_zipf_slope_shapes(self, spark):
        # flat counts (every token once) -> slope 0; geometric decay
        # c(r) = 2^(10-r) over ranks 1..10 -> ln c = const - ln2 *
        # r... NOT linear in ln r, but monotone negative; assert sign
        # and that the flat corpus is ~0 while the skewed one is well
        # below -1 (ln c spans ~6.9 while ln r spans ~2.3)
        flat = [(1, "f", " ".join(f"u{j}" for j in range(64)))]
        skew = [(1, "s", " ".join(" ".join(f"t{r}" for _ in range(2 ** (10 - r)))
                                  for r in range(1, 11)))]
        df = spark.createDataFrame(flat + skew,
                                   "doc_id long, source string, text string")
        got = {r.source: r for r in X.zipf_slope(df).collect()}
        assert got["f"].zipf_slope == 0.0 and got["f"].n_types == 64
        assert got["s"].zipf_slope < -1.5 and got["s"].n_types == 10

    def test_utf8_stats_width_identities(self, spark):
        # a=ascii, é=2-byte, 汉=3-byte, 𝄞=4-byte (U+1D11E), plus a
        # control char and U+FFFD — counts must solve exactly
        s = "abc é汉字𝄞\x07�"
        df = spark.createDataFrame([(1, s)], "doc_id long, text string")
        r = X.utf8_stats(df).collect()[0]
        assert r.n_bytes == len(s.encode("utf-8"))
        assert r.n_chars == 10  # code points, not UTF-16 units
        assert (r.n_ascii, r.n_2byte, r.n_3byte, r.n_4byte) == (5, 1, 3, 1)
        assert r.n_ctrl == 1 and r.n_replacement == 1
        assert r.ascii_ratio == 0.5

    def test_utf8_stats_null_and_empty(self, spark):
        df = spark.createDataFrame([(1, None), (2, "")],
                                   "doc_id long, text string")
        for r in X.utf8_stats(df).collect():
            assert r.n_bytes == 0 and r.n_chars == 0 and r.ascii_ratio == 0.0

    def test_source_reputation_flags(self, spark):
        # "good" source: clean mid-length prose (quality 1.0);
        # "bad" source: short all-caps shouting (quality < 1)
        good = "the quick brown fox jumps over the lazy dog " * 4
        bad = "BUY NOW!!! " * 3
        rows = [(i, "good", good) for i in range(4)] + \
               [(i + 10, "bad", bad) for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        got = {r.source: r for r in X.source_reputation(df).collect()}
        assert got["good"].low_rep is False
        assert got["bad"].low_rep is True
        assert got["good"].src_quality > got["bad"].src_quality
        # both rows carry the same corpus mean
        assert got["good"].corpus_quality == got["bad"].corpus_quality


class TestLineVocabSemOps:
    def test_line_dedup_keeps_first_occurrence(self, spark):
        # lines of 2 tokens: "a b | c d | a b | e f" -> dup "a b" dropped
        df = spark.createDataFrame([(1, "a b c d a b e f"), (2, None)],
                                   "doc_id long, text string")
        got = {r.doc_id: r for r in X.line_dedup(df).collect()}
        assert got[1].n_lines == 4 and got[1].n_kept == 3
        assert got[1].clean_text == "a b c d e f"
        assert got[2].n_lines == 0 and got[2].clean_text == ""

    def test_line_dedup_ragged_tail(self, spark):
        # 5 tokens in 2-token lines -> 3 lines, last is the 1-token tail
        df = spark.createDataFrame([(1, "a b a b x")],
                                   "doc_id long, text string")
        r = X.line_dedup(df).collect()[0]
        assert r.n_lines == 3 and r.n_kept == 2 and r.clean_text == "a b x"

    def test_vocab_prune_unk_accounting(self, spark):
        # 17 types seen 3+ times: h00, h01 (4x), h02..h15 and x (3x);
        # the 16-type head ties x with h02..h15 at 3 and breaks by
        # token, so x is UNK beside the singletons z and q
        hs = " ".join(f"h{j:02d}" for j in range(16))
        df = spark.createDataFrame(
            [(1, hs), (2, hs), (3, hs), (4, "x x x z"), (5, "h00 h01 q q"),
             (6, None)],
            "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.n_unk, r.unk_ratio)
               for r in X.vocab_prune_stats(df).collect()}
        assert got[1] == got[2] == got[3] == (16, 0, 0.0)
        assert got[4] == (4, 4, 1.0)
        assert got[5] == (4, 2, 0.5)
        assert got[6] == (0, 0, 0.0)

    def test_semantic_dedup_drop_rule(self, spark):
        # identical vectors share a bucket and cosine 1.0 -> only the
        # min id survives; the orthogonal-ish singleton is kept
        rows = [(1, [1.0] * 64), (2, [1.0] * 64), (3, [1.0] * 64),
                (9, [1.0, -1.0] * 32)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r.vec_id: r for r in
               X.semantic_dedup(df, threshold=0.95).collect()}
        assert got[1].kept is True
        assert got[2].kept is False and got[3].kept is False
        assert got[9].kept is True
        assert got[1].cluster == got[2].cluster == got[3].cluster

    def test_semantic_dedup_kept_set_has_no_close_pair(self, spark, emb):
        # the min-id-wins invariant: no same-cluster KEPT pair may
        # exceed the threshold
        v = X.semantic_dedup(emb, threshold=0.3, n_planes=4)
        kept = v.filter("kept").join(
            emb.select("vec_id", "embedding"), "vec_id")
        a = kept.select(F.col("vec_id").alias("ia"),
                        F.col("embedding").alias("va"),
                        F.col("cluster").alias("c"))
        b = kept.select(F.col("vec_id").alias("ib"),
                        F.col("embedding").alias("vb"),
                        F.col("cluster").alias("c"))
        viol = (a.join(b, "c").filter(F.col("ia") < F.col("ib"))
                .filter(F.round(X.cosine_pair_sim(F.col("va"), F.col("vb")),
                                6) >= 0.3))
        assert viol.count() == 0
        # and something was actually dropped at this threshold
        assert v.filter("NOT kept").count() > 0


class TestCdcChunks:
    def test_boundary_shift_invariance(self, spark):
        # CDC's defining property: prepending tokens changes only the
        # chunks before the next boundary — later chunk hashes survive.
        # At md5 % 8, "epsilon" and "prefix" open chunks: the base has
        # six boundaries, the edited doc one more (plus its lead chunk)
        base = "alpha beta gamma delta epsilon zeta eta theta " * 6
        df = spark.createDataFrame(
            [(1, base), (2, "INSERTED PREFIX " + base)],
            "doc_id long, text string")
        got = X.cdc_chunks(df).collect()
        h1 = {r.chunk_md5 for r in got if r.doc_id == 1}
        h2 = {r.chunk_md5 for r in got if r.doc_id == 2}
        shared = h1 & h2
        # everything after the first boundary downstream of the edit
        # is identical content -> most chunks must be shared
        assert len(shared) >= len(h1) - 2, (len(shared), len(h1))
        def chunks(doc):
            return [r.chunk_md5 for r in sorted(got, key=lambda r: r.chunk_idx)
                    if r.doc_id == doc]
        # past the base's lead chunk and the edit's two, every chunk matches
        assert len(chunks(1)) == 7 and chunks(1)[1:] == chunks(2)[2:]

    def test_chunks_partition_the_tokens(self, spark):
        # "epsilon" and "prefix" open chunks at md5 % 8 == 0 ("f" does at % 4)
        df = spark.createDataFrame([(1, "a b epsilon d e prefix f h i j")],
                                   "doc_id long, text string")
        rows = X.cdc_chunks(df).collect()
        assert sorted(r.n_tokens for r in rows) == [2, 3, 5]
        assert sum(r.n_tokens for r in rows) == 10
        idx = sorted(r.chunk_idx for r in rows)
        assert idx == list(range(idx[0], idx[0] + len(idx)))

    def test_parallelism_invariant(self, spark):
        rows = [(i, f"tok{i} " * 5 + "common words here") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, X.cdc_chunks(df).collect()))
        b = sorted(map(tuple, X.cdc_chunks(df.repartition(7)).collect()))
        assert a == b


def _bpe_reference(word_counts, n_merges):
    """Independent pure-Python BPE (Sennrich-style): argmax adjacent
    pair by (count desc, pair asc), greedy left-to-right merge."""
    seqs = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for rank in range(n_merges):
        counts = {}
        for w, c in word_counts.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, cnt))
        for w in seqs:
            s, out = seqs[w], []
            for sym in s:
                if out and out[-1] == a and sym == b:
                    out[-1] = a + b
                else:
                    out.append(sym)
            seqs[w] = out
    return merges


class TestSketchAndBpe:
    def test_cms_one_sided_error(self, spark, docs):
        rows = X.cms_frequencies(docs).collect()
        assert len(rows) == 31  # the fixture vocab
        for r in rows:
            assert r.cms_est >= r.exact and r.overcount == r.cms_est - r.exact

    def test_cms_exact_when_no_collision(self, spark):
        # 3 tokens in a 64-bucket sketch: collisions are unlikely at
        # every depth simultaneously -> min over rows is exact
        df = spark.createDataFrame([(1, "x x x y z")],
                                   "doc_id long, text string")
        got = {r.w: (r.exact, r.cms_est)
               for r in X.cms_frequencies(df).collect()}
        assert got["x"] == (3, 3) and got["y"] == (1, 1)

    def test_bpe_matches_independent_reference(self, spark):
        rows = [(1, "low low low lower lower newest newest newest"),
                (2, "newest newest newest widest widest widest")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        wc = {}
        for _, t in rows:
            for w in t.split():
                wc[w] = wc.get(w, 0) + 1
        want = _bpe_reference(wc, 8)
        got = X.bpe_learn(df)
        assert len(got) == 8 and got == want, (got, want)

    def test_bpe_parallelism_invariant(self, spark):
        df = spark.createDataFrame(
            [(i, "alpha beta beta gamma") for i in range(20)],
            "doc_id long, text string")
        got = X.bpe_learn(df)
        assert len(got) == 8 and got == X.bpe_learn(df.repartition(9))


class TestMinhashAccuracy:
    def test_identical_docs_estimate_one(self, spark):
        # bigram sets: doc 1 = doc 2 (5), doc 4 (9) shares only "a b"
        # with them (1/13 < 0.1), doc 5 (4) shares "a b" (1/8 >= 0.1)
        # and sits inside doc 4 (4/9)
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f"), (3, "z y x w v u"),
             (4, "a b g h i j k l m n"), (5, "a b g h i")],
            "doc_id long, text string")
        rows = {(r.id_a, r.id_b): r
                for r in X.minhash_accuracy(df).collect()}
        r = rows[(1, 2)]
        assert r.est_jaccard == 1.0 and r.exact_jaccard == 1.0
        assert r.abs_err == 0.0
        assert (1, 3) not in rows and (2, 3) not in rows  # disjoint shingles
        assert (1, 4) not in rows and (2, 4) not in rows  # under 0.1
        assert rows[(1, 5)].exact_jaccard == rows[(2, 5)].exact_jaccard == 0.125
        assert rows[(4, 5)].exact_jaccard == round(4 / 9, 4)

    def test_estimate_bounded_and_quantized(self, spark, docs):
        sub = docs.filter(F.col("doc_id") % 5 == 0)
        rows = X.minhash_accuracy(sub).collect()
        assert rows, "no pairs above 0.1 exact jaccard"
        for r in rows:
            assert 0.0 <= r.est_jaccard <= 1.0
            assert round(r.est_jaccard * 8, 6) == int(round(r.est_jaccard * 8))
        # the sketch must track the exact value on average
        mean_err = sum(r.abs_err for r in rows) / len(rows)
        assert mean_err < 0.35, mean_err


class TestGroupedRankLazyOffsets:
    def test_rank_and_totals_match_window_reference(self, spark):
        """r6: grouped_rank's exclusive offsets moved from a driver
        collect to a lazy prefix-sum window. Pin rank AND n_group
        against the plain window reference at several partition
        counts, including groups smaller than the partition count."""
        from pyspark.sql import Window

        rows = [(g, i, float((i * 29) % 11))
                for g, n in (("en", 23), ("vi", 9), ("de", 1))
                for i in range(n)]
        df = spark.createDataFrame(rows, "lang string, doc_id long, s double")
        w = Window.partitionBy("lang").orderBy("s", "doc_id")
        want = sorted(
            (r.lang, r.doc_id, r.rk, r.n) for r in
            df.withColumn("rk", F.row_number().over(w))
              .withColumn("n", F.count("*").over(Window.partitionBy("lang")))
              .collect())
        for p in (1, 5, 16):
            got = sorted(
                (r.lang, r.doc_id, r.rank, r.n_group) for r in
                X.grouped_rank(df, "lang", ["s", "doc_id"],
                               num_partitions=p).collect())
            assert got == want, p
