"""asof_join / entity_rank / group_topk / duplicate_spans unit tests."""
from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from crawlspark import relops as R
from crawlspark import textops as X


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def asof_frames(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "p1"),
         (1, _ts("2024-01-01T10:05:00"), "p2"),
         (1, _ts("2024-01-01T09:00:00"), "p0"),   # before any right row
         (2, _ts("2024-01-01T12:00:00"), "p3")],  # user with no right rows
        "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30:00"), 100, 1.5),
         (1, _ts("2024-01-01T10:05:00"), 101, 2.5),   # equal-ts tie
         (3, _ts("2024-01-01T08:00:00"), 102, 3.5)],
        "user_id long, cts timestamp, rid long, rv double")
    return left, right


def test_asof_backward_inclusive(spark, asof_frames):
    left, right = asof_frames
    out = R.asof_join(left, right, on="user_id",
                      left_ts="ts", right_ts="cts").toPandas()
    got = {r.tag: (r.rid_r, r.rv_r) for r in out.itertuples()}
    assert len(out) == 4                       # every left row survives
    assert got["p1"] == (100, 1.5)             # latest at-or-before 10:00
    assert got["p2"] == (101, 2.5)             # equal ts matches (inclusive)
    import math
    assert math.isnan(got["p0"][1]) or got["p0"][1] is None   # no prior row
    assert math.isnan(got["p3"][1]) or got["p3"][1] is None   # no right rows


def test_asof_matches_pandas_merge_asof(spark):
    """Randomized cross-check against pandas merge_asof (independent
    implementation of the same semantics)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    nl, nr = 400, 300
    lp = pd.DataFrame({
        "user_id": rng.randint(0, 20, nl).astype("int64"),
        "ts": pd.to_datetime(rng.randint(0, 10**6, nl), unit="s"),
        "lid": np.arange(nl).astype("int64")})
    rp = pd.DataFrame({
        "user_id": rng.randint(0, 20, nr).astype("int64"),
        "cts": pd.to_datetime(rng.randint(0, 10**6, nr), unit="s"),
        "rid": np.arange(nr).astype("int64")})
    rp = rp.drop_duplicates(["user_id", "cts"])
    exp = pd.merge_asof(
        lp.sort_values(["ts", "lid"]), rp.sort_values("cts"),
        left_on="ts", right_on="cts", by="user_id",
        direction="backward", allow_exact_matches=True)
    out = (R.asof_join(spark.createDataFrame(lp), spark.createDataFrame(rp),
                       on="user_id", left_ts="ts", right_ts="cts")
           .toPandas())
    merged = (out[["lid", "rid_r"]].sort_values("lid").reset_index(drop=True)
              .rename(columns={"rid_r": "rid"}))
    expect = exp[["lid", "rid"]].sort_values("lid").reset_index(drop=True)
    assert merged["rid"].fillna(-1).tolist() == \
        expect["rid"].fillna(-1).tolist()


def test_asof_single_key_exchange(spark, asof_frames):
    """The whole join is ONE hash exchange on the key feeding one
    window sort — no range join, no cartesian."""
    left, right = asof_frames
    plan = R.asof_join(left, right, on="user_id", left_ts="ts",
                       right_ts="cts")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_entity_rank_matches_numpy(spark):
    """5-iteration damped PageRank on a small undirected graph equals
    the dense numpy power iteration."""
    import numpy as np

    raw = [(0, 1), (1, 2), (2, 0), (2, 3)]
    sym = sorted({(a, b) for a, b in raw} | {(b, a) for a, b in raw})
    edges = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in sym], "src string, dst string")
    got = {r.node: r.rank
           for r in R.entity_rank(edges).collect()}

    n = 4
    A = np.zeros((n, n))
    for a, b in sym:
        A[b, a] = 1.0
    deg = A.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        r = 0.15 / n + 0.85 * (A / deg) @ r
    for i in range(n):
        assert got[f"n{i}"] == pytest.approx(r[i], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_group_topk_equals_single_window(spark):
    """Two-phase top-k is exactly the single-window top-k, at every
    input layout."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({
        "g": rng.choice(list("abc"), 500),
        "score": rng.randint(0, 50, 500).astype("int64"),
        "id": np.arange(500).astype("int64")})
    order = [F.col("score").desc(), F.col("id").asc()]
    for parts in (1, 4, 13):
        df = spark.createDataFrame(pdf).repartition(parts)
        got = (X.group_topk(df, "g", order, k=7)
               .orderBy("g", "rank").toPandas())
        w = Window.partitionBy("g").orderBy(*order)
        exp = (df.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= 7).orderBy("g", "rank").toPandas())
        assert got.values.tolist() == exp.values.tolist()


def test_group_topk_local_phase_in_plan(spark):
    """Phase 1's window is keyed by (group, input partition) so the
    pre-exchange rank runs without a corpus-wide shuffle."""
    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("score"), F.col("id"))
    plan = X.group_topk(df, "g", [F.col("score").desc(), F.col("id")], 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SPARK_PARTITION_ID" in plan.upper() or \
        "spark_partition_id" in plan


def test_duplicate_spans_known_corpus(spark):
    """Hand-built corpus: doc 1 repeats doc 0's 10-token run; doc 2
    repeats its own first 8 tokens later in itself."""
    shared = "a b c d e f g h i j"                     # 10 tokens
    docs = spark.createDataFrame(
        [(0, shared + " unique0 tail0 x0 y0 z0 w0 v0"),
         (1, "lead1 lead2 lead3 " + shared + " tail1 tail2 tail3 tail4 tail5"),
         (2, "p q r s t u v w distinct1 distinct2 p q r s t u v w"),
         (3, "totally different words with no overlap at all here ok")],
        "doc_id long, text string")
    out = X.duplicate_spans(docs).orderBy("key", "span_start").collect()
    spans = [(r.key, r.span_start, r.span_end, r.n_grams) for r in out]
    # doc 1: grams starting at token 3..5 repeat doc 0's -> span [3, 12]
    assert (1, 3, 12, 3) in spans
    # doc 2: its own tokens 0..7 reappear at 10..17 -> one gram at pos 10
    assert (2, 10, 17, 1) in spans
    assert not any(k == 0 or k == 3 for k, *_ in spans)   # firsts unmarked


def test_duplicate_spans_short_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [(0, "one two three"), (1, ""), (2, None),
         (3, "a b c d e f g h"), (4, "a b c d e f g h")],
        "doc_id long, text string")
    out = X.duplicate_spans(docs).collect()
    assert [(r.key, r.span_start, r.span_end, r.n_grams)
            for r in out] == [(4, 0, 7, 1)]


# one 600 s interval_join bucket is 1000 of these units
UNIT_US = 600_000


def test_interval_join_matches_naive(spark):
    """Bucketed decomposition equals the naive theta join, including
    intervals spanning multiple 600 s buckets (up to 1.8 h long),
    overlapping intervals (point duplication), boundary semantics, and
    empty windows."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(11)
    pts = pd.DataFrame({
        "k": rng.randint(0, 5, 600).astype("int64"),
        "t": rng.randint(0, 10_000, 600).astype("int64") * UNIT_US,
        "pid": np.arange(600).astype("int64")})
    s = rng.randint(0, 9_500, 80).astype("int64")
    iv = pd.DataFrame({
        "k": rng.randint(0, 5, 80).astype("int64"),
        "s": s * UNIT_US,
        "e": (s + rng.randint(1, 3_000, 80).astype("int64")) * UNIT_US,
        "iid": np.arange(80).astype("int64")})
    assert ((iv.e - 1) // 600_000_000 - iv.s // 600_000_000).max() >= 2
    got = (R.interval_join(spark.createDataFrame(pts),
                           spark.createDataFrame(iv), on="k",
                           point_ts="t", start_col="s", end_col="e")
           .select("pid", "iid_i").toPandas())
    naive = pts.merge(iv, on="k")
    naive = naive[(naive.t >= naive.s) & (naive.t < naive.e)]
    assert sorted(map(tuple, got.values.tolist())) == \
        sorted(map(tuple, naive[["pid", "iid"]].values.tolist()))


def test_interval_join_boundary_semantics(spark):
    """start inclusive, end exclusive — points exactly at the edges of
    an interval spanning three 600 s buckets."""
    s, e = 900_000_000, 2_100_000_000    # buckets 1, 2 and 3
    pts = spark.createDataFrame([(1, s, 0), (1, e, 1), (1, e - 1, 2)],
                                "k long, t long, pid long")
    iv = spark.createDataFrame([(1, s, e, 7)],
                               "k long, s long, e long, iid long")
    got = sorted(r.pid for r in R.interval_join(
        pts, iv, on="k", point_ts="t", start_col="s", end_col="e").collect())
    assert got == [0, 2]


def test_interval_join_is_equi_join_in_plan(spark):
    """The physical plan must be a hash/sort-merge equi-join — never
    the nested-loop plan the bare containment predicate produces."""
    u = 6 * UNIT_US   # 100 of these units make one 600 s bucket
    pts = spark.range(100).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 37 % 1000 * u).alias("t"),
        F.col("id").alias("pid"))
    iv = spark.range(10).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 91 % 800 * u).alias("s"),
        ((F.col("id") * 91 % 800 + 120) * u).alias("e"),
        F.col("id").alias("iid"))
    plan = R.interval_join(pts, iv, on="k", point_ts="t", start_col="s",
                           end_col="e") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
