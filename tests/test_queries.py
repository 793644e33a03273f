"""Run every (Spark query, DuckDB oracle) pair at sf0.001 and compare
exactly — a local rehearsal of the driver's CORRECTNESS gate."""

import math

import duckdb
import pytest

from crawlspark.queries import QUERIES
from crawlspark.session import cache_scope

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(v):
    # stringify like the driver's pandas astype(str) canon: mixed
    # None/int columns (nullable join payloads) must still sort
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return str(round(v, 4))
    return str(v)


def _rows(df_rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in df_rows)


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", [k for k, v in QUERIES.items() if v[1]])
def test_oracle_pair(name, spark, duck):
    """The entry matches its oracle, and the scope that runs it
    releases every cache the entry made."""
    fn, sql = QUERIES[name]
    before = _persisted(spark)
    with cache_scope():
        sdf = fn(spark, SF)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
    assert _persisted(spark) == before
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), (len(spark_rows), len(duck_rows))
    a = _rows(spark_rows, spark_cols)
    b = _rows(duck_rows, duck_cols)
    mism = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: first mismatches {mism}"


@pytest.mark.parametrize("name", [k for k, v in QUERIES.items() if v[1] is None])
def test_rows_only(name, spark):
    fn, _ = QUERIES[name]
    before = _persisted(spark)
    with cache_scope():
        df = fn(spark, SF)
        assert df.count() > 0
        assert len(df.columns) >= 2
    assert _persisted(spark) == before


def test_media_features_survives_driver_canon(spark):
    """r5 regression (VERDICT r4 §1, third red round): the driver
    canonicalizes every catalog result in pandas with a sort_values
    over ALL columns — factorize raises `unhashable type: 'list'` on
    any array cell. The media_features catalog row must therefore emit
    only scalar, deterministically-ordered columns; this round-trips
    it through the exact pandas path the driver uses, twice, and pins
    run-to-run byte equality."""
    import pandas as pd

    fn, _ = QUERIES["media_features"]

    def canon():
        df = fn(spark, SF)
        pdf = pd.DataFrame([tuple(r) for r in df.collect()],
                           columns=df.columns)
        # the driver's _canon: sort by every column — this line IS the
        # r2/r3/r4 crash site when a cell holds a list
        return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)

    a, b = canon(), canon()
    assert len(a) == 120
    assert all(isinstance(v, str) for v in a["feature"])
    pd.testing.assert_frame_equal(a, b)


def test_corpus_filter_rules_fire(spark, tmp_path):
    """The composed admission pipeline on a crafted corpus: each rule
    rejects its target and reasons accumulate sorted."""
    from crawlspark.queries import QUERIES

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (0, base),                       # eval doc (0 % 97 == 0): keep
        (1, base + " extra tail"),       # shares 8-grams: contaminated
        (2, "one two three"),           # length only (distinct bigrams)
        (3, "spam " * 40),               # repetitive (+ length passes)
        (4, base),                       # exact dup of doc 0 + contaminated
        (5, "a perfectly fine unique document with plenty of distinct words here today"),
    ]
    import pandas as pd
    (spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])
                           .assign(lang="en", source="t",
                                   n_chars=lambda d: d.text.str.len()))
     .write.parquet(str(tmp_path / "documents.parquet")))
    got = {r.doc_id: (r.keep, r.reject_reasons)
           for r in QUERIES["corpus_filter"][0](spark, str(tmp_path)).collect()}
    assert got[0] == (True, "")
    assert got[1] == (False, "contaminated")
    assert got[2] == (False, "length")
    assert got[3] == (False, "repetitive")
    assert got[4] == (False, "contaminated,exact_dup")
    assert got[5] == (True, "")


def test_corpus_filter_null_text_dups_grouped(spark, tmp_path):
    """Review r4: NULL-text documents must group as exact dups in BOTH
    engines (a bare md5 equi-join drops NULL keys; the hash coalesces
    to '')."""
    import pandas as pd

    from crawlspark.queries import QUERIES

    ok = "plenty of distinct words in this one fine document right here ok"
    rows = [(0, ok), (5, None), (9, None)]
    (spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])
                           .assign(lang="en", source="t", n_chars=0))
     .write.parquet(str(tmp_path / "documents.parquet")))
    got = {r.doc_id: (r.keep, r.reject_reasons)
           for r in QUERIES["corpus_filter"][0](spark, str(tmp_path)).collect()}
    assert got[0] == (True, "")
    # empty docs trip length AND the 0.0 distinct-ratio rule
    assert got[5] == (False, "length,repetitive")  # the kept null twin
    assert got[9] == (False, "exact_dup,length,repetitive")  # doc 5's twin
