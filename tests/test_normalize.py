"""Normalizer tests: every reference branch table, order-exact."""

import pandas as pd
from pyspark.sql import functions as F

from crawlspark import normalize as N


def _one(spark, col, **data):
    df = spark.createDataFrame(pd.DataFrame([data]))
    return df.select(col.alias("r")).first()["r"]


class TestExperienceTags:
    # full branch table of normalizer.go:438-472
    TABLE = [
        ("", ["A", "B", "C", "D", "E", "F"]),
        ("Không yêu cầu", ["A", "B", "C", "D", "E", "F"]),
        ("Chưa có kinh nghiệm", ["A", "B", "C", "D", "E", "F"]),
        ("Dưới 1 năm", ["B", "C", "D", "E", "F"]),
        ("Hơn 5 năm", ["F"]),
        ("Trên 5 năm", ["F"]),
        ("1 năm", ["C", "D", "E", "F"]),
        ("2 năm", ["D", "E", "F"]),
        ("3 năm", ["E", "F"]),
        ("4 năm", ["E", "F"]),
        ("5 năm", ["E", "F"]),
        ("6 năm", ["F"]),
        ("10 năm", ["F"]),
        # Sscanf finds no leading int -> years=0 -> <=1 branch
        ("nhiều năm", ["C", "D", "E", "F"]),
        ("  2 năm  ", ["D", "E", "F"]),  # TrimSpace first (normalizer.go:439)
    ]

    def test_table(self, spark):
        exps = pd.DataFrame({"e": [t[0] for t in self.TABLE]})
        df = spark.createDataFrame(exps)
        got = df.select(N.map_experience_to_tags(F.col("e")).alias("t")).collect()
        for (e, want), row in zip(self.TABLE, got):
            assert list(row["t"]) == want, e

    def test_null(self, spark):
        df = spark.createDataFrame([(None,)], "e string")
        got = df.select(N.map_experience_to_tags(F.col("e")).alias("t")).first()
        assert list(got["t"]) == ["A", "B", "C", "D", "E", "F"]


class TestParseSalary:
    TABLE = [
        ("10 - 15 triệu", 10, 15),
        ("Trên 30 triệu", 30, 0),
        ("trên 7", 7, 0),
        ("Dưới 5 triệu", 0, 5),
        ("dưới 12", 0, 12),
        ("Thỏa thuận", 0, 0),
        ("Lương thỏa thuận nhé", 0, 0),
        ("", 0, 0),
        ("không rõ", 0, 0),
    ]

    def test_table(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"s": [t[0] for t in self.TABLE]}))
        got = df.select(N.parse_salary(F.col("s")).alias("r")).collect()
        for (s, mn, mx), row in zip(self.TABLE, got):
            assert (row["r"]["min"], row["r"]["max"]) == (mn, mx), s


class TestNegotiable:
    def test_terms(self, spark):
        yes = ["Thương lượng", "THỎA THUẬN", "thoả thuận", "Cạnh tranh",
               "hấp dẫn lắm", "Negotiable", "Competitive salary"]
        no = ["10 - 15 triệu", "", "Trên 30"]
        df = spark.createDataFrame(pd.DataFrame({"s": yes + no}))
        got = [r["r"] for r in df.select(N.is_negotiable_salary(F.col("s")).alias("r")).collect()]
        assert got == [True] * len(yes) + [False] * len(no)


class TestVndConversion:
    def test_edges(self, spark):
        # normalizer.go:199-204 — strict > 1000, integer division
        table = [(0, 0), (999, 999), (1000, 1000), (1001, 0),
                 (7_000_000, 7), (7_900_000, 7), (25_500_000, 25)]
        df = spark.createDataFrame(pd.DataFrame({"v": [t[0] for t in table]}))
        got = [r["r"] for r in df.select(N.vnd_to_millions(F.col("v")).alias("r")).collect()]
        assert got == [t[1] for t in table]


class TestSkillsSplit:
    TABLE = [
        ("Giao tiếp - Excel - Python", ["Giao tiếp", "Excel", "Python"]),
        ("a, b , c", ["a", "b", "c"]),
        ("x;y; z", ["x", "y", "z"]),
        ("solo", ["solo"]),
        (" solo-ish ", [" solo-ish "]),  # single token kept raw (normalizer.go:530)
        ("a - b, c", ["a", "b, c"]),     # ' - ' wins over ','
        ("a,,b", ["a", "b"]),            # empties dropped
    ]

    def test_table(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"s": [t[0] for t in self.TABLE]}))
        got = df.select(N.parse_skills_string(F.col("s")).alias("r")).collect()
        for (s, want), row in zip(self.TABLE, got):
            assert list(row["r"]) == want, s

    def test_null_and_empty(self, spark):
        df = spark.createDataFrame([(None,), ("",)], "s string")
        got = [r["r"] for r in df.select(N.parse_skills_string(F.col("s")).alias("r")).collect()]
        assert got == [None, None]


class TestSalaryDisplayVieclam24h:
    def test_chain(self, spark):
        # (is_neg, text_jsonld, min, max, api) -> (salary, negotiable)
        cases = [
            (True, "Thỏa thuận", 0, 0, None, "Thỏa thuận", True),
            (True, None, 0, 0, None, "Thỏa thuận", True),
            (False, None, 7_000_000, 12_000_000, None, "7 - 12 triệu", False),
            (False, None, 10, 20, None, "0 - 0 triệu", False),  # reference quirk
            (False, None, 30_000_000, 0, None, "Trên 30 triệu", False),
            (False, None, 0, 0, "Lương hấp dẫn", "Lương hấp dẫn", True),
            (False, None, 0, 0, "9 triệu", "9 triệu", False),
            (False, None, 0, 0, None, "Thỏa thuận", True),
        ]
        pdf = pd.DataFrame(cases, columns=["neg", "txt", "mn", "mx", "api", "ws", "wn"])
        df = spark.createDataFrame(pdf)
        got = df.select(
            N.salary_display_vieclam24h(F.col("neg"), F.col("txt"), F.col("mn"),
                                        F.col("mx"), F.col("api")).alias("s"),
            N.negotiable_vieclam24h(F.col("neg"), F.col("mn"), F.col("mx"),
                                    F.col("api")).alias("n"),
            "ws", "wn").collect()
        for row in got:
            assert row["s"] == row["ws"], row
            assert row["n"] == row["wn"], row


class TestHelpers:
    def test_get_string_coalesce(self, spark):
        df = spark.createDataFrame([("", "  x  ", "y")], "a string, b string, c string")
        assert _one(spark, N.get_string(F.col("a"), F.col("b"), F.col("c")),
                    a="", b="  x  ", c="y") == "x"

    def test_qualifications_default(self, spark):
        df = spark.createDataFrame([("",), ("Đại học",), (None,)], "q string")
        got = [r["r"] for r in df.select(N.qualifications_default(F.col("q")).alias("r")).collect()]
        assert got == ["Không yêu cầu", "Đại học", "Không yêu cầu"]

    def test_parse_unix_timestamp(self, spark):
        df = spark.createDataFrame([("1735689600",)], "t string")
        got = df.select(N.parse_unix_timestamp(F.col("t")).alias("r")).first()["r"]
        assert got.year == 2025 and got.month == 1 and got.day == 1


class TestEndToEndNormalize:
    def test_vieclam24h_over_corpus(self, spark):
        """extract -> normalize over the synth corpus; checks the joined
        pipeline produces the canonical job schema with sane values."""
        from crawlspark import synth
        from crawlspark.extract import extract_pages

        pages = synth.gen_pages_pandas(200, seed=42)
        details = pages[pages["text"] != ""]
        df = spark.createDataFrame(details[["url", "warc_ts", "html"]])
        staged = (extract_pages(df.withColumn("depth", F.lit(1)))
                    .withColumn("id", F.regexp_extract("url", r"id(\d+)\.html$", 1))
                    .withColumn("source", F.lit("vieclam24h"))
                    .withColumn("item_title", F.col("x.title"))
                    .withColumn("last_updated_on", F.lit("1735689600"))
                    .withColumn("crawled_at", F.col("warc_ts")))
        jobs = N.normalize_vieclam24h(staged)
        pdf = jobs.toPandas()
        assert len(pdf) == len(details)
        assert pdf["id"].notna().all() and (pdf["id"] != "").all()
        assert pdf["title"].str.len().gt(0).all()
        assert pdf["qualifications"].str.len().gt(0).all()
        assert pdf["experience_tags"].map(len).gt(0).all()
        # salary_min stored in millions or raw small ints, never VND scale
        assert (pdf["salary_min"].fillna(0) <= 1000).all()
        # negotiable variant (id%4==2) => salary text from JSON-LD
        neg = pdf[pdf["id"].astype(int) % 4 == 2]
        assert (neg["salary"] == "Thỏa thuận").all() and neg["is_negotiable"].all()
        # VND variant (id%4==0) => "X - Y triệu" display
        vnd = pdf[pdf["id"].astype(int) % 4 == 0]
        assert vnd["salary"].str.contains("triệu").all()
        # unescape applied: no raw entities left in description
        assert ~pdf["description"].str.contains("&amp;").any()
        assert pdf["description"].str.contains("&").any()
