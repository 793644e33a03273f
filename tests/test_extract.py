"""Extraction tests: oracle semantics + parity of the mapInArrow
stage with the oracle + the byte-identity invariant (BASELINE.json)."""

import numpy as np
from pyspark.sql import functions as F

from crawlspark import synth
from crawlspark.clean import udfs as clean_udfs
from crawlspark.extract import (extract_detail_fields, extract_jsonld_blobs,
                                extract_links, extract_pages)


def _page_html(i: int) -> str:
    return synth.gen_detail_chunk(np.array([i], dtype=np.int64)).iloc[0]["html"].decode()


class TestOracle:
    def test_canonical_and_experience(self):
        html = _page_html(1)
        f = extract_detail_fields(html)
        assert f["canonical_url"].startswith("https://") and "id1.html" in f["canonical_url"]
        assert f["experience_text"] in synth._EXPERIENCES

    def test_jobposting_fields(self):
        f = extract_detail_fields(_page_html(2))
        assert f["job_description"] and "Mô tả công việc" in f["job_description"]
        assert f["industry"] and all(s == s.strip() and s for s in f["industry"])
        assert f["occupational_category"] in synth._OCCUPATIONS
        assert f["employment_type"] in synth._EMP_TYPES
        assert f["company_website"].startswith("https://company")

    def test_location_ordered_dedup(self):
        # craft a page with duplicate regions (scraper.go:253-275)
        import json
        jp = {"@type": "JobPosting", "title": "t", "description": "d",
              "jobLocation": [
                  {"address": {"addressRegion": "Hà Nội", "addressLocality": "Cầu Giấy"}},
                  {"address": {"addressRegion": "Hà Nội", "addressLocality": "Đống Đa"}},
                  {"address": {"addressRegion": "Đà Nẵng", "addressLocality": "Cầu Giấy"}},
              ]}
        html = f'<script type="application/ld+json">{json.dumps(jp, ensure_ascii=False)}</script>'
        f = extract_detail_fields(html)
        assert f["location_city"] == ["Hà Nội", "Đà Nẵng"]
        assert f["location_district"] == ["Cầu Giấy", "Đống Đa"]

    def test_non_jobposting_skipped_but_audited(self):
        html = _page_html(5)  # h_noise%5==0 pages carry the Org blob
        found = False
        for i in range(1, 60):
            h = _page_html(i)
            blobs = extract_jsonld_blobs(h)
            f = extract_detail_fields(h)
            if f["jsonld_count"] == 2:
                found = True
                assert len(blobs) == 2
                assert f["job_description"]  # Org blob did not clobber
        assert found

    def test_salary_variants(self):
        # id%4: 0=VND, 1=small ints, 2=negotiable, 3=absent
        f0 = extract_detail_fields(_page_html(4))   # variant 0
        assert f0["salary_min_jsonld"] and f0["salary_min_jsonld"] > 1000
        f1 = extract_detail_fields(_page_html(5))   # variant 1
        assert 0 < f1["salary_min_jsonld"] <= 1000
        f2 = extract_detail_fields(_page_html(6))   # variant 2
        assert f2["salary_text_jsonld"] == "Thỏa thuận" and f2["is_negotiable"]
        f3 = extract_detail_fields(_page_html(7))   # variant 3
        assert f3["salary_min_jsonld"] is None and f3["salary_text_jsonld"] is None

    def test_invalid_json_skipped(self):
        html = '<script type="application/ld+json">{broken</script>'
        f = extract_detail_fields(html)
        assert f["jsonld_count"] == 0
        assert extract_jsonld_blobs(html) == []

    def test_links_fifo(self):
        lists = synth.gen_list_chunk(120, seed=42)
        links = extract_links(lists.iloc[0]["html"].decode())
        assert links, "list page should carry items"
        assert [l["rank"] for l in links] == list(range(1, len(links) + 1))
        assert all(l["href"].startswith("https://") for l in links)
        assert all(l["item_id"] and l["item_updated"] for l in links)


def _corpus(spark):
    """The synth corpus at both depths: list pages (depth 0) and
    detail pages (depth 1), keyed by url."""
    pages = synth.gen_pages_pandas(600, seed=42)
    df = (spark.createDataFrame(pages[["url", "html", "text"]])
          .withColumn("depth", F.col("url").rlike(r"id\d+\.html$").cast("int")))
    return pages, df


def _plain(v):
    """Row/list values from collect() as plain dicts and lists."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


class TestSparkParity:
    """extract_pages (the mapInArrow stage the wave runs) must equal
    the Python oracle row for row over the synth corpus — every field,
    both page depths, plus null/empty html."""

    def test_struct_udf_matches_oracle(self, spark):
        """Detail rows: the extracted struct, the audit blobs and the
        absent link list equal the oracle, field by field."""
        pages, df = _corpus(spark)
        html = {r.url: r.html.decode() for r in pages.itertuples()}
        got = [r for r in extract_pages(df).collect() if r.depth == 1]
        assert len(got) == (pages["text"] != "").sum() > 0
        for r in got:
            h = html[r.url]
            assert _plain(r.x) == extract_detail_fields(h), r.url
            assert r.jsonld == extract_jsonld_blobs(h), r.url
            assert r._links is None, r.url

    def test_list_rows_match_oracle(self, spark):
        pages, df = _corpus(spark)
        html = {r.url: r.html.decode() for r in pages.itertuples()}
        got = [r for r in extract_pages(df).collect() if r.depth == 0]
        assert len(got) == (pages["text"] == "").sum() > 0
        for r in got:
            assert _plain(r._links) == extract_links(html[r.url]), r.url
            assert r.x is None and r.jsonld is None, r.url
        links = [l for r in got for l in r._links]
        assert links and all(l.item_id for l in links)

    def test_byte_identity_invariant(self, spark):
        """THE BASELINE.json gate: clean_to_text(extracted description)
        must equal the frozen golden pages.text, byte for byte."""
        pages, df = _corpus(spark)
        _, clean_to_text_udf, _ = clean_udfs()
        out = (extract_pages(df).filter(F.col("depth") == 1)
               .withColumn("extracted_text",
                           clean_to_text_udf(F.col("x.job_description")))
               .select("url", "text", "extracted_text"))
        mismatches = out.filter(
            ~F.col("text").eqNullSafe(F.col("extracted_text"))).count()
        assert mismatches == 0
        assert out.count() == (pages["text"] != "").sum()

    def test_null_and_empty_html(self, spark):
        rows = [("u0", None, 0), ("u1", None, 1),
                ("u2", b"", 0), ("u3", b"", 1),
                ("u4", b"<p>no structures</p>", 1)]
        df = spark.createDataFrame(rows, "url string, html binary, depth int")
        got = {r.url: r for r in extract_pages(df).collect()}
        for url, h, d in rows:
            s = h.decode() if h is not None else None
            if d == 0:
                assert got[url]._links == extract_links(s) == []
                assert got[url].x is None and got[url].jsonld is None
            else:
                assert _plain(got[url].x) == extract_detail_fields(s)
                assert got[url].jsonld == extract_jsonld_blobs(s) == []
                assert got[url]._links is None
        assert got["u1"].x.jsonld_count == 0


class TestJvmParity:
    """What the JVM holds after the Arrow round trip must equal the
    oracle run on the driver, as whole frames: the full synth corpus at
    both depths, no row dropped, duplicated or altered in transit."""

    def test_full_corpus_equality(self, spark):
        pages, df = _corpus(spark)
        sel = ["url", "depth", "_links", "x", "jsonld"]
        got = extract_pages(df).select(*sel)
        want_rows = []
        for r in df.select("url", "html", "depth").collect():
            h = r.html.decode()
            if r.depth == 0:
                want_rows.append((r.url, 0, extract_links(h), None, None))
            else:
                want_rows.append((r.url, 1, None, extract_detail_fields(h),
                                  extract_jsonld_blobs(h)))
        want = spark.createDataFrame(want_rows, got.schema)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        assert got.count() == len(pages)
