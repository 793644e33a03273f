"""E11 raw-projection: single-parse from_json compilation, per-path
form for array-index and conflicting paths, null/malformed
tolerance."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlspark.rawproj import (VIECLAM24H_API_MAPPING, _schema_from_mapping,
                                project_api_items)


@pytest.fixture()
def payloads(spark):
    rows = [
        '{"id": "1", "title": "T1", "employer_info": {"name": "Co"}, '
        '"salary_from": 5000000, "rate_response": 0.42, "total_views": "77", '
        '"tags": ["remote", "senior"]}',
        '{"id": "2", "title": "", "salary_from": "not-a-number"}',
        "{broken json",
        None,
    ]
    return spark.createDataFrame(pd.DataFrame({"raw": rows}))


MAPPING = {
    "id": ("$.id", "string"),
    "title": ("$.title", "string"),
    "companyName": ("$.employer_info.name", "string"),
    "salaryFrom": ("$.salary_from", "long"),
    "rateResponse": ("$.rate_response", "double"),
    "totalViews": ("$.total_views", "long"),
}


# an array-index path has no from_json schema: the mapping projects
# through the per-path get_json_object form
INDEXED = {**MAPPING, "firstTag": ("$.tags[0]", "string")}


class TestProjection:
    @pytest.mark.parametrize("single_parse", [True, False])
    def test_typed_pulls_and_tolerance(self, spark, payloads, single_parse):
        """Both projection forms pull the same values: MAPPING compiles
        to one from_json, INDEXED keeps the per-path form."""
        mapping = MAPPING if single_parse else INDEXED
        df = project_api_items(payloads, "raw", mapping)
        if not single_parse:
            plan = df._jdf.queryExecution().analyzed().toString()
            assert "get_json_object" in plan
            assert "from_json" not in plan
        out = df.collect()
        r1 = next(r for r in out if r["id"] == "1")
        assert r1["companyName"] == "Co"
        assert r1["salaryFrom"] == 5000000
        assert r1["rateResponse"] == 0.42
        assert r1["totalViews"] == 77  # numeric string -> long (lenient)
        r2 = next(r for r in out if r["id"] == "2")
        assert r2["salaryFrom"] is None      # malformed -> NULL (getInt -> 0)
        assert r2["companyName"] is None     # absent -> NULL
        # broken json + NULL payload -> all-NULL rows, never an error
        assert sum(1 for r in out if r["id"] is None) == 2
        if not single_parse:
            assert r1["firstTag"] == "remote"
            assert r2["firstTag"] is None

    def test_single_parse_plan_has_one_from_json(self, spark, payloads):
        # analyzed plan (the optimizer constant-folds LocalRelations):
        # ONE from_json, zero per-path get_json_object parses
        df = project_api_items(payloads, "raw", MAPPING)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert plan.count("from_json") == 1
        assert "get_json_object" not in plan

    def test_conflicting_paths_fall_back(self, spark, payloads):
        bad = {"a": ("$.employer_info", "string"),
               "b": ("$.employer_info.name", "string")}
        with pytest.raises(ValueError):
            _schema_from_mapping(bad)
        out = project_api_items(payloads, "raw", bad)  # falls back, no crash
        r = out.collect()
        assert len(r) == 4

    def test_vieclam24h_mapping_shape(self, spark):
        sch = _schema_from_mapping(VIECLAM24H_API_MAPPING)
        assert "employer_info" in sch.fieldNames()


class TestDualShapeBodies:
    """S6 (api_extractor.go:88-146): bare-array vs {data:[...]} bodies."""

    BODIES = [
        ('[{"id": 1, "title": "A"}, {"id": 2, "title": "B"}]',),
        ('{"data": [{"id": 3, "title": "C"}], "nbPages": 7}',),
        ('{"meta": "no data key"}',),
        ('not json at all',),
    ]

    def test_both_shapes_yield_items(self, spark):
        from crawlspark.rawproj import explode_api_items

        df = spark.createDataFrame(self.BODIES, "body string")
        out = explode_api_items(df, "body").collect()
        assert sorted(r.item_id for r in out) == ["1", "2", "3"]

    def test_malformed_and_shapeless_skip(self, spark):
        from crawlspark.rawproj import explode_api_items

        df = spark.createDataFrame(self.BODIES[2:], "body string")
        assert explode_api_items(df, "body").count() == 0

    def test_items_feed_projection(self, spark):
        from crawlspark.rawproj import explode_api_items, project_api_items

        df = spark.createDataFrame(self.BODIES, "body string")
        items = explode_api_items(df, "body")
        proj = project_api_items(
            items, "item_json",
            {"id": ("$.id", "long"), "title": ("$.title", "string")})
        rows = {r.id: r.title for r in proj.collect()}
        assert rows == {1: "A", 2: "B", 3: "C"}
