"""Normalization expression library (SURVEY §2.5, N1-N18).

Every reference normalizer function (internal/common/normalizer/
normalizer.go) re-expressed as a pure Column expression — JVM-side,
whole-stage-codegen'd, no Python in the hot path. The single exception
is HTML-entity unescape (N15, normalizer.go:46-51), which needs the
full HTML5 entity table and runs as a pandas UDF.

Faithfulness notes (quirks preserved on purpose):
- Go zero values: missing strings normalize to "" (not null), ints to
  0, bools to false; arrays stay null (Go nil slice).
- The "%d - %d triệu" display string divides by 1e6 with integer
  truncation BEFORE the >1000 VND conversion runs (normalizer.go:181
  vs :199-204), so small salary ints (<=1000) render "0 - 0 triệu"
  while salary_min keeps the raw value. Reference behavior, kept.
- fmt.Sscanf(exp, "%d") parses an optional leading integer and leaves
  years=0 otherwise -> regexp_extract('^(-?[0-9]+)') with 0 fallback.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .clean import udfs as clean_udfs

TAGS_ALL = ["A", "B", "C", "D", "E", "F"]


def nonempty(col: Column) -> Column:
    """'' -> null, trimmed (getString building block, normalizer.go:342-358)."""
    return F.nullif(F.trim(col), F.lit(""))


def get_string(*cols: Column) -> Column:
    """N2: first non-empty of the candidate columns, trimmed, else ''."""
    return F.coalesce(*[nonempty(c) for c in cols], F.lit(""))


def get_int(*cols: Column) -> Column:
    """N3: lenient int from the first parseable candidate, else 0.
    try_cast: an unparseable string is 'try the next key', never an
    error (ANSI cast would throw — the reference switch/ParseInt
    silently falls through, normalizer.go:361-388)."""
    return F.coalesce(*[c.try_cast("long") for c in cols], F.lit(0).cast("long"))


def get_bool(col: Column) -> Column:
    """N3: null -> false."""
    return F.coalesce(col.cast("boolean"), F.lit(False))


def get_float(*cols: Column) -> Column:
    """N3 getFloat (normalizer.go:390-411): lenient float from the
    first parseable candidate (float/int/numeric string), else 0.0.
    try_cast yields NULL for unparseable strings — exactly the
    'try next key' fall-through (strconv.ParseFloat err => continue)."""
    return F.coalesce(*[c.try_cast("double") for c in cols], F.lit(0.0))


def requirements_concat(req: Column, other: Column) -> Column:
    """N11 (normalizer.go:157-164): requirements = jobRequirement +
    '<br/>' + otherRequirement when BOTH are non-empty; otherwise the
    bare concatenation req+other (the no-separator quirk — one side
    empty means the other passes through unchanged)."""
    r = get_string(req)
    o = get_string(other)
    return (F.when((r != "") & (o != ""), F.concat(r, F.lit("<br/>"), o))
            .otherwise(F.concat(r, o)))


def parse_unix_timestamp(col: Column) -> Column:
    """N4 (normalizer.go:414-433): unix seconds in any numeric/string form."""
    return F.timestamp_seconds(col.cast("long"))


def _arr(*tags: str) -> Column:
    return F.array(*[F.lit(t) for t in tags])


def map_experience_to_tags(exp: Column) -> Column:
    """N5 (normalizer.go:438-472): Vietnamese experience text -> tag set.

    A=0, B=0-1, C=1-2, D=2-3, E=3-5, F=5+; higher profiles aggregate
    down. Branch order and outputs are order-exact vs the reference.
    """
    e = F.trim(F.coalesce(exp, F.lit("")))
    years = F.coalesce(
        F.nullif(F.regexp_extract(e, r"^(-?[0-9]+)", 1), F.lit("")).cast("int"),
        F.lit(0),
    )
    return (
        F.when((e == "") | e.contains("Không yêu cầu"), _arr(*TAGS_ALL))
        .when(e.contains("Chưa có kinh nghiệm"), _arr(*TAGS_ALL))
        .when(e.contains("Dưới 1 năm"), _arr("B", "C", "D", "E", "F"))
        .when(e.contains("Hơn 5 năm") | e.contains("Trên 5 năm"), _arr("F"))
        .when(years <= 1, _arr("C", "D", "E", "F"))
        .when(years <= 2, _arr("D", "E", "F"))
        .when(years <= 3, _arr("E", "F"))
        .when(years <= 5, _arr("E", "F"))
        .otherwise(_arr("F"))
    )


def parse_salary(salary: Column) -> Column:
    """N7 (normalizer.go:776-804): salary display string -> struct(min,max).

    "10 - 15 triệu"->(10,15); "Trên 30"->(30,0); "Dưới 5"->(0,5);
    ""/"thỏa thuận"->(0,0).
    """
    s = F.coalesce(salary, F.lit(""))
    rng_min = F.regexp_extract(s, r"(\d+)\s*-\s*(\d+)", 1)
    rng_max = F.regexp_extract(s, r"(\d+)\s*-\s*(\d+)", 2)
    above = F.regexp_extract(s, r"[Tt]rên\s*(\d+)", 1)
    below = F.regexp_extract(s, r"[Dd]ưới\s*(\d+)", 1)
    zero = F.lit(0)
    mn = (
        F.when((s == "") | F.lower(s).contains("thỏa thuận"), zero)
        .when(rng_min != "", rng_min.cast("int"))
        .when(above != "", above.cast("int"))
        .otherwise(zero)
    )
    mx = (
        F.when((s == "") | F.lower(s).contains("thỏa thuận"), zero)
        .when(rng_max != "", rng_max.cast("int"))
        .when(above != "", zero)
        .when(below != "", below.cast("int"))
        .otherwise(zero)
    )
    return F.struct(mn.alias("min"), mx.alias("max"))


_NEGOTIABLE_RE = "thương lượng|thỏa thuận|thoả thuận|cạnh tranh|hấp dẫn|negotiable|competitive"


def is_negotiable_salary(salary: Column) -> Column:
    """N8 (normalizer.go:969-986): lowercase contains any negotiable term."""
    return F.lower(F.coalesce(salary, F.lit(""))).rlike(_NEGOTIABLE_RE)


def vnd_to_millions(col: Column) -> Column:
    """N9 (normalizer.go:86-91,199-204): if v > 1000, integer-divide by 1e6."""
    return F.when(col > 1000, F.floor(col / 1000000).cast("long")).otherwise(col)


def parse_skills_string(col: Column) -> Column:
    """N12 (normalizer.go:501-542): split by first matching of
    ' - ' / ',' / ';', trim parts, drop empties; single token kept raw."""
    trimmed = lambda arr: F.filter(F.transform(arr, lambda x: F.trim(x)), lambda x: x != "")
    return (
        F.when(col.isNull(), F.lit(None).cast("array<string>"))
        .when(col == "", F.lit(None).cast("array<string>"))
        .when(col.contains(" - "), trimmed(F.split(col, " - ")))
        .when(col.contains(","), trimmed(F.split(col, ",")))
        .when(col.contains(";"), trimmed(F.split(col, ";")))
        .otherwise(F.array(col))
    )


def qualifications_default(col: Column) -> Column:
    """N17 (normalizer.go:223-225): empty -> 'Không yêu cầu'."""
    return F.coalesce(nonempty(col), F.lit("Không yêu cầu"))


def salary_display_vieclam24h(
    is_neg: Column, sal_text_jsonld: Column, sal_min: Column, sal_max: Column,
    salary_text_api: Column,
) -> Column:
    """N10 vieclam24h chain (normalizer.go:174-196). Divides by 1e6 with
    truncation inside the format (reference quirk, see module docstring)."""
    mn_m = F.floor(sal_min / 1000000).cast("long")
    mx_m = F.floor(sal_max / 1000000).cast("long")
    api = nonempty(salary_text_api)
    return (
        F.when(is_neg, F.coalesce(nonempty(sal_text_jsonld), F.lit("Thỏa thuận")))
        .when((sal_min > 0) & (sal_max > 0), F.format_string("%d - %d triệu", mn_m, mx_m))
        .when(sal_min > 0, F.format_string("Trên %d triệu", mn_m))
        .when(api.isNotNull(), api)
        .otherwise(F.lit("Thỏa thuận"))
    )


def negotiable_vieclam24h(
    is_neg: Column, sal_min: Column, sal_max: Column, salary_text_api: Column,
) -> Column:
    """IsNegotiable side of the same chain (normalizer.go:174-196)."""
    api = nonempty(salary_text_api)
    return (
        F.when(is_neg, F.lit(True))
        .when((sal_min > 0) & (sal_max > 0), F.lit(False))
        .when(sal_min > 0, F.lit(False))
        .when(api.isNotNull(), is_negotiable_salary(api))
        .otherwise(F.lit(True))
    )


def normalize_vieclam24h(df: DataFrame) -> DataFrame:
    """N1 vieclam24h path (normalizer.go:137-250) over the closed world.

    Input contract: columns
      id, source, url, crawled_at, item_title, last_updated_on,
      and the extraction struct as column ``x`` (schemas.EXTRACTED_STRUCT).
    API-only raw_data keys that do not exist in the closed world
    (contactAddress, salaryFrom/To, totalViews, ...) normalize to their
    Go zero values exactly as getString/getInt would on a missing key.
    Company falls back to the JSON-LD hiringOrganization.name (a
    documented extension — the reference's API supplies companyName).
    """
    _, _, unescape_udf = clean_udfs()
    x = F.col("x")

    sal_min_raw = get_int(x["salary_min_jsonld"])
    sal_max_raw = get_int(x["salary_max_jsonld"])
    is_neg_jsonld = get_bool(x["is_negotiable"])
    salary_text_api = F.lit(None).cast("string")  # API-only field, absent
    experience = get_string(x["experience_text"])

    out = df.select(
        F.col("id").cast("string").alias("id"),
        F.col("source"),
        F.col("url").alias("source_url"),
        unescape_udf(get_string(F.col("item_title"), x["title"])).alias("title"),
        unescape_udf(get_string(x["company"])).alias("company"),
        get_string(x["company_website"]).alias("company_website"),
        unescape_udf(F.lit("")).alias("location"),  # contactAddress is API-only
        x["location_city"].alias("location_city"),
        x["location_district"].alias("location_district"),
        get_string(x["occupational_category"]).alias("position"),
        salary_display_vieclam24h(
            is_neg_jsonld, x["salary_text_jsonld"], sal_min_raw, sal_max_raw,
            salary_text_api).alias("salary"),
        vnd_to_millions(sal_min_raw).cast("int").alias("salary_min"),
        vnd_to_millions(sal_max_raw).cast("int").alias("salary_max"),
        negotiable_vieclam24h(is_neg_jsonld, sal_min_raw, sal_max_raw,
                              salary_text_api).alias("is_negotiable"),
        get_string(x["employment_type"]).alias("work_type"),
        x["industry"].alias("industry"),
        F.lit("").alias("field"),
        experience.alias("experience"),
        map_experience_to_tags(experience).alias("experience_tags"),
        parse_skills_string(x["skills"]).alias("skills"),
        qualifications_default(x["qualifications"]).alias("qualifications"),
        get_string(x["occupational_category"]).alias("occupational_category"),
        get_string(x["employment_type"]).alias("employment_type"),
        unescape_udf(get_string(x["job_description"])).alias("description"),
        unescape_udf(requirements_concat(
            x["job_requirement"], x["other_requirement"])).alias("requirements"),
        unescape_udf(get_string(x["job_benefits"])).alias("benefits"),
        F.lit(0).alias("total_views"),
        F.lit(0).alias("total_resume_applied"),
        get_float(x["rate_response_text"]).alias("rate_response"),
        F.col("crawled_at"),
        F.lit(None).cast("timestamp").alias("expired_at"),
        F.lit(None).cast("timestamp").alias("created_at"),
        parse_unix_timestamp(F.col("last_updated_on")).alias("updated_at"),
    )
    return out
