"""Canonical table and struct schemas (schema-on-write).

The reference flows schemaless ``map[string]any`` rows through Redis
(reference: internal/domain/job.go:47-56); we invert that into fully
typed columnar schemas so Catalyst can prune/push down and Arrow can
batch. The "try keys k1,k2,k3" polymorphism of the reference's
normalizer (internal/common/normalizer/normalizer.go:342-358) becomes
``F.coalesce`` over typed columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# pages — engine input (authoritative shape: BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# frontier — the URL queue (reference: Redis list jobs:pending:*,
# internal/queue/publisher.go:30-64). Ordering is carried by explicit
# (wave, page, rank) columns, never by storage order.
# ---------------------------------------------------------------------------
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("id", T.StringType(), True),
        T.StructField("last_updated_on", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("rank", T.IntegerType(), True),
        T.StructField("priority", T.DoubleType(), True),
        T.StructField("state", T.StringType(), False),  # pending|scheduled|fetched|disallowed|deferred
        T.StructField("attempts", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# seen — URL-seen / change-detection state
# (reference: Redis key job:seen:{source}:{id} -> last_updated_on with TTL,
#  internal/common/dedup/deduplicator.go:49-89)
# salt = xxhash64(host) % N_SALTS breaks hot-domain skew in the
# membership layer (north_rule); politeness still groups by true host.
# ---------------------------------------------------------------------------
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("last_updated_on", T.StringType(), True),
        T.StructField("expires_at", T.TimestampType(), True),
        T.StructField("salt", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# lineage — per-wave, per-partition metrics (north_rule checkpoint
# lineage; reference only logs counters: vieclam24h/crawler.go:144-155)
# ---------------------------------------------------------------------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("urls_fetched", T.LongType(), False),
        T.StructField("new", T.LongType(), False),
        T.StructField("updated", T.LongType(), False),
        T.StructField("unchanged", T.LongType(), False),
        T.StructField("wall_ms", T.IntegerType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)

# ---------------------------------------------------------------------------
# extracted — output struct of the one-DOM-parse-per-page extraction stage
# (reference raw_data keys written by enrichJobData,
#  internal/module/vieclam24h/scraper.go:156-291)
# ---------------------------------------------------------------------------
EXTRACTED_STRUCT = T.StructType(
    [
        T.StructField("canonical_url", T.StringType(), True),       # scraper.go:167-172
        T.StructField("experience_text", T.StringType(), True),     # scraper.go:180-193
        T.StructField("title", T.StringType(), True),               # JSON-LD title
        T.StructField("company", T.StringType(), True),             # hiringOrganization.name
        T.StructField("job_description", T.StringType(), True),     # scraper.go:217-219
        T.StructField("job_benefits", T.StringType(), True),        # scraper.go:220-222
        T.StructField("skills", T.StringType(), True),              # scraper.go:223-225
        T.StructField("qualifications", T.StringType(), True),      # scraper.go:226-228
        T.StructField("industry", T.ArrayType(T.StringType()), True),   # scraper.go:229-239 (comma split+trim)
        T.StructField("occupational_category", T.StringType(), True),   # scraper.go:240-242
        T.StructField("employment_type", T.StringType(), True),         # scraper.go:243-245
        T.StructField("company_website", T.StringType(), True),         # scraper.go:248-250
        T.StructField("location_city", T.ArrayType(T.StringType()), True),      # scraper.go:253-275 ordered dedup
        T.StructField("location_district", T.ArrayType(T.StringType()), True),  # scraper.go:253-275
        T.StructField("salary_min_jsonld", T.LongType(), True),     # scraper.go:278-282
        T.StructField("salary_max_jsonld", T.LongType(), True),
        T.StructField("salary_currency", T.StringType(), True),
        T.StructField("salary_text_jsonld", T.StringType(), True),  # scraper.go:283-287
        T.StructField("is_negotiable", T.BooleanType(), True),
        # N11 inputs (normalizer.go:157-164) + N3 getFloat input
        # (normalizer.go:390-411) — API-only raw_data keys in the
        # reference, carried as JSON-LD extension keys in the closed
        # world; rate_response stays a STRING so getFloat's lenient
        # parse runs in the normalizer, not here
        T.StructField("job_requirement", T.StringType(), True),
        T.StructField("other_requirement", T.StringType(), True),
        T.StructField("rate_response_text", T.StringType(), True),
        T.StructField("jsonld_count", T.IntegerType(), False),
    ]
)

# Links found on a list page (reference: colly_extractor.go:165-203) —
# one row per <a class="job-link">, with its FIFO position.
LINK_STRUCT = T.StructType(
    [
        T.StructField("href", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("item_id", T.StringType(), True),       # data-id attr
        T.StructField("item_updated", T.StringType(), True),  # data-updated attr
    ]
)
