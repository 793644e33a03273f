"""Priority frontier (SURVEY §2.7 P7): the reference's Redis FIFO list
re-expressed as explicit order columns.

The reference's ordering contract is LPUSH/BRPOP FIFO by (wave, page,
rank) (internal/queue/publisher.go:36, consumer.go:38, list page order
vieclam24h/crawler.go:73-93). Spark shuffles destroy storage order, so
order is data: ``priority DESC, wave, page, rank`` — priority constant
=> pure reference FIFO; the north_rule's priority term
(depth x host_rank x recrawl_age) refines it without breaking the
tie-break.

Scale: a wave runs no global sort. ``politeness.schedule`` groups the
pending rows by TRUE host (and delay class) and orders each group by
``order_cols()`` in a window; cross-host order is irrelevant to the
crawl contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def order_cols() -> list[Column]:
    """The crawl-order sort key: priority DESC, then reference FIFO.
    Nullable columns sort nulls last (the round-1 pandas sort's NaN
    placement, which the politeness scheduler keeps)."""
    return [F.col("priority").desc(), F.col("wave").asc_nulls_last(),
            F.col("page").asc_nulls_last(), F.col("rank").asc_nulls_last(),
            F.col("url").asc()]


def host_of(url: Column) -> Column:
    """Canonical host from url — built-in parse_url, no UDF."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def priority_expr(depth: Column, host_rank: Column,
                  recrawl_age_hours: Column | None = None) -> Column:
    """north_rule priority = f(depth, host_rank, recrawl_age):
    rank shrinks geometrically with depth, grows with staleness."""
    age = recrawl_age_hours if recrawl_age_hours is not None else F.lit(0.0)
    return (F.coalesce(host_rank, F.lit(0.5)) / (F.lit(1.0) + depth)
            * (F.lit(1.0) + age / F.lit(24.0)))


def job_detail_url(host: Column, slug: Column, job_id: Column) -> Column:
    """E10 job-URL construction (vieclam24h/crawler.go:220-221 URL
    grammar): https://{host}/{slug}-c{cat}p{province}id{id}.html —
    the engine-side builder (the generator's synth.detail_url mirrors
    it for fixtures). cat/province are id-derived in the closed world
    exactly as the fixtures derive them."""
    c = (job_id % 50 + 1).cast("string")
    p = (job_id % 63 + 1).cast("string")
    return F.concat(F.lit("https://"), host, F.lit("/"), slug,
                    F.lit("-c"), c, F.lit("p"), p,
                    F.lit("id"), job_id.cast("string"), F.lit(".html"))


def vnw_page_sequence(nb_pages: Column) -> Column:
    """S2 VietnamWorks pagination termination (vietnamworks/
    crawler.go:85-89, 101-115): pages are 0-INDEXED (payload Page: page)
    and the crawler fetches page 0 unconditionally, learns totalPages
    from meta.nbPages, then continues while page < totalPages-1 —
    visited pages = [0 .. max(nbPages-1, 0)]. Distinct from S1's
    1-indexed -trang-N- rewrite (careerviet_extractor.go:296-304)."""
    return F.sequence(F.lit(0), F.greatest(nb_pages - 1, F.lit(0)))


def crawl_sequence(frontier: DataFrame) -> DataFrame:
    """Materialize the global crawl order as an explicit ``seq`` column
    (golden_order checks, FIXTURES.md §7). Uses a global window — test/
    audit path only; the engine itself never needs a total order."""
    from pyspark.sql.window import Window

    w = Window.orderBy(*order_cols())
    return frontier.withColumn("seq", F.row_number().over(w))


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form for frontier/seen keying (the crawl-dedup
    companion to E3's canonical-link extraction; kept to the transforms
    that are safe for ANY http(s) URL):

    - scheme and host lowercased
    - default ports stripped (:80 http, :443 https)
    - fragment dropped
    - query parameters sorted (byte order), empty params dropped,
      empty query removed
    - empty path -> '/'

    Pure Column expressions (one regexp parse + array ops, no UDF);
    non-http(s) inputs pass through unchanged.
    """
    pat = r"^(?i)(https?)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"
    scheme = F.lower(F.regexp_extract(url, pat, 1))
    host_raw = F.lower(F.regexp_extract(url, pat, 2))
    strip80 = (scheme == "http") & host_raw.endswith(":80")
    strip443 = (scheme == "https") & host_raw.endswith(":443")
    host = (F.when(strip80, F.substring(host_raw, 1, F.length(host_raw) - 3))
            .when(strip443, F.substring(host_raw, 1, F.length(host_raw) - 4))
            .otherwise(host_raw))
    path = F.regexp_extract(url, pat, 3)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(url, pat, 4)
    params = F.array_sort(F.filter(F.split(q, "&"), lambda x: x != ""))
    qs = F.array_join(params, "&")
    out = F.concat(scheme, F.lit("://"), host, path,
                   F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)))
    return F.when(scheme == "", url).otherwise(out)
