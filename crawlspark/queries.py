"""Query catalog: every SURVEY §2 operator that is SQL-expressible gets
a (Spark callable, DuckDB oracle SQL) pair over the shared testdata
tables; pUDF-only ops get rows-only entries (oracle omitted).

Contract (driver): each callable takes (spark, sf_dir) and returns a
DataFrame; column names AND types must match the oracle exactly (the
compare sorts columns by name and value-hashes). Floats are rounded,
counts cast to BIGINT, timestamps compared as epoch seconds.

Mapping notes — the crawl-engine ops run against TPC-H-ish tables by
constructing their inputs from deterministic columns (e.g. the D1
three-way classifier treats orders-before-cutoff as the seen set);
semantics cited per query. Training-data ops run on documents /
embeddings natively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dedup as D
from . import normalize as N
from . import relops as R
from . import textops as X


def _t(spark: SparkSession, sf_dir: str, name: str,
       wide: bool = False) -> DataFrame:
    """Table loader with small-input fan-out. A table under one
    maxPartitionBytes arrives as a SINGLE input split, so every
    downstream stage (shingle explodes, md5 signatures) runs in ONE
    task — measured: the sf0.1 doc queries were single-threaded on a
    32-core box, and the explode alone cost 3.5 s of doc_lsh_pairs'
    6.6 s. A round-robin repartition of a sub-128MB table costs ~ms
    and unlocks full parallelism; at 100 TB inputs carry thousands of
    splits and this branch never fires (filters still push through a
    Repartition node to the scan — PushPredicateThroughNonJoin).

    Fan-out defaults to the text/embedding tables: their pipelines
    are md5/count/per-row-array ops whose results are independent of
    row placement. The TPC-H-family queries SUM doubles, where a
    32-way partial order can flip a round(x, 2) by one ulp against
    the oracle (observed on pricing_summary) — and they are scan-
    bound, not compute-bound, so fan-out buys them nothing. Queries
    whose per-row work is the cost (regex parses, JSON extraction,
    URL canonicalization) and whose outputs carry no partial-order-
    sensitive float aggregate opt in with wide=True (r6)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name not in ("documents", "embeddings") and not wide:
        return df
    try:
        sz = (os.path.getsize(path) if os.path.isfile(path) else
              sum(f.stat().st_size for f in os.scandir(path)
                  if f.is_file() and not f.name.startswith(("_", "."))))
    except OSError:
        return df
    split_mb = 128 << 20
    para = spark.sparkContext.defaultParallelism
    if sz and sz // split_mb + 1 < para:
        df = df.repartition(para)
    return df


# ===========================================================================
# Analytics over the output model (SURVEY §2.8-2.9)
# ===========================================================================
def q_pricing_summary(spark, sf):
    """A1-style grouped aggregation (TPC-H Q1 shape) on lineitem."""
    li = _t(spark, sf, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").cast("long").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_top_orders(spark, sf):
    """Join + group + top-k (TPC-H Q3 shape): small dims broadcast."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10))


SQL_TOP_ORDERS = """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_nation_revenue(spark, sf):
    """Multi-way star join (Q5 shape): region->nation->customer->orders->lineitem."""
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").cast("long").alias("n_items"))
            .orderBy("n_name"))


SQL_NATION_REVENUE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name ORDER BY n_name
"""


def q_events_hourly(spark, sf):
    """Tumbling-window aggregation over the events stream table
    (batch view of the Structured-Streaming window op)."""
    e = _t(spark, sf, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.unix_timestamp(F.col("w.start")).cast("long").alias("hour_epoch"),
                    "event_type", "n", "sum_value")
            .orderBy("hour_epoch", "event_type"))


SQL_EVENTS_HOURLY = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
       count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_sessionize(spark, sf):
    """Gap-based sessionization over the events stream table (the
    batch view of the streaming session-window op): a >30-min gap per
    user starts a new session; output = per-session event count, span
    and value sum. Pure window arithmetic — lag + cumulative sum of
    gap markers — identical in both engines."""
    from pyspark.sql.window import Window

    e = _t(spark, sf, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microseconds on both engines: unix_timestamp/epoch would
    # truncate/keep sub-second fractions differently at boundaries
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = (us - F.lag(us).over(wu)) > 1800 * 1_000_000
    sess = (e.withColumn("_new", F.coalesce(gap, F.lit(True)).cast("long"))
            .withColumn("session_no", F.sum("_new").over(
                wu.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 (F.max(us) - F.min(us)).alias("span_us"))
            .orderBy("user_id", "session_no"))


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id, session_no::BIGINT AS session_no,
       count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value,
       (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS span_us
FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no
"""


def q_top_users(spark, sf):
    """Window-function ranking: top-20 users by event count."""
    from pyspark.sql.window import Window

    e = _t(spark, sf, "events")
    counts = e.groupBy("user_id").agg(F.count("*").cast("long").alias("n_events"))
    # top-k first (TakeOrderedAndProject — never a single-partition
    # window over the full user cardinality), THEN rank the k rows:
    # the sort key is total, so ranks in the limited frame are the
    # global ranks.
    top = counts.orderBy(F.col("n_events").desc(), F.col("user_id")).limit(20)
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (top.withColumn("rk", F.row_number().over(w).cast("long"))
            .orderBy("rk"))


SQL_TOP_USERS = """
SELECT user_id, n_events, rk FROM (
  SELECT user_id, count(*)::BIGINT AS n_events,
         row_number() OVER (ORDER BY count(*) DESC, user_id)::BIGINT AS rk
  FROM events GROUP BY user_id) WHERE rk <= 20 ORDER BY rk
"""


# ===========================================================================
# Crawl-engine operators mapped onto testdata (SURVEY §2.3, §2.5, §2.7)
# ===========================================================================
_CUTOFF = "1997-01-01"
_NOW = "1997-06-01 00:00:00"


def q_dedup_three_way(spark, sf):
    """D1 three-way classifier (deduplicator.go:49-67) — seen set =
    orders before the cutoff valued by o_orderpriority; candidates =
    all orders, value bumped for expensive ones => NEW / UPDATED /
    UNCHANGED, exercised through dedup.classify (the engine operator).
    NULL coverage: stored value NULL for key%11==0 (still *seen* — a
    presence marker, not a missing key), candidate value NULL for
    key%13==0; compare is null-safe (Redis GET semantics,
    deduplicator.go:60-66)."""
    o = _t(spark, sf, "orders")
    seen = (o.filter(F.col("o_orderdate") < _CUTOFF)
            .select(F.lit("tpch").alias("source"),
                    F.col("o_orderkey").cast("string").alias("id"),
                    F.lit(None).cast("long").alias("url_hash"),
                    F.when(F.col("o_orderkey") % 11 == 0, F.lit(None))
                    .otherwise(F.col("o_orderpriority")).alias("last_updated_on"),
                    F.lit(None).cast("timestamp").alias("expires_at"),
                    F.lit(0).alias("salt")))
    cands = o.select(
        F.lit("tpch").alias("source"),
        F.col("o_orderkey").cast("string").alias("id"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None))
        .when(F.col("o_totalprice") > 150000, F.lit("BUMPED"))
        .otherwise(F.col("o_orderpriority")).alias("last_updated_on"))
    out = D.classify(cands, seen)
    return (out.select(F.col("id").cast("long").alias("o_orderkey"), "status")
            .orderBy("o_orderkey"))


SQL_DEDUP_THREE_WAY = f"""
WITH seen AS (
  SELECT o_orderkey, TRUE AS present,
         CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END AS val
  FROM orders WHERE o_orderdate < TIMESTAMP '{_CUTOFF}'
), cand AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              WHEN o_totalprice > 150000 THEN 'BUMPED'
              ELSE o_orderpriority END AS val
  FROM orders
)
SELECT c.o_orderkey,
       CASE WHEN s.present IS NULL THEN 'NEW'
            WHEN s.val IS DISTINCT FROM c.val THEN 'UPDATED'
            ELSE 'UNCHANGED' END AS status
FROM cand c LEFT JOIN seen s USING (o_orderkey) ORDER BY c.o_orderkey
"""


def q_seen_ttl(spark, sf):
    """D2 TTL arithmetic (deduplicator.go:72-89) over order dates:
    future expiry -> expiry+1d; past -> now+30d+1d."""
    o = _t(spark, sf, "orders")
    now = F.to_timestamp(F.lit(_NOW))
    return (o.select(F.col("o_orderkey"),
                     F.unix_timestamp(
                         D.expires_at_expr(F.col("o_orderdate"), now))
                     .cast("long").alias("expires_epoch"))
            .orderBy("o_orderkey"))


SQL_SEEN_TTL = f"""
SELECT o_orderkey,
       epoch(CASE WHEN o_orderdate > TIMESTAMP '{_NOW}'
                  THEN o_orderdate ELSE TIMESTAMP '{_NOW}' + INTERVAL 30 DAY END
             + INTERVAL 1 DAY)::BIGINT AS expires_epoch
FROM orders ORDER BY o_orderkey
"""


def q_frontier_order(spark, sf):
    """P7 priority-frontier global sequence over events-as-frontier:
    priority DESC then FIFO tie-break — the crawl-order contract."""
    from pyspark.sql.window import Window

    e = _t(spark, sf, "events")
    # top-1000 via TakeOrderedAndProject, then rank the bounded frame:
    # (value, ts, event_id) is a total order, so the 1000 ranks are
    # the global ranks — the old full-table row_number single-
    # partitioned the whole frontier.
    key = [F.col("value").desc(), F.col("ts").asc(), F.col("event_id").asc()]
    top = e.select("event_id", "value", "ts").orderBy(*key).limit(1000)
    w = Window.orderBy(*key)
    return (top.select("event_id",
                       F.row_number().over(w).cast("long").alias("seq"))
            .orderBy("seq"))


SQL_FRONTIER_ORDER = """
SELECT event_id,
       row_number() OVER (ORDER BY value DESC, ts ASC, event_id ASC)::BIGINT AS seq
FROM events ORDER BY seq LIMIT 1000
"""


def q_politeness_schedule(spark, sf):
    """P1 per-host token budget through the REAL grouped-map scheduler
    (politeness.schedule): events as frontier rows (host=user_id),
    constant 3000ms delay, 100 tokens/wave; oracle = window functions."""
    from . import politeness

    e = _t(spark, sf, "events")
    frontier = e.select(
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("url"),
        F.col("user_id").cast("string").alias("host"),
        F.lit("ev").alias("source"),
        F.col("event_id").cast("string").alias("id"),
        F.lit(None).cast("string").alias("last_updated_on"),
        F.lit(1).alias("depth"),
        F.lit(0).alias("wave"),
        F.lit(0).alias("page"),
        F.lit(0).alias("rank"),
        F.col("value").cast("double").alias("priority"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("attempts"),
    )
    hosts = frontier.select("host").distinct()
    robots = hosts.select(
        "host", F.lit(3000).alias("crawl_delay_ms"),
        F.lit(None).cast("array<string>").alias("disallow_prefixes"),
        F.lit(100).alias("tokens_per_wave"))
    sched = politeness.schedule(frontier, robots, "2026-01-01 00:00:00")
    return (sched.select(F.col("id").cast("long").alias("event_id"),
                         F.col("slot").cast("long").alias("slot"),
                         F.unix_timestamp("scheduled_ts").cast("long").alias("sched_epoch"),
                         "state")
            .orderBy("event_id"))


SQL_POLITENESS = """
WITH ranked AS (
  SELECT event_id,
         (row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, lpad(event_id::VARCHAR, 12, '0') ASC) - 1)::BIGINT AS slot
  FROM events
)
SELECT event_id, slot,
       (epoch(TIMESTAMP '2026-01-01 00:00:00') + (slot * 3000) // 1000)::BIGINT AS sched_epoch,
       CASE WHEN slot >= 100 THEN 'deferred' ELSE 'scheduled' END AS state
FROM ranked ORDER BY event_id
"""


def q_politeness_two_class(spark, sf):
    """P2 per-class delay budgets (scraper.go:29-32 vs crawler.go:40-42):
    list rows (depth=0) get 3000ms/100 tokens, detail rows (depth=1)
    get 5000ms/50 tokens, each class its own per-host slot sequence —
    through the REAL scheduler; oracle = two-key window functions."""
    from . import politeness

    e = _t(spark, sf, "events")
    frontier = e.select(
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("url"),
        F.col("user_id").cast("string").alias("host"),
        F.lit("ev").alias("source"),
        F.col("event_id").cast("string").alias("id"),
        F.lit(None).cast("string").alias("last_updated_on"),
        (F.col("event_id") % 2).cast("int").alias("depth"),
        F.lit(0).alias("wave"),
        F.lit(0).alias("page"),
        F.lit(0).alias("rank"),
        F.col("value").cast("double").alias("priority"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("attempts"),
    )
    robots = frontier.select("host").distinct().select(
        "host", F.lit(3000).alias("crawl_delay_ms"),
        F.lit(None).cast("array<string>").alias("disallow_prefixes"),
        F.lit(100).alias("tokens_per_wave"),
        F.lit(5000).alias("detail_delay_ms"),
        F.lit(50).alias("detail_tokens_per_wave"))
    sched = politeness.schedule(frontier, robots, "2026-01-01 00:00:00")
    return (sched.select(F.col("id").cast("long").alias("event_id"),
                         F.col("slot").cast("long").alias("slot"),
                         F.unix_timestamp("scheduled_ts").cast("long").alias("sched_epoch"),
                         "state")
            .orderBy("event_id"))


SQL_POLITENESS_TWO_CLASS = """
WITH ranked AS (
  SELECT event_id, event_id % 2 AS depth,
         (row_number() OVER (PARTITION BY user_id, event_id % 2
             ORDER BY value DESC, lpad(event_id::VARCHAR, 12, '0') ASC) - 1)::BIGINT AS slot
  FROM events
)
SELECT event_id, slot,
       (epoch(TIMESTAMP '2026-01-01 00:00:00')
        + (slot * CASE WHEN depth = 1 THEN 5000 ELSE 3000 END) // 1000)::BIGINT AS sched_epoch,
       CASE WHEN depth = 1 AND slot >= 50 THEN 'deferred'
            WHEN depth = 0 AND slot >= 100 THEN 'deferred'
            ELSE 'scheduled' END AS state
FROM ranked ORDER BY event_id
"""


def q_job_id_regex(spark, sf):
    """E7 job-id-from-url regex (careerviet_extractor.go:306-315) over
    urls synthesized from orders."""
    o = _t(spark, sf, "orders", wide=True)
    url = F.concat(F.lit("https://viec.example.vn/tin."),
                   F.upper(F.conv(F.col("o_orderkey").cast("string"), 10, 16)),
                   F.lit(".html"))
    return (o.select("o_orderkey",
                     F.regexp_extract(url, r"\.([A-Z0-9]+)\.html$", 1).alias("job_id"))
            .orderBy("o_orderkey"))


SQL_JOB_ID_REGEX = """
SELECT o_orderkey,
       regexp_extract('https://viec.example.vn/tin.' || upper(to_hex(o_orderkey)) || '.html',
                      '\\.([A-Z0-9]+)\\.html$', 1) AS job_id
FROM orders ORDER BY o_orderkey
"""


def q_pagination_rewrite(spark, sf):
    """E8 pagination-URL rewrite (careerviet_extractor.go:296-304):
    page N>1 gets -trang-N- infix."""
    o = _t(spark, sf, "orders", wide=True)
    base = F.concat(F.lit("https://x.vn/viec-lam-"),
                    F.col("o_custkey").cast("string"), F.lit("-vi.html"))
    page = (F.col("o_orderkey") % 5 + 1).cast("int")
    rewritten = F.when(page > 1, F.regexp_replace(
        base, r"-vi\.html$",
        F.concat(F.lit("-trang-"), page.cast("string"), F.lit("-vi.html")))
    ).otherwise(base)
    return (o.select("o_orderkey", rewritten.alias("page_url"))
            .orderBy("o_orderkey"))


SQL_PAGINATION = """
SELECT o_orderkey,
       CASE WHEN (o_orderkey % 5 + 1) > 1
            THEN regexp_replace('https://x.vn/viec-lam-' || o_custkey || '-vi.html',
                                '-vi\\.html$', '-trang-' || (o_orderkey % 5 + 1) || '-vi.html')
            ELSE 'https://x.vn/viec-lam-' || o_custkey || '-vi.html' END AS page_url
FROM orders ORDER BY o_orderkey
"""


def q_experience_tags(spark, sf):
    """N5 experience->tags table (normalizer.go:438-472) driven by
    p_size-derived experience strings; tags joined for stable hashing."""
    p = _t(spark, sf, "part")
    exp = (F.when(F.col("p_size") % 8 == 0, "Không yêu cầu")
           .when(F.col("p_size") % 8 == 1, "Chưa có kinh nghiệm")
           .when(F.col("p_size") % 8 == 2, "Dưới 1 năm")
           .when(F.col("p_size") % 8 == 3, "1 năm")
           .when(F.col("p_size") % 8 == 4, "2 năm")
           .when(F.col("p_size") % 8 == 5, "3 năm")
           .when(F.col("p_size") % 8 == 6, "5 năm")
           .otherwise("Hơn 5 năm"))
    return (p.select("p_partkey",
                     F.concat_ws(",", N.map_experience_to_tags(exp)).alias("tags"))
            .orderBy("p_partkey"))


SQL_EXPERIENCE_TAGS = """
SELECT p_partkey,
       CASE p_size % 8
         WHEN 0 THEN 'A,B,C,D,E,F' WHEN 1 THEN 'A,B,C,D,E,F'
         WHEN 2 THEN 'B,C,D,E,F'   WHEN 3 THEN 'C,D,E,F'
         WHEN 4 THEN 'D,E,F'       WHEN 5 THEN 'E,F'
         WHEN 6 THEN 'E,F'         ELSE 'F' END AS tags
FROM part ORDER BY p_partkey
"""


def q_salary_parse(spark, sf):
    """N7 salary-string regex parse (normalizer.go:776-804) over strings
    synthesized from order prices."""
    o = _t(spark, sf, "orders", wide=True)
    a = (F.col("o_totalprice") / 10000).cast("int")
    s = (F.when(F.col("o_orderkey") % 4 == 0,
                F.format_string("%d - %d triệu", a, a + 5))
         .when(F.col("o_orderkey") % 4 == 1, F.format_string("Trên %d triệu", a))
         .when(F.col("o_orderkey") % 4 == 2, F.format_string("Dưới %d triệu", a))
         .otherwise(F.lit("Thỏa thuận")))
    parsed = N.parse_salary(s)
    return (o.select("o_orderkey",
                     parsed["min"].cast("long").alias("salary_min"),
                     parsed["max"].cast("long").alias("salary_max"),
                     N.is_negotiable_salary(s).alias("negotiable"))
            .orderBy("o_orderkey"))


SQL_SALARY_PARSE = """
WITH s AS (
  -- floor, not ::INT: DuckDB's double->int cast rounds, Spark's truncates
  SELECT o_orderkey, floor(o_totalprice / 10000)::INT AS a, o_orderkey % 4 AS v
  FROM orders
)
SELECT o_orderkey,
       (CASE WHEN v = 0 THEN a WHEN v = 1 THEN a ELSE 0 END)::BIGINT AS salary_min,
       (CASE WHEN v = 0 THEN a + 5 WHEN v = 2 THEN a ELSE 0 END)::BIGINT AS salary_max,
       v = 3 AS negotiable
FROM s ORDER BY o_orderkey
"""


def q_vnd_millions(spark, sf):
    """N9 VND->millions conversion (normalizer.go:199-204): strict >1000,
    integer truncation."""
    o = _t(spark, sf, "orders")
    v = (F.col("o_totalprice") * 50).cast("long")
    return (o.select("o_orderkey",
                     N.vnd_to_millions(v).cast("long").alias("millions"))
            .orderBy("o_orderkey"))


SQL_VND_MILLIONS = """
SELECT o_orderkey,
       (CASE WHEN floor(o_totalprice * 50)::BIGINT > 1000
             THEN floor(o_totalprice * 50)::BIGINT // 1000000
             ELSE floor(o_totalprice * 50)::BIGINT END)::BIGINT AS millions
FROM orders ORDER BY o_orderkey
"""


def q_string_coalesce(spark, sf):
    """N2 getString multi-key coalesce (normalizer.go:342-358): first
    non-empty of candidate columns, trimmed."""
    c = _t(spark, sf, "customer")
    a = F.when(F.col("c_custkey") % 3 == 0, F.lit("")).otherwise(F.col("c_name"))
    b = F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))
    return (c.select("c_custkey", N.get_string(a, b).alias("label"))
            .orderBy("c_custkey"))


SQL_STRING_COALESCE = """
SELECT c_custkey,
       coalesce(nullif(trim(CASE WHEN c_custkey % 3 = 0 THEN '' ELSE c_name END), ''),
                nullif(trim('  ' || c_mktsegment || '  '), ''), '') AS label
FROM customer ORDER BY c_custkey
"""


def q_hybrid_union(spark, sf):
    """S4 hybrid HTML+API union (careerviet_extractor.go:151-171):
    two branch scans merged with unionByName, per-branch tolerance."""
    o = _t(spark, sf, "orders")
    html_branch = (o.filter(F.col("o_orderstatus") == "O")
                   .select("o_orderkey", F.lit("html").alias("via")))
    api_branch = (o.filter(F.col("o_orderstatus") == "F")
                  .select("o_orderkey", F.lit("api").alias("via")))
    return (html_branch.unionByName(api_branch)
            .groupBy("via").agg(F.count("*").cast("long").alias("n"))
            .orderBy("via"))


SQL_HYBRID_UNION = """
SELECT via, count(*)::BIGINT AS n FROM (
  SELECT o_orderkey, 'html' AS via FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT o_orderkey, 'api' AS via FROM orders WHERE o_orderstatus = 'F'
) GROUP BY via ORDER BY via
"""


def q_paginate(spark, sf):
    """S1 paginated list scan mapping: rank within host -> (page, rank)
    at 30/page (types.go:20)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    pos = F.row_number().over(w) - 1
    return (o.select("o_orderkey", "o_custkey",
                     (F.floor(pos / 30) + 1).cast("long").alias("page"),
                     (pos % 30 + 1).cast("long").alias("rank"))
            .orderBy("o_orderkey"))


SQL_PAGINATE = """
SELECT o_orderkey, o_custkey,
       ((row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1) // 30 + 1)::BIGINT AS page,
       ((row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1) % 30 + 1)::BIGINT AS rank
FROM orders ORDER BY o_orderkey
"""


def q_text_norm_search(spark, sf):
    """Q4 Vietnamese analyzer norm (indexer/elasticsearch.go:163-170:
    lowercase + asciifolding). The testdata corpus is ascii, so the
    query inverse-folds a slice into diacritic Vietnamese (uppercasing
    every other doc), runs the engine's norm_text analyzer, and proves
    the roundtrip: norm(inverse_fold(x)) == lower(x) — so a user query
    'ky su' matches 'Kỹ Sư'. Oracle replicates with DuckDB translate."""
    docs = _t(spark, sf, "documents")
    src = F.substring(F.col("text"), 1, 80)
    vi = F.translate(src, "aeiouyd", "ạềỉồứỹđ")
    cased = F.when(F.col("doc_id") % 2 == 0, F.upper(vi)).otherwise(vi)
    norm = X.norm_text(cased)
    return (docs.select("doc_id", norm.alias("norm_text"),
                        (norm == F.lower(src)).alias("matched"))
            .orderBy("doc_id"))


SQL_TEXT_NORM = f"""
WITH v AS (
  SELECT doc_id, substr(text, 1, 80) AS src,
         translate(substr(text, 1, 80), 'aeiouyd', 'ạềỉồứỹđ') AS vi
  FROM documents
)
SELECT doc_id,
       translate(lower(CASE WHEN doc_id % 2 = 0 THEN upper(vi) ELSE vi END),
                 '{X._VI_CHARS}', '{X._VI_FOLDED}') AS norm_text,
       translate(lower(CASE WHEN doc_id % 2 = 0 THEN upper(vi) ELSE vi END),
                 '{X._VI_CHARS}', '{X._VI_FOLDED}') = lower(src) AS matched
FROM v ORDER BY doc_id
"""


def q_requirements_concat(spark, sf):
    """N11 requirements concat (normalizer.go:157-164: req+'<br/>'+other
    only when BOTH non-empty, else bare concat) + N3 getFloat
    (normalizer.go:390-411: lenient parse, unparseable -> 0.0), branch-
    exhaustive over customer-derived strings."""
    c = _t(spark, sf, "customer")
    req = (F.when(F.col("c_custkey") % 3 == 0, F.lit(""))
           .otherwise(F.concat(F.lit("Req "), F.col("c_name"))))
    other = (F.when(F.col("c_custkey") % 5 == 0, F.lit(""))
             .otherwise(F.concat(F.lit("Other "), F.col("c_mktsegment"))))
    rate = (F.when(F.col("c_custkey") % 4 == 0, F.lit(None).cast("string"))
            .when(F.col("c_custkey") % 4 == 1, F.lit("0.37"))
            .when(F.col("c_custkey") % 4 == 2, F.lit("not-a-number"))
            .otherwise(F.lit("1.5")))
    return (c.select("c_custkey",
                     N.requirements_concat(req, other).alias("requirements"),
                     F.round(N.get_float(rate), 4).alias("rate_response"))
            .orderBy("c_custkey"))


SQL_REQUIREMENTS_CONCAT = """
WITH s AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN '' ELSE 'Req ' || c_name END AS req,
         CASE WHEN c_custkey % 5 = 0 THEN '' ELSE 'Other ' || c_mktsegment END AS oth,
         CASE WHEN c_custkey % 4 = 0 THEN NULL
              WHEN c_custkey % 4 = 1 THEN '0.37'
              WHEN c_custkey % 4 = 2 THEN 'not-a-number'
              ELSE '1.5' END AS rate
  FROM customer
)
SELECT c_custkey,
       CASE WHEN req != '' AND oth != '' THEN req || '<br/>' || oth
            ELSE req || oth END AS requirements,
       round(coalesce(try_cast(rate AS DOUBLE), 0.0), 4) AS rate_response
FROM s ORDER BY c_custkey
"""


def q_vnw_pagination(spark, sf):
    """S2 VietnamWorks pagination termination (vietnamworks/
    crawler.go:85-89): 0-indexed pages, page 0 fetched unconditionally,
    stop at meta.nbPages-1 — visited = [0..max(nbPages-1,0)]."""
    from .frontier import vnw_page_sequence

    o = _t(spark, sf, "orders")
    nb = (F.col("o_orderkey") % 7).cast("int")
    seq = vnw_page_sequence(nb)
    return (o.select("o_orderkey",
                     F.size(seq).cast("long").alias("n_pages_visited"),
                     F.element_at(seq, -1).cast("long").alias("last_page"))
            .orderBy("o_orderkey"))


SQL_VNW_PAGINATION = """
SELECT o_orderkey,
       greatest(o_orderkey % 7, 1)::BIGINT AS n_pages_visited,
       greatest(o_orderkey % 7 - 1, 0)::BIGINT AS last_page
FROM orders ORDER BY o_orderkey
"""


def q_job_url_construct(spark, sf):
    """E10 job-URL construction (vieclam24h/crawler.go:220-221):
    https://{host}/{slug}-c{cat}p{prov}id{id}.html built from typed
    columns — the engine operator the crawler uses to enqueue detail
    urls from API list items."""
    from .frontier import job_detail_url

    o = _t(spark, sf, "orders")
    host = F.concat(F.lit("viec"),
                    F.lpad((F.col("o_custkey") % 20).cast("string"), 2, "0"),
                    F.lit(".example.vn"))
    slug = F.concat(F.lit("job-"), F.col("o_orderpriority").substr(1, 1))
    return (o.select("o_orderkey",
                     job_detail_url(host, F.lower(slug),
                                    F.col("o_orderkey")).alias("job_url"))
            .orderBy("o_orderkey"))


SQL_JOB_URL_CONSTRUCT = """
SELECT o_orderkey,
       'https://viec' || lpad((o_custkey % 20)::VARCHAR, 2, '0')
       || '.example.vn/' || lower('job-' || substr(o_orderpriority, 1, 1))
       || '-c' || (o_orderkey % 50 + 1) || 'p' || (o_orderkey % 63 + 1)
       || 'id' || o_orderkey || '.html' AS job_url
FROM orders ORDER BY o_orderkey
"""


def q_api_projection(spark, sf):
    """E11 raw-projection layer (vieclam24h/crawler.go:219-280): a JSON
    API payload flattens to typed raw columns via a declarative
    path->type mapping; absent keys -> NULL -> Go zero values
    downstream. Payload synthesized identically in both engines."""
    from .rawproj import project_api_items

    o = _t(spark, sf, "orders", wide=True)
    payload = F.concat(
        F.lit('{"id": "'), F.col("o_orderkey").cast("string"),
        F.lit('", "title": "Job '), F.col("o_orderkey").cast("string"),
        F.lit('", "employer_info": {"name": "Co '),
        F.col("o_custkey").cast("string"),
        F.lit('"}, "salary_from": '), (F.col("o_orderkey") % 50).cast("string"),
        F.when(F.col("o_orderkey") % 3 == 0,
               F.concat(F.lit(', "rate_response": "0.'),
                        F.lpad((F.col("o_custkey") % 100).cast("string"), 2, "0"),
                        F.lit('"')))
        .otherwise(F.lit("")),
        F.lit("}"))
    df = o.select("o_orderkey", payload.alias("raw"))
    proj = project_api_items(
        df, "raw",
        {"title": ("$.title", "string"),
         "companyName": ("$.employer_info.name", "string"),
         "salaryFrom": ("$.salary_from", "long"),
         "rateResponse": ("$.rate_response", "double"),
         "totalViews": ("$.total_views", "long")},
        keep=["o_orderkey"])
    return (proj.select(
        "o_orderkey", "title", F.col("companyName").alias("company_name"),
        F.col("salaryFrom").alias("salary_from"),
        F.round(F.coalesce(F.col("rateResponse"), F.lit(0.0)), 4).alias("rate_response"),
        F.coalesce(F.col("totalViews"), F.lit(0)).cast("long").alias("total_views"))
        .orderBy("o_orderkey"))


SQL_API_PROJECTION = """
WITH p AS (
  SELECT o_orderkey,
         '{"id": "' || o_orderkey || '", "title": "Job ' || o_orderkey
         || '", "employer_info": {"name": "Co ' || o_custkey
         || '"}, "salary_from": ' || (o_orderkey % 50)
         || CASE WHEN o_orderkey % 3 = 0
                 THEN ', "rate_response": "0.' || lpad((o_custkey % 100)::VARCHAR, 2, '0') || '"'
                 ELSE '' END
         || '}' AS raw
  FROM orders
)
SELECT o_orderkey,
       json_extract_string(raw, '$.title') AS title,
       json_extract_string(raw, '$.employer_info.name') AS company_name,
       json_extract_string(raw, '$.salary_from')::BIGINT AS salary_from,
       round(coalesce(try_cast(json_extract_string(raw, '$.rate_response') AS DOUBLE), 0.0), 4) AS rate_response,
       coalesce(try_cast(json_extract_string(raw, '$.total_views') AS BIGINT), 0)::BIGINT AS total_views
FROM p ORDER BY o_orderkey
"""


# ===========================================================================
# Training-data ops (documents / embeddings)
# ===========================================================================
def q_doc_exact_dedup(spark, sf):
    """Exact-hash dedup groups (D4 family). The corpus is unioned with
    a key-shifted copy of its even docs so duplicate groups exist and
    the min-key winner logic is actually exercised."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    copies = (docs.filter(F.col("doc_id") % 2 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return (X.exact_dup_groups(docs.unionByName(copies))
            .select("text_hash", F.col("n_dups").cast("long").alias("n_dups"),
                    F.col("keep_id").cast("long").alias("keep_id"))
            .orderBy("text_hash"))


SQL_DOC_EXACT_DEDUP = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 2 = 0
)
SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_dups,
       min(doc_id)::BIGINT AS keep_id
FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash
"""


def q_doc_minhash(spark, sf):
    """MinHash signatures (4 permutations, 2-gram shingles)."""
    docs = _t(spark, sf, "documents")
    return (X.minhash_signature(docs, num_perm=4)
            .orderBy("doc_id"))


SQL_DOC_MINHASH = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) != ''
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s
  FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
  WHERE i <= len(t) - 1
)
SELECT doc_id, min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
       min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


def q_ngram_jaccard(spark, sf):
    """Exact word-bigram Jaccard near-dup pairs via the COUNT-based
    inverted-index self-join (textops.ngram_jaccard_all_pairs). Run on
    a modulo subset (emb_near_dups precedent): the fixture corpus has a
    931-shingle vocabulary, so exact all-pairs is intrinsically
    Σ df(s)^2 ≈ 73M join rows at sf0.1 — the subset keeps the catalog
    entry honest-exact and fast; minhash_lsh_pairs is the bounded
    scale path. Oracle replicates shingling, self-join and the
    |A∩B|/|A∪B| arithmetic in SQL."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") % 3 == 0)
    return (X.ngram_jaccard_all_pairs(docs, threshold=0.3)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"), "jaccard")
            .orderBy("id_a", "id_b"))


SQL_NGRAM_JACCARD = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(coalesce(text, '')) != '' AND doc_id % 3 = 0
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s
  FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
  WHERE i <= len(t) - 1
), counts AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
       round(inter * 1.0 / (na.n + nb.n - inter), 4) AS jaccard
FROM pairs
JOIN counts na ON id_a = na.doc_id
JOIN counts nb ON id_b = nb.doc_id
WHERE round(inter * 1.0 / (na.n + nb.n - inter), 4) >= 0.3
ORDER BY id_a, id_b
"""


def _lsh_pairs(docs):
    """The catalog's near-dup pair list: MinHash+LSH with 8 perm, 4
    bands, jaccard >= 0.5 (the banding SQL_DOC_LSH_PAIRS replays)."""
    return X.minhash_lsh_pairs(docs)


def _dup_labels(docs):
    """(key, cluster) near-dup components over `_lsh_pairs`."""
    pairs = _lsh_pairs(docs).select(F.col("id_a").alias("key_a"),
                                    F.col("id_b").alias("key_b"))
    return D.dup_clusters(docs.select(F.col("doc_id").alias("key")), pairs)


def _keep_best(docs):
    """(key, cluster, quality, kept): the best-quality doc per
    `_dup_labels` component is kept."""
    labels = _dup_labels(docs)
    scores = docs.select(F.col("doc_id").alias("key"),
                         X.quality_score(F.col("text")).alias("quality"))
    return D.keep_best_per_cluster(labels, scores)


def q_doc_lsh_pairs(spark, sf):
    """MinHash+LSH near-dup pairs (8 perm, 4 bands, jaccard >= 0.5),
    oracle replicates the identical banding scheme in SQL."""
    docs = _t(spark, sf, "documents")
    return (_lsh_pairs(docs)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"), "jaccard")
            .orderBy("id_a", "id_b"))


SQL_DOC_LSH_PAIRS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) != ''
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s
  FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
  WHERE i <= len(t) - 1
), sig AS (
  SELECT doc_id,
         min(md5('0:'||s))||'|'||min(md5('1:'||s)) AS b0,
         min(md5('2:'||s))||'|'||min(md5('3:'||s)) AS b1,
         min(md5('4:'||s))||'|'||min(md5('5:'||s)) AS b2,
         min(md5('6:'||s))||'|'||min(md5('7:'||s)) AS b3
  FROM sh GROUP BY doc_id
), banded AS (
  SELECT doc_id, 0 AS band, b0 AS val FROM sig UNION ALL
  SELECT doc_id, 1, b1 FROM sig UNION ALL
  SELECT doc_id, 2, b2 FROM sig UNION ALL
  SELECT doc_id, 3, b3 FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.val = b.val
   AND a.doc_id < b.doc_id
), counts AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y
    ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a::BIGINT AS id_a, c.id_b::BIGINT AS id_b,
       round(coalesce(i.i, 0) / greatest(ca.n + cb.n - coalesce(i.i, 0), 1), 4) AS jaccard
FROM cand c JOIN counts ca ON ca.doc_id = c.id_a
JOIN counts cb ON cb.doc_id = c.id_b
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
WHERE round(coalesce(i.i, 0) / greatest(ca.n + cb.n - coalesce(i.i, 0), 1), 4) >= 0.5
ORDER BY id_a, id_b
"""


def q_doc_dup_clusters(spark, sf):
    """Near-dup CONNECTED COMPONENTS (dedup.dup_clusters): the LSH
    pair list (identical banding to `doc_lsh_pairs`) turned into
    keep-one-per-cluster labels by iterative min-label propagation;
    every doc gets the minimum doc_id reachable through near-dup
    edges. The oracle replays the same components with a recursive
    CTE over the identical SQL-banded pair list."""
    return (_dup_labels(_t(spark, sf, "documents"))
            .select(F.col("key").cast("long").alias("doc_id"),
                    F.col("cluster").cast("long").alias("cluster"))
            .orderBy("doc_id"))


SQL_DOC_DUP_CLUSTERS_CC = f"""
WITH RECURSIVE pairs AS ({SQL_DOC_LSH_PAIRS}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.lbl FROM walk w JOIN edges e ON e.a = w.id
)
SELECT id::BIGINT AS doc_id, min(lbl)::BIGINT AS cluster
FROM walk GROUP BY id ORDER BY doc_id
"""


def q_para_dedup(spark, sf):
    """Corpus-level exact paragraph dedup (textops.paragraph_dedup):
    10-token pseudo-paragraphs (the fixture corpus is single-line), a
    paragraph survives only at its minimum (doc_id, position)
    occurrence; per doc the survivor count and the re-joined clean
    text. The oracle replays the identical chunking + first-location
    window in DuckDB."""
    docs = _t(spark, sf, "documents")
    return (X.paragraph_dedup(docs, para_tokens=10)
            .select(F.col("key").cast("long").alias("doc_id"),
                    F.col("n_paras").cast("long").alias("n_paras"),
                    F.col("n_kept").cast("long").alias("n_kept"),
                    "clean_text")
            .orderBy("doc_id"))


SQL_PARA_DEDUP = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS t
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), paras AS (
  SELECT doc_id, (i - 1) AS pos,
         array_to_string(t[(i - 1) * 10 + 1:(i - 1) * 10 + 10], ' ') AS p
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, cast(ceil(len(t) / 10.0) AS INT))) AS i
        FROM toks)
), ranked AS (
  SELECT doc_id, pos, p,
         row_number() OVER (PARTITION BY p ORDER BY doc_id, pos) = 1 AS keep
  FROM paras WHERE p != ''
), agg AS (
  SELECT doc_id, count(*) AS n_paras,
         sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
         coalesce(string_agg(CASE WHEN keep THEN p END, ' ' ORDER BY pos),
                  '') AS clean_text
  FROM ranked GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n_paras, 0)::BIGINT AS n_paras,
       coalesce(n_kept, 0)::BIGINT AS n_kept,
       coalesce(clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


def q_doc_lm_score(spark, sf):
    """Unigram LM quality filter (textops.lm_quality_score): mean
    token self-information under the corpus's own top-1000 unigram
    model, OOV at the 1/total floor — the CCNet/KenLM-perplexity
    filter shape. Oracle rebuilds the identical model and scoring in
    DuckDB (round(4) absorbs libm last-ulp and sum-order drift)."""
    docs = _t(spark, sf, "documents")
    return (X.lm_quality_score(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_scored").cast("long").alias("n_scored"),
                    "lm_score")
            .orderBy("doc_id"))


SQL_DOC_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\s+')) AS w
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), counts AS (
  SELECT w, count(*) AS c FROM toks GROUP BY w
), tot AS (SELECT sum(c)::DOUBLE AS t FROM counts),
vocab AS (
  SELECT w, -log2(c::DOUBLE / t) AS info
  FROM counts, tot ORDER BY c DESC, w LIMIT 1000
), scored AS (
  SELECT doc_id, count(*) AS n_scored,
         round(avg(coalesce(info, -log2(1.0 / (SELECT t FROM tot)))), 4)
           AS lm_score
  FROM toks LEFT JOIN vocab USING (w) GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n_scored, 0)::BIGINT AS n_scored,
       coalesce(lm_score, 0.0) AS lm_score
FROM documents d LEFT JOIN scored USING (doc_id)
ORDER BY doc_id
"""


_SAMPLE_RATES = {"en": 0.25, "vi": 0.9, "fr": 0.5}


def q_corpus_sample(spark, sf):
    """Deterministic stratified sampling (textops.stratified_sample):
    per-language keep rates via a reproducible md5 hash filter — the
    training-mix primitive (downsample the English head, keep rare
    languages). Pure filter, no shuffle; the oracle draws the
    IDENTICAL sample from the same hash arithmetic."""
    docs = _t(spark, sf, "documents")
    return (X.stratified_sample(docs, _SAMPLE_RATES, default_rate=0.1)
            .select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
            .orderBy("doc_id"))


SQL_CORPUS_SAMPLE = r"""
SELECT doc_id::BIGINT AS doc_id, lang
FROM documents
WHERE ('0x' || substr(md5('s42|' || coalesce(lang, '') || '|' || doc_id),
                      1, 15))::UBIGINT % 1000000
      < (CASE lang WHEN 'en' THEN 0.25 WHEN 'vi' THEN 0.9
                   WHEN 'fr' THEN 0.5 ELSE 0.1 END) * 1000000
ORDER BY doc_id
"""


def q_corpus_mix(spark, sf):
    """Static data-mixture sampling (textops.mix_corpus): sources
    src0/src1/src2/src3 weighted 4:2:1:1 against a 4000-token budget;
    per-source keep rates derive from measured token totals (src0's
    desired 2000 tokens exceed its total at small SFs — the min(1,·)
    clamp branch — and stay fractional at sf0.1). The oracle draws the
    identical mixture from the same hash + rate arithmetic."""
    docs = _t(spark, sf, "documents")
    return (X.mix_corpus(docs, {"src0": 4.0, "src1": 2.0,
                                "src2": 1.0, "src3": 1.0},
                         budget_tokens=4000)
            .select(F.col("key").cast("long").alias("doc_id"),
                    "source", "n_tokens", "rate")
            .orderBy("doc_id"))


SQL_CORPUS_MIX = r"""
WITH t AS (
  SELECT source, doc_id,
         (CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN 0
               ELSE len(string_split_regex(trim(lower(coalesce(text, ''))),
                        '\s+')) END)::BIGINT AS n_tokens
  FROM documents
), tot AS (
  SELECT source, sum(n_tokens)::BIGINT AS T FROM t GROUP BY 1
), r AS (
  SELECT source,
         CASE WHEN T <= 0 THEN 0.0
              WHEN source = 'src0' THEN least(1.0, 2000.0 / T::DOUBLE)
              WHEN source = 'src1' THEN least(1.0, 1000.0 / T::DOUBLE)
              WHEN source = 'src2' THEN least(1.0, 500.0 / T::DOUBLE)
              WHEN source = 'src3' THEN least(1.0, 500.0 / T::DOUBLE)
              ELSE 0.0 END AS rate
  FROM tot
)
SELECT t.doc_id::BIGINT AS doc_id, t.source, t.n_tokens, r.rate
FROM t JOIN r USING (source)
WHERE ('0x' || substr(md5('m42|' || t.source || '|' || t.doc_id), 1, 15))::UBIGINT
        % 1000000 < r.rate * 1000000
ORDER BY doc_id
"""


def q_seq_pack(spark, sf):
    """Training-sequence packing (textops.pack_sequences): concat-and-
    chunk token addressing into 2048-token windows via a distributed
    prefix sum (per-partition cumsum + broadcast offsets — never a
    single-partition global window). Oracle is the straight window
    cumsum in DuckDB: identical numbers prove the two-phase
    decomposition is exact."""
    docs = _t(spark, sf, "documents")
    return (X.pack_sequences(docs, budget=2048)
            .select(F.col("key").cast("long").alias("doc_id"),
                    "n_tokens", "seq_id", "seq_offset")
            .orderBy("doc_id"))


SQL_SEQ_PACK = r"""
WITH c AS (
  SELECT doc_id,
         CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(coalesce(text, ''))),
                       '\s+')) END AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           - n_tokens AS start
  FROM c
)
SELECT doc_id::BIGINT AS doc_id, n_tokens::BIGINT AS n_tokens,
       (start // 2048)::BIGINT AS seq_id,
       (start % 2048)::BIGINT AS seq_offset
FROM cum ORDER BY doc_id
"""


def q_doc_chunks(spark, sf):
    """RAG-style chunking (textops.chunk_documents): 512-char windows,
    64-char overlap, md5 per chunk so the expanded corpus never ships.
    Zero-shuffle posexplode row expansion."""
    docs = _t(spark, sf, "documents")
    return (X.chunk_documents(docs)
            .select(F.col("key").cast("long").alias("doc_id"),
                    "chunk_idx", "chunk_start", "chunk_len", "chunk_md5")
            .orderBy("doc_id", "chunk_idx"))


SQL_DOC_CHUNKS = r"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t,
         length(coalesce(text, '')) AS L
  FROM documents
), n AS (
  SELECT doc_id, t,
         CASE WHEN L = 0 THEN 0
              ELSE greatest(1, ceil((L - 64) / 448.0)::BIGINT) END AS nc
  FROM d
)
SELECT doc_id, k::BIGINT AS chunk_idx, (k * 448)::BIGINT AS chunk_start,
       length(substr(t, k * 448 + 1, 512))::BIGINT AS chunk_len,
       md5(substr(t, k * 448 + 1, 512)) AS chunk_md5
FROM n, unnest(generate_series(0, nc - 1)) AS u(k)
WHERE nc > 0
ORDER BY doc_id, chunk_idx
"""


def q_emb_quantize(spark, sf):
    """Per-vector int8 quantization of the embeddings table
    (textops.quantize_embeddings). All-double arithmetic; the oracle
    computes bit-identical scales and codes."""
    emb = _t(spark, sf, "embeddings")
    return (X.quantize_embeddings(emb)
            .select(F.col("key").cast("long").alias("vec_id"),
                    "scale", "dim", "codes")
            .orderBy("vec_id"))


SQL_EMB_QUANTIZE = r"""
WITH v AS (
  SELECT vec_id,
         list_transform(coalesce(embedding, []), x -> x::DOUBLE) AS vv
  FROM embeddings
), m AS (
  SELECT vec_id, vv,
         coalesce(list_max(list_transform(vv, x -> abs(x))), 0.0) AS mx
  FROM v
)
SELECT vec_id,
       mx / 127.0 AS scale,
       len(vv)::BIGINT AS dim,
       coalesce(array_to_string(
         CASE WHEN mx = 0 THEN list_transform(vv, x -> '0')
              ELSE list_transform(vv,
                     x -> round(x / (mx / 127.0))::INT::VARCHAR) END,
         ','), '') AS codes
FROM m ORDER BY vec_id
"""


def q_tfidf_topk(spark, sf):
    """Per-doc top-3 keywords by smoothed tf-idf (textops.tfidf_topk);
    round(4) on the score absorbs libm ulp between Java log and
    DuckDB ln, ranks are exact (ties broken by term)."""
    docs = _t(spark, sf, "documents")
    return (X.tfidf_topk(docs)
            .select(F.col("key").cast("long").alias("doc_id"),
                    "term", "tf", "df", "tfidf", "rank")
            .orderBy("doc_id", "rank"))


SQL_TFIDF_TOPK = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                                   '\s+')) AS term
  FROM documents
  WHERE trim(lower(coalesce(text, ''))) <> ''
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * (ln((nd.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS score,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * (ln((nd.n + 1.0) /
                              (dfreq.df + 1.0)) + 1.0) DESC,
                              tf.term ASC) AS rank
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf, df, round(score, 4) AS tfidf, rank::BIGINT AS rank
FROM scored WHERE rank <= 3 ORDER BY doc_id, rank
"""


def q_span_dedup(spark, sf):
    """Exact duplicate-substring spans (textops.duplicate_spans):
    every 8-token gram occurring anywhere earlier in the corpus marks
    its position, consecutive marks merge to maximal spans — the
    ExactSubstr dedup shape (Lee et al. 2022) at gram granularity.
    The oracle replays the identical gram stream, first-occurrence
    window and gaps-and-islands merge in DuckDB."""
    docs = _t(spark, sf, "documents")
    return (X.duplicate_spans(docs)
            .select(F.col("key").cast("long").alias("doc_id"),
                    F.col("span_start").cast("long").alias("span_start"),
                    F.col("span_end").cast("long").alias("span_end"),
                    F.col("n_grams").cast("long").alias("n_grams"))
            .orderBy("doc_id", "span_start"))


SQL_SPAN_DEDUP = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))),
                                    '\s+') AS t
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
        FROM toks)
), dup AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gram
                                  ORDER BY doc_id, pos) AS rn
        FROM g)
  WHERE rn > 1
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id::BIGINT AS doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + 7)::BIGINT AS span_end, count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start
"""


def q_domain_cap(spark, sf):
    """Per-domain document cap (textops.group_topk): keep the 40 best
    docs per source by (quality desc, n_chars desc, doc_id) — the
    anti-mega-site mixture guard — via the exact two-phase local-then-
    global rank, never a |domains|-task full-frame window. Oracle is
    the straight row_number window in DuckDB."""
    docs = _t(spark, sf, "documents")
    scored = docs.select("doc_id", "source", F.col("n_chars"),
                         X.quality_score(F.col("text")).alias("quality"))
    capped = X.group_topk(
        scored, "source",
        [F.col("quality").desc(), F.col("n_chars").desc(),
         F.col("doc_id").asc()], k=40)
    return (capped.select(F.col("doc_id").cast("long").alias("doc_id"),
                          "source", "quality",
                          F.col("rank").cast("long").alias("rank"))
            .orderBy("source", "rank"))


SQL_DOMAIN_CAP = r"""
WITH b AS (
  SELECT doc_id, source, n_chars,
         round(((CASE WHEN length(text) BETWEEN 80 AND 20000
                      THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN length(text) / greatest(
                        CASE WHEN trim(text) = '' THEN 0
                             ELSE len(string_split_regex(
                                      trim(lower(text)), '\s+')) END, 1)
                      BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN (length(text) - length(regexp_replace(
                             text, '[.,!?;:]', '', 'g')))
                           / greatest(length(text), 1) <= 0.1
                      THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN (length(text) - length(regexp_replace(
                             text, '[A-Z]', '', 'g')))
                           / greatest(length(text), 1) <= 0.3
                      THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS quality
  FROM documents
), r AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, n_chars DESC,
                                     doc_id ASC) AS rank
  FROM b
)
SELECT doc_id::BIGINT AS doc_id, source, quality, rank::BIGINT AS rank
FROM r WHERE rank <= 40 ORDER BY source, rank
"""


def q_events_asof(spark, sf):
    """As-of join (relops.asof_join): each purchase event picks the
    user's latest click at-or-before it — the operator Spark lacks as
    a primitive, here the union + per-key window carry-forward with
    ONE shuffle; the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the
    two independent formulations must agree row-for-row. Clicks are
    pre-aggregated to one row per (user, ts) (max event_id wins) to
    pin tie semantics in both engines."""
    e = _t(spark, sf, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max("event_id").alias("click_id"),
                   F.round(F.max_by("value", "event_id"), 2)
                   .alias("click_value"))
              .select("user_id", F.col("ts").alias("cts"),
                      "click_id", F.col("ts").alias("click_ts"),
                      "click_value"))
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts"))
    j = R.asof_join(purchases, clicks, on="user_id",
                    left_ts="ts", right_ts="cts", suffix="")
    # exact microseconds on both engines (NTZ -> timestamp under the
    # session's pinned UTC; unix_timestamp would truncate sub-seconds)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return (j.select(F.col("event_id").cast("long").alias("event_id"),
                     F.col("user_id").cast("long").alias("user_id"),
                     us("ts").alias("ts_us"),
                     F.col("click_id").cast("long").alias("click_id"),
                     "click_value",
                     (us("ts") - us("click_ts")).cast("long")
                     .alias("gap_us"))
            .orderBy("event_id"))


SQL_EVENTS_ASOF = """
WITH c AS (
  SELECT user_id, ts, max(event_id)::BIGINT AS click_id,
         round(arg_max(value, event_id), 2) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), p AS (
  SELECT user_id, event_id, ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id::BIGINT AS event_id, p.user_id::BIGINT AS user_id,
       epoch_us(p.ts)::BIGINT AS ts_us, c.click_id, c.click_value,
       (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY event_id
"""


def q_entity_rank(spark, sf):
    """Iterative PageRank (relops.entity_rank) over the user-item
    interaction graph pulled from the events props JSON — the
    host-rank term of the reference frontier priority computed from a
    graph instead of static module config (internal/config/config.go). The
    bipartite edge set is symmetrized through ONE explode (no
    self-union re-running the extraction), 5 damped iterations; the
    oracle replays them with a recursive CTE (aggregate-in-recursion),
    round(6) absorbing float sum-order drift."""
    e = _t(spark, sf, "events", wide=True)
    k = F.get_json_object("props", "$.k")
    e0 = (e.filter(k.isNotNull())
          .select(F.concat(F.lit("u"), F.col("user_id")).alias("src"),
                  F.concat(F.lit("i"), k).alias("dst")))
    edges = (e0.select(F.explode(F.array(
        F.struct(F.col("src"), F.col("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst"))))
        .alias("_e")).select("_e.src", "_e.dst").distinct())
    return (R.entity_rank(edges)
            .select("node", F.round("rank", 6).alias("rank"))
            .orderBy("node"))


SQL_ENTITY_RANK = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 'u' || user_id AS src,
         'i' || json_extract_string(props, '$.k') AS dst
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
), edges AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), deg AS (
  SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
pr AS (
  SELECT 0 AS it, node, 1.0 / (SELECT n FROM n) AS rank FROM nodes
  UNION ALL
  SELECT p.it + 1, e.dst AS node,
         0.15 / (SELECT n FROM n) + 0.85 * sum(p.rank / d.deg)
  FROM pr p
  JOIN edges e ON e.src = p.node
  JOIN deg d ON d.src = p.node
  WHERE p.it < 5
  GROUP BY p.it, e.dst
)
SELECT node, round(rank, 6) AS rank FROM pr WHERE it = 5 ORDER BY node
"""


def q_range_join(spark, sf):
    """Bucketed range join (relops.interval_join): every error event
    opens a 10-minute window; count and sum the same user's clicks
    inside it. Spark plans the bare containment predicate as a
    nested-loop join, so the operator decomposes it into an equi-join
    on (user, time-bucket) with an exact post-filter; the oracle IS
    the naive inequality join in DuckDB — the two formulations must
    agree row-for-row."""
    e = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    errors = (e.filter(F.col("event_type") == "error")
              .select("user_id", F.col("event_id").alias("win_id"),
                      us.alias("w_start"),
                      (us + F.lit(600_000_000)).alias("w_end")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", us.alias("p_ts"), "value"))
    j = R.interval_join(clicks, errors, on="user_id", point_ts="p_ts",
                        start_col="w_start", end_col="w_end")
    agg = (j.groupBy(F.col("win_id_i").alias("win_id"))
           .agg(F.count("*").alias("n_clicks"),
                F.round(F.sum("value"), 2).alias("click_value")))
    return (errors.join(agg, errors["win_id"] == agg["win_id"], "left")
            .select(errors["win_id"].cast("long").alias("win_id"),
                    F.col("user_id").cast("long").alias("user_id"),
                    F.col("w_start").cast("long").alias("w_start"),
                    F.coalesce("n_clicks", F.lit(0)).cast("long")
                    .alias("n_clicks"),
                    F.coalesce("click_value", F.lit(0.0))
                    .alias("click_value"))
            .orderBy("win_id"))


SQL_RANGE_JOIN = """
WITH er AS (
  SELECT user_id, event_id AS win_id, epoch_us(ts) AS w_start,
         epoch_us(ts) + 600000000 AS w_end
  FROM events WHERE event_type = 'error'
), cl AS (
  SELECT user_id, epoch_us(ts) AS p_ts, value
  FROM events WHERE event_type = 'click'
)
SELECT er.win_id::BIGINT AS win_id, er.user_id::BIGINT AS user_id,
       er.w_start::BIGINT AS w_start,
       count(cl.p_ts)::BIGINT AS n_clicks,
       coalesce(round(sum(cl.value), 2), 0.0) AS click_value
FROM er LEFT JOIN cl ON cl.user_id = er.user_id
     AND cl.p_ts >= er.w_start AND cl.p_ts < er.w_end
GROUP BY er.win_id, er.user_id, er.w_start
ORDER BY win_id
"""


def q_doc_stats(spark, sf):
    """Text analysis: token count, char count, quality score, language."""
    docs = _t(spark, sf, "documents")
    return (docs.select(
        "doc_id",
        X.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        X.quality_score(F.col("text")).alias("quality"),
        X.lang_id(F.col("text")).alias("pred_lang"))
        .orderBy("doc_id"))


SQL_DOC_STATS = rf"""
WITH b AS (
  SELECT doc_id, text, length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
         length(lower(text)) - length(regexp_replace(lower(text), '[{X._VI_CHARS}]', '', 'g')) AS n_vi
  FROM documents
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens, n_chars::BIGINT AS n_chars,
       round(((CASE WHEN n_chars BETWEEN 80 AND 20000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n_chars / greatest(n_tokens, 1) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n_punct / greatest(n_chars, 1) <= 0.1 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n_upper / greatest(n_chars, 1) <= 0.3 THEN 1.0 ELSE 0.0 END)) / 4.0, 4)
         AS quality,
       CASE WHEN n_vi / greatest(n_chars, 1) >= 0.02 THEN 'vi' ELSE 'en' END AS pred_lang
FROM b ORDER BY doc_id
"""


def q_doc_tokens(spark, sf):
    """Token counting both ways (task brief: whitespace + BPE-ish
    regex): the linguistic count and the train-cost estimate, one
    JVM-side pass each."""
    docs = _t(spark, sf, "documents")
    return (docs.select(
        "doc_id",
        X.token_count(F.col("text")).cast("long").alias("ws_tokens"),
        X.bpe_token_count(F.col("text")).cast("long").alias("bpe_tokens"))
        .orderBy("doc_id"))


SQL_DOC_TOKENS = rf"""
SELECT doc_id,
       (CASE WHEN trim(coalesce(text, '')) = '' THEN 0
             ELSE len(string_split_regex(trim(lower(text)), '\s+')) END)::BIGINT
         AS ws_tokens,
       len(regexp_extract_all(coalesce(text, ''),
           '{X.BPE_TOKEN_PATTERN.replace(chr(39), chr(39) * 2)}'))::BIGINT AS bpe_tokens
FROM documents ORDER BY doc_id
"""


def q_doc_fingerprint(spark, sf):
    """Rolling-hash document fingerprint (char 8-grams, min-md5)."""
    docs = _t(spark, sf, "documents")
    return (docs.select("doc_id",
                        X.doc_fingerprint(F.col("text")).alias("fingerprint"))
            .orderBy("doc_id"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id, min(md5(substr(text, i, 8))) AS fingerprint
FROM documents, (SELECT unnest(generate_series(1, 1000000)) AS i)
WHERE i <= greatest(length(text) - 7, 1)
GROUP BY doc_id ORDER BY doc_id
"""


def q_ann_topk(spark, sf):
    """Brute-force cosine top-10 against the min-vec_id embedding
    (the ANN baseline; the LSH variant is the scale path)."""
    emb = _t(spark, sf, "embeddings")
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return (X.brute_force_topk(emb, q, k=10)
            .select(F.col("vec_id").cast("long").alias("vec_id"), "cosine"))


SQL_ANN_TOPK = """
WITH q AS (SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT e.vec_id::BIGINT AS vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings e, q
ORDER BY cosine DESC, e.vec_id LIMIT 10
"""


def q_doc_simhash(spark, sf):
    """D5 simhash hashes, fully JVM-side (dedup.simhash64_frame: the
    md5 bit-vote as one per-row higher-order-function projection — no
    shuffle, no Python stage; simhash64_py is the cross-checked twin).
    The md5-based scheme was chosen so DuckDB replays it EXACTLY in
    SQL: per-token h = int(md5(tok)[:16],16), votes = sum(bit?+1:-1)
    per bit position, signed 64-bit reassembly."""
    docs = _t(spark, sf, "documents")
    return (D.simhash64_frame(docs, "doc_id")
            .select(F.col("key").cast("long").alias("doc_id"),
                    F.col("sh").alias("simhash"))
            .orderBy("doc_id"))


SQL_DOC_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE trim(coalesce(text, '')) != ''
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks
), votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th, (SELECT unnest(generate_series(0, 63)) AS bit) b
  GROUP BY doc_id, b.bit
), sig AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS uh
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(CASE WHEN s.uh >= 9223372036854775808::HUGEINT
                     THEN s.uh - 18446744073709551616::HUGEINT
                     ELSE s.uh END, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN sig s USING (doc_id)
ORDER BY d.doc_id
"""


def q_doc_dup_classes(spark, sf):
    """D5 hot-bucket form (dedup.simhash_dup_classes): exact-simhash
    groups collapse to a representative BEFORE the banded pair join, so
    mass duplication never creates a hot band bucket. Catalog surface =
    the class map (key, rep, group_size); the rep-pair banding is
    pinned by tests/test_dedup.py. Oracle replays the md5 bit-vote
    simhash in SQL and derives the same classes by window."""
    docs = _t(spark, sf, "documents")
    classes, _ = D.simhash_dup_classes(docs, key_col="doc_id")
    return (classes.select(F.col("key").cast("long").alias("key"),
                           F.col("rep").cast("long").alias("rep"),
                           F.col("group_size").cast("long").alias("group_size"))
            .orderBy("key"))


SQL_DOC_DUP_CLASSES = f"""
WITH sh AS ({SQL_DOC_SIMHASH})
SELECT doc_id::BIGINT AS key,
       (min(doc_id) OVER (PARTITION BY simhash))::BIGINT AS rep,
       (count(*) OVER (PARTITION BY simhash))::BIGINT AS group_size
FROM sh ORDER BY key
"""


def q_emb_near_dups(spark, sf):
    """Embedding-cosine near-dup pairs, exact baseline on a modulo
    subset (the LSH-bucketed variant is the scale path —
    textops.embedding_near_dups default). Threshold below the random-
    vector ceiling so real pairs exist."""
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") % 7 == 0)
    return (X.embedding_near_dups(emb, threshold=0.25, exact=True)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"), "cosine")
            .orderBy("id_a", "id_b"))


SQL_EMB_NEAR_DUPS = """
SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id % 7 = 0 AND b.vec_id % 7 = 0
  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.25
ORDER BY id_a, id_b
"""


def q_url_canonical(spark, sf):
    """Frontier URL canonicalization (frontier.canonicalize_url): the
    crawl-dedup companion to E3 — scheme/host lowercase, default ports
    stripped, fragment dropped, query params sorted. Noisy variants
    synthesized deterministically from orders; the oracle replicates
    the same regexp parse + list ops in DuckDB."""
    from .frontier import canonicalize_url

    o = _t(spark, sf, "orders", wide=True).filter(F.col("o_orderkey") % 4 == 0)
    k = F.col("o_orderkey").cast("string")
    url = F.concat(
        F.lit("HTTP://Viec"), (F.col("o_orderkey") % 40).cast("string"),
        F.lit(".Example.VN"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/viec-lam-"), k, F.lit(".html"),
        F.when(F.col("o_orderkey") % 2 == 0,
               F.concat(F.lit("?utm=x&b="), k, F.lit("&a=1"))).otherwise(F.lit("")),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("#sec")).otherwise(F.lit("")))
    return (o.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                     url.alias("url"))
            .withColumn("canonical", canonicalize_url(F.col("url")))
            .orderBy("o_orderkey"))


_URL_PAT = r"'^(?i)(https?)://([^/?#]+)([^?#]*)(\?([^#]*))?(#.*)?$'"
_URL_QS = "array_to_string(list_sort(list_filter(string_split(q, '&'), x -> x != '')), '&')"

SQL_URL_CANONICAL = rf"""
WITH u AS (
  SELECT o_orderkey::BIGINT AS o_orderkey,
         'HTTP://Viec' || (o_orderkey % 40) || '.Example.VN'
         || (CASE WHEN o_orderkey % 3 = 0 THEN ':80' ELSE '' END)
         || '/viec-lam-' || o_orderkey || '.html'
         || (CASE WHEN o_orderkey % 2 = 0
                  THEN '?utm=x&b=' || o_orderkey || '&a=1' ELSE '' END)
         || (CASE WHEN o_orderkey % 5 = 0 THEN '#sec' ELSE '' END) AS url
  FROM orders WHERE o_orderkey % 4 = 0
), p AS (
  SELECT o_orderkey, url,
         lower(regexp_extract(url, {_URL_PAT}, 1)) AS scheme,
         lower(regexp_extract(url, {_URL_PAT}, 2)) AS host0,
         regexp_extract(url, {_URL_PAT}, 3) AS path0,
         regexp_extract(url, {_URL_PAT}, 5) AS q
  FROM u
)
SELECT o_orderkey, url,
       scheme || '://'
       || (CASE WHEN scheme = 'http' AND host0 LIKE '%:80'
                THEN substr(host0, 1, length(host0) - 3)
                WHEN scheme = 'https' AND host0 LIKE '%:443'
                THEN substr(host0, 1, length(host0) - 4)
                ELSE host0 END)
       || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
       || (CASE WHEN {_URL_QS} = '' THEN ''
                ELSE '?' || {_URL_QS} END)
       AS canonical
FROM p ORDER BY o_orderkey
"""


def q_api_dual_shape(spark, sf):
    """S6 dual-shape API bodies (api_extractor.go:88-146): bare-array
    bodies (even keys, two items) and {data:[...]} envelopes (odd keys,
    one item) both explode into items and project to typed columns; the
    oracle derives the expected item set independently of any JSON
    parsing. Bodies synthesized deterministically from orders (% 7
    keeps a near-even parity mix, so BOTH branches generate — % 20
    made every key even and left the envelope branch dead)."""
    from .rawproj import explode_api_items, project_api_items

    o = _t(spark, sf, "orders", wide=True).filter(F.col("o_orderkey") % 7 == 0)
    k = F.col("o_orderkey").cast("string")
    body = (F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit('[{"id": '), k, F.lit(', "title": "Job '), k,
                 F.lit('"}, {"id": '),
                 (F.col("o_orderkey") + 1000000).cast("string"),
                 F.lit(', "title": "Alt '), k, F.lit('"}]')))
        .otherwise(F.concat(
            F.lit('{"data": [{"id": '), k, F.lit(', "title": "Job '), k,
            F.lit('"}], "nbPages": 3}'))))
    df = o.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                  body.alias("body"))
    items = explode_api_items(df, "body", keep=["o_orderkey"])
    return (project_api_items(
        items, "item_json",
        {"id": ("$.id", "long"), "title": ("$.title", "string")},
        keep=["o_orderkey"])
        .orderBy("o_orderkey", "id"))


SQL_API_DUAL_SHAPE = """
WITH base AS (SELECT o_orderkey::BIGINT AS o_orderkey FROM orders
              WHERE o_orderkey % 7 = 0)
SELECT * FROM (
  SELECT o_orderkey, o_orderkey AS id, 'Job ' || o_orderkey AS title
  FROM base
  UNION ALL
  SELECT o_orderkey, o_orderkey + 1000000 AS id, 'Alt ' || o_orderkey
  FROM base WHERE o_orderkey % 2 = 0
) ORDER BY o_orderkey, id
"""


# the multi-probe LSH shape q_ann_lsh runs and SQL_ANN_LSH replays
ANN_LSH = {"n_planes": 6, "probe_hamming": 2, "k": 10}


def _sql_ann_lsh() -> str:
    """DuckDB replication of the ENTIRE multi-probe LSH path: the same
    splitmix64 hyperplanes (textops._hyperplanes — deterministic, no RNG
    state), sign-bit bucket packing, hamming-ball probe (bit_count of
    xor vs the query's bucket) and exact cosine on the candidates.
    Float-exact vs Spark: both engines fold the dot products in array
    order, so ROUND(...,6) agrees bit-for-bit. Plane constants are
    inlined for the fixture dim (64, all sf dirs)."""
    from .textops import _hyperplanes

    n_planes, probe_hamming, k = (ANN_LSH["n_planes"],
                                  ANN_LSH["probe_hamming"], ANN_LSH["k"])
    planes = _hyperplanes(64, n_planes)

    def lit_list(v):
        return "[" + ",".join(repr(float(x)) for x in v) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {lit_list(planes[p])}) >= 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qb FROM b ORDER BY vec_id LIMIT 1)
SELECT CAST(b.vec_id AS BIGINT) AS vec_id,
       ROUND(list_inner_product(b.v, q.qv)
             / (sqrt(list_inner_product(b.v, b.v))
                * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cosine
FROM b, q WHERE bit_count(xor(b.bucket, q.qb)) <= {probe_hamming}
ORDER BY cosine DESC, vec_id LIMIT {k}
"""


SQL_ANN_LSH = _sql_ann_lsh()


# -- rows-only entries (genuinely non-SQL ops: pUDF / engine state) --------


_ANN_INDEX_CACHE: dict[str, str] = {}


def _idx_fingerprint(src_file: str, params: str) -> str:
    """Index cache key covering the DATA (source file stat) and every
    build parameter — a stale /tmp index from older fixtures or a
    param change must miss, not silently answer."""
    import hashlib

    st = os.stat(src_file)
    return hashlib.md5(
        f"{src_file}|{st.st_size}|{st.st_mtime_ns}|{params}"
        .encode()).hexdigest()[:12]


def _ann_index(spark, sf) -> str:
    """Build (once per DATA fingerprint) the bucket-partitioned LSH
    index — the storage-layer scale path; queries prune to their probe
    buckets. Reuses an on-disk build across processes (the _SUCCESS
    guard protects against partial writes; the stat fingerprint in the
    path protects against stale data/params), so a fresh process pays
    a directory stat, not a rebuild — index construction is an offline
    operation, not part of any query."""
    if sf not in _ANN_INDEX_CACHE:
        import tempfile

        n_planes = ANN_LSH["n_planes"]
        src = f"{sf.rstrip('/')}/embeddings.parquet"
        key = _idx_fingerprint(src, f"lsh_p{n_planes}_seed42")
        path = f"{tempfile.gettempdir()}/crawlspark_annidx_{key}"
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            emb = _t(spark, sf, "embeddings")
            dim = len(emb.select("embedding").first()["embedding"])
            X.build_ann_index(emb, path, dim, n_planes=n_planes)
        _ANN_INDEX_CACHE[sf] = path
    return _ANN_INDEX_CACHE[sf]


_IVF_INDEX_CACHE: dict[str, str] = {}


def _ivf_index(spark, sf) -> str:
    """Build (once per DATA fingerprint) the IVF-Flat index; same
    cross-process on-disk reuse contract as _ann_index. The centroids
    dir is written LAST, so its _SUCCESS guards the whole build."""
    if sf not in _IVF_INDEX_CACHE:
        import tempfile

        src = f"{sf.rstrip('/')}/embeddings.parquet"
        key = _idx_fingerprint(src, "ivf_k16_it5_seed42")
        path = f"{tempfile.gettempdir()}/crawlspark_ivfidx_{key}"
        if not os.path.exists(os.path.join(path + "_centroids", "_SUCCESS")):
            emb = _t(spark, sf, "embeddings")
            X.build_ivf_index(emb, path, n_centroids=16, max_iter=5)
        _IVF_INDEX_CACHE[sf] = path
    return _IVF_INDEX_CACHE[sf]


def warm_ann_indices(spark, sf) -> float:
    """Build (or fingerprint-verify on disk) both persisted ANN
    indices AND run the IVF self-check contract once; returns seconds
    spent. Index construction + acceptance checks are the offline half
    of the ANN contract — benchmarks call this UNTIMED (but report the
    cost separately) so the timed ann_lsh/ann_ivf entries measure the
    lookup path, exactly as a cluster serving queries against a
    standing index would. Callers that skip the warm-up (the
    correctness driver) still get the full in-query contract."""
    import time

    t0 = time.time()
    _ann_index(spark, sf)
    path = _ivf_index(spark, sf)
    _verify_ivf_index(spark, sf, path)
    return time.time() - t0


def q_ann_ivf(spark, sf):
    """IVF-Flat ANN over the PERSISTED centroid-partitioned index
    (rows-only: the k-means quantizer is trained, not SQL-replicable;
    exactness contracts are pinned in tests/test_textops.py — a full
    probe equals brute force, narrow probes prune partitions). Driver
    ranks the tiny centroid table; executors read only nprobe cells."""
    emb = _t(spark, sf, "embeddings")
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    path = _ivf_index(spark, sf)
    out = (X.ann_topk_ivf(spark, path, q, nprobe=4)
           .select(F.col("vec_id").cast("long").alias("vec_id"), "cosine"))
    if path in _IVF_VERIFIED:
        # contract already held for this immutable (fingerprint-keyed)
        # index + the same deterministic query vector in this process —
        # the timed path is the probe alone
        return out
    rows = _verify_ivf_index(spark, sf, path, probe_rows=out)
    # the probe already ran for verification — hand the caller the
    # collected rows instead of recomputing the whole query
    return spark.createDataFrame(rows, out.schema)


_IVF_VERIFIED: set[str] = set()


def _verify_ivf_index(spark, sf, path, probe_rows=None):
    """Self-checking contracts for the IVF index (replaces
    trust-the-pytest; the row was `no_oracle` because the trained
    quantizer is not SQL-replicable). All cosines below fold the
    identical F.aggregate expression in array order, so comparisons
    are float-EXACT:
      1. SOUND — full-probe top-10 over the index == brute-force
         top-10 over the raw table (quantizer partitioning must be
         lossless; catches stale/corrupt index and k-means bugs).
      2. SOUND — every returned cosine equals brute force's cosine
         for that vec_id (index stores true vectors, not residuals).
      3. FIXTURE-VALIDATED — returned top-10 at nprobe=4/16 sits
         inside brute-force top-50. Not guaranteed by IVF semantics
         (a low-recall probe can surface deeper ranks) but holds on
         both driver scales for this corpus and pins recall drift.
    Reference frames are <=50 rows; the checks cost three small jobs.
    Memoized per index path: the path embeds the data fingerprint and
    the query vector is deterministic, so one green run per process is
    exactly as strong as one per call."""
    emb = _t(spark, sf, "embeddings")
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    if probe_rows is None:
        probe_rows = (X.ann_topk_ivf(spark, path, q, nprobe=4)
                      .select(F.col("vec_id").cast("long").alias("vec_id"),
                              "cosine"))
    ref = {r["vec_id"]: r["cosine"]
           for r in X.brute_force_topk(emb, q, k=50)
           .select(F.col("vec_id").cast("long").alias("vec_id"), "cosine")
           .collect()}
    full = (X.ann_topk_ivf(spark, path, q, nprobe=16)
            .select(F.col("vec_id").cast("long").alias("vec_id"), "cosine")
            .collect())
    top10 = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    # explicit raises, not assert: the contract must survive python -O
    if sorted((r["vec_id"], r["cosine"]) for r in full) != sorted(top10):
        raise RuntimeError("ann_ivf: full probe != brute force top-10")
    rows = probe_rows.collect()
    for r in rows:
        if r["vec_id"] not in ref or ref[r["vec_id"]] != r["cosine"]:
            raise RuntimeError(
                f"ann_ivf containment violated for vec_id={r['vec_id']}")
    _IVF_VERIFIED.add(path)
    return rows


def q_ann_lsh(spark, sf):
    """Multi-probe LSH ANN over the PERSISTED bucket-partitioned index.
    The probe filter is a partition predicate — only probe buckets'
    files are read (plan audit pins PartitionFilters in
    tests/test_plans.py). Approximate BUT deterministic (splitmix64
    hyperplanes), so it has a full oracle: _sql_ann_lsh replicates the
    buckets + hamming-ball probe + cosine in DuckDB."""
    emb = _t(spark, sf, "embeddings")
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    idx = _ann_index(spark, sf)
    return (X.ann_topk_lsh_indexed(spark, idx, q, k=ANN_LSH["k"],
                                   n_planes=ANN_LSH["n_planes"],
                                   probe_hamming=ANN_LSH["probe_hamming"])
            .select(F.col("vec_id").cast("long").alias("vec_id"), "cosine"))


def q_media_features(spark, sf):
    """Multimodal decode/resize/featurize over real PNG/WAV/CSV1-video
    payloads (rows-only: binary codecs are not SQL-expressible; codec
    round-trips are pinned by tests/test_multimodal.py). The media
    table is synthesized deterministically — no external data."""
    from . import multimodal as M

    # Raw row tuples, NOT the pandas frame: the non-Arrow
    # createDataFrame fallback coerces nullable Int32 → float64 via
    # to_records() and the schema verifier rejects it. Tuples work
    # identically whether or not the session enables Arrow.
    media = spark.createDataFrame(M.gen_media_rows(120),
                                  schema=M.MEDIA_SCHEMA)
    # The catalog row must carry ONLY scalar columns: the driver
    # canonicalizes results in pandas and sort_values over a list cell
    # dies in factorize (TypeError: unhashable type 'list' — the r4
    # failure). Flatten the feature vector to a deterministic string;
    # %.5f is exact-stable (the floats themselves are deterministic,
    # pinned by tests/test_multimodal.py) and format_string never
    # inserts locale grouping separators the way format_number does.
    feat_str = F.array_join(
        F.transform("feature", lambda x: F.format_string("%.5f", x)), ",")
    return (M.extract_features(media)
            .select(F.col("media_id").cast("long").alias("media_id"),
                    "kind", feat_str.alias("feature"),
                    F.col("n_frames").cast("long").alias("n_frames"))
            .orderBy("media_id"))


def q_clean_to_text(spark, sf):
    """C2 byte-identity cleaner over documents-as-HTML (pandas UDF —
    rows-only; the byte gate itself is pinned by pytest golden tests)."""
    from .clean import udfs as clean_udfs

    docs = _t(spark, sf, "documents")
    _, clean_to_text_udf, _ = clean_udfs()
    html = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>\n\n\n<script>x()</script>"))
    return (docs.select("doc_id", clean_to_text_udf(html).alias("clean_text"))
            .orderBy("doc_id"))


def q_doc_repetition(spark, sf):
    """Gopher/RefinedWeb repetition signals (textops.repetition_metrics):
    token counts, distinct ratio, top-bigram/trigram mass fractions.
    Oracle rebuilds the n-gram counting with DuckDB lateral range()."""
    docs = _t(spark, sf, "documents")
    return (X.repetition_metrics(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_words").cast("long").alias("n_words"),
                    "distinct_ratio", "top_bigram_frac", "top_trigram_frac")
            .orderBy("doc_id"))


SQL_DOC_REPETITION = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS ws
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), w AS (
  SELECT doc_id, ws[i] AS w FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM toks)
), bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM toks)
), tg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM toks)
), words AS (
  SELECT doc_id, count(*) AS n_words,
         round(count(DISTINCT w)::DOUBLE / count(*), 4) AS distinct_ratio
  FROM w GROUP BY doc_id
), b2 AS (
  SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id
), t3 AS (
  SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_trigram_frac
  FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2) GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n_words, 0)::BIGINT AS n_words,
       coalesce(distinct_ratio, 0.0) AS distinct_ratio,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
       coalesce(top_trigram_frac, 0.0) AS top_trigram_frac
FROM documents d LEFT JOIN words USING (doc_id)
LEFT JOIN b2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
ORDER BY doc_id
"""


def q_doc_decontaminate(spark, sf):
    """Train/test decontamination (textops.decontaminate): the held-out
    eval set is derived deterministically INSIDE the query (doc_id %
    97 == 0 — the driver generates no separate benchmark table); every
    corpus doc sharing a distinct word 8-gram with any eval doc is
    flagged. Exact-duplicate eval docs in the corpus flag their twins —
    the case decontamination exists for."""
    docs = _t(spark, sf, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return (X.decontaminate(docs, eval_df)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_overlap").cast("long").alias("n_overlap"),
                    "contaminated")
            .orderBy("doc_id"))


SQL_DOC_DECONTAMINATE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS ws
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), g8 AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6]
         || ' ' || ws[i+7] AS g
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
        FROM toks)
), eval8 AS (
  SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0
), hits AS (
  SELECT g8.doc_id, count(*) AS n_overlap
  FROM g8 JOIN eval8 USING (g) GROUP BY g8.doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
ORDER BY doc_id
"""


def q_pii_scrub(spark, sf):
    """PII redaction (textops.pii_scrub). The corpus is word-soup, so
    deterministic PII is appended per doc (email, intl phone, IPv4)
    IDENTICALLY in both engines; the scrub replaces with typed tokens
    and reports the per-doc redaction count. Patterns are written in
    the Java∩RE2 regex dialect so the SQL oracle runs the same text."""
    docs = _t(spark, sf, "documents")
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), F.col("doc_id"),
        F.lit("@mail.example.com or call +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), F.pmod(F.col("doc_id"), F.lit(256)),
        F.lit(".7"))
    return (X.pii_scrub(docs.select("doc_id", aug.alias("text")))
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "clean_text", "n_pii")
            .orderBy("doc_id"))


SQL_PII_SCRUB = r"""
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') || ' contact user' || doc_id
         || '@mail.example.com or call +1-555-'
         || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         || ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.7' AS t
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
         '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')
         AS clean_text,
       (len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(t, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))
        + len(regexp_extract_all(
            regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
            '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')))::BIGINT AS n_pii
FROM aug ORDER BY doc_id
"""


def q_corpus_filter(spark, sf):
    """The composed training-data admission pipeline (RefinedWeb/
    Gopher shape): every document gets a keep/drop verdict plus the
    sorted list of violated rules —

      short/long    n_words outside [10, 10000]
      repetitive    distinct_ratio < 0.2 OR top_bigram_frac > 0.5
      exact_dup     md5-identical to a lower-doc_id document
      contaminated  shares a word 8-gram with the held-out eval set
                    (doc_id % 97 == 0), eval docs themselves exempt

    One pass composes repetition_metrics + exact-dup groups +
    decontaminate; each input is the already-scaling operator, joined
    back on doc_id (broadcast-sized at bench scale, partial-agg'd at
    100 TB)."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf, "documents")
    # only the bigram gate is consulted — skip the trigram branch
    rep = X.repetition_metrics(docs, include_trigram=False)
    # exact-dup losers: every doc whose md5 equals a smaller doc_id's —
    # one window shuffle on the hash (the r4 groupBy+join-back paid a
    # second exchange for the same answer). NULL text hashes as '' so
    # null-text duplicates group (a bare md5(text) join would drop NULL
    # keys while the oracle's window PARTITION BY groups them)
    wh = Window.partitionBy(F.md5(F.coalesce(F.col("text"), F.lit(""))))
    losers = (docs.select("doc_id",
                          F.min("doc_id").over(wh).alias("_keep"))
              .filter(F.col("doc_id") != F.col("_keep"))
              .select("doc_id").withColumn("_dup", F.lit(True)))
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    cont = (X.decontaminate(docs, eval_df)
            .select("doc_id", "contaminated"))
    j = (rep.withColumnRenamed("doc_id", "doc_id")
         .join(losers, "doc_id", "left")
         .join(cont, "doc_id", "left"))
    is_eval = F.col("doc_id") % 97 == 0
    reasons = F.array_compact(F.array(
        F.when((F.col("n_words") < 10) | (F.col("n_words") > 10000),
               F.lit("length")),
        F.when((F.col("distinct_ratio") < 0.2)
               | (F.col("top_bigram_frac") > 0.5), F.lit("repetitive")),
        F.when(F.coalesce(F.col("_dup"), F.lit(False)), F.lit("exact_dup")),
        F.when(F.coalesce(F.col("contaminated"), F.lit(False)) & ~is_eval,
               F.lit("contaminated"))))
    return (j.select(F.col("doc_id").cast("long").alias("doc_id"),
                     (F.size(reasons) == 0).alias("keep"),
                     F.array_join(F.array_sort(reasons), ",")
                     .alias("reject_reasons"))
            .orderBy("doc_id"))


SQL_CORPUS_FILTER = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS ws
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), w AS (
  SELECT doc_id, ws[i] AS w FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM toks)
), bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM toks)
), words AS (
  SELECT doc_id, count(*) AS n_words,
         round(count(DISTINCT w)::DOUBLE / count(*), 4) AS distinct_ratio
  FROM w GROUP BY doc_id
), b2 AS (
  SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id
), losers AS (
  SELECT doc_id, TRUE AS _dup FROM (
    SELECT doc_id, min(doc_id)
             OVER (PARTITION BY md5(coalesce(text, ''))) AS _keep
    FROM documents) WHERE doc_id != _keep
), g8 AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6]
         || ' ' || ws[i+7] AS g
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
        FROM toks)
), eval8 AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0
), cont AS (
  SELECT DISTINCT g8.doc_id, TRUE AS contaminated
  FROM g8 JOIN eval8 USING (g)
), sig AS (
  SELECT d.doc_id,
         coalesce(n_words, 0) AS n_words,
         coalesce(distinct_ratio, 0.0) AS distinct_ratio,
         coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
         coalesce(_dup, FALSE) AS _dup,
         coalesce(contaminated, FALSE) AND d.doc_id % 97 != 0 AS _cont
  FROM documents d LEFT JOIN words USING (doc_id)
  LEFT JOIN b2 USING (doc_id) LEFT JOIN losers USING (doc_id)
  LEFT JOIN cont USING (doc_id)
), verdict AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN n_words < 10 OR n_words > 10000 THEN 'length' END,
           CASE WHEN distinct_ratio < 0.2 OR top_bigram_frac > 0.5
                THEN 'repetitive' END,
           CASE WHEN _dup THEN 'exact_dup' END,
           CASE WHEN _cont THEN 'contaminated' END
         ], x -> x IS NOT NULL)) AS rs
  FROM sig
)
SELECT doc_id::BIGINT AS doc_id, len(rs) = 0 AS keep,
       coalesce(array_to_string(rs, ','), '') AS reject_reasons
FROM verdict ORDER BY doc_id
"""


def q_len_histogram(spark, sf):
    """Power-of-two token-length histogram (textops.length_histogram):
    the sequence-length planning table. Bucket = floor(log2(tokens))
    via integer bit-length in BOTH engines (length(bin(n)) - 1) — no
    float log2 anywhere, so power-of-two boundaries cannot flip."""
    docs = _t(spark, sf, "documents")
    return (X.length_histogram(docs)
            .orderBy("bucket"))


SQL_LEN_HISTOGRAM = r"""
WITH n AS (
  SELECT CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
         AS n_tok
  FROM documents
)
SELECT (length(bin(greatest(n_tok, 1))) - 1)::BIGINT AS bucket,
       count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS total_tokens,
       min(n_tok)::BIGINT AS min_tokens,
       max(n_tok)::BIGINT AS max_tokens
FROM n GROUP BY 1 ORDER BY bucket
"""


def q_inverted_index(spark, sf):
    """Positional inverted index build (textops.build_inverted_index):
    token -> (df, cf, "doc:tf:p0|p1;..." postings), df-capped at 80%
    of the corpus (stopword elision — the guard that keeps a mega-
    token's posting list out of a single reduce task at corpus scale;
    fractional so the demonstration survives every SF). The oracle
    rebuilds the identical postings strings with ordered string_aggs."""
    docs = _t(spark, sf, "documents")
    cap = int(docs.count() * 0.8)
    return (X.build_inverted_index(docs, df_cap=cap)
            .orderBy("w"))


SQL_INVERTED_INDEX = r"""
WITH toks0 AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS t
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), toks AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks0)
), per_doc AS (
  SELECT w, doc_id, count(*) AS tf,
         string_agg(pos::VARCHAR, '|' ORDER BY pos) AS plist
  FROM toks GROUP BY w, doc_id
)
SELECT w, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
       string_agg(doc_id || ':' || tf || ':' || plist, ';' ORDER BY doc_id)
         AS postings
FROM per_doc GROUP BY w
HAVING count(*) <= (SELECT floor(count(*) * 0.8) FROM documents)
ORDER BY w
"""


def q_lm_buckets(spark, sf):
    """CCNet head/middle/tail bucketing (textops.grouped_ntile over
    textops.lm_quality_score): per-language terciles of LM score via
    the DISTRIBUTED exact ntile — global range partition on (score,
    key), per-partition local rank, broadcast offsets, integer NTILE
    closed form — never a one-task-per-language window sort. The
    oracle is DuckDB's own ntile(3) window over the identical score."""
    docs = _t(spark, sf, "documents")
    scored = (X.lm_quality_score(docs)
              .join(docs.select("doc_id", "lang"), "doc_id")
              .select("doc_id", "lang", "lm_score"))
    labeled = X.grouped_ntile(scored, "lang", ["lm_score", "doc_id"])
    return (labeled.select(
                F.col("doc_id").cast("long").alias("doc_id"), "lang",
                "lm_score",
                F.when(F.col("bucket") == 1, "head")
                 .when(F.col("bucket") == 2, "middle")
                 .otherwise("tail").alias("bucket"))
            .orderBy("doc_id"))


SQL_LM_BUCKETS = f"""
WITH scored AS ({SQL_DOC_LM_SCORE}),
j AS (
  SELECT s.doc_id, d.lang, s.lm_score
  FROM scored s JOIN documents d USING (doc_id)
), b AS (
  SELECT doc_id, lang, lm_score,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY lm_score, doc_id) AS nt
  FROM j
)
SELECT doc_id::BIGINT AS doc_id, lang, lm_score,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket
FROM b ORDER BY doc_id
"""


def q_dedup_keep_best(spark, sf):
    """End-to-end dedup retention (dedup.keep_best_per_cluster over
    dedup.dup_clusters over textops.minhash_lsh_pairs): LSH near-dup
    pairs -> connected components -> keep the best-quality doc per
    component (min doc_id on ties) — the full keep/drop decision a
    training corpus dedup pass emits. Cluster argmax is a grouped
    max_by (partial-agg'd, mega-cluster-safe), never a per-cluster
    window sort. The oracle replays components with the recursive CTE
    and the argmax with a row_number window."""
    return (_keep_best(_t(spark, sf, "documents"))
            .select(F.col("key").cast("long").alias("doc_id"),
                    F.col("cluster").cast("long").alias("cluster"),
                    "quality", "kept")
            .orderBy("doc_id"))


SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE pairs AS ({SQL_DOC_LSH_PAIRS}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.lbl FROM walk w JOIN edges e ON e.a = w.id
),
labels AS (
  SELECT id AS doc_id, min(lbl) AS cluster FROM walk GROUP BY id
),
q AS (
  SELECT doc_id,
         round(((CASE WHEN length(text) BETWEEN 80 AND 20000
                      THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN length(text) / greatest(
                        CASE WHEN trim(text) = '' THEN 0
                             ELSE len(string_split_regex(
                                      trim(lower(text)), '\\s+')) END, 1)
                      BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN (length(text) - length(regexp_replace(
                             text, '[.,!?;:]', '', 'g')))
                           / greatest(length(text), 1) <= 0.1
                      THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN (length(text) - length(regexp_replace(
                             text, '[A-Z]', '', 'g')))
                           / greatest(length(text), 1) <= 0.3
                      THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS quality
  FROM documents
),
r AS (
  SELECT l.doc_id, l.cluster, q.quality,
         row_number() OVER (PARTITION BY l.cluster
                            ORDER BY q.quality DESC, l.doc_id ASC) AS rn
  FROM labels l JOIN q USING (doc_id)
)
SELECT doc_id::BIGINT AS doc_id, cluster::BIGINT AS cluster,
       quality, rn = 1 AS kept
FROM r ORDER BY doc_id
"""


def q_pmi_bigrams(spark, sf):
    """Top-50 bigram collocations by PMI (textops.pmi_bigrams),
    min bigram count 5. PMI rounded to 4 before the ordering, ties
    broken by bigram text — the top-k set is engine- and parallelism-
    stable. Oracle replays the identical probability arithmetic."""
    docs = _t(spark, sf, "documents")
    return X.pmi_bigrams(docs)


SQL_PMI_BIGRAMS = r"""
WITH toks0 AS (
  SELECT string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS t
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks0) GROUP BY w
), big AS (
  SELECT array_to_string(t[i:i+1], ' ') AS bg, count(*) AS cb
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks0 WHERE len(t) >= 2)
  GROUP BY bg
), nu AS (SELECT sum(c)::DOUBLE AS n FROM uni),
   nb AS (SELECT sum(cb)::DOUBLE AS n FROM big),
sp AS (
  SELECT bg, cb, string_split(bg, ' ')[1] AS w1,
         string_split(bg, ' ')[2] AS w2
  FROM big WHERE cb >= 5
)
SELECT sp.bg AS bigram, sp.cb::BIGINT AS n,
       round(log2((sp.cb / nb.n)
                  / ((u1.c / nu.n) * (u2.c / nu.n))), 4) AS pmi
FROM sp, nu, nb
JOIN uni u1 ON u1.w = sp.w1
JOIN uni u2 ON u2.w = sp.w2
ORDER BY pmi DESC, bigram LIMIT 50
"""


def q_quality_quantiles(spark, sf):
    """Exact per-language quality quantiles (textops.group_quantiles):
    p25/p50/p75 of the heuristic quality score per lang — the corpus-QA
    threshold table. Lower discrete quantile = value at rank
    ceil(n*q/100) in (quality, doc_id) order, pure integer target
    arithmetic; rank comes from the distributed grouped_rank (range
    partition + broadcast offsets), never a per-language window sort.
    The oracle replays the same rank/target arithmetic with windows."""
    docs = _t(spark, sf, "documents")
    scored = docs.select("lang", "doc_id",
                         X.quality_score(F.col("text")).alias("q"))
    return (X.group_quantiles(scored, "lang", "q", "doc_id")
            .select("lang", "q_pct", F.col("value").alias("quality"))
            .orderBy("lang", "q_pct"))


SQL_QUALITY_QUANTILES = r"""
WITH b AS (
  SELECT doc_id, lang, length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
  FROM documents
), s AS (
  SELECT doc_id, lang,
         round(((CASE WHEN n_chars BETWEEN 80 AND 20000 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN n_chars / greatest(n_tokens, 1) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN n_punct / greatest(n_chars, 1) <= 0.1 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN n_upper / greatest(n_chars, 1) <= 0.3 THEN 1.0 ELSE 0.0 END)) / 4.0, 4)
           AS q
  FROM b
), r AS (
  SELECT lang, q, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM s
)
SELECT lang, k.q_pct, q AS quality
FROM r JOIN (VALUES (25), (50), (75)) AS k(q_pct)
  ON rn = (n * k.q_pct + 99) // 100
ORDER BY lang, k.q_pct
"""


def q_vocab_coverage(spark, sf):
    """Tokenizer vocab-coverage curve (textops.vocab_coverage): for
    k in {1,16,256,4096}, the fraction of corpus token occurrences the
    top-k tokens cover. Corpus side is one partial-agg'd count; the
    rank window runs only over the TakeOrdered max(k)-row vocab head;
    the corpus total joins as a 1-row broadcast."""
    docs = _t(spark, sf, "documents")
    return X.vocab_coverage(docs).orderBy("k")


SQL_VOCAB_COVERAGE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), uni AS (
  SELECT w, count(*) AS c FROM toks GROUP BY w
), tot AS (SELECT sum(c)::DOUBLE AS t FROM uni),
rk AS (
  SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS r FROM uni
)
SELECT k.k, count(*)::BIGINT AS vocab_used, sum(c)::BIGINT AS covered_tokens,
       round(sum(c) / (SELECT t FROM tot), 6) AS coverage
FROM rk JOIN (VALUES (1), (16), (256), (4096)) AS k(k) ON rk.r <= k.k
GROUP BY k.k ORDER BY k.k
"""


def q_shard_plan(spark, sf):
    """Deterministic training-shard assignment (textops.shard_plan):
    global shuffle by md5(doc_id) split into 64-doc shards —
    (doc_id, shard, pos_in_shard), bit-reproducible at any
    parallelism. Global rank via grouped_rank with a constant group
    (range partition on the uniform hash), no SinglePartition stage.
    The oracle is the plain row_number definition."""
    docs = _t(spark, sf, "documents")
    return (X.shard_plan(docs.select("doc_id"), "doc_id", 64)
            .orderBy("doc_id"))


SQL_SHARD_PLAN = r"""
WITH r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, ((rn - 1) // 64)::BIGINT AS shard,
       ((rn - 1) % 64)::BIGINT AS pos_in_shard
FROM r ORDER BY doc_id
"""


def q_vocab_growth(spark, sf):
    """Heaps'-law vocabulary growth (textops.vocab_growth): distinct
    token types within the first k docs for k in {16,64,256,1024} —
    one partial-agg'd min(first-doc) per token, checkpoints joined as
    a broadcast 4-row frame. The corpus tokenizes once."""
    docs = _t(spark, sf, "documents")
    return X.vocab_growth(docs).orderBy("k_docs")


SQL_VOCAB_GROWTH = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), first AS (
  SELECT w, min(doc_id) AS f FROM toks GROUP BY w
)
SELECT k.k_docs::BIGINT AS k_docs, count(*)::BIGINT AS vocab_size
FROM first JOIN (VALUES (16), (64), (256), (1024)) AS k(k_docs)
  ON first.f <= k.k_docs
GROUP BY k.k_docs ORDER BY k_docs
"""


def q_dedup_report(spark, sf):
    """Per-source dedup attrition (textops.dedup_report over the
    dedup_keep_best pipeline): docs and token mass kept vs dropped by
    source after cluster-aware near-dup retention — the table a corpus
    owner reads to see which source was boilerplate. One join + one
    grouped aggregate over the retention verdicts."""
    docs = _t(spark, sf, "documents")
    return (X.dedup_report(_keep_best(docs),
                           docs.withColumnRenamed("doc_id", "key"),
                           key_col="key")
            .orderBy("source"))


SQL_DEDUP_REPORT = f"""
WITH kb AS ({SQL_DEDUP_KEEP_BEST}),
t AS (
  SELECT d.doc_id, d.source,
         CASE WHEN trim(lower(coalesce(d.text, ''))) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(d.text)), '\\s+')) END
           AS tok,
         kb.kept
  FROM documents d JOIN kb USING (doc_id)
)
SELECT source, count(*)::BIGINT AS docs_in,
       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS docs_kept,
       sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS docs_dropped,
       sum(CASE WHEN kept THEN tok ELSE 0 END)::BIGINT AS tokens_kept,
       sum(CASE WHEN kept THEN 0 ELSE tok END)::BIGINT AS tokens_dropped
FROM t GROUP BY source ORDER BY source
"""


def q_bigram_lm(spark, sf):
    """Bigram-conditional LM scoring (textops.bigram_lm_score): mean
    log2 p(w2|w1) per doc under the corpus's own add-0.5-smoothed
    bigram model — one corpus explode (persisted), all model
    arithmetic on the vocab-sized count table, one scoring join.
    The oracle replays the identical estimator."""
    docs = _t(spark, sf, "documents")
    return (X.bigram_lm_score(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_pairs", "bigram_lp")
            .orderBy("doc_id"))


SQL_BIGRAM_LM = r"""
WITH toks0 AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS t
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), pairs AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks0 WHERE len(t) >= 2)
), big AS (
  SELECT bg, count(*) AS c12 FROM pairs GROUP BY bg
), w1s AS (
  SELECT string_split(bg, ' ')[1] AS w1, sum(c12) AS c1
  FROM big GROUP BY w1
), v AS (
  SELECT count(DISTINCT string_split(bg, ' ')[2])::DOUBLE AS v FROM big
), model AS (
  SELECT big.bg, log2((big.c12 + 0.5) / (w1s.c1 + 0.5 * v.v)) AS lp
  FROM big JOIN w1s ON string_split(big.bg, ' ')[1] = w1s.w1, v
), scored AS (
  SELECT doc_id, count(*) AS n_pairs, round(avg(lp), 4) AS bigram_lp
  FROM pairs JOIN model USING (bg) GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(s.n_pairs, 0)::BIGINT AS n_pairs,
       coalesce(s.bigram_lp, 0.0) AS bigram_lp
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY doc_id
"""


def q_distinct_kmv(spark, sf):
    """Per-source distinct-token cardinality: exact count beside the
    K-Minimum-Values sketch estimate (textops.kmv_distinct) — the
    deterministic alternative to HLL, so the DuckDB oracle replays the
    estimator hash-for-hash (same md5→60-bit scheme as simhash)."""
    docs = _t(spark, sf, "documents")
    return X.kmv_distinct(docs).orderBy("source")


SQL_DISTINCT_KMV = r"""
WITH toks AS (
  SELECT DISTINCT source AS grp,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), hashed AS (
  SELECT grp, ('0x' || substr(md5(w), 1, 15))::UBIGINT::BIGINT AS h
  FROM toks
), ranked AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r
  FROM hashed
), agg AS (
  SELECT grp, count(*)::BIGINT AS n_exact,
         max(CASE WHEN r = 128 THEN h END) AS hk
  FROM ranked GROUP BY grp
)
SELECT grp AS source, n_exact,
       CASE WHEN hk IS NULL THEN n_exact::DOUBLE
            ELSE round(127.0 * 1152921504606846976.0 / hk::DOUBLE, 2)
       END AS kmv_est,
       128::BIGINT AS kmv_k
FROM agg ORDER BY source
"""


def q_zipf_fit(spark, sf):
    """Per-source Zipf-slope fit over the top-200 vocabulary
    (textops.zipf_slope): ln(count) ~ ln(rank) least squares —
    boilerplate/spam shape detector. Oracle uses DuckDB's native
    regr_slope against Spark's covar_pop/var_pop formulation."""
    docs = _t(spark, sf, "documents")
    return X.zipf_slope(docs).orderBy("source")


SQL_ZIPF_FIT = r"""
WITH counts AS (
  SELECT grp, w, count(*)::BIGINT AS c FROM (
    SELECT source AS grp,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
  ) GROUP BY grp, w
), ranked AS (
  SELECT grp, c,
         row_number() OVER (PARTITION BY grp ORDER BY c DESC, w ASC) AS r
  FROM counts
)
SELECT grp AS source, count(*)::BIGINT AS n_types,
       round(regr_slope(ln(c::DOUBLE), ln(r::DOUBLE)), 4) AS zipf_slope
FROM ranked WHERE r <= 200 GROUP BY grp ORDER BY source
"""


def q_corpus_rollup(spark, sf):
    """CUBE(lang, source) doc/token/byte totals — the corpus-mixture
    summary table at every rollup level in ONE pass (Spark expands the
    grouping sets before the partial aggregate, so the corpus is
    scanned once, not 4x). lang/source are non-null in this corpus, so
    the 'ALL' coalesce labels the rollup levels unambiguously."""
    docs = _t(spark, sf, "documents")
    n_tok = X.token_count(F.col("text")).cast("long")
    return (docs.select("lang", "source", n_tok.alias("_t"),
                        F.octet_length(F.coalesce("text", F.lit("")))
                        .cast("long").alias("_b"))
            .cube("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_t").cast("long").alias("n_tokens"),
                 F.sum("_b").cast("long").alias("n_bytes"))
            .select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    F.coalesce("source", F.lit("ALL")).alias("source"),
                    "n_docs", "n_tokens", "n_bytes")
            .orderBy("lang", "source"))


SQL_CORPUS_ROLLUP = r"""
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN 0
                ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
           )::BIGINT AS n_tokens,
       sum(strlen(coalesce(text, '')))::BIGINT AS n_bytes
FROM documents
GROUP BY CUBE(lang, source)
ORDER BY coalesce(lang, 'ALL'), coalesce(source, 'ALL')
"""


def q_utf8_stats(spark, sf):
    """Per-document encoding-health profile (textops.utf8_stats):
    UTF-8 width histogram from two regex passes + exact integer
    identities, ASCII ratio, control/replacement counts — the
    mojibake and binary-garbage detector. Oracle counts the same RE2
    character classes via len(regexp_extract_all)."""
    docs = _t(spark, sf, "documents")
    return (X.utf8_stats(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_bytes", "n_chars", "n_ascii", "n_2byte",
                    "n_3byte", "n_4byte", "ascii_ratio", "n_ctrl",
                    "n_replacement")
            .orderBy("doc_id"))


SQL_UTF8_STATS = r"""
WITH b AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), c AS (
  SELECT doc_id,
         strlen(t)::BIGINT AS n_bytes, length(t)::BIGINT AS n_chars,
         len(regexp_extract_all(t, '[\x00-\x7f]'))::BIGINT AS n_ascii,
         len(regexp_extract_all(t, '[\x{0080}-\x{07ff}]'))::BIGINT AS n_2byte,
         len(regexp_extract_all(t, '[\x00-\x08\x0b\x0c\x0e-\x1f]'))::BIGINT
           AS n_ctrl,
         (length(t) - length(replace(t, '�', '')))::BIGINT AS n_replacement
  FROM b
)
SELECT doc_id::BIGINT AS doc_id, n_bytes, n_chars, n_ascii, n_2byte,
       (n_chars - n_ascii - n_2byte
        - (n_bytes - 3 * n_chars + 2 * n_ascii + n_2byte))::BIGINT AS n_3byte,
       (n_bytes - 3 * n_chars + 2 * n_ascii + n_2byte)::BIGINT AS n_4byte,
       round(n_ascii::DOUBLE / greatest(n_chars, 1), 4) AS ascii_ratio,
       n_ctrl, n_replacement
FROM c ORDER BY doc_id
"""


def q_source_reputation(spark, sf):
    """Domain-level reputation table (textops.source_reputation):
    mean quality per source vs the corpus mean, low_rep flag — the
    FineWeb-style site filter. Global mean derives from the per-source
    sums (no second scan); oracle replays sum-of-sums/count exactly."""
    docs = _t(spark, sf, "documents")
    return X.source_reputation(docs).orderBy("source")


SQL_SOURCE_REPUTATION = r"""
WITH q AS (
  SELECT source,
         ((CASE WHEN length(coalesce(text, '')) BETWEEN 80 AND 20000
                THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN length(coalesce(text, ''))::DOUBLE
                       / greatest(CASE WHEN trim(lower(coalesce(text, ''))) = ''
                                       THEN 0
                             ELSE len(string_split_regex(
                                      trim(lower(text)), '\s+')) END, 1)
                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN (length(coalesce(text, '')) - length(regexp_replace(
                         coalesce(text, ''), '[.,!?;:]', '', 'g')))
                       / greatest(length(coalesce(text, '')), 1) <= 0.1
                  THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN (length(coalesce(text, '')) - length(regexp_replace(
                         coalesce(text, ''), '[A-Z]', '', 'g')))
                       / greatest(length(coalesce(text, '')), 1) <= 0.3
                  THEN 1.0 ELSE 0.0 END)) / 4.0 AS qs
  FROM documents
), per AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(round(qs, 4)) AS qsum
  FROM q GROUP BY source
), g AS (
  SELECT sum(qsum) / sum(n_docs) AS gmean FROM per
)
SELECT source, n_docs, round(qsum / n_docs, 4) AS src_quality,
       round((SELECT gmean FROM g), 4) AS corpus_quality,
       (qsum / n_docs < (SELECT gmean FROM g)) AS low_rep
FROM per ORDER BY source
"""


def q_warc_roundtrip(spark, sf):
    """Common-Crawl-style WARC ingestion round-trip (crawlspark.warc):
    records are BUILT as one JVM Column expression, concatenated into
    bounded per-chunk blobs (one shuffle), then SEGMENTED back by a
    Content-Length-driven mapInPandas byte walker — the imperative
    parse Spark's Column algebra cannot express. Because the md5 is
    over payload bytes, the pUDF parse path gets a FULL SQL oracle:
    rec_id = doc_id, content_length = octet_length, md5 = md5(text)."""
    from . import warc as W

    docs = _t(spark, sf, "documents")
    chunks = W.build_warc_chunks(docs)
    return W.parse_warc_chunks(chunks).orderBy("rec_id")


SQL_WARC_ROUNDTRIP = r"""
SELECT doc_id::BIGINT AS rec_id, strlen(text)::BIGINT AS content_length,
       md5(text) AS payload_md5
FROM documents WHERE text IS NOT NULL ORDER BY rec_id
"""


def q_line_dedup(spark, sf):
    """Within-document repeated-line removal (textops.line_dedup, the
    C4 in-page dedup): pseudo-lines are 2-token chunks (the fixture is
    single-line word soup); a line survives at its first position
    only. Zero shuffle — array_distinct inside codegen; oracle keeps
    min-position per (doc, line) and re-joins in order."""
    docs = _t(spark, sf, "documents")
    return (X.line_dedup(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_lines", "n_kept", "clean_text")
            .orderBy("doc_id"))


SQL_LINE_DEDUP = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS t
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), lines AS (
  SELECT doc_id, i, array_to_string(t[(i-1)*2+1:(i-1)*2+2], ' ') AS ln
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, cast(ceil(len(t) / 2.0) AS INT))) AS i
        FROM toks)
), firsts AS (
  SELECT doc_id, ln, min(i) AS fi FROM lines GROUP BY doc_id, ln
), agg AS (
  SELECT l.doc_id, count(*) AS n_lines,
         count(DISTINCT l.ln) AS n_kept
  FROM lines l GROUP BY l.doc_id
), txt AS (
  SELECT doc_id, string_agg(ln, ' ' ORDER BY fi) AS clean_text
  FROM firsts GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(a.n_lines, 0)::BIGINT AS n_lines,
       coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       coalesce(t.clean_text, '') AS clean_text
FROM documents d
LEFT JOIN agg a USING (doc_id) LEFT JOIN txt t USING (doc_id)
ORDER BY doc_id
"""


def q_vocab_prune(spark, sf):
    """Fixed-vocab UNK analysis (textops.vocab_prune_stats): top-16
    vocabulary (count desc, token asc), per-doc out-of-vocab token
    occurrences and ratio — the capped-vocab tokenizer rehearsal.
    The head is TakeOrdered; scoring is a broadcast join."""
    docs = _t(spark, sf, "documents")
    return X.vocab_prune_stats(docs).orderBy("doc_id")


SQL_VOCAB_PRUNE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), head AS (
  SELECT w FROM (SELECT w, count(*) AS c FROM toks GROUP BY w)
  ORDER BY c DESC, w ASC LIMIT 16
), scored AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         sum(CASE WHEN h.w IS NULL THEN 1 ELSE 0 END) AS n_unk
  FROM toks t LEFT JOIN head h ON t.w = h.w
  GROUP BY t.doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(s.n_unk, 0)::BIGINT AS n_unk,
       round(coalesce(s.n_unk, 0)::DOUBLE
             / greatest(coalesce(s.n_tokens, 0), 1), 4) AS unk_ratio
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY doc_id
"""


# the SemDeDup shape q_semdedup runs and SQL_SEMDEDUP replays
SEMDEDUP = {"n_planes": 4, "threshold": 0.3}


def q_semdedup(spark, sf):
    """SemDeDup-style per-vector dedup verdict (textops.semantic_dedup):
    deterministic LSH-bucket clusters (the splitmix64 hyperplanes the
    ANN oracle already replays), min-id-wins drop of same-cluster
    cosine >= 0.3 neighbors. Full oracle: DuckDB recomputes the
    hyperplane buckets, the pair join, and the drop rule."""
    emb = _t(spark, sf, "embeddings")
    return (X.semantic_dedup(emb, threshold=SEMDEDUP["threshold"],
                             n_planes=SEMDEDUP["n_planes"])
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    "cluster", "kept")
            .orderBy("vec_id"))


def _sql_semdedup() -> str:
    """DuckDB replication of semantic_dedup: identical hyperplanes
    (textops._hyperplanes), sign-bit bucket, within-bucket pair
    cosines rounded to 6 (array-order folds agree bit-for-bit — the
    emb_near_dups/ann_lsh precedent), min-id-wins drop set. Plane
    constants are inlined for the fixture dim (64, all sf dirs)."""
    from .textops import _hyperplanes

    n_planes, threshold = SEMDEDUP["n_planes"], SEMDEDUP["threshold"]
    planes = _hyperplanes(64, n_planes)

    def lit_list(v):
        return "[" + ",".join(repr(float(x)) for x in v) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {lit_list(planes[p])}) >= 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS cluster FROM e),
drops AS (
  SELECT DISTINCT x.vec_id
  FROM b a JOIN b x ON a.cluster = x.cluster AND a.vec_id < x.vec_id
  WHERE round(list_inner_product(a.v, x.v)
              / (sqrt(list_inner_product(a.v, a.v))
                 * sqrt(list_inner_product(x.v, x.v))), 6) >= {threshold}
)
SELECT b.vec_id::BIGINT AS vec_id, b.cluster::BIGINT AS cluster,
       (d.vec_id IS NULL) AS kept
FROM b LEFT JOIN drops d ON b.vec_id = d.vec_id
ORDER BY vec_id
"""


SQL_SEMDEDUP = _sql_semdedup()


def q_cdc_chunks(spark, sf):
    """Content-defined chunking (textops.cdc_chunks): md5-boundary
    token chunks with per-chunk content hashes — the storage-dedup
    key a recrawl store would use. Oracle replays the boundary rule
    and the window-sum chunk ids in SQL."""
    docs = _t(spark, sf, "documents")
    return (X.cdc_chunks(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "chunk_idx", "n_tokens", "chunk_md5")
            .orderBy("doc_id", "chunk_idx"))


SQL_CDC_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS t
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), pos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
), flag AS (
  SELECT doc_id, pos, w,
         CASE WHEN ('0x' || substr(md5(w), 1, 15))::UBIGINT % 8 = 0
              THEN 1 ELSE 0 END AS f
  FROM pos
), ch AS (
  SELECT doc_id, pos, w,
         sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
  FROM flag
)
SELECT doc_id::BIGINT AS doc_id, chunk_idx::BIGINT AS chunk_idx,
       count(*)::BIGINT AS n_tokens,
       md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
FROM ch GROUP BY doc_id, chunk_idx
ORDER BY doc_id, chunk_idx
"""


def q_cms_freq(spark, sf):
    """Count-Min sketch frequency table (textops.cms_frequencies),
    estimates beside exact counts — deterministic md5 bucketing, so
    the oracle rebuilds the 4x64 sketch bucket-for-bucket and the
    one-sided-error invariant (est >= exact) is a visible column."""
    docs = _t(spark, sf, "documents")
    return X.cms_frequencies(docs).orderBy("w")


SQL_CMS_FREQ = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents WHERE trim(lower(coalesce(text, ''))) != ''
), rows_ AS (SELECT unnest(generate_series(0, 3)) AS r),
pairs AS (
  SELECT w, r,
         ('0x' || substr(md5(r::VARCHAR || ':' || w), 1, 15))::UBIGINT % 64
           AS bucket
  FROM toks, rows_
), sketch AS (
  SELECT r, bucket, count(*)::BIGINT AS cell FROM pairs GROUP BY r, bucket
), vocab AS (
  SELECT w, count(*)::BIGINT AS exact FROM toks GROUP BY w
), vb AS (
  SELECT v.w, v.exact, r.r,
         ('0x' || substr(md5(r.r::VARCHAR || ':' || v.w), 1, 15))::UBIGINT % 64
           AS bucket
  FROM vocab v, rows_ r
)
SELECT vb.w, vb.exact, min(s.cell)::BIGINT AS cms_est,
       (min(s.cell) - vb.exact)::BIGINT AS overcount
FROM vb JOIN sketch s ON vb.r = s.r AND vb.bucket = s.bucket
GROUP BY vb.w, vb.exact ORDER BY vb.w
"""


def q_bloom_audit(spark, sf):
    """The URL-seen bloom layer (north_rule: 'partitioned bloom-filter
    URL-seen set, salted by canonical-host hash') under the driver's
    own run: build per-salt blooms over the even-doc_id membership
    set, probe EVERY doc, and report per-salt hit/false-positive
    counts. xxhash64 + the Kirsch-Mitzenmacher double hash are not
    replayable in DuckDB, so the row is rows-only — but it carries
    HARD in-query contracts (the ann_ivf pattern, explicit raises):
    zero false negatives (the bloom guarantee) and a false-positive
    rate within 5x the 1% build target."""
    docs = _t(spark, sf, "documents").select(
        F.col("doc_id"), F.col("source").alias("host"))
    keyed = docs.select(
        "doc_id", "host",
        D.url_hash(F.col("host"), F.col("doc_id")).alias("url_hash"),
        D.salt_of(F.col("host")).alias("salt"),
        (F.col("doc_id") % 2 == 0).alias("member"))
    members = keyed.filter("member").select("url_hash", "salt")
    blooms = D.build_blooms(members)
    probed = D.bloom_might_contain(
        keyed.select("salt", "url_hash", "doc_id", "member"), blooms)
    per_salt = (probed.groupBy("salt")
                .agg(F.count("*").cast("long").alias("n_probes"),
                     F.sum(F.when(F.col("member"), 1).otherwise(0))
                     .cast("long").alias("n_members"),
                     F.sum(F.when(F.col("member")
                                  & ~F.col("might_contain"), 1)
                           .otherwise(0)).cast("long").alias("n_false_neg"),
                     F.sum(F.when(~F.col("member")
                                  & F.col("might_contain"), 1)
                           .otherwise(0)).cast("long").alias("n_false_pos"))
                .orderBy("salt"))
    rows = per_salt.collect()  # |salts| rows — contract check, not data
    fn = sum(r["n_false_neg"] for r in rows)
    if fn:
        raise RuntimeError(f"bloom_audit: {fn} false negatives — the "
                           "bloom guarantee is broken")
    n_non = sum(r["n_probes"] - r["n_members"] for r in rows)
    n_fp = sum(r["n_false_pos"] for r in rows)
    if n_non and n_fp / n_non > 0.05:
        raise RuntimeError(
            f"bloom_audit: fp rate {n_fp / n_non:.4f} exceeds 5x the "
            "1% build target — bloom sizing is broken")
    return spark.createDataFrame(rows, per_salt.schema)


def q_bpe_merges(spark, sf):
    """Tokenizer training (textops.bpe_learn): the top-8 BPE merges
    learned from the corpus's own word-frequency table. Genuinely
    iterative (each merge changes the pair counts) — rows-only by
    design; the algorithm is pinned against an independent pure-Python
    BPE reference in tests/test_textops.py and is deterministic via
    the (count desc, pair asc) total-order argmax."""
    docs = _t(spark, sf, "documents")
    merges = X.bpe_learn(docs)
    return spark.createDataFrame(
        [(r, a, b, c) for (r, a, b, c) in merges],
        "rank long, lhs string, rhs string, pair_count long")


def q_minhash_acc(spark, sf):
    """MinHash accuracy audit (textops.minhash_accuracy) on a modulo
    subset CAPPED at a fixed id range (<= 660 docs at any sf — the
    audit is all-pairs by design, so its cost must stay CONSTANT as
    the corpus grows): 8-perm signature estimates vs exact shingle
    Jaccard per pair, with the absolute error — the num_perm
    justification table. Oracle replays signatures, shingle sets, and
    the arithmetic."""
    docs = _t(spark, sf, "documents").filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 3300))
    return (X.minhash_accuracy(docs)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    "est_jaccard", "exact_jaccard", "abs_err")
            .orderBy("id_a", "id_b"))


SQL_MINHASH_ACC = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 3300
    AND trim(coalesce(text, '')) != ''
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s
  FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
  WHERE i <= len(t) - 1
), sig AS (
  SELECT doc_id,
         min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
         min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3,
         min(md5('4:' || s)) AS mh4, min(md5('5:' || s)) AS mh5,
         min(md5('6:' || s)) AS mh6, min(md5('7:' || s)) AS mh7
  FROM sh GROUP BY doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), ex AS (
  SELECT ia, ib,
         round(i::DOUBLE / (sa.n + sb.n - i), 4) AS exact_jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = ia
             JOIN sizes sb ON sb.doc_id = ib
  WHERE round(i::DOUBLE / (sa.n + sb.n - i), 4) >= 0.1
)
SELECT ex.ia::BIGINT AS id_a, ex.ib::BIGINT AS id_b,
       round(((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END))::DOUBLE / 8,
             4) AS est_jaccard,
       ex.exact_jaccard,
       round(abs(round(((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END))::DOUBLE / 8, 4)
                 - ex.exact_jaccard), 4) AS abs_err
FROM ex JOIN sig a ON a.doc_id = ex.ia JOIN sig b ON b.doc_id = ex.ib
ORDER BY id_a, id_b
"""


def q_frontier_age_priority(spark, sf):
    """The north_star priority formula itself —
    frontier.priority_expr(depth, host_rank, recrawl_age) =
    coalesce(rank, .5)/(1+depth) * (1+age/24) — under the oracle gate
    over events-as-frontier (depth from the id, rank from value,
    recrawl age = hours behind the newest event). Top-500 via
    TakeOrdered on the ROUNDED priority with an id tie-break, so the
    boundary is engine-stable."""
    from . import frontier as FR

    e = _t(spark, sf, "events")
    mx = e.agg(F.max("ts").alias("_mt"))
    p = (e.crossJoin(F.broadcast(mx))
         .select("event_id",
                 (F.col("event_id") % 5).cast("double").alias("depth"),
                 F.col("value").alias("host_rank"),
                 ((F.unix_micros(F.col("_mt").cast("timestamp"))
                   - F.unix_micros(F.col("ts").cast("timestamp")))
                  / F.lit(3600000000.0)).alias("age_h")))
    prio = FR.priority_expr(F.col("depth"), F.col("host_rank"),
                            F.col("age_h"))
    return (p.select(F.col("event_id").cast("long").alias("event_id"),
                     F.col("depth").cast("long").alias("depth"),
                     F.round("age_h", 4).alias("age_h"),
                     F.round(prio, 6).alias("priority"))
            .orderBy(F.desc("priority"), F.asc("event_id"))
            .limit(500))


SQL_FRONTIER_AGE_PRIORITY = r"""
WITH m AS (SELECT max(ts) AS mt FROM events),
p AS (
  SELECT event_id, (event_id % 5)::DOUBLE AS depth, value AS host_rank,
         (epoch_us(m.mt) - epoch_us(ts)) / 3600000000.0 AS age_h
  FROM events, m
)
SELECT event_id::BIGINT AS event_id, depth::BIGINT AS depth,
       round(age_h, 4) AS age_h,
       round(coalesce(host_rank, 0.5) / (1.0 + depth)
             * (1.0 + age_h / 24.0), 6) AS priority
FROM p
ORDER BY round(coalesce(host_rank, 0.5) / (1.0 + depth)
               * (1.0 + age_h / 24.0), 6) DESC, event_id ASC
LIMIT 500
"""


# ===========================================================================
# Registry
# ===========================================================================
QUERIES = {
    "pricing_summary": (q_pricing_summary, SQL_PRICING),
    "top_orders": (q_top_orders, SQL_TOP_ORDERS),
    "nation_revenue": (q_nation_revenue, SQL_NATION_REVENUE),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "top_users": (q_top_users, SQL_TOP_USERS),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "dedup_three_way": (q_dedup_three_way, SQL_DEDUP_THREE_WAY),
    "seen_ttl": (q_seen_ttl, SQL_SEEN_TTL),
    "frontier_order": (q_frontier_order, SQL_FRONTIER_ORDER),
    "politeness_schedule": (q_politeness_schedule, SQL_POLITENESS),
    "politeness_two_class": (q_politeness_two_class, SQL_POLITENESS_TWO_CLASS),
    "job_id_regex": (q_job_id_regex, SQL_JOB_ID_REGEX),
    "pagination_rewrite": (q_pagination_rewrite, SQL_PAGINATION),
    "experience_tags": (q_experience_tags, SQL_EXPERIENCE_TAGS),
    "salary_parse": (q_salary_parse, SQL_SALARY_PARSE),
    "vnd_millions": (q_vnd_millions, SQL_VND_MILLIONS),
    "string_coalesce": (q_string_coalesce, SQL_STRING_COALESCE),
    "hybrid_union": (q_hybrid_union, SQL_HYBRID_UNION),
    "paginate": (q_paginate, SQL_PAGINATE),
    "doc_exact_dedup": (q_doc_exact_dedup, SQL_DOC_EXACT_DEDUP),
    "doc_minhash": (q_doc_minhash, SQL_DOC_MINHASH),
    "doc_lsh_pairs": (q_doc_lsh_pairs, SQL_DOC_LSH_PAIRS),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "doc_repetition": (q_doc_repetition, SQL_DOC_REPETITION),
    "doc_decontaminate": (q_doc_decontaminate, SQL_DOC_DECONTAMINATE),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "corpus_filter": (q_corpus_filter, SQL_CORPUS_FILTER),
    "doc_stats": (q_doc_stats, SQL_DOC_STATS),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "doc_tokens": (q_doc_tokens, SQL_DOC_TOKENS),
    "ann_topk": (q_ann_topk, SQL_ANN_TOPK),
    "doc_simhash": (q_doc_simhash, SQL_DOC_SIMHASH),
    "doc_dup_classes": (q_doc_dup_classes, SQL_DOC_DUP_CLASSES),
    "doc_dup_clusters": (q_doc_dup_clusters, SQL_DOC_DUP_CLUSTERS_CC),
    "para_dedup": (q_para_dedup, SQL_PARA_DEDUP),
    "doc_lm_score": (q_doc_lm_score, SQL_DOC_LM_SCORE),
    "corpus_sample": (q_corpus_sample, SQL_CORPUS_SAMPLE),
    "seq_pack": (q_seq_pack, SQL_SEQ_PACK),
    "corpus_mix": (q_corpus_mix, SQL_CORPUS_MIX),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "domain_cap": (q_domain_cap, SQL_DOMAIN_CAP),
    "events_asof": (q_events_asof, SQL_EVENTS_ASOF),
    "entity_rank": (q_entity_rank, SQL_ENTITY_RANK),
    "range_join": (q_range_join, SQL_RANGE_JOIN),
    "emb_quantize": (q_emb_quantize, SQL_EMB_QUANTIZE),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "len_histogram": (q_len_histogram, SQL_LEN_HISTOGRAM),
    "lm_buckets": (q_lm_buckets, SQL_LM_BUCKETS),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "pmi_bigrams": (q_pmi_bigrams, SQL_PMI_BIGRAMS),
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "quality_quantiles": (q_quality_quantiles, SQL_QUALITY_QUANTILES),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "shard_plan": (q_shard_plan, SQL_SHARD_PLAN),
    "vocab_growth": (q_vocab_growth, SQL_VOCAB_GROWTH),
    "bigram_lm": (q_bigram_lm, SQL_BIGRAM_LM),
    "dedup_report": (q_dedup_report, SQL_DEDUP_REPORT),
    "distinct_kmv": (q_distinct_kmv, SQL_DISTINCT_KMV),
    "zipf_fit": (q_zipf_fit, SQL_ZIPF_FIT),
    "corpus_rollup": (q_corpus_rollup, SQL_CORPUS_ROLLUP),
    "utf8_stats": (q_utf8_stats, SQL_UTF8_STATS),
    "source_reputation": (q_source_reputation, SQL_SOURCE_REPUTATION),
    "warc_roundtrip": (q_warc_roundtrip, SQL_WARC_ROUNDTRIP),
    "line_dedup": (q_line_dedup, SQL_LINE_DEDUP),
    "vocab_prune": (q_vocab_prune, SQL_VOCAB_PRUNE),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "cdc_chunks": (q_cdc_chunks, SQL_CDC_CHUNKS),
    "cms_freq": (q_cms_freq, SQL_CMS_FREQ),
    "minhash_acc": (q_minhash_acc, SQL_MINHASH_ACC),
    "frontier_age_priority": (q_frontier_age_priority,
                              SQL_FRONTIER_AGE_PRIORITY),
    "bloom_audit": (q_bloom_audit, None),
    "bpe_merges": (q_bpe_merges, None),
    "text_norm_search": (q_text_norm_search, SQL_TEXT_NORM),
    "requirements_concat": (q_requirements_concat, SQL_REQUIREMENTS_CONCAT),
    "vnw_pagination": (q_vnw_pagination, SQL_VNW_PAGINATION),
    "api_projection": (q_api_projection, SQL_API_PROJECTION),
    "api_dual_shape": (q_api_dual_shape, SQL_API_DUAL_SHAPE),
    "url_canonical": (q_url_canonical, SQL_URL_CANONICAL),
    "job_url_construct": (q_job_url_construct, SQL_JOB_URL_CONSTRUCT),
    "emb_near_dups": (q_emb_near_dups, SQL_EMB_NEAR_DUPS),
    # rows-only (non-SQL-expressible: approximate / pUDF-only ops)
    "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
    "ann_ivf": (q_ann_ivf, None),
    "clean_to_text": (q_clean_to_text, None),
    "media_features": (q_media_features, None),
}
