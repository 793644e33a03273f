"""Politeness scheduling (SURVEY §2.7 P1-P4): per-host token budgets
with robots gates, as pure JVM window expressions keyed by TRUE host.

The reference sleeps between requests (3s+jitter list pages,
vieclam24h/crawler.go:169-171; 5s+jitter details, scraper.go:29-32,
86-91) and lets colly check robots.txt on Visit() paths (go.mod:34).
Wall-clock sleeps don't exist in a batch engine; the same *budget* is
enforced logically:

- each frontier row gets a deterministic ``scheduled_ts`` =
  wave_start + slot * crawl_delay(host, class), slot assigned in FIFO
  priority order within the (host, class) group;
- rows whose slot exceeds the class's tokens_per_wave are DEFERRED to
  the next wave (state='deferred');
- urls the host's robots rules disallow (RFC 9309 longest match,
  ``*`` and ``$`` patterns) are DISALLOWED and never fetched.

Delay classes (P2): the reference runs list crawling and detail
scraping as separate processes with separate delays (3 s lists,
5 s details — scraper.go:29-32). When the robots table carries
``detail_delay_ms`` / ``detail_tokens_per_wave`` columns, depth>0 rows
form their own per-host slot sequence with the detail budget; without
those columns the single-class budget applies to every depth
(backward-compatible).

Jitter is dropped (deterministic schedule is the north_rule's
"holding fetch-schedule determinism"); the budget math is unchanged
because jitter never changed the reference's per-host ordering either
(requests are sequential per process).

Scale note: this was a grouped-map pandas UDF in round 1; slot
assignment is plain window arithmetic (delay/tokens arrive via the
broadcast robots join), so it is now whole-stage-codegen'd JVM — the
Zipf-hot host still lands in one window partition, but spills instead
of funnelling every row through a single Python worker, and the plan
has no FlatMapGroupsInPandas (pinned in tests/test_plans.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .frontier import order_cols

DEFAULT_DELAY_MS = 3000         # reference list default (crawler.go:40-42)
DEFAULT_DETAIL_DELAY_MS = 5000  # reference detail default (scraper.go:29-32)


def join_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Broadcast-join the (tiny) robots table; flag disallowed urls (P4)
    by the RFC 9309 longest-match evaluation (``robots_allows``). A
    table without an ``allow_prefixes`` column has no Allow rules."""
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
    fr = frontier.join(F.broadcast(robots), "host", "left")
    no_allow = F.array().cast("array<string>")
    allow = (F.coalesce(F.col("allow_prefixes"), no_allow)
             if "allow_prefixes" in robots.columns else no_allow)
    disallowed = F.when(
        F.col("disallow_prefixes").isNotNull(),
        ~robots_allows(path, F.col("disallow_prefixes"), allow)
    ).otherwise(F.lit(False))
    return fr.withColumn("_disallowed", disallowed)


def schedule(frontier: DataFrame, robots: DataFrame, wave_start,
             two_phase: bool = False) -> DataFrame:
    """Assign (slot, scheduled_ts, state) per (host[, delay-class]) group.

    state: 'scheduled' (fetch this wave) | 'deferred' (budget exhausted)
    | 'disallowed' (robots). Deterministic: FIFO priority order inside
    the group, no wall clock, no RNG. Pure Column expressions.

    Scale note (10^10 frontier, Zipf hosts): the slot window sorts each
    host's PENDING rows, so one mega-host backlog lands in one sort
    task. The budget bounds what a wave FETCHES, not the backlog.
    ``two_phase=True`` enables the exact-equivalent mitigation for a
    host accumulating ~10^8 pending rows: phase 1 ranks allowed rows
    per (group, INPUT PARTITION) — the window key includes
    spark_partition_id(), so the mega-host's backlog splits across its
    source partitions and no task ever sorts more than one partition's
    share — and keeps only each partition's top-``tokens``; a row
    outside its partition's local top-budget cannot be in the global
    top-budget, so dropping it to 'deferred' is EXACT. Phase 2 runs
    the ordinary global window on the survivors (<= tokens x
    n_partitions rows per group, bounded regardless of backlog).

    Equivalence contract (test-pinned): scheduled rows, their slots
    and scheduled_ts, and the deferred/disallowed row SETS are
    identical to the single-window form. The two forms differ only in
    what DEFERRED rows carry: the single-window form gives them their
    global slot and a scheduled_ts, this form gives slot = -1 and a
    NULL scheduled_ts — no consumer reads either (the wave driver
    drops both columns for every non-scheduled row). The
    single-window form stays the default: closed-world backlogs are
    wave-bounded and skip one shuffle.
    """
    fr = join_robots(frontier, robots)
    keep_cols = [f.name for f in frontier.schema.fields if f.name != "state"]

    two_class = "detail_delay_ms" in robots.columns
    is_detail = F.col("depth") > 0
    delay = F.coalesce(F.col("crawl_delay_ms").cast("long"),
                       F.lit(DEFAULT_DELAY_MS).cast("long"))
    tokens = F.coalesce(F.col("tokens_per_wave").cast("long"),
                        F.lit(10**9).cast("long"))
    part_cols: list[Column] = [F.col("host")]
    if two_class:
        d_delay = F.coalesce(F.col("detail_delay_ms").cast("long"),
                             F.lit(DEFAULT_DETAIL_DELAY_MS).cast("long"))
        delay = F.when(is_detail, d_delay).otherwise(delay)
        if "detail_tokens_per_wave" in robots.columns:
            tokens = F.when(
                is_detail,
                F.coalesce(F.col("detail_tokens_per_wave").cast("long"), tokens)
            ).otherwise(tokens)
        part_cols.append(is_detail.alias("_class"))

    order = order_cols()
    w = (Window.partitionBy(*part_cols).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    allowed = ~F.coalesce(F.col("_disallowed"), F.lit(False))
    ws_ms = F.unix_millis(F.to_timestamp(F.lit(str(pd.Timestamp(wave_start)))))

    if two_phase:
        wl = (Window.partitionBy(*part_cols, F.spark_partition_id())
              .orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        base = (fr.withColumn("_lr", F.sum(allowed.cast("long")).over(wl))
                .withColumn("_alw", allowed)
                .withColumn("_tok", tokens))
        no_slot = [F.lit(-1).alias("slot"),
                   F.lit(None).cast("timestamp").alias("scheduled_ts")]
        disallowed_out = (base.filter(~F.col("_alw"))
                          .select(*keep_cols, *no_slot,
                                  F.lit("disallowed").alias("state")))
        dropped = (base.filter(F.col("_alw") & (F.col("_lr") > F.col("_tok")))
                   .select(*keep_cols, *no_slot,
                           F.lit("deferred").alias("state")))
        surv = base.filter(F.col("_alw") & (F.col("_lr") <= F.col("_tok")))
        slot2 = (F.sum(F.lit(1)).over(w) - 1)
        scheduled = (surv.withColumn("_slot", slot2)
                     .select(
                         *keep_cols,
                         F.when(F.col("_slot") < F.col("_tok"),
                                F.col("_slot")).otherwise(F.lit(-1))
                         .cast("int").alias("slot"),
                         F.when(F.col("_slot") < F.col("_tok"),
                                F.timestamp_millis(ws_ms
                                                   + F.col("_slot") * delay))
                         .alias("scheduled_ts"),
                         F.when(F.col("_slot") < F.col("_tok"),
                                F.lit("scheduled")).otherwise(F.lit("deferred"))
                         .alias("state")))
        return scheduled.unionByName(dropped).unionByName(disallowed_out)

    slot_raw = F.sum(allowed.cast("long")).over(w) - 1
    slot = F.when(allowed, slot_raw).otherwise(F.lit(-1)).cast("int")
    sched_ts = F.when(
        allowed, F.timestamp_millis(ws_ms + slot.cast("long") * delay))
    state = (F.when(~allowed, F.lit("disallowed"))
             .when(slot.cast("long") >= tokens, F.lit("deferred"))
             .otherwise(F.lit("scheduled")))

    return fr.select(*keep_cols, slot.alias("slot"),
                     sched_ts.alias("scheduled_ts"), state.alias("state"))


# ---------------------------------------------------------------------------
# robots.txt parsing (RFC 9309) — raw text -> the robots table
# ---------------------------------------------------------------------------
def parse_robots_txt(df: DataFrame, user_agent: str,
                     txt_col: str = "robots_txt",
                     host_col: str = "host",
                     wave_ms: int = 3_600_000) -> DataFrame:
    """Parse raw robots.txt bodies into the politeness robots table
    (host, crawl_delay_ms, disallow_prefixes, allow_prefixes,
    tokens_per_wave) — pure Column expressions, no UDF.

    RFC 9309 semantics implemented:
    - lines split, comments (#...) stripped, keys case-insensitive;
    - consecutive ``User-agent`` lines head ONE group sharing the rule
      block that follows (the standard start-group recurrence:
      a UA line whose predecessor is not a UA line starts a group);
    - group selection: the most specific match wins — a group naming
      the crawler's product token (case-insensitive substring per RFC
      §2.2.1) beats ``*``; ALL groups at the winning specificity merge;
    - rules collected: Allow / Disallow path patterns (empty-value
      Disallow means allow-all and contributes no pattern; '*' and
      trailing '$' specials are evaluated downstream by
      robots_allows), Crawl-delay seconds (non-standard but
      ubiquitous; ms + wave token budget derived).

    Hosts with no matching group (or unparsable bodies) fall back to
    DEFAULT_DELAY_MS and no prefixes — the same absent-robots default
    the scheduler applies (matching colly's permissive default).
    """
    ua = user_agent.lower()
    lines = (df.select(host_col,
                       F.posexplode(F.split(F.col(txt_col), "\n"))
                       .alias("_i", "_line"))
             .withColumn("_line",
                         F.trim(F.regexp_replace("_line", "#.*$", "")))
             .filter(F.col("_line") != "")
             .withColumn("_key", F.lower(F.trim(
                 F.regexp_extract("_line", r"^([^:]+):", 1))))
             .withColumn("_val", F.trim(
                 F.regexp_extract("_line", r"^[^:]+:(.*)$", 1))))
    w = Window.partitionBy(host_col).orderBy("_i")
    is_ua = (F.col("_key") == "user-agent").cast("int")
    starts = ((is_ua == 1)
              & (F.coalesce(F.lag(is_ua).over(w), F.lit(0)) == 0)).cast("int")
    grouped = lines.withColumn("_grp", F.sum(starts).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))

    gw = Window.partitionBy(host_col, "_grp")
    ua_val = F.when(is_ua == 1, F.lower(F.col("_val")))
    # a group applies when one of its UA lines names this crawler's
    # product token (equal or a non-empty prefix of it — the practical
    # RFC §2.2.1 reading) or is '*'; most specific wins, ties merge
    line_spec = (F.when((ua_val != "") & F.lit(ua).startswith(ua_val)
                        & (ua_val != "*"), 2)
                 .when(ua_val == "*", 1).otherwise(0))
    rules = (grouped.withColumn("_spec", F.max(line_spec).over(gw))
             .withColumn("_best", F.max(F.col("_spec")).over(
                 Window.partitionBy(host_col)))
             .filter((F.col("_spec") == F.col("_best"))
                     & (F.col("_spec") > 0)))

    out = (rules.groupBy(host_col).agg(
        F.sort_array(F.collect_set(F.when(
            (F.col("_key") == "disallow") & (F.col("_val") != ""),
            F.col("_val")))).alias("disallow_prefixes"),
        F.sort_array(F.collect_set(F.when(
            (F.col("_key") == "allow") & (F.col("_val") != ""),
            F.col("_val")))).alias("allow_prefixes"),
        F.max(F.when(F.col("_key") == "crawl-delay",
                     F.col("_val").try_cast("double"))).alias("_delay_s")))
    out = out.withColumn(
        "crawl_delay_ms",
        F.coalesce((F.col("_delay_s") * 1000).cast("int"),
                   F.lit(DEFAULT_DELAY_MS))).drop("_delay_s")
    # hosts whose robots named no applicable group: permissive default
    all_hosts = df.select(host_col).distinct()
    out = (all_hosts.join(out, host_col, "left")
           .withColumn("crawl_delay_ms",
                       F.coalesce("crawl_delay_ms", F.lit(DEFAULT_DELAY_MS)))
           .withColumn("disallow_prefixes",
                       F.coalesce("disallow_prefixes",
                                  F.array().cast("array<string>")))
           .withColumn("allow_prefixes",
                       F.coalesce("allow_prefixes",
                                  F.array().cast("array<string>"))))
    return out.withColumn(
        "tokens_per_wave",
        (F.lit(wave_ms) / F.col("crawl_delay_ms")).cast("int"))


def robots_allows(path: Column, disallow_prefixes: Column,
                  allow_prefixes: Column) -> Column:
    """RFC 9309 §2.2.2 rule evaluation: the most specific (longest
    pattern) matching rule wins; on a length tie Allow wins ('least
    restrictive'); no match = allowed. Pure array expressions.

    Patterns support the spec's two special characters: ``*`` matches
    any character sequence and a trailing ``$`` anchors the end of the
    path (both ubiquitous in real robots files — 'Disallow: /*.php',
    'Disallow: /search$'). Each rule value compiles to an anchored
    Java regex per row (literals escaped, '*' -> '.*', trailing '$' ->
    end anchor); plain prefix rules keep the cheap startswith fast
    path via a short-circuiting CASE. Specificity = length of the raw
    pattern text, the standard practical reading of "most octets"."""
    def match_len(p):
        ends = p.endswith("$")
        core = F.when(ends, F.substring(p, F.lit(1), F.length(p) - 1)) \
                .otherwise(p)
        esc = F.regexp_replace(core, "([.^$+?(){}\\[\\]\\\\|])", "\\\\$1")
        reg = F.concat(F.lit("^"),
                       F.replace(esc, F.lit("*"), F.lit(".*")),
                       F.when(ends, F.lit("$")).otherwise(F.lit("")))
        matched = (F.when(~p.contains("*") & ~ends, path.startswith(p))
                   .otherwise(F.regexp_like(path, reg)))
        return F.when(matched, F.length(p)).otherwise(F.lit(-1))

    def longest(patterns):
        return F.coalesce(F.array_max(F.transform(patterns, match_len)),
                          F.lit(-1))

    return longest(allow_prefixes) >= longest(disallow_prefixes)
