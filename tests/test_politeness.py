"""Politeness scheduler unit tests: defaults for hosts missing from
robots, per-class budgets, disallow gating — pure window-expression
path (no Python stage)."""

import pandas as pd
from pyspark.sql import functions as F

from crawlspark import politeness


def _frontier(spark, rows):
    cols = ["url", "host", "source", "id", "last_updated_on", "depth",
            "wave", "page", "rank", "priority", "state", "attempts"]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


def test_unknown_host_gets_defaults(spark):
    """A host absent from robots schedules with the reference default
    delay (3000 ms) and an unbounded budget (crawler.go:40-42). A
    robots table without an allow_prefixes column still matches its
    disallow rules per RFC 9309 ('*' and '$'), not as literal prefixes."""
    fr = _frontier(spark, [
        (f"https://x.vn/{i}", "x.vn", "s", str(i), None, 0, 0, 0, i,
         0.0, "pending", 0) for i in range(3)] + [
        (f"https://p.vn{p}", "p.vn", "s", p, None, 0, 0, 0, i,
         0.0, "pending", 0) for i, p in enumerate(
            ["/index.php", "/search", "/search/results"])])
    robots = spark.createDataFrame(
        [("other.vn", 9999, None, 1), ("p.vn", 3000, ["/*.php", "/search$"], 9)],
        "host string, crawl_delay_ms int, disallow_prefixes array<string>, "
        "tokens_per_wave int")
    out = {r["id"]: r for r in
           politeness.schedule(fr, robots, "2026-01-01 00:00:00").collect()}
    x = [out[str(i)] for i in range(3)]
    assert all(r["state"] == "scheduled" for r in x)
    epochs = sorted(int(r["scheduled_ts"].timestamp()) for r in x)
    assert epochs[1] - epochs[0] == 3 and epochs[2] - epochs[1] == 3  # 3000ms
    assert {p: out[p]["state"] for p in
            ["/index.php", "/search", "/search/results"]} == {
        "/index.php": "disallowed", "/search": "disallowed",
        "/search/results": "scheduled"}


def test_detail_class_spacing_and_budget(spark):
    """P2: depth>0 rows get the detail delay + their own budget when
    robots carries the detail columns (scraper.go:29-32)."""
    fr = _frontier(spark, [
        (f"https://h.vn/l{i}", "h.vn", "s", f"l{i}", None, 0, 0, 0, i,
         0.0, "pending", 0) for i in range(2)
    ] + [
        (f"https://h.vn/d{i}", "h.vn", "s", f"d{i}", None, 1, 0, 0, i,
         0.0, "pending", 0) for i in range(3)])
    robots = spark.createDataFrame(
        [("h.vn", 3000, None, 100, 5000, 2)],
        "host string, crawl_delay_ms int, disallow_prefixes array<string>, "
        "tokens_per_wave int, detail_delay_ms int, detail_tokens_per_wave int")
    out = {r["id"]: r for r in
           politeness.schedule(fr, robots, "2026-01-01 00:00:00").collect()}
    # independent slot sequences per class
    assert [out[f"l{i}"]["slot"] for i in range(2)] == [0, 1]
    assert [out[f"d{i}"]["slot"] for i in range(3)] == [0, 1, 2]
    # detail spacing 5s vs list 3s
    d_ep = [int(out[f"d{i}"]["scheduled_ts"].timestamp()) for i in range(3)]
    l_ep = [int(out[f"l{i}"]["scheduled_ts"].timestamp()) for i in range(2)]
    assert d_ep[1] - d_ep[0] == 5 and l_ep[1] - l_ep[0] == 3
    # detail budget 2: third detail row deferred; lists unaffected
    assert out["d2"]["state"] == "deferred"
    assert out["l1"]["state"] == "scheduled"


class TestRobotsTxtParsing:
    ROBOTS = """
# comment line
User-agent: googlebot
Disallow: /g-only/

User-agent: crawlspark
User-agent: otherbot
Disallow: /private/
Allow: /private/jobs/
Crawl-delay: 2
Disallow:

User-agent: *
Disallow: /everything/
""".strip()

    def _parsed(self, spark, txt=None):
        from crawlspark.politeness import parse_robots_txt

        df = spark.createDataFrame(
            [("a.vn", txt if txt is not None else self.ROBOTS)],
            "host string, robots_txt string")
        return parse_robots_txt(df, "crawlspark").collect()[0]

    def test_group_selection_and_rules(self, spark):
        r = self._parsed(spark)
        # the named group wins over * and googlebot; consecutive UA
        # lines share it; empty Disallow contributes nothing
        assert r.disallow_prefixes == ["/private/"]
        assert r.allow_prefixes == ["/private/jobs/"]
        assert r.crawl_delay_ms == 2000
        assert r.tokens_per_wave == 1800

    def test_star_fallback_and_defaults(self, spark):
        r = self._parsed(spark, "User-agent: *\nDisallow: /x/")
        assert r.disallow_prefixes == ["/x/"]
        assert r.crawl_delay_ms == 3000  # no Crawl-delay -> default
        r2 = self._parsed(spark, "User-agent: googlebot\nDisallow: /y/")
        assert r2.disallow_prefixes == []  # no applicable group: permissive

    def test_rules_before_any_group_ignored(self, spark):
        r = self._parsed(spark, "Disallow: /orphan/\nUser-agent: *\nDisallow: /x/")
        assert r.disallow_prefixes == ["/x/"]

    def test_longest_match_allow_wins(self, spark):
        from crawlspark.politeness import robots_allows

        df = spark.createDataFrame(
            [("/private/jobs/1",), ("/private/other",), ("/public",)],
            "path string")
        out = {r.path: r.ok for r in df.select(
            "path", robots_allows(
                F.col("path"),
                F.array(F.lit("/private/")),
                F.array(F.lit("/private/jobs/"))).alias("ok")).collect()}
        assert out == {"/private/jobs/1": True,   # longer Allow wins
                       "/private/other": False,
                       "/public": True}           # no match -> allowed

    def test_wildcard_and_anchor_patterns(self, spark):
        """ADVICE r3: RFC 9309 special characters — '*' spans any
        char sequence, trailing '$' anchors the path end; regex
        metacharacters in rule values stay literal."""
        from crawlspark.politeness import robots_allows

        cases = [
            # Disallow: /*.php
            ("/index.php", ["/*.php"], [], False),
            ("/a/b/page.php", ["/*.php"], [], False),
            ("/php-guide", ["/*.php"], [], True),      # '.php' not present
            ("/file.phpx", ["/*.php"], [], False),     # no anchor: matches
            # Disallow: /search$
            ("/search", ["/search$"], [], False),
            ("/search/results", ["/search$"], [], True),
            ("/search?q=x", ["/search$"], [], True),
            # mid-pattern '*' with anchor
            ("/a/x/end", ["/a/*/end$"], [], False),
            ("/a/x/end/more", ["/a/*/end$"], [], True),
            # Allow wildcard beats shorter Disallow (specificity=len)
            ("/dir/page.html", ["/dir/"], ["/dir/*.html"], True),
            # regex metachars in values are literal, not operators
            ("/price(usd)", ["/price(usd)"], [], False),
            ("/priceusd", ["/price(usd)"], [], True),
            ("/a+b", ["/a+b"], [], False),
            ("/ab", ["/a+b"], [], True),
        ]
        rows = [(p,) for p, _, _, _ in cases]
        df = spark.createDataFrame(rows, "path string")
        for i, (p, dis, allow, want) in enumerate(cases):
            got = df.filter(F.col("path") == p).select(robots_allows(
                F.col("path"),
                F.array(*[F.lit(d) for d in dis]) if dis else
                F.array().cast("array<string>"),
                F.array(*[F.lit(a) for a in allow]) if allow else
                F.array().cast("array<string>")).alias("ok")) \
                .first()["ok"]
            assert got == want, (p, dis, allow, want, got)

    def test_tie_goes_to_allow(self, spark):
        from crawlspark.politeness import robots_allows

        df = spark.createDataFrame([("/p/x",)], "path string")
        ok = df.select(robots_allows(
            F.col("path"), F.array(F.lit("/p/")),
            F.array(F.lit("/p/"))).alias("ok")).first()["ok"]
        assert ok  # equal length: least restrictive

    def test_parsed_robots_drive_the_scheduler(self, spark):
        """End-to-end: raw robots.txt -> parse -> schedule. The Allow
        carve-out survives the gate; the Disallow blocks; Crawl-delay
        sets the slot spacing."""
        from crawlspark import politeness as P

        robots = P.parse_robots_txt(spark.createDataFrame(
            [("a.vn", self.ROBOTS)], "host string, robots_txt string"),
            "crawlspark")
        fr = spark.createDataFrame(
            [(f"https://a.vn{p}", "a.vn", 0, 1, 0, i, 1.0, "pending", 0)
             for i, p in enumerate(
                 ["/private/jobs/1", "/private/x", "/ok"])],
            "url string, host string, depth int, wave int, page int, "
            "rank int, priority double, state string, attempts int")
        out = {r.url.split("a.vn")[1]: r.state
               for r in P.schedule(fr, robots, "2026-01-01").collect()}
        assert out == {"/private/jobs/1": "scheduled",
                       "/private/x": "disallowed", "/ok": "scheduled"}
