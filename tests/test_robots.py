"""robots.txt parser + gate parity with BasicCrawler.java:225-287 semantics."""

from __future__ import annotations

from distributed_webcrawler_spark.functions.robots_fn import (
    parse_robots,
    robots_is_allowed,
)


def test_empty_and_garbage_allow_all():
    for txt in (None, "", "   ", "<html>garbage %% \x00", "no directives here"):
        a, d = parse_robots(txt)
        assert robots_is_allowed("/anything", a, d)


def test_allow_checked_first_and_wins():
    a, d = parse_robots("User-agent: *\nDisallow: /p/\nAllow: /p/2")
    assert robots_is_allowed("/p/2", a, d)
    assert robots_is_allowed("/p/21", a, d)      # prefix match
    assert not robots_is_allowed("/p/1", a, d)
    assert robots_is_allowed("/q", a, d)


def test_user_agent_selection():
    # only '*' or agents containing crawler/bot apply (BasicCrawler.java:247-251)
    txt = "User-agent: googlebot\nDisallow: /a\nUser-agent: specific-tool\nDisallow: /b"
    a, d = parse_robots(txt)
    assert not robots_is_allowed("/a/x", a, d)   # 'googlebot' contains 'bot'
    assert robots_is_allowed("/b/x", a, d)       # 'specific-tool' group ignored


def test_case_insensitive_directives_and_comments():
    txt = "# comment\nUSER-AGENT: *\nDISALLOW: /x\nAllow: /x/ok"
    a, d = parse_robots(txt)
    assert not robots_is_allowed("/x/no", a, d)
    assert robots_is_allowed("/x/ok", a, d)


def test_null_path_is_root():
    a, d = parse_robots("User-agent: *\nDisallow: /")
    assert not robots_is_allowed(None, a, d)


def test_empty_rule_values_skipped():
    a, d = parse_robots("User-agent: *\nDisallow:\nAllow:")
    assert a == [] and d == []
    assert robots_is_allowed("/x", a, d)


def test_gate_by_robots_broadcast(spark):
    from pyspark.sql import functions as F

    from distributed_webcrawler_spark.functions.robots_fn import (
        gate_by_robots,
        parse_robots_table,
    )

    robots = spark.createDataFrame(
        [("a.test", "User-agent: *\nDisallow: /no"), ("b.test", "")],
        "host string, robots_txt string")
    rules = parse_robots_table(robots)
    sched = spark.createDataFrame(
        [("a.test", "https://a.test/no/1"), ("a.test", "https://a.test/yes"),
         ("b.test", "https://b.test/no/1"), ("c.test", "https://c.test/no")],
        "host string, url string")
    out = gate_by_robots(sched, rules, F.parse_url(F.col("url"), F.lit("PATH")))
    got = {r.url: r.robots_allowed for r in out.collect()}
    assert got == {
        "https://a.test/no/1": False,
        "https://a.test/yes": True,
        "https://b.test/no/1": True,   # empty robots -> allow all
        "https://c.test/no": True,     # missing robots -> allow all
    }


def test_gate_by_robots_matches_reference_row_by_row(spark):
    """The native gate equals robots_is_allowed on 600 seeded rows,
    checked in one collect: null, empty and rule-equal paths, hosts with no
    robots row, empty and null rule lists, non-ASCII text, and rules with
    '*', '$', '%', '_' that must match as literal prefixes."""
    import random

    from pyspark.sql import functions as F

    from distributed_webcrawler_spark.functions.robots_fn import gate_by_robots

    rng = random.Random(20)
    alphabet = ["/", "a", "b", "é", "日", "*", "$", "%", "_", "\\", ".", "?"]

    def text(lo: int, hi: int) -> str:
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))

    rules = {}
    for h in range(24):  # hosts h24..h29 have no robots row
        lists = [["/" + text(0, 3) for _ in range(rng.randint(0, 3))] for _ in "ad"]
        if h % 6 == 0:
            lists[0] = []
        if h % 6 == 1:
            lists[1] = []
        if h % 6 == 2:
            lists[rng.randint(0, 1)] = None
        rules[f"h{h}"] = tuple(lists)
    rules["h1"] = (["/a*"], ["/"])       # '*' is no wildcard: "/ab" is blocked
    rules["h7"] = (["/%_"], ["/a$"])     # '$' is no anchor: "/a$b" is blocked

    rows = [("h1", "/ab"), ("h1", "/a*b"), ("h7", "/a$b"), ("h7", "/a"), ("h7", "/%_x"),
            ("h7", "/x_"), ("h3", None), ("h3", ""), ("h27", None), ("h27", "/x")]
    for h, (allow, disallow) in sorted(rules.items()):
        rows += [(h, r) for r in (allow or []) + (disallow or [])]  # path == rule
    while len(rows) < 600:
        h = f"h{rng.randint(0, 29)}"
        pick = rng.random()
        if pick < 0.05:
            path = None
        elif pick < 0.5 and h in rules and any(rules[h]):
            base = rng.choice([r for lst in rules[h] if lst for r in lst])
            path = base + text(0, 3)
        else:
            path = "/" + text(0, 5)
        rows.append((h, path))

    rules_df = spark.createDataFrame(
        [(h, a, d) for h, (a, d) in rules.items()],
        "host string, allow array<string>, disallow array<string>")
    sched = spark.createDataFrame([(i, h, p) for i, (h, p) in enumerate(rows)],
                                  "id int, host string, path string")
    got = {r.id: r.robots_allowed
           for r in gate_by_robots(sched, rules_df, F.col("path")).collect()}
    assert len(got) == len(rows) >= 500
    for i, (h, p) in enumerate(rows):
        allow, disallow = rules.get(h, (None, None))
        want = robots_is_allowed(p, allow or [], disallow or [])
        assert got[i] is want, (h, p, allow, disallow)
    assert not got[0] and not got[2]  # literal '*' and '$'
    assert set(got.values()) == {True, False}


class TestCrawlDelay:
    """Group-aware Crawl-delay extraction + budget semantics."""

    def test_group_awareness_and_comments(self):
        from distributed_webcrawler_spark.functions.robots_fn import parse_crawl_delay

        # an irrelevant agent's group must not throttle us (note the
        # reference's relevance rule: '*' or agent containing crawler/bot —
        # so 'Googlebot' WOULD apply to us, faithfully to BasicCrawler)
        assert parse_crawl_delay(
            "User-agent: SpecialScraper\nCrawl-delay: 600\n\nUser-agent: *\nDisallow:") is None
        # comments never count
        assert parse_crawl_delay("# crawl-delay: 600\nUser-agent: *\nDisallow:") is None
        # relevant group wins, case-insensitive directive
        assert parse_crawl_delay("User-agent: *\ncrawl-delay: 2.5") == 2.5
        assert parse_crawl_delay("User-agent: SomeBot\nCrawl-delay: 7") == 7.0
        # malformed values ignored
        assert parse_crawl_delay("User-agent: *\nCrawl-delay: soon") is None
        assert parse_crawl_delay(None) is None

    def test_budget_semantics(self, spark):
        from distributed_webcrawler_spark.functions.robots_fn import crawl_delay_budgets

        robots = spark.createDataFrame(
            [("slow", "User-agent: *\nCrawl-delay: 30"),
             ("zero", "User-agent: *\nCrawl-delay: 0"),      # unthrottled
             ("bad", "User-agent: *\nCrawl-delay: soon"),    # malformed
             ("other", "User-agent: SpecialScraper\nCrawl-delay: 600"),
             ("huge", "User-agent: *\nCrawl-delay: 600"),    # < 1 per window
             ("dup", "User-agent: *\nCrawl-delay: 12"),
             ("dup", "User-agent: *\nCrawl-delay: 6")],      # re-fetched row
            "host string, robots_txt string")
        got = {r.host: r.budget for r in
               crawl_delay_budgets(robots, 60, 5).collect()}
        assert got == {"slow": 2, "zero": 5, "bad": 5, "other": 5,
                       "huge": 0, "dup": 5}
        # one row per host even with duplicate robots rows
        assert crawl_delay_budgets(robots, 60, 5).count() == 6


def test_rfc9309_longest_match_and_anchors(spark):
    """Hand vectors for the RFC 9309 matcher: wildcard prefix, '$' end
    anchor, longest-match precedence, Allow-wins-tie, and the
    default-allow path for both no-rules hosts and no-match paths."""
    from distributed_webcrawler_spark.functions.robots_fn import rfc9309_gate, rule_to_like

    rules_raw = [
        ("a.test", "/p/*", False),
        ("a.test", "/p/1*", True),
        ("a.test", "/p/*7$", False),   # len 6 anchor
        ("a.test", "/p/*-2", True),    # len 6 -> Allow wins the tie
    ]
    rules = spark.createDataFrame(
        [(h, r, rule_to_like(r), a) for h, r, a in rules_raw],
        "host string, rule string, pattern string, is_allow boolean")
    urls = spark.createDataFrame(
        [("a.test", "/p/5-1", "u1"),    # only '/p/*' -> disallowed
         ("a.test", "/p/15-1", "u2"),   # '/p/1*' (5) beats '/p/*' (4) -> allowed
         ("a.test", "/p/15-7", "u3"),   # anchor (6) beats '/p/1*' -> disallowed
         ("a.test", "/p/1-27", "u4"),   # '*7$' vs '*-2' len tie -> Allow wins
         ("a.test", "/about", "u5"),    # no rule matches -> default allow
         ("b.test", "/p/5-1", "u6")],   # host has no rules -> default allow
        "host string, path string, url string")
    got = {r["url"]: (r["matched_rule"], r["allowed"])
           for r in rfc9309_gate(urls, rules).collect()}
    assert got == {
        "u1": ("/p/*", False),
        "u2": ("/p/1*", True),
        "u3": ("/p/*7$", False),
        "u4": ("/p/*-2", True),
        "u5": (None, True),
        "u6": (None, True),
    }
