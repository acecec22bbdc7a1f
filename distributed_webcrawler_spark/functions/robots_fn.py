"""robots.txt parsing + gating, reference-parity semantics.

Mirrors BasicCrawler.java:225-287 exactly:
- only groups whose User-agent is ``*`` or contains "crawler"/"bot"
  (case-insensitive) apply (BasicCrawler.java:247-251),
- ``Allow:`` prefixes are checked FIRST and win (isAllowed, :268-286),
- empty/missing/unfetchable robots => allow everything (:197-200, 211-216),
- null path is treated as "/" (:269),
- empty rule values are skipped (:255, 260).

Execution shape: robots is a tiny per-host table -> parse it once with a
pandas UDF, broadcast-join it onto the scheduled frontier slice by host,
and evaluate the prefix rules as a native Column expression (higher-order
``exists`` over the rule arrays), so the gate runs JVM-side with no Python
worker between schedule and fetch. The reference instead keeps an
unbounded per-worker HashMap cache (BasicCrawler.java:41).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _relevant_lines(text: str | None):
    """Yield (lowercased, stripped) for every non-comment line inside a
    User-agent group that applies to this crawler: ``*`` or an agent
    containing "crawler"/"bot" (BasicCrawler.java:247-251)."""
    relevant = False
    for raw in (text or "").split("\n"):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        low = line.lower()
        if low.startswith("user-agent:"):
            agent = line[11:].strip()
            al = agent.lower()
            relevant = agent == "*" or "crawler" in al or "bot" in al
        elif relevant:
            yield low, line


def parse_robots(text: str | None) -> tuple[list[str], list[str]]:
    """-> (allowed_prefixes, disallowed_prefixes). Pure python, shared with
    the oracle simulator so parity is by-construction testable."""
    allowed: list[str] = []
    disallowed: list[str] = []
    for low, line in _relevant_lines(text):
        if low.startswith("disallow:"):
            p = line[9:].strip()
            if p:
                disallowed.append(p)
        elif low.startswith("allow:"):
            p = line[6:].strip()
            if p:
                allowed.append(p)
    return allowed, disallowed


def parse_crawl_delay(text: str | None) -> float | None:
    """Group-aware Crawl-delay extraction (de-facto public extension):
    same UA-group relevance and comment skipping as :func:`parse_robots`
    (a 'Crawl-delay: 600' under 'User-agent: Googlebot' must NOT throttle
    this crawler, and '# crawl-delay: ...' comments never count). First
    valid value in a relevant group wins; malformed values are ignored.
    Returns None when no relevant group declares one."""
    for low, line in _relevant_lines(text):
        if low.startswith("crawl-delay:"):
            try:
                return float(line[12:].strip())
            except ValueError:
                continue
    return None


def robots_is_allowed(path: str | None, allowed: list[str], disallowed: list[str]) -> bool:
    if path is None:
        path = "/"
    for a in allowed:
        if path.startswith(a):
            return True
    for d in disallowed:
        if path.startswith(d):
            return False
    return True


_RULES_TYPE = T.StructType([
    T.StructField("allow", T.ArrayType(T.StringType())),
    T.StructField("disallow", T.ArrayType(T.StringType())),
])


@pandas_udf(_RULES_TYPE)
def parse_robots_udf(texts: pd.Series) -> pd.DataFrame:
    rows = [parse_robots(t) for t in texts]
    return pd.DataFrame({"allow": [r[0] for r in rows], "disallow": [r[1] for r in rows]})


def parse_robots_table(robots_df: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, allow: array, disallow: array)."""
    parsed = robots_df.select(
        "host", parse_robots_udf(F.col("robots_txt")).alias("rules")
    )
    return parsed.select("host", F.col("rules.allow").alias("allow"),
                         F.col("rules.disallow").alias("disallow"))


@pandas_udf(T.DoubleType())
def parse_crawl_delay_udf(texts: pd.Series) -> pd.Series:
    return pd.Series([parse_crawl_delay(t) for t in texts], dtype="float64")


def crawl_delay_budgets(robots_df: DataFrame, round_window_s: int,
                        max_budget: int) -> DataFrame:
    """(host, robots_txt) -> (host, budget:int) from the de-facto
    Crawl-delay extension: budget = min(max_budget, floor(window / delay)).

    Semantics (each one deliberate):
    - delay comes from the GROUP-AWARE parse (:func:`parse_crawl_delay`) —
      another crawler's group or a comment never throttles this one;
    - no declared delay, a malformed value, or delay <= 0 ("unthrottled")
      all mean NO throttle: the host keeps the engine-wide cap;
    - a huge delay can floor to budget 0 — that IS the host politely
      saying "at most one fetch per <delay>s", i.e. less than one per
      round window, so 0 this round is correct;
    - budgets are aggregated min-per-host so a robots feed carrying
      duplicate/re-fetched rows for one host can't emit two budget rows
      (a dup row would DUPLICATE frontier rows through the scheduler's
      join and double-fetch the host's URLs).
    The table is one row per host — broadcastable at any corpus size."""
    delay = parse_crawl_delay_udf(F.col("robots_txt"))
    budget = (
        F.when(delay.isNull() | (delay <= 0), F.lit(max_budget))
        .otherwise(
            F.least(F.lit(max_budget),
                    F.greatest(F.floor(F.lit(round_window_s) / delay), F.lit(0))))
        .cast("int"))
    per_row = robots_df.select("host", budget.alias("budget"))
    return per_row.groupBy("host").agg(F.min("budget").alias("budget"))


def gate_by_robots(scheduled: DataFrame, robots_rules: DataFrame, path_col: Column) -> DataFrame:
    """Broadcast-join the (small) parsed rules table and tag each row with
    robots_allowed:boolean — :func:`robots_is_allowed` as a native
    expression: a null path reads as "/", Allow prefixes are checked first
    and win, rules are literal prefixes ('*', '$', '%', '_' carry no
    wildcard meaning). A host with no robots row has null rule arrays;
    ``exists`` over null is null, which no CASE branch takes, so null rules
    read as empty and the row is allowed (reference: unfetchable robots =>
    allow-all)."""
    path = F.coalesce(path_col, F.lit("/"))
    joined = scheduled.join(F.broadcast(robots_rules), on="host", how="left")
    return joined.withColumn(
        "robots_allowed",
        F.when(F.exists("allow", lambda a: path.startswith(a)), F.lit(True))
        .when(F.exists("disallow", lambda d: path.startswith(d)), F.lit(False))
        .otherwise(F.lit(True)),
    ).drop("allow", "disallow")


# --- RFC 9309 wildcard matching ---------------------------------------------
# The reference's matcher is prefix-only (BasicCrawler.java:268-286, mirrored
# above for parity). Real robots.txt in the wild uses the RFC 9309 / Googlebot
# extensions: '*' wildcards, '$' end anchors, and LONGEST-MATCH precedence
# with Allow winning length ties. This matcher is additive (opt-in), and is
# expressed entirely in SQL LIKE so both engines evaluate it natively — no
# UDF, no regex engine divergence.

def rule_to_like(rule: str) -> str:
    """robots.txt rule pattern -> SQL LIKE pattern: '*' -> '%', trailing
    '$' anchors (otherwise the rule is a prefix -> append '%'); LIKE
    metacharacters in the rule are backslash-escaped (pair with
    ``ESCAPE '\\'`` — Spark's default, explicit in DuckDB)."""
    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    esc = (body.replace("\\", "\\\\")
               .replace("%", "\\%")
               .replace("_", "\\_"))
    pat = esc.replace("*", "%")
    return pat if anchored else pat + "%"


def rfc9309_gate(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Longest-match robots evaluation: ``urls`` (host, url, path) x
    ``rules`` (host, rule, pattern, is_allow) -> one row per url with the
    winning rule and the allow verdict (no matching rule => allowed,
    RFC 9309 §2.2.2 default).

    Precedence: longest raw rule wins; Allow beats Disallow on equal
    length; rule text ASC as the final deterministic tie-break.

    Scale shape: rules are a per-host handful -> broadcast the rule table
    and evaluate LIKE inside the scan's partition; the rank window is per
    url over that handful of matched rules, never a global sort."""
    matches = (urls.join(F.broadcast(rules), ["host"])
               .where(F.expr("path LIKE pattern"))
               .select("url", "rule", "is_allow", F.length("rule").alias("rlen")))
    from pyspark.sql import Window
    w = Window.partitionBy("url").orderBy(
        F.col("rlen").desc(), F.col("is_allow").desc(), F.col("rule").asc())
    winner = (matches.withColumn("rk", F.row_number().over(w))
              .where(F.col("rk") == 1).select("url", "rule", "is_allow"))
    # urls whose host has no rules, or whose path matches none, default
    # to allowed (RFC 9309 §2.2.2) — re-attach via left join, never drop
    return (urls.join(winner, "url", "left")
            .select("host", "url", "path",
                    F.col("rule").alias("matched_rule"),
                    F.coalesce(F.col("is_allow"), F.lit(True)).alias("allowed")))
