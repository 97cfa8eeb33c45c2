"""robots.txt politeness filtering — the per-domain allow/deny decision a
web crawl applies before a page may enter the corpus (REP, RFC 9309
subset: User-agent groups, Allow/Disallow prefix rules, longest-match
precedence, allow-wins ties, comments; path wildcards are out of scope and
documented).

Spark shape: robots bodies are PER-DOMAIN — thousands of rows against
billions of pages — so the rule table rides the BROADCAST side of the
join; the decision itself is a per-row kernel mapped by the package's
row stage (`rows.map_rows`) that parses each distinct robots body ONCE per
task (memoized) and then applies longest-prefix matching per row. Pages
whose domain has no robots row are allowed (fetch-failure convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import map_rows

Rules = dict[str, list[tuple[bool, str]]]


def parse_robots(text: str) -> Rules:
    """agent(lowercase) -> [(allow, path_prefix)] in file order. Groups
    are delimited by a User-agent line that FOLLOWS rules; blank lines are
    ignored entirely (RFC 9309 §2.1 — group boundaries come from
    directives, not spacing); multiple consecutive User-agent lines share
    one group."""
    groups: Rules = {}
    agents: list[str] = []
    rules_open = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if rules_open:
                agents = []
                rules_open = False
            agents.append(val.lower())
            for a in agents:
                groups.setdefault(a, [])
        elif key in ("allow", "disallow"):
            rules_open = True
            if not agents:
                continue  # rule before any User-agent line: ignored
            if val == "" and key == "disallow":
                continue  # empty Disallow = allow all (no rule)
            for a in agents:
                groups.setdefault(a, []).append((key == "allow", val))
        # other directives (Crawl-delay, Sitemap, ...) are ignored
    return groups


def is_allowed(groups: Rules, agent: str, path: str) -> bool:
    """Longest-prefix rule wins; equal lengths -> allow; no applicable
    group or no matching rule -> allowed."""
    rules = groups.get(agent.lower())
    if rules is None:
        rules = groups.get("*")
    if not rules:
        return True
    matches = [(len(p), a) for a, p in rules if path.startswith(p)]
    if not matches:
        return True
    top = max(ln for ln, _ in matches)
    return any(a for ln, a in matches if ln == top)


def robots_filter(
    pages: DataFrame, robots: DataFrame, agent: str = "crawler"
) -> DataFrame:
    """(url, ...) x (host, robots_txt) -> url, host, path, allowed(0/1).

    The robots frame is broadcast; the decision kernel memoizes parsed
    rule groups per distinct body within each task."""
    with_parts = pages.select(
        "url",
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.try_parse_url(F.col("url"), F.lit("PATH")).alias("path"),
    )
    joined = with_parts.join(F.broadcast(robots), "host", "left")
    cache: dict[str, Rules] = {}

    def decide(url: str, host: str, path: str, txt: str | None) -> list[dict]:
        allowed = 1
        if txt is not None and path is not None:
            groups = cache.get(txt)
            if groups is None:
                groups = cache[txt] = parse_robots(txt)
            allowed = int(is_allowed(groups, agent, path))
        return [{"url": url, "host": host, "path": path, "allowed": allowed}]

    return map_rows(
        joined,
        ["url", "host", "path", "robots_txt"],
        T.StructType.fromDDL("url string, host string, path string, allowed long"),
        decide,
    )
