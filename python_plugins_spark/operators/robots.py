"""robots.txt (RFC 9309) parsing and matching — crawl-policy filtering.

Between WARC ingestion (``operators/warc.py``) and HTML text
extraction (``operators/html_extract.py``) sits the policy gate: a
crawl corpus pipeline must be able to re-audit, post hoc, which
fetched URLs its own crawler was actually allowed to take (policy
files change; takedown audits replay them). This is the RFC 9309
Robots Exclusion Protocol, implemented from the spec rather than
stdlib ``urllib.robotparser`` — the stdlib module predates the RFC and
uses first-match-in-file-order semantics, while RFC 9309 requires
LONGEST-MATCH precedence with allow winning ties, plus ``*`` wildcards
and the ``$`` end anchor. Those differences flip real verdicts, so the
honest implementation is the spec one:

- groups: consecutive ``User-agent`` lines share the following rules;
  group selection picks the most specific matching product token
  (longest), falling back to ``*``;
- rules: ``Allow``/``Disallow`` path patterns with ``*`` (any
  sequence) and a trailing ``$`` (end anchor), matched against the
  URL's path-plus-query;
- precedence: longest pattern wins; on a length tie, allow wins;
  no matching rule means allowed; an empty pattern matches nothing.

Spark shape: robots files are per-DOMAIN — a handful of distinct
strings however many URLs flow through — so the operators memoize the
parse per distinct robots text in each Python worker
(``functools.lru_cache``), and each is one zero-shuffle Arrow row map
(``transform.map_rows``).
"""

from __future__ import annotations

import functools
import re

from python_plugins_spark.operators.transform import map_rows

_RULE_RE_CACHE: dict[str, re.Pattern] = {}


def _pattern_re(pat: str) -> re.Pattern:
    rx = _RULE_RE_CACHE.get(pat)
    if rx is None:
        anchor = pat.endswith("$")
        core = pat[:-1] if anchor else pat
        # collapse '*' runs: '**' matches exactly what '*' matches, and
        # stacked '.*.*' terms invite pathological backtracking on
        # crawler-hostile policy files
        core = re.sub(r"\*{2,}", "*", core)
        body = "".join(".*" if ch == "*" else re.escape(ch) for ch in core)
        rx = re.compile("^" + body + ("$" if anchor else ""))
        _RULE_RE_CACHE[pat] = rx
    return rx


def parse_robots(text: str) -> list[tuple[list[str], list[tuple[bool, str]]]]:
    """robots.txt -> ``[(agents, [(is_allow, pattern), ...]), ...]``.
    Comments stripped, keys case-insensitive, consecutive User-agent
    lines form one group; unknown directives (Sitemap, Crawl-delay)
    are ignored per the RFC's extensibility rule."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    collecting_agents = False
    # tolerate a UTF-8 BOM (common in hand-edited robots.txt: without
    # this the first User-agent key becomes '<BOM>user-agent' and the
    # whole first group is silently ignored)
    text = text.lstrip("\ufeff")
    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not collecting_agents and agents:
                groups.append((agents, rules))
                agents, rules = [], []
            agents.append(val.lower())
            collecting_agents = True
        elif key in ("allow", "disallow"):
            collecting_agents = False
            if agents:
                rules.append((key == "allow", val))
    if agents:
        groups.append((agents, rules))
    return groups


def _select_group(groups, agent: str):
    """Most specific matching product token (longest), else ``*``.
    Returns the WHOLE selected ``(agents, rules)`` group (or None) —
    robots_allowed consumes the rules, select_crawl_delay the agents:
    one copy of RFC 9309 group selection shared by both, so the two
    call sites cannot drift."""
    agent = agent.lower()
    best_len, best = -1, None
    for agents, rules in groups:
        for a in agents:
            if a != "*" and a and a in agent and len(a) > best_len:
                best_len, best = len(a), (agents, rules)
    if best is not None:
        return best
    for agents, rules in groups:
        if "*" in agents:
            return (agents, rules)
    return None


def robots_allowed(groups, agent: str, path: str) -> bool:
    """RFC 9309 verdict for ``path`` (path + optional query)."""
    sel = _select_group(groups, agent)
    if sel is None:
        return True
    _agents, rules = sel
    verdict, best_len = None, -1
    for is_allow, pat in rules:
        if not pat:  # empty pattern matches nothing
            continue
        if _pattern_re(pat).match(path):
            n = len(pat)
            if n > best_len or (n == best_len and is_allow and verdict is False):
                best_len, verdict = n, is_allow
    return True if verdict is None else verdict


def parse_robots_extras(text: str) -> tuple[list[str], dict[str, float]]:
    """The two extension directives real policy files carry beyond
    RFC 9309's allow/disallow core: ``Sitemap:`` (global per the
    sitemaps.org protocol — NOT group-scoped) and ``Crawl-delay:``
    (the de facto per-group politeness extension). Returns
    ``(sitemaps, {agent_token: delay_seconds})``; unparsable delay
    values are ignored per the RFC's unknown-directive tolerance."""
    text = (text or "").lstrip("﻿")
    sitemaps: list[str] = []
    delays: dict[str, float] = {}
    agents: list[str] = []
    collecting_agents = False
    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "sitemap":
            # partition() split at the FIRST colon, so the URL's own
            # '://' stays intact inside val
            if val:
                sitemaps.append(val)
        elif key == "user-agent":
            if not collecting_agents and agents:
                agents = []
            agents.append(val.lower())
            collecting_agents = True
        else:
            collecting_agents = False
            if key == "crawl-delay" and agents:
                try:
                    d = float(val)
                except ValueError:
                    continue
                if d >= 0:
                    for a in agents:
                        delays[a] = d
    return sitemaps, delays


# ------------------------------------------------------- Spark operators


@functools.lru_cache(maxsize=1024)
def _policy(text: str):
    """:func:`parse_robots` once per distinct text in each worker."""
    return parse_robots(text)


@functools.lru_cache(maxsize=1024)
def _extras(text: str, agent: str) -> tuple[list[str], float | None]:
    """(sitemaps, binding crawl delay) once per distinct text in each worker."""
    return parse_robots_extras(text)[0], select_crawl_delay(text, agent)


def robots_filter(
    df,
    path_col: str = "path",
    robots_col: str = "robots_txt",
    agent: str = "graftbot",
    out_col: str = "allowed",
):
    """Append the RFC 9309 verdict for each (path, robots_txt) row.
    Parsed rule sets are memoized per distinct robots text in each
    Python worker (robots files are per-domain: few distinct values,
    many URLs). Zero shuffles."""
    from pyspark.sql import types as T

    cols = df.columns
    schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.BooleanType())])
    i_txt, i_path = cols.index(robots_col), cols.index(path_col)

    def judge(*row):
        txt, path = row[i_txt], row[i_path]
        if txt is None:
            # RFC 9309 §2.3.1.3: an UNAVAILABLE robots.txt means the
            # crawler "MAY access any resources" — NULL policy text is
            # a clean per-row allow, not a crash.
            yield (*row, True)
        elif path is None:
            raise ValueError(
                f"robots_filter: NULL {path_col!r} in row "
                f"{dict(zip(cols, row))!r} — a URL path is required"
            )
        else:
            yield (*row, robots_allowed(_policy(txt), agent, path))

    return map_rows(df, cols, schema, judge)


def select_crawl_delay(text: str, agent: str) -> float | None:
    """The Crawl-delay that binds ``agent`` under RFC 9309 GROUP
    selection: a crawler obeys exactly ONE group — the most specific
    matching product token, else ``*`` — so a delay in a non-selected
    group never applies, and a selected group WITHOUT a delay yields
    None (it does NOT fall through to the ``*`` group's delay)."""
    groups = parse_robots(text)
    _, delays = parse_robots_extras(text)
    sel = _select_group(groups, agent)
    if sel is None:
        return None
    agents, _rules = sel
    for a in agents:
        if a in delays:
            return delays[a]
    return None


def robots_extras(
    df,
    robots_col: str = "robots_txt",
    agent: str = "graftbot",
    carry: list[str] | None = None,
):
    """Append the extension directives a crawl SCHEDULER consumes:
    global ``Sitemap:`` URLs (sitemaps.org protocol — not
    group-scoped) and the per-group ``Crawl-delay`` politeness bound
    for ``agent`` (RFC 9309 group selection, see select_crawl_delay).
    Output columns: ``sitemaps array<string>``, ``n_sitemaps``,
    ``crawl_delay`` (NULL when the selected group declares none).
    NULL policy text yields no sitemaps and no delay (RFC 9309
    unavailable-policy: nothing binds). Parsed extras are memoized per
    distinct robots text in each Python worker (robots files are
    per-domain: few distinct values, many URLs); zero shuffles."""
    from pyspark.sql import types as T

    keep = set(carry if carry is not None else df.columns)
    fields = [f for f in df.schema.fields if f.name in keep]
    schema = T.StructType(
        fields
        + [
            T.StructField("sitemaps", T.ArrayType(T.StringType())),
            T.StructField("n_sitemaps", T.IntegerType()),
            T.StructField("crawl_delay", T.DoubleType()),
        ]
    )

    def extras(*row):
        *carried, txt = row
        sitemaps, delay = _extras(txt, agent) if txt is not None else ([], None)
        yield (*carried, sitemaps, len(sitemaps), delay)

    return map_rows(df, [f.name for f in fields] + [robots_col], schema, extras)
