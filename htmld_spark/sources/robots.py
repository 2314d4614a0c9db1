"""robots.txt parsing + retroactive crawl-consent filtering (RFC 9309,
the public Robots Exclusion Protocol).

Training-data pipelines increasingly re-apply robots rules AFTER the
crawl — respecting publisher opt-outs (e.g. agent-specific AI-crawler
disallows) when curating an existing corpus. This module is that step:
parse each host's robots.txt once, then drop the pages the selected
agent may not fetch.

Parser semantics per RFC 9309 (and never raising on any byte input):

- groups: consecutive ``User-agent:`` lines share the rule list that
  follows; group selection is the LONGEST agent token that is a
  case-insensitive substring match of the product token, falling back
  to ``*``; if the chosen agent has multiple groups their rules merge;
- rules: ``Allow:`` / ``Disallow:`` path patterns with ``*`` wildcards
  and a ``$`` end anchor; the MOST SPECIFIC (longest-pattern) match
  wins, Allow winning length ties; no matching rule → allowed; an
  empty Disallow matches nothing; unknown directives are ignored;
- percent-encoding is compared literally (both sides as-crawled), and
  matching operates on path + optional '?' + query, per the RFC.

Spark surface (``robots_filter``): join pages to the per-host robots
table on the url host, then ONE mapInArrow pass evaluates each row —
with a per-worker parse CACHE keyed by host (a host's robots bytes
repeat across its pages; the cache makes the per-row cost a dict hit,
not a re-parse). Hosts with no robots row are allowed (the RFC's
absent-file default). No shuffle beyond the join; AQE picks broadcast
when the robots table fits.
"""

from __future__ import annotations

import re

_RULE_RE = re.compile(rb"^[ \t]*([A-Za-z-]+)[ \t]*:[ \t]*([^#\r\n]*)")


def parse_robots(data) -> list[tuple[str, list[tuple[bool, str]]]]:
    """Parse robots.txt bytes → [(agent_token_lowercased, [(is_allow,
    path_pattern), ...]), ...], one entry per User-agent token (groups
    sharing rules are expanded). Never raises; garbage lines skipped."""
    try:
        if isinstance(data, str):
            data = data.encode("utf-8", errors="replace")
        if not isinstance(data, (bytes, bytearray, memoryview)):
            return []
        groups: list[tuple[str, list[tuple[bool, str]]]] = []
        agents: list[str] = []
        rules: list[tuple[bool, str]] | None = None
        for raw_line in bytes(data).splitlines():
            m = _RULE_RE.match(raw_line)
            if not m:
                continue
            key = m.group(1).lower()
            val = m.group(2).strip().decode("utf-8", errors="replace")
            if key == b"user-agent":
                if rules is not None:  # a new group starts
                    for a in agents:
                        groups.append((a, rules))
                    agents, rules = [], None
                agents.append(val.lower())
            elif key in (b"allow", b"disallow"):
                if not agents:
                    continue  # rules before any user-agent: ignored
                if rules is None:
                    rules = []
                rules.append((key == b"allow", val))
            # sitemap/crawl-delay/unknown: ignored
        for a in agents:
            groups.append((a, rules or []))
        return groups
    except Exception:  # absolute backstop: never raise
        return []


def parse_robots_directives(data, agent: str = "*"):
    """Per-agent politeness directives → ``(crawl_delay, sitemaps)``.

    ``Crawl-delay`` (the de-facto Bing/Yandex extension — RFC 9309
    deliberately leaves it out, so this is a SEPARATE pass that leaves
    ``parse_robots``'s pinned RFC semantics untouched) is a GROUP rule:
    it belongs to the user-agent group it appears in, and the group is
    selected with the same longest-token-beats-'*' rule as allow/
    disallow. Multiple valid delays for the chosen token merge to the
    MINIMUM (conservative politeness). Invalid/negative values are
    ignored — a chosen group with only an invalid delay yields None (no
    fallback to '*': the site addressed this agent explicitly).

    ``Sitemap`` lines are FILE-WIDE (the sitemaps.org protocol), agent-
    independent, returned in document order, duplicates kept.

    Never raises; returns ``(None, [])`` on garbage."""
    try:
        if isinstance(data, str):
            data = data.encode("utf-8", errors="replace")
        if not isinstance(data, (bytes, bytearray, memoryview)):
            return None, []
        groups: list[tuple[str, float | None]] = []
        sitemaps: list[str] = []
        agents: list[str] = []
        opened = False  # current group has seen a rule line
        delay: float | None = None

        def close():
            nonlocal agents, opened, delay
            for a in agents:
                groups.append((a, delay))
            agents, opened, delay = [], False, None

        for raw_line in bytes(data).splitlines():
            m = _RULE_RE.match(raw_line)
            if not m:
                continue
            key = m.group(1).lower()
            val = m.group(2).strip().decode("utf-8", errors="replace")
            if key == b"user-agent":
                if opened:
                    close()
                agents.append(val.lower())
            elif key == b"sitemap":
                if val:
                    sitemaps.append(val)
            elif key in (b"allow", b"disallow", b"crawl-delay"):
                if not agents:
                    continue  # rules before any user-agent: ignored
                opened = True
                if key == b"crawl-delay":
                    try:
                        d = float(val)
                    except ValueError:
                        continue
                    if d >= 0 and (delay is None or d < delay):
                        delay = d
        close()
        best_len, best_token = -1, None
        a = agent.lower()
        for token, _d in groups:
            if token != "*" and token in a and len(token) > best_len:
                best_len, best_token = len(token), token
        chosen = best_token if best_token is not None else "*"
        merged = [d for t, d in groups if t == chosen and d is not None]
        return (min(merged) if merged else None), sitemaps
    except Exception:  # absolute backstop: never raise
        return None, []


def robots_directives_df(robots_df, agent: str = "*"):
    """(host, robots binary) → (host, crawl_delay double, sitemaps
    array<string>) for ``agent`` — the politeness inputs a frontier
    consumes (per-host fetch spacing; sitemap seeds). ONE mapInArrow
    over the already-slim robots frame; row-local, no shuffle. A host
    whose parse raises gets null crawl_delay and sitemaps."""
    import pyarrow as pa

    from htmld_spark.functions.udfs import _map_docs

    schema = pa.schema(
        [
            ("host", pa.string()),
            ("crawl_delay", pa.float64()),
            ("sitemaps", pa.list_(pa.string())),
        ]
    )
    return _map_docs(
        robots_df.select("host", "robots"), schema, ("host",), ("robots",),
        lambda txt: parse_robots_directives(txt, agent), (None, None),
    )


from functools import lru_cache


@lru_cache(maxsize=4096)
def _compiled(pattern: str):
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    rx = ".*".join(re.escape(p) for p in pattern.split("*"))
    return re.compile(rx + ("$" if anchored else ""))


def _pattern_matches(pattern: str, path: str) -> bool:
    """RFC 9309 path match: literal prefix with '*' wildcards; '$'
    anchors the end. Compiled-regex translation (with backtracking —
    a first-match greedy scan mishandles '/a*b$' against '/abzb')."""
    try:
        return _compiled(pattern).match(path) is not None
    except re.error:  # pathological pattern: treat as non-matching
        return False


def rules_for_agent(
    groups: list[tuple[str, list[tuple[bool, str]]]], agent: str
) -> list[tuple[bool, str]]:
    """Select the group(s) for ``agent``: longest agent token that is a
    substring of the product token; '*' as fallback; multiple groups
    for the chosen token merge."""
    agent = agent.lower()
    best_len = -1
    best_token = None
    for token, _rules in groups:
        if token == "*":
            continue
        if token in agent and len(token) > best_len:
            best_len = len(token)
            best_token = token
    chosen = best_token if best_token is not None else "*"
    merged: list[tuple[bool, str]] = []
    for token, rules in groups:
        if token == chosen:
            merged.extend(rules)
    return merged


def robots_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Longest-match evaluation: the most specific matching pattern
    decides; Allow wins length ties; no match → allowed."""
    if not path.startswith("/"):
        path = "/" + path
    best_len = -1
    best_allow = True
    for is_allow, pattern in rules:
        if not pattern:
            continue  # empty Disallow matches nothing (RFC 9309 §2.2.2)
        if _pattern_matches(pattern, path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and is_allow):
                best_len = plen
                best_allow = is_allow
    return best_allow


def url_path(url: str) -> str:
    """Path (+ '?' query) component of a crawled url, per the RFC's
    matching domain; '' → '/'. A url with a query but no path slash
    ('https://h.example?q=x') matches as '/?q=x' — dropping the query
    would evaluate the wrong rule (ADVICE r06)."""
    rest = url.split("://", 1)[-1].split("#", 1)[0]
    slash = rest.find("/")
    q = rest.find("?")
    if q != -1 and (slash == -1 or q < slash):
        return "/" + rest[q:]
    if slash == -1:
        return "/"
    return rest[slash:] or "/"


def robots_filter(pages, robots_df, agent: str = "*", url_col: str = "url"):
    """Drop pages the ``agent`` may not fetch per their host's
    robots.txt. ``robots_df`` is (host string, robots binary); hosts
    without a row are allowed.

    Plan shape (ADVICE r06 + VERDICT r06 "What's wrong" #3): the verdict
    crossing runs over a SLIM (url, host, robots) frame — the page html
    binary never crosses the JVM↔Python Arrow boundary — and only pages
    whose host HAS a robots row reach the crossing at all (inner join;
    the RFC's absent-file default allows the rest without evaluating
    them). Pages are then filtered by a LEFT ANTI join on the BLOCKED
    urls — typically a small fraction of the corpus, so AQE broadcasts
    that side. The blocked-url frame is lazily localCheckpointed: pages
    feeds both the slim branch and the final anti-join (a plan diamond),
    and the checkpoint pins the slim branch to one execution.

    Intended input is a raw-scan pages frame (the retroactive-filter
    use) — the slim branch then column-prunes to a url-only scan. An
    EXPENSIVE computed upstream still executes twice (column pruning
    defeats ReuseExchange — CLAUDE.md plan-diamond rule); localCheckpoint
    such a frame before calling. NULL-url rows carry no verdict and PASS
    THROUGH (a null key never matches the anti join), as do pages whose
    verdict raises (a null verdict)."""
    from pyspark.sql import functions as F

    host = F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("")
    )
    slim = pages.select(F.col(url_col)).withColumn("_rb_host", host)
    joined = slim.join(
        robots_df.select(
            F.col("host").alias("_rb_host"), F.col("robots").alias("_rb_txt")
        ),
        "_rb_host",
        "inner",
    )

    blocked_urls = (
        _robots_verdicts(joined, agent, url_col)
        .filter(~F.col("_rb_keep"))
        .select(url_col)
        .localCheckpoint(eager=False)
    )
    return pages.join(blocked_urls, url_col, "left_anti")


def _robots_verdicts(joined, agent: str, url_col: str):
    """(url_col, _rb_host, _rb_txt) → (url_col, _rb_keep): whether
    ``agent`` may fetch each url under its host's robots.txt. A host's
    rules are parsed once per worker (its robots bytes repeat across its
    pages)."""
    import pyarrow as pa

    from htmld_spark.functions.udfs import _map_docs

    cache: dict[str, list[tuple[bool, str]]] = {}

    def verdict(txt, url, host):
        rules = cache.get(host)
        if rules is None:
            rules = rules_for_agent(parse_robots(txt), agent)
            if len(cache) > 10_000:  # bound worker memory
                cache.clear()
            cache[host] = rules
        return (robots_allowed(rules, url_path(url or "")),)

    schema = pa.schema([(url_col, pa.string()), ("_rb_keep", pa.bool_())])
    return _map_docs(
        joined, schema, (url_col,), ("_rb_txt", url_col, "_rb_host"), verdict,
        (None,),
    )


# RFC 9309 §2.3.1.4: an unreachable (5xx) robots.txt means the crawler
# MUST assume complete disallow — this synthetic body encodes that.
UNREACHABLE_DISALLOW_ALL = b"User-agent: *\nDisallow: /\n"


def robots_from_pages(pages, url_col: str = "url", body_col: str = "html",
                      ts_col: str = "warc_ts"):
    """Derive the (host, robots) consent table from the CRAWL ITSELF
    (R18c): keep captures whose url path is exactly ``/robots.txt``
    (RFC 9309's well-known location), one row per host — the LATEST
    capture wins (``ts_col`` descending; body-md5 breaks exact-ts ties
    so re-runs are deterministic; a missing/NULL timestamp sorts as the
    epoch). Closes the consent loop with no external table: WARC
    archives alone feed ``robots_filter`` / ``robots_directives_df``.

    HTTP status semantics (RFC 9309 §2.3.1, applied when the frame
    carries an ``http_status`` column — WARC ingest emits one): 4xx
    means "no robots file" → the capture is DROPPED (absent file =
    allowed; a 404 error page must not be parsed as rules); 5xx means
    "unreachable" → the RFC mandates assuming COMPLETE DISALLOW, so the
    capture's body is replaced by a synthetic ``Disallow: /`` for every
    agent; 2xx (and statusless captures) keep their body. The
    latest-capture rule then runs over the mapped rows — a recent 503
    correctly shadows an older 200.

    Plan shape: a row-local pushable filter (robots captures are a tiny
    sliver of a crawl), then ONE map-side-combinable ``max_by`` groupBy
    on the host — the only shuffled bytes are the robots bodies
    themselves. NULL-host rows (unparseable capture urls) are dropped:
    they could never join a page's host."""
    from pyspark.sql import functions as F

    url = F.col(url_col)
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    host = F.try_parse_url(url, F.lit("HOST"))
    ts = (
        F.coalesce(
            F.col(ts_col), F.lit("1970-01-01 00:00:00").cast("timestamp")
        )
        if ts_col in pages.columns
        else F.lit("1970-01-01 00:00:00").cast("timestamp")
    )
    body = F.col(body_col)
    keep = (path == "/robots.txt") & host.isNotNull()
    if "http_status" in pages.columns:
        st = F.col("http_status")
        keep = keep & (st.isNull() | ~st.between(400, 499))
        body = F.when(
            st.between(500, 599), F.lit(UNREACHABLE_DISALLOW_ALL)
        ).otherwise(body)
    cand = (
        pages.filter(keep)
        .select(
            host.alias("host"),
            ts.alias("_rb_ts"),
            body.alias("robots"),
        )
    )
    key = F.struct(F.col("_rb_ts"), F.md5(F.col("robots")))
    return cand.groupBy("host").agg(F.max_by("robots", key).alias("robots"))


def meta_robots_allowed(meta_robots_col):
    """In-page indexing consent (the ``<meta name=robots>`` side of the
    consent story; robots.txt is the fetch side above): True when the
    comma-separated directive list contains neither ``noindex`` nor
    ``none`` (the two opt-out-of-indexing tokens; tokens trimmed —
    X10's extract_meta already lowercases and ws-normalizes the value).
    NULL (no meta element) → allowed, the absent-directive default
    matching the RFC 9309 absent-robots stance. Row-local codegen
    Column — no join, no Python crossing."""
    from pyspark.sql import Column, functions as F

    col = (
        F.col(meta_robots_col)
        if isinstance(meta_robots_col, str)
        else meta_robots_col
    )
    toks = F.split(F.coalesce(col, F.lit("")), ",")
    return ~F.exists(toks, lambda t: F.trim(t).isin("noindex", "none"))
