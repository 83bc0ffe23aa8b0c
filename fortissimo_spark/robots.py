"""robots.txt rules engine (crawl-compliance leg; JVM-side throughout).

A Common-Crawl-style pipeline must be able to answer "was this page
allowed for our agent?" at corpus scale. This module parses raw
robots.txt bodies into per-agent rule groups and applies them to a pages
table with Google-REP matching semantics (the de-facto public standard,
RFC 9309):

* groups are delimited by ``User-agent`` lines; consecutive
  ``User-agent`` lines share one group; blank lines and comments are
  ignored (RFC 9309 §2.2);
* agent selection: if any group names the target agent exactly
  (case-insensitive token), only those groups apply; otherwise the
  ``*`` groups apply;
* ``Allow``/``Disallow`` patterns support ``*`` wildcards and a ``$``
  end anchor; the most specific (longest raw pattern) match wins and
  ``allow`` wins length ties (RFC 9309 §2.2.2);
* an empty ``Disallow:`` value imposes no restriction; a page matched
  by no rule is allowed.

Scale shape: robots bodies are one small row per host (bounded by the
host count, not the page count), so the parsed rules broadcast to the
pages side — the apply is ONE broadcast join + one per-url window over
the handful of matching rules, no all-pairs, no Python. The pattern →
RE2 translation is done with JVM ``regexp_replace`` expressions so the
whole plan stays in codegen.
"""

from __future__ import annotations

import datetime as _dt
from email.utils import parsedate_to_datetime

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .dom import ELEMENT, N_CHILDREN, N_CONTENT, N_KIND, N_TAG_LC, TEXT
from .kernel import _attrs_ci, _page_kernel

__all__ = ["parse_robots_txt", "robots_rules_for_agent", "apply_robots",
           "robots_crawl_delays", "robots_sitemaps", "robots_pattern_regex",
           "parse_sitemaps"]


def _directive_lines(robots: DataFrame, host_col: str,
                     body_col: str) -> DataFrame:
    """(host, ln, key, value) for every ``key: value`` directive line,
    comments stripped, blank lines dropped, line order preserved."""
    lines = (robots
             .select(F.col(host_col).alias("host"),
                     F.posexplode(F.split(F.col(body_col), "\r?\n"))
                     .alias("ln", "line"))
             .withColumn("line", F.trim(F.regexp_replace("line", "#.*$", "")))
             .filter(F.col("line") != "")
             .filter(F.col("line").contains(":")))
    key = F.lower(F.trim(F.substring_index("line", ":", 1)))
    # value = everything after the FIRST colon (sitemap urls contain ':')
    value = F.trim(F.expr("substring(line, instr(line, ':') + 1)"))
    return lines.select("host", "ln", key.alias("key"), value.alias("value"))


def parse_robots_txt(robots: DataFrame, host_col: str = "host",
                     body_col: str = "body") -> DataFrame:
    """Parse robots.txt bodies into one row per (agent, rule) pair:
    ``(host, group_id, agent, rule, pattern)`` with rule in
    ('allow', 'disallow'). Group structure follows RFC 9309 §2.2:
    a ``User-agent`` run starts a group shared by all its agents."""
    d = _directive_lines(robots, host_col, body_col)
    w = Window.partitionBy("host").orderBy("ln")
    is_ua = (F.col("key") == "user-agent")
    starts = is_ua & ~F.coalesce(F.lag(is_ua.cast("int")).over(w) == 1,
                                 F.lit(False))
    d = d.withColumn("group_id",
                     F.sum(starts.cast("int")).over(w))
    agents = (d.filter(is_ua)
              .select("host", "group_id",
                      F.lower(F.col("value")).alias("agent")))
    rules = (d.filter(F.col("key").isin("allow", "disallow"))
             .filter(F.col("group_id").isNotNull())  # rules before any UA line are orphans
             .filter(F.col("value") != "")           # empty Disallow: = no rule
             .select("host", "group_id", F.col("key").alias("rule"),
                     F.col("value").alias("pattern")))
    return agents.join(rules, ["host", "group_id"]) \
        .select("host", "group_id", "agent", "rule", "pattern")


def robots_pattern_regex(pattern: Column) -> Column:
    """Translate a robots path pattern to an anchored RE2/Java regex:
    escape regex metacharacters, ``*`` -> ``.*``, trailing ``$`` -> end
    anchor (``$`` elsewhere is literal). Pure JVM expressions so both
    Spark and the DuckDB oracle can run the identical translation."""
    anchored = pattern.endswith("$")
    core = F.when(anchored,
                  F.substring(pattern, F.lit(1), F.length(pattern) - 1)) \
        .otherwise(pattern)
    esc = F.regexp_replace(core, r"[.^$+?(){}\[\]|\\]", r"\\$0")
    starred = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), starred,
                    F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def robots_rules_for_agent(rules: DataFrame, agent: str) -> DataFrame:
    """Select the rule groups that bind ``agent`` per host (exact
    case-insensitive agent token if any group names it, else ``*``) and
    attach the compiled regex + specificity. Output is one small row per
    binding rule — broadcastable."""
    agent = agent.lower()
    cand = rules.filter(F.col("agent").isin(agent, "*"))
    picked = (cand
              .withColumn("_has_specific",
                          F.max((F.col("agent") == agent).cast("int"))
                          .over(Window.partitionBy("host")))
              .filter((F.col("agent") == agent)
                      == (F.col("_has_specific") == 1))
              .drop("_has_specific"))
    return (picked
            .withColumn("regex", robots_pattern_regex(F.col("pattern")))
            .withColumn("specificity", F.length("pattern"))
            .select("host", "rule", "pattern", "regex", "specificity")
            .distinct())


def apply_robots(pages: DataFrame, rules: DataFrame, agent: str,
                 url_col: str = "url",
                 broadcast_rules: bool = True) -> DataFrame:
    """Annotate every page with ``allowed`` / ``matched_rule`` /
    ``matched_pattern`` under ``agent``'s binding rules.

    Plan (sized for 10^12 pages): the rules join and the winner pick
    run over a PROJECTED key frame (url, host, path) — never the page
    payload. Winner per url is a ``min_by`` aggregate under the RFC
    9309 §2.2.2 total order (matched first, longest pattern,
    allow-wins-tie, pattern text as the final deterministic key), so
    partial aggregation collapses the per-host rule fan-out map-side
    and only (url, decision) rows cross the wire. Decisions then join
    back onto the payload by unique url (AQE picks the strategy; no
    skew — urls are unique). ``broadcast_rules=True`` (default) is
    right when the binding rule set is bounded (curated corpora);
    pass False at open-web host counts and let AQE's skew-join
    handle hot hosts."""
    binding = robots_rules_for_agent(rules, agent)
    b = F.broadcast(binding) if broadcast_rules else binding
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    # RFC 9309 / Google REP match against the PATH-AND-QUERY, not the
    # path alone — rules like 'Disallow: /*?sessionid=' must bind.
    path = F.coalesce(F.try_parse_url(F.col(url_col), F.lit("PATH")),
                      F.lit("/"))
    query = F.try_parse_url(F.col(url_col), F.lit("QUERY"))
    target = F.when(query.isNotNull(),
                    F.concat(path, F.lit("?"), query)).otherwise(path)
    keys = pages.select(F.col(url_col).alias("_murl"),
                        host.alias("_host"), target.alias("_path"))
    joined = keys.join(b, keys["_host"] == binding["host"], "left")
    matched = (F.col("regex").isNotNull()
               & F.expr("rlike(_path, regex)"))
    sort_key = F.struct(
        (~matched).cast("int").alias("k_unmatched"),
        (-F.coalesce(F.col("specificity"), F.lit(0))).alias("k_negspec"),
        F.coalesce((F.col("rule") != "allow").cast("int"),
                   F.lit(0)).alias("k_notallow"),
        F.coalesce(F.col("pattern"), F.lit("")).alias("k_pattern"))
    payload = F.struct(matched.alias("matched"), F.col("rule"),
                       F.col("pattern"))
    decisions = (joined.groupBy("_murl")
                 .agg(F.min_by(payload, sort_key).alias("w"))
                 .select(
                     "_murl",
                     (~F.col("w.matched")
                      | (F.col("w.rule") == "allow")).alias("allowed"),
                     F.when(F.col("w.matched"), F.col("w.rule"))
                     .alias("matched_rule"),
                     F.when(F.col("w.matched"), F.col("w.pattern"))
                     .alias("matched_pattern")))
    out = (pages.join(decisions, pages[url_col] == decisions["_murl"],
                      "left")
           .withColumn("allowed", F.coalesce("allowed", F.lit(True)))
           .drop("_murl"))
    return out


def robots_crawl_delays(robots: DataFrame, agent: str,
                        host_col: str = "host",
                        body_col: str = "body") -> DataFrame:
    """(host, crawl_delay_s) for the groups binding ``agent`` (same
    group-selection rule as the path rules; min across its groups)."""
    agent = agent.lower()
    d = _directive_lines(robots, host_col, body_col)
    w = Window.partitionBy("host").orderBy("ln")
    is_ua = (F.col("key") == "user-agent")
    starts = is_ua & ~F.coalesce(F.lag(is_ua.cast("int")).over(w) == 1,
                                 F.lit(False))
    d = d.withColumn("group_id", F.sum(starts.cast("int")).over(w))
    agents = (d.filter(is_ua)
              .select("host", "group_id",
                      F.lower(F.col("value")).alias("agent")))
    cand = agents.filter(F.col("agent").isin(agent, "*"))
    picked = (cand
              .withColumn("_has_specific",
                          F.max((F.col("agent") == agent).cast("int"))
                          .over(Window.partitionBy("host")))
              .filter((F.col("agent") == agent)
                      == (F.col("_has_specific") == 1))
              .select("host", "group_id").distinct())
    delays = (d.filter(F.col("key") == "crawl-delay")
              .select("host", "group_id",
                      F.col("value").cast("double").alias("crawl_delay_s")))
    return (delays.join(picked, ["host", "group_id"])
            .groupBy("host")
            .agg(F.min("crawl_delay_s").alias("crawl_delay_s")))


def robots_sitemaps(robots: DataFrame, host_col: str = "host",
                    body_col: str = "body") -> DataFrame:
    """(host, sitemap_url) rows — Sitemap directives are group-independent
    (RFC 9309 §2.4)."""
    d = _directive_lines(robots, host_col, body_col)
    return (d.filter(F.col("key") == "sitemap")
            .select("host", F.col("value").alias("sitemap_url"))
            .distinct())


def _child(b, node, tag):
    """First element child of ``node`` whose tag, namespace prefix
    stripped (sitemap and feed files often use ``<sm:url>``), is
    ``tag``."""
    for c in b.nodes[node][N_CHILDREN] or []:
        if isinstance(c, int):
            nd = b.nodes[c]
            if (nd[N_KIND] == ELEMENT
                    and (nd[N_TAG_LC] or "").split(":")[-1] == tag):
                return c
    return None


def _child_text(b, node, tag):
    c = _child(b, node, tag)
    return b.text_content(c).strip() if c is not None else None


def _sitemap_rows(raw, parsed):
    """(kind, loc, lastmod, changefreq, priority) per <url>/<sitemap>
    entry of one sitemap, parsed with the engine's own
    (xml-mode-capable) parser."""
    b = parsed[0].dom
    # flat-array walk with namespace-prefix strip (selector matching is
    # exact-tag)
    by_tag = {"url": [], "sitemap": []}
    for i, nd in enumerate(b.nodes):
        if nd[N_KIND] == ELEMENT:
            t = (nd[N_TAG_LC] or "").split(":")[-1]
            if t in by_tag:
                by_tag[t].append(i)
    for kind in ("url", "sitemap"):
        for e in by_tag[kind]:
            loc = _child_text(b, e, "loc")
            if loc:
                yield (kind, loc, _child_text(b, e, "lastmod"),
                       _child_text(b, e, "changefreq"),
                       _child_text(b, e, "priority"))


def parse_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """Parse sitemap XML payloads (``<urlset>`` page entries AND
    ``<sitemapindex>`` shard entries — the sitemaps.org protocol robots
    ``Sitemap:`` lines point at) into typed rows:
    (sitemap_url, kind 'url'|'sitemap', loc, lastmod_date, changefreq,
    priority). Namespace-prefixed tags accepted; missing children are
    NULL; the date/priority casts are JVM-side ``try`` casts so one
    malformed entry never kills the scan. Map-side only (mapInPandas),
    no shuffle."""
    schema = StructType([StructField(c, StringType()) for c in
                         ("sitemap_url", "kind", "loc", "lastmod",
                          "changefreq", "priority")])
    kernel = _page_kernel(schema, _sitemap_rows, "sitemap_url", "xml")
    out = sitemaps.select("sitemap_url", "xml").mapInPandas(kernel, schema)
    return out.select(
        "sitemap_url", "kind", "loc",
        F.try_to_timestamp(F.substring("lastmod", 1, 10),
                           F.lit("yyyy-MM-dd")).cast("date")
        .alias("lastmod_date"),
        F.lower("changefreq").alias("changefreq"),
        F.expr("try_cast(priority AS double)").alias("priority"))


def plan_frontier(cands: DataFrame, rules: DataFrame, delays: DataFrame,
                  agent: str, url_col: str = "url",
                  priority_col: str | None = None,
                  default_delay: float = 1.0,
                  broadcast_rules: bool = True) -> DataFrame:
    """Politeness-aware fetch planning: filter candidate urls through
    the robots rules, then assign each surviving url a per-host fetch
    ``wave`` (priority-first, url-text tie-break) and ``eta_s`` =
    wave x the host's crawl-delay (``default_delay`` where none is
    declared).

    The per-host window IS the politeness semantics — fetches against
    one host are inherently serial — so the per-host ordering is not a
    skew accident to salt away; hot hosts should be bounded upstream
    (urls.cap_per_host) where the product allows. ``delays`` is
    host-count-sized (robots_crawl_delays output) and broadcasts.
    Candidates must already be unique per url (dedup_latest_crawl /
    distinct upstream)."""
    ann = apply_robots(cands, rules, agent, url_col,
                       broadcast_rules=broadcast_rules)
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    allowed = (ann.filter(F.col("allowed"))
               .withColumn("_host", host)
               .join(F.broadcast(delays.withColumnRenamed("host", "_dhost")),
                     F.col("_host") == F.col("_dhost"), "left"))
    order = ([F.col(priority_col).desc_nulls_last()]
             if priority_col else []) + [F.col(url_col)]
    w = Window.partitionBy("_host").orderBy(*order)
    wave = (F.row_number().over(w) - 1).alias("wave")
    return (allowed
            .withColumn("wave", wave)
            .withColumn("eta_s",
                        F.col("wave") * F.coalesce("crawl_delay_s",
                                                   F.lit(default_delay)))
            .drop("_dhost", "crawl_delay_s", "allowed", "matched_rule",
                  "matched_pattern")
            .withColumnRenamed("_host", "host"))


def _rss_epoch(s):
    try:
        return int(parsedate_to_datetime(s).timestamp())
    except (TypeError, ValueError):
        return None


def _atom_epoch(s):
    try:
        return int(_dt.datetime.fromisoformat(
            s.replace("Z", "+00:00")).timestamp())
    except (TypeError, ValueError, AttributeError):
        return None


def _feed_rows(raw, parsed):
    """(feed_kind, title, link, pub_epoch) per RSS <item> / Atom <entry>
    of one feed, dates normalized to epoch seconds (RFC 822 via
    email.utils for RSS, ISO-8601 for Atom — both C-level stdlib
    parsers; malformed dates yield NULL)."""
    b = parsed[0].dom
    kind = None
    for i, nd in enumerate(b.nodes):
        if nd[N_KIND] == ELEMENT:
            t = (nd[N_TAG_LC] or "").split(":")[-1]
            if t == "rss":
                kind = "rss"
                break
            if t == "feed":
                kind = "atom"
                break
    if kind is None:
        return
    entry_tag = "item" if kind == "rss" else "entry"
    for i, nd in enumerate(b.nodes):
        if nd[N_KIND] != ELEMENT:
            continue
        if (nd[N_TAG_LC] or "").split(":")[-1] != entry_tag:
            continue
        if kind == "rss":
            # in the forgiving HTML grammar <link> is VOID, so
            # the url ends up in the NEXT sibling text node
            link = _child_text(b, i, "link") or None
            if link is None:
                kids = b.nodes[i][N_CHILDREN] or []
                for ki, c in enumerate(kids):
                    nd2 = b.nodes[c] if isinstance(c, int) else None
                    if (nd2 is not None and nd2[N_KIND] == ELEMENT
                            and (nd2[N_TAG_LC] or "")
                            .split(":")[-1] == "link"):
                        for c2 in kids[ki + 1:]:
                            if isinstance(c2, int) and \
                                    b.nodes[c2][N_KIND] == TEXT:
                                link = (b.nodes[c2][N_CONTENT]
                                        or "").strip() or None
                                break
                        break
            epoch = _rss_epoch(_child_text(b, i, "pubDate")
                               or _child_text(b, i, "pubdate"))
        else:
            lc = _child(b, i, "link")
            link = (_attrs_ci(b, lc).get("href")
                    if lc is not None else None)
            epoch = _atom_epoch(_child_text(b, i, "updated"))
        yield (kind, _child_text(b, i, "title"), link, epoch)


def parse_feeds(feeds: DataFrame) -> DataFrame:
    """Parse RSS 2.0 / Atom feed payloads — the other crawl-seed
    discovery channel next to sitemaps — into one typed row per item:
    (feed_url, feed_kind, title, link, pub_epoch). Namespace-prefix
    tolerant; malformed dates are NULL; map-side only."""
    schema = StructType([
        StructField("feed_url", StringType()),
        StructField("feed_kind", StringType()),
        StructField("title", StringType()),
        StructField("link", StringType()),
        StructField("pub_epoch", LongType()),
    ])
    kernel = _page_kernel(schema, _feed_rows, "feed_url", "xml")
    return feeds.select("feed_url", "xml").mapInPandas(kernel, schema)


_FEED_MIMES = {"application/rss+xml": "rss", "application/atom+xml": "atom"}


def _feed_link_rows(raw, parsed):
    """(feed_href, feed_kind, feed_title) per declared feed of one page:
    ``<link rel="alternate">`` whose type is a feed mime — the way
    browsers and crawlers find a site's RSS/Atom feeds. rel matching
    is token-based case-insensitive; href-less links drop."""
    b = parsed[0].dom
    for i, nd in enumerate(b.nodes):
        if nd[N_KIND] != ELEMENT or nd[N_TAG_LC] != "link":
            continue
        attrs = _attrs_ci(b, i)
        rel = (attrs.get("rel") or "").lower().split()
        kind = _FEED_MIMES.get((attrs.get("type") or "").strip().lower())
        href = attrs.get("href")
        if "alternate" in rel and kind is not None and href:
            yield (href, kind, attrs.get("title"))


def discover_feeds(pages: DataFrame) -> DataFrame:
    """Feed autodiscovery over crawled pages: one row per declared
    RSS/Atom ``<link rel="alternate">`` — (url, feed_href, feed_kind,
    feed_title). Map-side only; resolve feed_href against url with
    graph.resolve_href downstream."""
    schema = StructType([
        StructField("url", StringType()),
        StructField("feed_href", StringType()),
        StructField("feed_kind", StringType()),
        StructField("feed_title", StringType()),
    ])
    kernel = _page_kernel(schema, _feed_link_rows)
    return pages.select("url", "html").mapInPandas(kernel, schema)
