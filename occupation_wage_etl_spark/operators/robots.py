"""robots.txt parsing + allow/deny evaluation — the crawl-politeness
side of the web-ingest surface (every crawler materializes per-host
rule tables and joins candidate URLs against them before fetching).

Grammar contract (RFC 9309 subset, deterministic and documented):

- lines are ``Field: value`` records; ``#`` comments stripped; field
  names case-insensitive;
- groups are separated by BLANK lines (the universal layout);
  ``User-agent`` lines in a group bind that group's ``Allow`` /
  ``Disallow`` / ``Crawl-delay`` rules to those agents (cartesian
  within the group — multiple UA lines share the rules);
- ``Sitemap`` is group-independent (emitted with NULL agent);
- rule matching implements RFC 9309 §2.2.2–§2.2.3 in full: plain
  rules match as path prefixes; ``*`` matches any octet sequence
  (incl. empty) and a trailing ``$`` anchors the match at path end
  (both MUST-level in the RFC; mid-pattern ``$`` is literal, the
  de-facto crawler behavior).  "Most specific match" = most PATTERN
  octets wins; tie → Allow (the RFC's least-restrictive tie-break);
  no match → allowed;
- ``User-agent`` product tokens compare case-insensitively
  (RFC 9309 §2.2.1) and as EXACT tokens — the substring matching
  some crawlers add ("googlebot" group matching agent
  "googlebot-news") is a documented non-goal.

Everything is codegen Column expressions: line split + posexplode,
one per-document window (robots files are KB-sized — the window
partitions on the doc key, never globally), one bounded join.
Wildcard-free rules (the overwhelming majority in real files) keep
the cheap codegen ``startswith`` path; only rules containing ``*`` or
a trailing ``$`` take the per-row regexp branch.

Reference analogue: none; LLM-training-data extension surface
(pairs with sources/warc.py and functions/url.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._rows import flat_map

_RULE_FIELDS = ("allow", "disallow", "crawl-delay")


def robots_rules(
    df: DataFrame,
    text_col: str = "robots_txt",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, agent, rule_type, value) rows — group-scoped allow/
    disallow/crawl-delay plus agentless sitemap entries."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "__pos", "__raw"
        ),
    )
    ln = F.trim(F.regexp_replace(F.col("__raw"), "#.*$", ""))
    w = Window.partitionBy("__id").orderBy("__pos")
    parsed = (
        lines.withColumn("__ln", ln)
        .withColumn(
            "__blk",
            F.sum(
                F.when(F.col("__ln") == "", 1).otherwise(0)
            ).over(w),
        )
        .filter(F.col("__ln") != "")
        .select(
            "__id",
            "__blk",
            F.lower(
                F.regexp_extract(F.col("__ln"), r"^([A-Za-z-]+)\s*:", 1)
            ).alias("__field"),
            F.trim(
                F.regexp_extract(F.col("__ln"), r":\s*(.*)$", 1)
            ).alias("__value"),
        )
        .filter(F.col("__field") != "")
    )
    agents = parsed.filter(F.col("__field") == "user-agent").select(
        "__id", "__blk", F.col("__value").alias("agent")
    )
    rules = parsed.filter(
        F.col("__field").isin(list(_RULE_FIELDS))
    ).select(
        "__id", "__blk",
        F.col("__field").alias("rule_type"),
        F.col("__value").alias("value"),
    )
    grouped = agents.join(rules, ["__id", "__blk"]).select(
        F.col("__id").alias(id_col), "agent", "rule_type", "value"
    )
    sitemaps = parsed.filter(F.col("__field") == "sitemap").select(
        F.col("__id").alias(id_col),
        F.lit(None).cast("string").alias("agent"),
        F.lit("sitemap").alias("rule_type"),
        F.col("__value").alias("value"),
    )
    return grouped.unionByName(sitemaps)


def robots_is_allowed(
    rules: DataFrame,
    urls: DataFrame,
    agent: str = "*",
    id_col: str = "doc_id",
    path_col: str = "path",
) -> DataFrame:
    """Evaluate each (id, path) against the id's rules for ``agent``
    (exact-agent group if one exists, else the ``*`` group —
    RFC 9309's exclusive group selection; product tokens compare
    case-insensitively per §2.2.1): most-pattern-octets match wins,
    tie → allow, no match → allowed.  ``*``/trailing-``$`` wildcard
    rules (§2.2.3) match via a regex compiled FROM the rule by codegen
    string ops; wildcard-free rules keep the cheap ``startswith``
    path.  Returns (id, path, allowed, matched_rule, matched_len).
    One equi-join on the doc key + one struct-max aggregate — no
    window."""
    agent_lc = agent.lower()
    r = rules.filter(
        F.col("rule_type").isin(["allow", "disallow"])
        & F.lower(F.col("agent")).isin([agent_lc, "*"])
    ).select(
        F.col(id_col).alias("__rid"),
        F.lower(F.col("agent")).alias("__agent"),
        F.col("rule_type").alias("__rt"),
        F.col("value").alias("__rule"),
    )
    # exclusive group selection: keep '*' rules only for ids with no
    # exact-agent group (vacuous when agent == '*')
    if agent_lc != "*":
        has_exact = (
            r.filter(F.col("__agent") == agent_lc)
            .select("__rid").distinct()
            .withColumn("__has", F.lit(1))
        )
        r = (
            r.join(F.broadcast(has_exact), "__rid", "left")
            .filter(
                (F.col("__agent") == agent_lc)
                | F.col("__has").isNull()
            )
            .drop("__has")
        )
    u = urls.select(
        F.col(id_col).alias("__uid"), F.col(path_col).alias("__path")
    )
    # RFC 9309 §2.2.3 wildcards: trailing '$' anchors, '*' spans.
    # The regex is BUILT from the rule with codegen string ops — every
    # other regex metachar in the rule is escaped first ('*' excluded
    # from the class, mid-pattern '$' escaped = literal).
    rule = F.col("__rule")
    has_anchor = rule.endswith("$")
    body = F.when(
        has_anchor, F.substring(rule, F.lit(1), F.length(rule) - 1)
    ).otherwise(rule)
    esc = F.regexp_replace(
        body, r"([.\^$+?(){}\[\]\\|])", r"\\$1"
    )
    rule_re = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(has_anchor, F.lit("$")).otherwise(F.lit("")),
    )
    has_wildcard = rule.contains("*") | has_anchor
    cand = u.join(r, u["__uid"] == r["__rid"], "left").withColumn(
        "__hit",
        F.col("__rule").isNotNull()
        & (F.col("__rule") != "")
        & F.when(
            has_wildcard, F.regexp_like(F.col("__path"), rule_re)
        ).otherwise(F.col("__path").startswith(F.col("__rule"))),
    )
    best = cand.groupBy("__uid", "__path").agg(
        F.max(
            F.when(
                F.col("__hit"),
                F.struct(
                    F.length("__rule").alias("len"),
                    (F.col("__rt") == "allow").alias("is_allow"),
                    F.col("__rule").alias("rule"),
                ),
            )
        ).alias("__best")
    )
    return best.select(
        F.col("__uid").alias(id_col),
        F.col("__path").alias(path_col),
        F.coalesce(F.col("__best.is_allow"), F.lit(True)).alias(
            "allowed"
        ),
        F.col("__best.rule").alias("matched_rule"),
        F.col("__best.len").alias("matched_len"),
    )


def crawl_delay(
    rules: DataFrame,
    agent: str = "*",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, crawl_delay) — the agent's effective ``Crawl-delay`` per
    robots host, with RFC 9309 exclusive group selection mirrored from
    :func:`robots_is_allowed`: when an exact-agent group EXISTS (any
    rule row, delay or not), only ITS delay applies — a ``*`` delay
    never leaks into a host that addressed the agent directly.  Within
    the selected group multiple delay lines take the MAX
    (conservative); non-numeric values are ignored (null-on-error
    cast); hosts whose selected group has no delay return NULL (the
    caller supplies the fleet default).  ONE hash-aggregate over the
    rules table — no join, no window."""
    agent_lc = agent.lower()
    a = F.lower(F.col("agent"))
    delay = F.when(
        F.col("rule_type") == "crawl-delay",
        F.col("value").try_cast("double"),
    )
    agg = rules.groupBy(F.col(id_col)).agg(
        F.max(F.when(a == agent_lc, delay)).alias("__exact"),
        F.max(F.when(a == "*", delay)).alias("__star"),
        F.max((a == agent_lc).cast("int")).alias("__has_exact"),
    )
    eff = F.when(
        (F.col("__has_exact") == 1) & F.lit(agent_lc != "*"),
        F.col("__exact"),
    ).otherwise(F.col("__star"))
    return agg.select(F.col(id_col), eff.alias("crawl_delay"))


def crawl_budget(
    rules: DataFrame,
    frontier: DataFrame,
    agent: str = "*",
    window_seconds: int = 3600,
    default_delay: float = 1.0,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """The frontier-scheduling aggregate a 100 TB crawl needs: combine
    robots allow/deny evaluation, per-host ``Crawl-delay``, and the
    eTLD+1 rollup into one per-domain politeness budget.

    ``rules`` is :func:`robots_rules` output keyed by host id;
    ``frontier`` carries candidate fetches (``id_col`` joining to the
    host's rules, ``url_col`` the full URL).  Per registrable domain
    (``functions/url.registrable_domain`` — subdomains of one site
    share one budget): candidate/allowed counts, the effective delay
    (MAX over the domain's hosts, ``default_delay`` when robots are
    silent — conservative both ways), the fetch cap
    ``floor(window_seconds / delay)``, and the scheduled/deferred
    split ``least(allowed, cap)`` / remainder.

    Shape: the allow evaluation's bounded equi-join + struct-max, one
    hash-agg for delays, one equi-join back to the frontier, one final
    hash-agg keyed by eTLD+1 — no window, no cartesian, every shuffle
    on a bounded key.  ``rules`` feeds BOTH the allow branch and the
    delay branch, so it is operator-cached (``_cache.cached``) — at
    100 TB the rules table is parsed once, not once per branch."""
    from occupation_wage_etl_spark.functions.url import (
        registrable_domain,
        url_path,
    )
    from occupation_wage_etl_spark.operators._cache import cached

    rules = cached(rules)

    cand = frontier.select(
        F.col(id_col),
        F.col(url_col).alias("__url"),
        url_path(F.col(url_col)).alias("path"),
        registrable_domain(F.col(url_col)).alias("__domain"),
    )
    verdicts = robots_is_allowed(
        rules, cand.select(id_col, "path"), agent=agent, id_col=id_col
    ).select(F.col(id_col), "path", "allowed")
    delays = crawl_delay(rules, agent=agent, id_col=id_col)
    joined = (
        cand.join(verdicts, [id_col, "path"], "left")
        .join(delays, [id_col], "left")
        .select(
            F.col(id_col),
            F.col("__domain"),
            F.coalesce(F.col("allowed"), F.lit(True)).alias("__ok"),
            F.coalesce(
                F.col("crawl_delay"), F.lit(float(default_delay))
            ).alias("__delay"),
        )
    )
    agg = joined.groupBy(F.col("__domain").alias("domain")).agg(
        F.countDistinct(id_col).alias("n_hosts"),
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.col("__ok").cast("long")).alias("n_allowed"),
        F.max("__delay").alias("delay_s"),
    )
    cap = F.floor(F.lit(float(window_seconds)) / F.col("delay_s"))
    sched = F.least(F.col("n_allowed"), cap)
    return agg.select(
        "domain",
        "n_hosts",
        "n_urls",
        "n_allowed",
        "delay_s",
        cap.alias("window_cap"),
        sched.alias("n_scheduled"),
        (F.col("n_allowed") - sched).alias("n_deferred"),
    )


def _sitemap_root(xml_text):
    """Parsed root of a sitemap payload — a string, or bytes (gzip magic
    decompressed first); None for a corrupt gzip or malformed XML, so
    the document is skipped and never fails a task."""
    import gzip
    import xml.etree.ElementTree as ET

    if isinstance(xml_text, bytes):
        if xml_text[:2] == b"\x1f\x8b":
            try:
                xml_text = gzip.decompress(xml_text)
            except (OSError, EOFError):
                return None
        xml_text = xml_text.decode("utf-8", "replace")
    try:
        return ET.fromstring(xml_text or "")
    except ET.ParseError:
        return None


def sitemap_entries(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    id_col: str = "doc_id",
    max_entries: int = 50_000,
) -> DataFrame:
    """Parse sitemap.org XML — both ``<urlset>`` (page entries with
    loc/lastmod/changefreq/priority) and ``<sitemapindex>`` (nested
    sitemap pointers) — into (id, kind, ordinal, loc, lastmod,
    changefreq, priority) rows.  ``max_entries`` mirrors the protocol's
    own 50k-URL cap.  Scan-side ``flat_map`` (stdlib etree), zero
    shuffles — the discovery companion to :func:`robots_rules`'
    Sitemap lines.

    ``xml_col`` may be a STRING or a BINARY column; binary payloads
    starting with the gzip magic are decompressed first — ``.xml.gz``
    is the norm at scale (the protocol's own 50 MB/50k limits push
    every large site to compressed sitemaps)."""
    ns = "{http://www.sitemaps.org/schemas/sitemap/0.9}"
    schema = (
        f"{id_col} long, kind string, ordinal int, loc string, "
        "lastmod string, changefreq string, priority double"
    )

    def _field(el, name):
        c = el.find(ns + name)
        return None if c is None or c.text is None else c.text.strip()

    def _run(rid, xml_text):
        root = _sitemap_root(xml_text)
        if root is None:
            return
        kind = (
            "url"
            if root.tag == ns + "urlset"
            else "sitemap"
            if root.tag == ns + "sitemapindex"
            else None
        )
        if kind is None:
            return
        child = ns + ("url" if kind == "url" else "sitemap")
        for k, el in enumerate(root.findall(child)[:max_entries]):
            pr = _field(el, "priority")
            yield (
                rid, kind, k, _field(el, "loc"), _field(el, "lastmod"),
                _field(el, "changefreq"),
                float(pr) if pr is not None else None,
            )

    return flat_map(df, [id_col, xml_col], schema, _run)


def sitemap_extension_entries(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    id_col: str = "doc_id",
    max_entries: int = 50_000,
) -> DataFrame:
    """Sitemap EXTENSION namespaces — the ``<image:image>`` and
    ``<news:news>`` children that real sitemaps attach to ``<url>``
    entries (Google sitemap-image 1.1 / sitemap-news 0.9 schemas) —
    as typed rows: (id, ordinal [the parent ``<url>``'s index],
    page_loc, ext_kind 'image'|'news', ext_ordinal, loc [image URL],
    title, caption, publication_name, publication_language,
    publication_date).  Image rows leave the news columns NULL and
    vice versa — one long-form table, not two, so the downstream
    multimodal/caption joins stay single-source.  Same scan-side
    ``flat_map`` + gzip handling as :func:`sitemap_entries`; zero
    shuffles."""
    ns = "{http://www.sitemaps.org/schemas/sitemap/0.9}"
    img = "{http://www.google.com/schemas/sitemap-image/1.1}"
    news = "{http://www.google.com/schemas/sitemap-news/0.9}"
    schema = (
        f"{id_col} long, ordinal int, page_loc string, "
        "ext_kind string, ext_ordinal int, loc string, title string, "
        "caption string, publication_name string, "
        "publication_language string, publication_date string"
    )

    def _txt(el, tag):
        c = el.find(tag)
        return None if c is None or c.text is None else c.text.strip()

    def _run(rid, xml_text):
        root = _sitemap_root(xml_text)
        if root is None or root.tag != ns + "urlset":
            return
        for k, el in enumerate(root.findall(ns + "url")[:max_entries]):
            page_loc = _txt(el, ns + "loc")
            e = 0
            for im in el.findall(img + "image"):
                yield (
                    rid, k, page_loc, "image", e, _txt(im, img + "loc"),
                    _txt(im, img + "title"), _txt(im, img + "caption"),
                    None, None, None,
                )
                e += 1
            for nw in el.findall(news + "news"):
                pub = nw.find(news + "publication")
                yield (
                    rid, k, page_loc, "news", e, None,
                    _txt(nw, news + "title"), None,
                    _txt(pub, news + "name") if pub is not None else None,
                    _txt(pub, news + "language") if pub is not None else None,
                    _txt(nw, news + "publication_date"),
                )
                e += 1

    return flat_map(df, [id_col, xml_col], schema, _run)


def sitemap_index_chase(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    url_col: str = "url",
    id_col: str = "doc_id",
    max_entries: int = 50_000,
) -> DataFrame:
    """Follow ``<sitemapindex>`` pointers into their child ``<urlset>``
    sitemaps WITHIN the given corpus — the bridge between the two
    sitemap.org layouts (a large site's robots.txt names ONE index
    file; the actual page URLs live one hop away in its gzipped
    children).

    ``df`` is the sitemap corpus: (id, url [the sitemap's own fetch
    URL], xml [string or binary — ``.xml.gz`` handled]).  Returns one
    row per urlset entry reached through an index pointer:
    (root_id [the index sitemap], child_url, ordinal [within the
    child], loc, lastmod, changefreq, priority).

    Shape: one scan-side parse (cached — it feeds both the pointer and
    the entry branch) + two bounded equi-joins (pointer loc → corpus
    url → child entries); no window, no cartesian."""
    from occupation_wage_etl_spark.operators._cache import cached

    entries = cached(
        sitemap_entries(
            df, xml_col=xml_col, id_col=id_col, max_entries=max_entries
        )
    )
    pointers = entries.filter(F.col("kind") == "sitemap").select(
        F.col(id_col).alias("root_id"), F.col("loc").alias("__loc")
    )
    ids = df.select(
        F.col(url_col).alias("__url"), F.col(id_col).alias("__child")
    )
    child_entries = entries.filter(F.col("kind") == "url").select(
        F.col(id_col).alias("__child"), "ordinal", "loc", "lastmod",
        "changefreq", "priority",
    )
    return (
        pointers.join(ids, pointers["__loc"] == ids["__url"])
        .join(child_entries, "__child")
        .select(
            "root_id",
            F.col("__url").alias("child_url"),
            "ordinal", "loc", "lastmod", "changefreq", "priority",
        )
    )
