"""Web-corpus ingestion primitives: URL normalization / domain keys and
a dependency-free WARC record reader.

Engine extension beyond the reference surface (BASELINE.json north
star).  Web-crawl curation keys on URLs (canonical identity for dedup,
registrable-domain keys for per-site caps and blocklists) and ingests
WARC archives (ISO 28500 -- a plain-text record framing; the format is
implemented here from the public spec, no external library).

Scale shapes:
- URL functions are single codegen'd projections (regexp chains) --
  zero shuffle, linear in bytes;
- blocklist filtering broadcasts the (small) blocklist;
- WARC parsing runs over ``binaryFile``-sourced whole archives in
  ``mapInPandas`` -- the repo's honest shape for byte-format codecs:
  one archive per input row, records stream out as rows, nothing
  shuffles until the caller asks for it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .gating import size_gated_broadcast

# tracking params stripped by normalize_url (the common analytics noise
# that splits one logical page into many crawl identities)
_TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "ref", "mc_cid", "mc_eid",
)


def normalize_url(url: Column | str) -> Column:
    """Canonical URL: lowercase scheme+host, strip fragment, strip the
    scheme's OWN default port (``:80`` only for http, ``:443`` only
    for https -- a non-default port is a distinct resource), strip
    tracking params FROM THE QUERY STRING ONLY (``&`` is a legal path
    character per RFC 3986, so a literal ``&ref=...`` inside the path
    survives), drop an emptied query's ``?``, and strip the trailing
    slash on a bare path.  Pure expression chain -- the dedup-identity
    transform, deterministic and oracle-replicable.
    """
    c = F.col(url) if isinstance(url, str) else url
    u = F.trim(c)
    # split off fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # lowercase scheme://host (leave path/query case alone)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    tail = F.regexp_replace(rest, r"^[^/?]*", "")
    host = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(host, r":443$", "")
    ).otherwise(host)
    # clean tracking params out of the QUERY alone: split tail at the
    # first '?' (path keeps its legal '&'s untouched)
    path = F.substring_index(tail, "?", 1)
    query = F.regexp_extract(tail, r"^[^?]*\?(.*)$", 1)  # '' when no query
    for p in _TRACKING_PARAMS:
        query = F.regexp_replace(query, rf"(^|&){p}=[^&]*", "$1")
    query = F.regexp_replace(query, r"^&+", "")    # leading separator
    query = F.regexp_replace(query, r"&&+", "&")   # collapse runs
    query = F.regexp_replace(query, r"&$", "")     # trailing separator
    tail = F.when(query == "", path).otherwise(F.concat(path, F.lit("?"), query))
    u = F.when(scheme == "", u).otherwise(F.concat(scheme, F.lit("://"), host, tail))
    u = F.regexp_replace(u, r"^(https?://[^/?]+)/$", "$1")  # bare-path slash
    return u


def domain_of(url: Column | str) -> Column:
    """Host part of a URL, lowercased, port stripped; empty string for
    non-URLs.  (Registrable-domain semantics beyond host require the
    public-suffix list -- callers with that table join it on this key.)
    """
    c = F.col(url) if isinstance(url, str) else url
    host = F.lower(
        F.regexp_extract(F.trim(c), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1)
    )
    return host


def filter_blocked_domains(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col_in_blocklist: str = "domain",
    match_subdomains: bool = True,
) -> DataFrame:
    """Drop rows whose URL's host is on (or under, with
    ``match_subdomains``) a blocked domain.  The blocklist BROADCASTS
    (site blocklists are thousands of rows); the corpus side is an
    equi anti-join -- map-side, no corpus shuffle.

    Subdomain matching does NOT use an ``endswith`` join condition: a
    non-equi predicate against a broadcast side plans as a nested-loop
    join, i.e. every corpus row scans the whole blocklist (rows x
    blocklist comparisons -- a scale-killer at 100 TB).  The exact
    path is a plain hash equi anti-join; the subdomain path collects
    the (thousands-row, by definition) blocklist into a broadcast
    Python set and checks each host's handful of dot-suffixes against
    it in an Arrow-batched filter -- O(labels) set lookups per row,
    independent of blocklist size, zero shuffle.
    """
    b = blocklist.select(
        F.lower(F.col(domain_col_in_blocklist)).alias("__blocked")
    )
    host = domain_of(url_col)
    if not match_subdomains:
        d = df.withColumn("__blocked", host)
        return d.join(F.broadcast(b), on="__blocked", how="left_anti").drop(
            "__blocked"
        )
    import pandas as pd  # noqa: F401

    blocked = {r["__blocked"] for r in b.collect()}
    bw = df.sparkSession.sparkContext.broadcast(blocked)

    def _keep_fn(hosts):
        import pandas as _pd

        s = bw.value

        def ok(h):
            if not h:
                return True
            parts = h.split(".")
            return not any(
                ".".join(parts[i:]) in s for i in range(len(parts))
            )

        return _pd.Series([ok(h) for h in hosts], dtype="bool")

    _keep = F.pandas_udf(_keep_fn, "boolean")
    return df.filter(_keep(host))


_WARC_SCHEMA = (
    "archive string, record_type string, url string, warc_date string, "
    "content_type string, content_length bigint, payload binary"
)


def _parse_warc_bytes(name: str, blob: bytes):
    """Split one WARC file's bytes into records (generator of tuples
    matching _WARC_SCHEMA).  Implements the ISO 28500 framing: records
    start at a 'WARC/<ver>' line, headers run to a blank line, the body
    is exactly Content-Length bytes, then CRLFCRLF record separator.
    Tolerates LF-only files and truncated tails (partial final record
    is dropped -- crawlers do truncate)."""
    pos = 0
    n = len(blob)
    while pos < n:
        head_end = blob.find(b"\r\n\r\n", pos)
        sep = 4
        head_end_lf = blob.find(b"\n\n", pos)
        if head_end == -1 or (head_end_lf != -1 and head_end_lf < head_end):
            head_end, sep = head_end_lf, 2
        if head_end == -1:
            return
        head = blob[pos:head_end].decode("utf-8", "replace")
        lines = head.splitlines()
        if not lines or not lines[0].startswith("WARC/"):
            # scan forward to the next record marker
            nxt = blob.find(b"WARC/", pos + 1)
            if nxt == -1:
                return
            pos = nxt
            continue
        hdrs = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            if _:
                hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs.get("content-length", "0"))
        except ValueError:
            clen = 0
        body_start = head_end + sep
        body_end = body_start + clen
        if body_end > n:
            return  # truncated final record
        yield (
            name,
            hdrs.get("warc-type", ""),
            hdrs.get("warc-target-uri", ""),
            hdrs.get("warc-date", ""),
            hdrs.get("content-type", ""),
            clen,
            bytes(blob[body_start:body_end]),
        )
        pos = body_end
        # skip record separator / padding newlines
        while pos < n and blob[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1


def read_warc(
    spark,
    path: str,
    record_types: tuple[str, ...] = ("response",),
    records_per_chunk: int = 1024,
) -> DataFrame:
    """Read WARC archives under ``path`` into one row per record:
    ``(archive, record_type, url, warc_date, content_type,
    content_length, payload)``.

    Plan: ``binaryFile`` scan (one row per archive; Spark assigns
    whole files to tasks) -> ``mapInPandas`` running the spec parser
    above -- records stream out of each task with zero shuffle; filter
    by ``record_types`` before anything wide.  Archives must fit a
    task's memory (the binaryFile contract); crawl archives are sized
    for exactly that (~1 GB).  Parsed records are yielded in
    ``records_per_chunk``-row Arrow batches rather than one
    archive-sized frame, so peak task memory is the raw archive plus
    ONE bounded chunk of parsed copies -- not a second full copy of
    every payload.
    """
    import pandas as pd

    types = set(record_types)
    keys = (
        "archive", "record_type", "url", "warc_date",
        "content_type", "content_length", "payload",
    )
    per_chunk = max(1, int(records_per_chunk))

    def _gen(batches):
        for pdf in batches:
            out = {k: [] for k in keys}
            for name, blob in zip(pdf["path"], pdf["content"]):
                for rec in _parse_warc_bytes(name, bytes(blob)):
                    if types and rec[1] not in types:
                        continue
                    for k, v in zip(out, rec):
                        out[k].append(v)
                    if len(out["archive"]) >= per_chunk:
                        yield pd.DataFrame(out)
                        out = {k: [] for k in keys}
            if out["archive"]:
                yield pd.DataFrame(out)

    src = spark.read.format("binaryFile").load(path).select("path", "content")
    return src.mapInPandas(_gen, _WARC_SCHEMA)


# ---------------------------------------------------------------------------
# robots.txt politeness (RFC 9309, implemented from the public spec)
# ---------------------------------------------------------------------------

def _parse_robots_text(text: str) -> list[tuple[str, bool, str]]:
    """Parse one robots.txt body into (agent, allow, pattern) rules per
    RFC 9309: ``#`` comments strip, keys are case-insensitive,
    consecutive ``User-agent`` lines open a group whose following
    Allow/Disallow rules apply to every named agent, and an EMPTY
    Disallow value is no rule at all (legacy allow-all idiom).
    Module-level and pure so the grammar is unit-testable without
    Spark."""
    rules: list[tuple[str, bool, str]] = []
    agents: list[str] = []
    in_group_header = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_group_header:
                agents = []  # a new group header run starts
            agents.append(val.lower())
            in_group_header = True
            continue
        in_group_header = False
        if key in ("allow", "disallow"):
            if not val:
                continue  # empty pattern = no rule (RFC 9309 §2.2.2)
            for a in agents:
                rules.append((a, key == "allow", val))
    return rules


def _robots_agents(text: str) -> set[str]:
    """Every agent token DECLARED by a ``User-agent`` line, regardless
    of whether its group carries any surviving rules -- RFC 9309 group
    presence is decided by the headers, and an empty declared group
    means allow-all rather than fall-back-to-``*``."""
    agents: set[str] = set()
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        if key.strip().lower() == "user-agent" and val.strip():
            agents.add(val.strip().lower())
    return agents


def _robots_pattern_matches(pattern: str, target: str) -> bool:
    """RFC 9309 path matching: the pattern anchors at the path start,
    ``*`` matches any run of characters, a trailing ``$`` anchors the
    end; all other characters match literally."""
    import re as _re

    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    rx = "".join(".*" if ch == "*" else _re.escape(ch) for ch in body)
    rx = "^" + rx + ("$" if anchored_end else "")
    return _re.match(rx, target) is not None


def _robots_allowed(
    rules: list[tuple[bool, str]], target: str
) -> bool:
    """Longest-match wins (pattern length in characters, RFC 9309
    §2.2.2); on a tie the Allow rule wins; no matching rule allows."""
    best_len = -1
    best_allow = True
    for allow, pattern in rules:
        if _robots_pattern_matches(pattern, target):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and allow and not best_allow):
                best_len = plen
                best_allow = allow
    return best_allow


def parse_robots(
    robots: DataFrame,
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """Explode fetched robots.txt bodies into one row per
    ``(domain, agent, allow, pattern)`` rule -- the relational form
    downstream politeness filtering joins on.  The domain key is
    lowercased (DNS names are case-insensitive, and :func:`domain_of`
    lowercases the URL side -- a case-mismatched join would silently
    fail politeness OPEN).  Parsing is row-local (Arrow-batched pandas
    UDF; text grammar is the honest UDF boundary, like
    :func:`read_warc`), so the only data movement is whatever the
    caller does with the result.
    """
    import pandas as pd

    def _parse(texts):
        return pd.Series(
            [
                [
                    {"agent": a, "allow": al, "pattern": p}
                    for a, al, p in _parse_robots_text(t)
                ]
                for t in texts
            ]
        )

    parse = F.pandas_udf(
        _parse, "array<struct<agent:string,allow:boolean,pattern:string>>"
    )
    return (
        robots.select(
            F.lower(F.col(domain_col)).alias("domain"),
            F.explode(parse(F.col(robots_col))).alias("r"),
        )
        .select("domain", "r.agent", "r.allow", "r.pattern")
    )


def filter_robots_allowed(
    df: DataFrame,
    robots: DataFrame,
    user_agent: str = "*",
    url_col: str = "url",
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """Keep only URLs a polite crawler identifying as ``user_agent``
    may fetch under each domain's robots.txt (RFC 9309).

    Group selection per spec: a domain whose robots.txt DECLARES a
    group for ``user_agent`` (case-insensitive product token) uses
    exactly that group's rules -- even when the group is empty, which
    per RFC 9309 means fully allowed, NOT a fallback to ``*`` (group
    presence is tracked independently of whether any rule rows
    survive parsing); otherwise its ``*`` group applies; a domain with
    no robots row or an unparseable body is fully allowed.  Matching
    runs against path + query, longest-match wins, Allow wins ties.

    Scale shape: rules collapse to ONE slim row per domain (a pattern
    array), joined to the corpus on the domain key, then a row-local
    Arrow-batched longest-match over each URL's own domain rule list.
    The rule frame is domains-sized -- usually far smaller than the
    corpus, but unbounded for a web-scale frontier -- so the join is
    size-gated (:func:`~.gating.size_gated_broadcast`: one count of the
    per-domain rows, broadcast under ``gating.BROADCAST_MAX_ROWS``,
    plain hash join above it).  The corpus never shuffles on the
    broadcast path.
    """
    import pandas as pd

    ua = user_agent.lower()
    rules = parse_robots(robots, domain_col, robots_col)

    def _has_ua(texts):
        return pd.Series(
            [ua in _robots_agents(t) for t in texts], dtype="bool"
        )

    has_ua = F.pandas_udf(_has_ua, "boolean")
    declared = robots.select(
        F.lower(F.col(domain_col)).alias("domain"),
        has_ua(F.col(robots_col)).alias("__has_ua"),
    )
    # RFC group selection: a DECLARED ua-specific group replaces '*'
    # even if it parsed to zero rules (empty group = allow all); the
    # presence bit comes from the group headers, not the rule rows
    mine = rules.join(declared, "domain").filter(
        (F.col("__has_ua") & (F.col("agent") == ua))
        | (~F.col("__has_ua") & (F.col("agent") == "*"))
    )
    per_domain = (
        mine.groupBy("domain")
        .agg(F.collect_list(F.struct("allow", "pattern")).alias("__rules"))
        .select(F.col("domain").alias("__rdomain"), "__rules")
    )
    per_domain = size_gated_broadcast(per_domain)
    d = df.withColumn("__domain", domain_of(url_col)).join(
        per_domain, F.col("__domain") == F.col("__rdomain"), "left"
    )

    def _allowed(urls, rule_lists):
        out = []
        for u, rl in zip(urls, rule_lists):
            if rl is None or len(rl) == 0:
                out.append(True)
                continue
            u = u or ""
            # match target = path + optional ?query (RFC 9309 §2.2.2)
            rest = u.split("://", 1)[-1]
            slash = rest.find("/")
            target = rest[slash:] if slash >= 0 else "/"
            target = target.split("#", 1)[0]
            out.append(
                _robots_allowed(
                    [(r["allow"], r["pattern"]) for r in rl], target
                )
            )
        return pd.Series(out, dtype="bool")

    allowed = F.pandas_udf(_allowed, "boolean")
    return (
        d.filter(allowed(F.col(url_col), F.col("__rules")))
        .drop("__domain", "__rdomain", "__rules")
    )


# ---------------------------------------------------------------------------
# sitemaps (sitemaps.org XML protocol, implemented from the public spec)
# ---------------------------------------------------------------------------

def _parse_sitemap_text(text: str) -> list[tuple[str, str, str, str, float]]:
    """Parse one sitemap XML body into ``(kind, loc, lastmod,
    changefreq, priority)`` tuples; ``kind`` is ``'url'`` for
    ``<urlset>`` entries and ``'sitemap'`` for ``<sitemapindex>``
    references (the crawler fetches those next).  Namespace-agnostic
    ElementTree walk; malformed XML falls back to a bare ``<loc>``
    regex sweep (crawl reality: broken sitemaps are common, and a
    parser that drops them silently loses frontier).  Module-level and
    pure for Spark-free unit tests."""
    import re as _re
    import xml.etree.ElementTree as _ET

    def strip_ns(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    out: list[tuple[str, str, str, str, float]] = []
    # crawled XML is adversarial input: reject entity definitions
    # BEFORE ElementTree sees them (stdlib etree expands internal
    # entities -- a billion-laughs body would OOM the Arrow worker);
    # the regex fallback below still recovers the plain <loc> list
    hostile = _re.search(r"<!\s*ENTITY", text or "", _re.I) is not None
    # a broken body keeps its index/urlset identity: emitting nested
    # sitemap references as page URLs would silently lose the subtree
    fb_kind = (
        "sitemap" if _re.search(r"<\s*sitemapindex", text or "", _re.I)
        else "url"
    )
    root = None
    if not hostile:
        try:
            root = _ET.fromstring(text or "")
        except _ET.ParseError:
            root = None
    if root is None:
        for m in _re.finditer(r"<loc>\s*([^<]+?)\s*</loc>", text or ""):
            out.append((fb_kind, m.group(1), None, None, None))
        return out
    kind = "sitemap" if strip_ns(root.tag) == "sitemapindex" else "url"
    for node in root:
        fields = {"loc": None, "lastmod": None, "changefreq": None,
                  "priority": None}
        for child in node:
            t = strip_ns(child.tag)
            if t in fields:
                fields[t] = (child.text or "").strip() or None
        if not fields["loc"]:
            continue
        prio = None
        if fields["priority"] is not None:
            try:
                prio = float(fields["priority"])
            except ValueError:
                prio = None
        out.append(
            (kind, fields["loc"], fields["lastmod"], fields["changefreq"],
             prio)
        )
    return out


def parse_sitemaps(
    sitemaps: DataFrame,
    xml_col: str = "sitemap_xml",
    source_col: str = "sitemap_url",
) -> DataFrame:
    """Explode fetched sitemap bodies (sitemaps.org protocol) into one
    row per discovered URL: ``(source, kind, loc, lastmod, changefreq,
    priority)`` -- ``kind='sitemap'`` rows are nested sitemap-index
    references to fetch next, ``kind='url'`` rows join the crawl
    frontier.  Row-local Arrow-batched parse (XML grammar is the
    honest UDF boundary, like :func:`parse_robots`); pair with
    :func:`normalize_url` for frontier identity and
    :func:`filter_robots_allowed` before fetching.
    """
    import pandas as pd

    def _parse(texts):
        return pd.Series(
            [
                [
                    {"kind": k, "loc": l, "lastmod": lm, "changefreq": cf,
                     "priority": p}
                    for k, l, lm, cf, p in _parse_sitemap_text(t)
                ]
                for t in texts
            ]
        )

    parse = F.pandas_udf(
        _parse,
        "array<struct<kind:string,loc:string,lastmod:string,"
        "changefreq:string,priority:double>>",
    )
    return (
        sitemaps.select(
            F.col(source_col).alias("source"),
            F.explode(parse(F.col(xml_col))).alias("e"),
        )
        .select("source", "e.kind", "e.loc", "e.lastmod", "e.changefreq",
                "e.priority")
    )


def extract_links(html: Column | str, base_url: Column | str | None = None) -> Column:
    """All ``href`` targets in an HTML column as an array of absolute
    URLs -- the crawl-graph edge extractor.  Pure codegen projection
    (``regexp_extract_all``), zero UDF: absolute http(s) links pass
    through, protocol-relative ``//host/...`` links inherit the base
    URL's scheme, and root-relative ``/path`` links resolve against the
    base's scheme://host when ``base_url`` is given; other relative
    forms (``../x``, ``x/y``) are dropped -- full RFC 3986 reference
    resolution needs segment normalization that belongs in a UDF, and
    crawl-graph builders overwhelmingly consume the absolute+rooted
    subset.  Pair with :func:`domain_of` for a domain-level edge list.
    """
    h = F.col(html) if isinstance(html, str) else html
    raw = F.regexp_extract_all(h, F.lit(r'''href\s*=\s*["']([^"'#][^"']*)["']'''), 1)
    if base_url is None:
        return F.filter(raw, lambda u: u.rlike("^https?://"))
    b = F.col(base_url) if isinstance(base_url, str) else base_url
    scheme = F.regexp_extract(F.coalesce(b, F.lit("")), r"^(https?)://", 1)
    origin = F.regexp_extract(F.coalesce(b, F.lit("")), r"^(https?://[^/?#]+)", 1)
    # absolute links survive unconditionally -- an unparseable (or
    # NULL) base must not discard them; only the relative branches
    # need a usable origin
    resolve = lambda u: (  # noqa: E731
        F.when(u.rlike("^https?://"), u)
        .when(
            u.startswith("//") & (scheme != ""),
            F.concat(scheme, F.lit(":"), u),
        )
        .when(u.startswith("/") & ~u.startswith("//") & (origin != ""),
              F.concat(origin, u))
    )
    return F.filter(F.transform(raw, resolve), lambda r: r.isNotNull())
