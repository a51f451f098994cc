"""URL normalization / domain keys / WARC reader (functions/web.py)."""

import pytest
from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.web import (
    _parse_warc_bytes,
    domain_of,
    filter_blocked_domains,
    normalize_url,
    read_warc,
)


def _norm(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return [r.n for r in df.select(normalize_url("url").alias("n")).collect()]


class TestUrls:
    def test_normalize(self, spark):
        got = _norm(
            spark,
            [
                "HTTPS://Example.COM:443/Path/?utm_source=x&q=1#frag",
                "http://example.com/",
                "http://example.com:80/a?utm_campaign=c",
                "http://example.com/a?q=1&utm_medium=m&r=2",
                "not a url",
            ],
        )
        assert got == [
            "https://example.com/Path/?q=1",
            "http://example.com",
            "http://example.com/a",
            "http://example.com/a?q=1&r=2",
            "not a url",
        ]

    def test_normalize_idempotent(self, spark):
        urls = [
            "HTTPS://A.B/c?utm_source=1&x=2#f",
            "http://h/p?gclid=z",
            "https://x.y/",
        ]
        once = _norm(spark, urls)
        twice = _norm(spark, once)
        assert once == twice

    def test_domain(self, spark):
        df = spark.createDataFrame(
            [("https://Sub.Example.com:8080/p",), ("junk",)], ["url"]
        )
        got = [r.d for r in df.select(domain_of("url").alias("d")).collect()]
        assert got == ["sub.example.com", ""]

    def test_blocklist(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "https://spam.bad.com/x"),
                (2, "https://bad.com/y"),
                (3, "https://notbad.com/z"),
                (4, "https://good.org/"),
            ],
            ["doc_id", "url"],
        )
        bl = spark.createDataFrame([("bad.com",)], ["domain"])
        kept = sorted(r.doc_id for r in filter_blocked_domains(docs, bl).collect())
        assert kept == [3, 4]  # subdomain + exact blocked; 'notbad.com' survives
        kept2 = sorted(
            r.doc_id
            for r in filter_blocked_domains(docs, bl, match_subdomains=False).collect()
        )
        assert kept2 == [1, 3, 4]


def _warc_bytes(sep=b"\r\n", pad=b"\r\n\r\n"):
    def rec(rtype, uri, body):
        hdr = b"WARC/1.0" + sep
        hdr += b"WARC-Type: " + rtype + sep
        if uri:
            hdr += b"WARC-Target-URI: " + uri + sep
        hdr += b"WARC-Date: 2026-01-01T00:00:00Z" + sep
        hdr += b"Content-Type: text/plain" + sep
        hdr += b"Content-Length: " + str(len(body)).encode() + sep
        return hdr + sep + body + pad

    return (
        rec(b"warcinfo", b"", b"software: test")
        + rec(b"response", b"https://a.example/x", b"hello world body")
        + rec(b"request", b"https://a.example/x", b"GET /x")
        + rec(b"response", b"https://b.example/y", b"second body")
    )


class TestWarc:
    def test_parser_crlf_and_lf(self):
        for sep, pad in ((b"\r\n", b"\r\n\r\n"), (b"\n", b"\n\n")):
            recs = list(_parse_warc_bytes("f", _warc_bytes(sep, pad)))
            assert [r[1] for r in recs] == [
                "warcinfo", "response", "request", "response",
            ]
            assert recs[1][2] == "https://a.example/x"
            assert recs[1][6] == b"hello world body"
            assert recs[1][5] == len(b"hello world body")

    def test_truncated_tail_dropped(self):
        blob = _warc_bytes()[:-30]  # cut into the last record's body
        recs = list(_parse_warc_bytes("f", blob))
        assert [r[1] for r in recs] == ["warcinfo", "response", "request"]

    def test_read_warc_end_to_end(self, spark, tmp_path):
        p = tmp_path / "crawl"
        p.mkdir()
        (p / "a.warc").write_bytes(_warc_bytes())
        (p / "b.warc").write_bytes(_warc_bytes())
        df = read_warc(spark, str(p))
        rows = df.collect()
        assert len(rows) == 4  # 2 responses per archive
        assert {r.record_type for r in rows} == {"response"}
        assert {r.url for r in rows} == {
            "https://a.example/x", "https://b.example/y",
        }
        assert all(isinstance(r.payload, (bytes, bytearray)) for r in rows)
        # all record types when asked
        all_rows = read_warc(spark, str(p), record_types=()).collect()
        assert len(all_rows) == 8

    def test_garbage_between_records_skipped(self):
        blob = b"JUNK JUNK\n\n" + _warc_bytes()
        recs = list(_parse_warc_bytes("f", blob))
        assert len(recs) == 4

    def test_chunked_yields_bound_batch_memory(self, spark, tmp_path):
        """A multi-record archive streams out as records_per_chunk-row
        Arrow batches -- peak task memory is the raw archive plus ONE
        bounded chunk of parsed copies, never a second full copy of
        every payload.  Chunk size must not change the result set."""
        p = tmp_path / "crawl"
        p.mkdir()
        many = b"".join([_warc_bytes() for _ in range(10)])  # 40 records
        (p / "big.warc").write_bytes(many)
        whole = read_warc(spark, str(p), record_types=(), records_per_chunk=10**6)
        chunked = read_warc(spark, str(p), record_types=(), records_per_chunk=3)
        rows_w = sorted(map(tuple, whole.collect()))
        rows_c = sorted(map(tuple, chunked.collect()))
        assert len(rows_c) == 40 and rows_c == rows_w
        # type filter composes with chunking mid-archive
        resp = read_warc(spark, str(p), records_per_chunk=3).collect()
        assert len(resp) == 20
        assert {r.record_type for r in resp} == {"response"}


class TestCompressionRatio:
    def test_repetitive_vs_prose_vs_noise(self, spark):
        import random

        from data_stream_flink_user_address_spark.functions.curation import (
            compression_ratio,
        )

        rng = random.Random(7)
        noise = " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
            for _ in range(60)
        )
        prose = (
            "the quick brown fox jumps over the lazy dog while the river "
            "carries autumn leaves past the quiet mill and the miller waits "
            "for morning light to cross the valley floor with slow patience "
        ) * 3
        repetitive = "spam spam spam spam " * 40
        df = spark.createDataFrame(
            [(1, repetitive), (2, prose), (3, noise), (4, "")],
            ["doc_id", "text"],
        )
        got = {r.doc_id: r for r in compression_ratio(df).collect()}
        assert got[1].compression_ratio < got[2].compression_ratio < got[3].compression_ratio
        assert got[4].compression_ratio == 1.0 and got[4].n_bytes == 0
        assert got[2].n_bytes == len(prose.encode())

    def test_ratio_consistent_with_zlib(self, spark):
        import zlib

        from data_stream_flink_user_address_spark.functions.curation import (
            compression_ratio,
        )

        txt = "hello compression world " * 10
        df = spark.createDataFrame([(1, txt)], ["doc_id", "text"])
        r = compression_ratio(df).collect()[0]
        assert r.n_compressed == len(zlib.compress(txt.encode(), 6))


class TestReadOrc:
    def test_roundtrip_and_pruning(self, spark, tmp_path):
        from data_stream_flink_user_address_spark.sources.files import read_orc

        p = str(tmp_path / "t.orc")
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], ["id", "s", "v"]
        ).write.orc(p)
        df = read_orc(spark, p, columns=["id", "v"])
        assert df.columns == ["id", "v"]
        assert sorted((r.id, r.v) for r in df.collect()) == [(1, 10), (2, 20)]


class TestNormalizeUnicode:
    def test_nfkc_and_control_strip(self, spark):
        from data_stream_flink_user_address_spark.functions.text import (
            normalize_unicode,
        )

        df = spark.createDataFrame(
            [
                (1, "ﬁle ｆｕｌｌ"),       # ligature + NBSP + fullwidth
                (2, "plain ascii"),
                (3, "ctrl\x07here\ttab\nline"),
            ],
            ["doc_id", "text"],
        )
        got = {r.doc_id: r for r in normalize_unicode(df).collect()}
        assert got[1].text == "file full"
        assert got[1].n_changed == 1
        assert got[2].text == "plain ascii" and got[2].n_changed == 0
        assert got[3].text == "ctrlhere\ttab\nline"  # bell gone, tab/nl kept

    def test_schema_passthrough_and_bad_form(self, spark):
        import pytest as _pytest

        from data_stream_flink_user_address_spark.functions.text import (
            normalize_unicode,
        )

        df = spark.createDataFrame([(1, "x", "web")], ["doc_id", "text", "source"])
        out = normalize_unicode(df)
        assert out.columns == ["doc_id", "text", "source", "n_changed"]
        assert out.collect()[0].source == "web"
        with _pytest.raises(ValueError):
            normalize_unicode(df, form="NFX").collect()


def test_blocklist_no_nested_loop_plan(spark):
    """Neither blocklist path may plan a nested-loop join (per-row
    blocklist scans don't survive 100 TB)."""
    from data_stream_flink_user_address_spark.functions.web import (
        filter_blocked_domains,
    )

    docs = spark.createDataFrame([(1, "https://a.b/x")], ["doc_id", "url"])
    bl = spark.createDataFrame([("b",)], ["domain"])
    for sub in (True, False):
        plan = (
            filter_blocked_domains(docs, bl, match_subdomains=sub)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "NestedLoop" not in plan


class TestNormalizeUrlEdgeCases:
    def test_path_ampersand_params_survive(self, spark):
        """'&' is a legal path character: a literal '&ref=...' in the
        PATH must not be stripped (regression: unanchored tracking
        regex ate path segments)."""
        got = _norm(
            spark,
            [
                "https://x.com/a&ref=b/c",
                "https://x.com/a&utm_source=feed",
                "https://x.com/a&ref=b/c?utm_source=f&q=1",
            ],
        )
        assert got == [
            "https://x.com/a&ref=b/c",
            "https://x.com/a&utm_source=feed",
            "https://x.com/a&ref=b/c?q=1",
        ]

    def test_default_port_is_scheme_specific(self, spark):
        """:80 is only default for http, :443 only for https."""
        got = _norm(
            spark,
            [
                "http://h:443/x",
                "https://h:80/x",
                "http://h:80/x",
                "https://h:443/x",
            ],
        )
        assert got == [
            "http://h:443/x",
            "https://h:80/x",
            "http://h/x",
            "https://h/x",
        ]


def test_normalize_unicode_preserves_null(spark):
    from pyspark.sql import functions as FF

    from data_stream_flink_user_address_spark.functions.text import (
        normalize_unicode,
    )

    df = spark.createDataFrame([(1, None), (2, "ok")], ["doc_id", "text"]).withColumn(
        "text", FF.col("text").cast("string")
    )
    got = {r.doc_id: r for r in normalize_unicode(df).collect()}
    assert got[1].text is None and got[1].n_changed == 0
    assert got[2].text == "ok"


class TestRobots:
    """RFC 9309 politeness: grammar units on the pure parser/matcher,
    then the Spark group-selection + longest-match path end to end."""

    ROBOTS = "\n".join([
        "# site policy",
        "User-agent: crawlerx",
        "Disallow: /private/",
        "Allow: /private/public$",
        "",
        "User-agent: otherbot",
        "User-agent: thirdbot",
        "Disallow: /",
        "",
        "User-agent: *",
        "Disallow: /tmp/*",
        "Disallow:",          # empty = no rule
        "Crawl-delay: 10",    # unknown key: ignored
    ])

    def test_parser_grammar(self):
        from data_stream_flink_user_address_spark.functions.web import (
            _parse_robots_text,
        )

        rules = _parse_robots_text(self.ROBOTS)
        assert ("crawlerx", False, "/private/") in rules
        assert ("crawlerx", True, "/private/public$") in rules
        # a multi-agent group header applies its rules to EVERY agent
        assert ("otherbot", False, "/") in rules
        assert ("thirdbot", False, "/") in rules
        assert ("*", False, "/tmp/*") in rules
        # empty Disallow contributes no rule; unknown keys ignored
        assert len([r for r in rules if r[0] == "*"]) == 1

    def test_matcher_semantics(self):
        from data_stream_flink_user_address_spark.functions.web import (
            _robots_allowed,
            _robots_pattern_matches,
        )

        assert _robots_pattern_matches("/a/*/c", "/a/b/c")
        assert _robots_pattern_matches("/a$", "/a")
        assert not _robots_pattern_matches("/a$", "/a/b")
        assert not _robots_pattern_matches("/b", "/a/b")  # start-anchored
        # longest match wins; Allow wins length ties
        rules = [(False, "/p/"), (True, "/p/ok")]
        assert _robots_allowed(rules, "/p/ok/page")
        assert not _robots_allowed(rules, "/p/deny")
        assert _robots_allowed([(False, "/x"), (True, "/x")], "/x/y")
        assert _robots_allowed([], "/anything")

    def _frames(self, spark):
        from pyspark.sql import Row

        robots = spark.createDataFrame([
            Row(domain="a.example", robots_txt=self.ROBOTS),
            Row(domain="b.example", robots_txt="User-agent: *\nDisallow: /"),
        ])
        urls = spark.createDataFrame([
            Row(doc_id=1, url="https://a.example/private/page"),
            Row(doc_id=2, url="https://a.example/private/public"),
            Row(doc_id=3, url="https://a.example/tmp/x"),      # '*' rule: but crawlerx group wins
            Row(doc_id=4, url="https://a.example/open"),
            Row(doc_id=5, url="https://b.example/anything"),
            Row(doc_id=6, url="https://c.example/no-robots"),
        ])
        return robots, urls

    def test_group_selection_and_filter(self, spark):
        from data_stream_flink_user_address_spark.functions.web import (
            filter_robots_allowed,
        )

        robots, urls = self._frames(spark)
        got = {
            r.doc_id
            for r in filter_robots_allowed(
                urls, robots, user_agent="CrawlerX"
            ).collect()
        }
        # crawlerx group REPLACES '*' on a.example: /tmp/* is NOT
        # blocked for crawlerx; /private/ is, except the $-anchored
        # public page; b.example blocks all; c.example has no robots
        assert got == {2, 3, 4, 6}

    def test_star_group_and_no_shuffle_plan(self, spark):
        from data_stream_flink_user_address_spark.functions.web import (
            filter_robots_allowed,
        )

        robots, urls = self._frames(spark)
        out = filter_robots_allowed(urls, robots, user_agent="unlisted")
        got = {r.doc_id for r in out.collect()}
        # unlisted agent falls back to '*': /tmp blocked on a.example
        assert got == {1, 2, 4, 6}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # the corpus side must not hash-exchange for the rules join
        import re

        for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "url" not in frag, plan

    def test_rules_broadcast_is_size_gated(self, spark, monkeypatch):
        """A per-domain rule frame over the broadcast budget must not be
        broadcast-hinted: the join falls back to a hash join and the
        admitted URLs are the same."""
        from data_stream_flink_user_address_spark.functions import gating
        from data_stream_flink_user_address_spark.functions.web import (
            filter_robots_allowed,
        )

        robots, urls = self._frames(spark)
        monkeypatch.setattr(gating, "BROADCAST_MAX_ROWS", 0)
        out = filter_robots_allowed(urls, robots, user_agent="unlisted")
        plan = out._jdf.queryExecution().sparkPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert {r.doc_id for r in out.collect()} == {1, 2, 4, 6}

    def test_parse_robots_relational_shape(self, spark):
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.web import (
            parse_robots,
        )

        robots = spark.createDataFrame(
            [Row(domain="a.example", robots_txt=self.ROBOTS)]
        )
        rows = parse_robots(robots).collect()
        assert {(r.domain, r.agent, r.allow, r.pattern) for r in rows} >= {
            ("a.example", "crawlerx", False, "/private/"),
            ("a.example", "*", False, "/tmp/*"),
        }


class TestSitemaps:
    URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://a.example/p1</loc><lastmod>2026-01-01</lastmod>
       <changefreq>daily</changefreq><priority>0.8</priority></url>
  <url><loc>https://a.example/p2</loc></url>
  <url><lastmod>2026-01-01</lastmod></url>
</urlset>"""
    INDEX = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://a.example/sitemap-1.xml</loc></sitemap>
  <sitemap><loc>https://a.example/sitemap-2.xml</loc></sitemap>
</sitemapindex>"""
    BROKEN = "<urlset><url><loc>https://a.example/ok</loc></url><url>"

    def test_urlset_and_index_grammar(self):
        from data_stream_flink_user_address_spark.functions.web import (
            _parse_sitemap_text,
        )

        rows = _parse_sitemap_text(self.URLSET)
        # the loc-less entry is dropped; fields parse typed
        assert rows == [
            ("url", "https://a.example/p1", "2026-01-01", "daily", 0.8),
            ("url", "https://a.example/p2", None, None, None),
        ]
        idx = _parse_sitemap_text(self.INDEX)
        assert [(k, l) for k, l, *_ in idx] == [
            ("sitemap", "https://a.example/sitemap-1.xml"),
            ("sitemap", "https://a.example/sitemap-2.xml"),
        ]

    def test_malformed_falls_back_to_loc_sweep(self):
        from data_stream_flink_user_address_spark.functions.web import (
            _parse_sitemap_text,
        )

        rows = _parse_sitemap_text(self.BROKEN)
        assert rows == [("url", "https://a.example/ok", None, None, None)]
        assert _parse_sitemap_text("") == []
        assert _parse_sitemap_text(None) == []

    def test_spark_explode(self, spark):
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.web import (
            parse_sitemaps,
        )

        df = spark.createDataFrame([
            Row(sitemap_url="https://a.example/sitemap.xml",
                sitemap_xml=self.URLSET),
            Row(sitemap_url="https://a.example/index.xml",
                sitemap_xml=self.INDEX),
        ])
        got = parse_sitemaps(df).collect()
        kinds = {(r.source, r.kind, r.loc) for r in got}
        assert ("https://a.example/sitemap.xml", "url",
                "https://a.example/p1") in kinds
        assert ("https://a.example/index.xml", "sitemap",
                "https://a.example/sitemap-2.xml") in kinds
        assert len(got) == 4
        prio = {r.loc: r.priority for r in got}
        assert prio["https://a.example/p1"] == 0.8


class TestRobotsReviewFixes:
    """Round-14 review findings: case-insensitive domain join, empty
    declared group allows all (no '*' fallback)."""

    def test_domain_case_insensitive_join(self, spark):
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.web import (
            filter_robots_allowed,
        )

        robots = spark.createDataFrame([
            Row(domain="Site0.Example", robots_txt="User-agent: *\nDisallow: /"),
        ])
        urls = spark.createDataFrame([
            Row(doc_id=1, url="https://site0.example/x"),
        ])
        assert filter_robots_allowed(urls, robots).count() == 0

    def test_empty_declared_group_allows_all(self, spark):
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.web import (
            filter_robots_allowed,
        )

        # graftbot's group exists but carries no rules (empty Disallow
        # + unknown directive): RFC 9309 = fully allowed, NOT the '*'
        # group's Disallow-all
        robots = spark.createDataFrame([
            Row(domain="a.example", robots_txt=(
                "User-agent: graftbot\nDisallow:\nCrawl-delay: 10\n\n"
                "User-agent: *\nDisallow: /"
            )),
        ])
        urls = spark.createDataFrame([
            Row(doc_id=1, url="https://a.example/anything"),
        ])
        got = filter_robots_allowed(urls, robots, user_agent="graftbot")
        assert got.count() == 1
        # while any OTHER agent is still blocked by '*'
        assert filter_robots_allowed(urls, robots, user_agent="x").count() == 0


class TestExtractLinksReviewFixes:
    def test_absolute_links_survive_null_or_bad_base(self, spark):
        from pyspark.sql import Row

        from data_stream_flink_user_address_spark.functions.web import (
            extract_links,
        )

        df = spark.createDataFrame([
            Row(url=None,
                html='<a href="https://x.example/a">a</a><a href="/rel">r</a>'),
            Row(url="ftp://weird.example/base",
                html='<a href="https://y.example/b">b</a>'),
        ])
        got = {
            tuple(r.l)
            for r in df.select(extract_links("html", "url").alias("l")).collect()
        }
        # absolute links kept; relative dropped (no usable origin)
        assert got == {("https://x.example/a",), ("https://y.example/b",)}


class TestSitemapReviewFixes:
    def test_entity_bodies_never_reach_elementtree(self):
        from data_stream_flink_user_address_spark.functions.web import (
            _parse_sitemap_text,
        )

        hostile = (
            '<?xml version="1.0"?><!DOCTYPE lolz [<!ENTITY a "ha">]>'
            "<urlset><url><loc>https://a.example/p&a;</loc></url>"
            "<url><loc>https://a.example/ok</loc></url></urlset>"
        )
        rows = _parse_sitemap_text(hostile)
        # regex fallback path: both locs recovered, entities NOT expanded
        assert ("url", "https://a.example/ok", None, None, None) in rows
        assert all("ha" not in loc for _, loc, *_ in rows)

    def test_broken_index_keeps_sitemap_kind(self):
        from data_stream_flink_user_address_spark.functions.web import (
            _parse_sitemap_text,
        )

        broken = ("<sitemapindex><sitemap>"
                  "<loc>https://a.example/sitemap-1.xml</loc></sitemap><sitemap>")
        rows = _parse_sitemap_text(broken)
        assert rows == [
            ("sitemap", "https://a.example/sitemap-1.xml", None, None, None)
        ]
