"""Crawl-graph scoring (functions/graph.py) + link extraction."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions import dedup, graph
from data_stream_flink_user_address_spark.functions.graph import (
    domain_pagerank,
    pagerank,
)


def _py_pagerank(edges, iters, damping=0.85):
    """Independent pure-Python power iteration with uniform dangling
    redistribution -- the oracle the Spark plan must match."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    n = len(nodes)
    rank = {v: 1.0 for v in nodes}
    for _ in range(iters):
        inflow = {v: 0.0 for v in nodes}
        dangling = 0.0
        for v in nodes:
            if v in out:
                share = rank[v] / len(out[v])
                for d in out[v]:
                    inflow[d] += share
            else:
                dangling += rank[v]
        rank = {
            v: (1 - damping) + damping * (inflow[v] + dangling / n)
            for v in nodes
        }
    return rank


class TestPagerank:
    EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")]

    def _df(self, spark, edges):
        return spark.createDataFrame(
            [Row(src=s, dst=d) for s, d in edges]
        )

    def test_matches_independent_power_iteration(self, spark):
        got = {
            r.node: r.rank
            for r in pagerank(self._df(spark, self.EDGES), iters=12).collect()
        }
        want = _py_pagerank(self.EDGES, iters=12)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), v
        # d is dangling: its mass redistributes, total is conserved
        assert sum(got.values()) == pytest.approx(len(want), abs=1e-6)

    def test_self_loops_and_duplicates_collapse(self, spark):
        noisy = self.EDGES + [("a", "a"), ("a", "b"), ("a", "b")]
        got = {
            r.node: r.rank
            for r in pagerank(self._df(spark, noisy), iters=12).collect()
        }
        want = _py_pagerank(self.EDGES, iters=12)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9)

    def test_materialize_modes_agree(self, spark):
        """materialize=False returns the raw lazy plan; values must be
        identical to the default eager path (caller unpersists)."""
        a = {
            r.node: r.rank
            for r in pagerank(self._df(spark, self.EDGES), iters=7).collect()
        }
        lazy = pagerank(
            self._df(spark, self.EDGES), iters=7, materialize=False
        )
        b = {r.node: r.rank for r in lazy.collect()}
        spark.catalog.clearCache()
        for v in a:
            assert a[v] == pytest.approx(b[v], abs=1e-12)


class TestExtractLinks:
    def test_absolute_only_without_base(self, spark):
        from data_stream_flink_user_address_spark.functions.web import (
            extract_links,
        )

        df = spark.createDataFrame([Row(html=(
            '<a href="https://x.example/a">x</a>'
            "<a href='http://y.example/b'>y</a>"
            '<a href="/rooted">r</a>'
            '<a href="rel/path">rel</a>'
            '<a href="#frag">f</a>'
        ))])
        got = df.select(extract_links("html").alias("l")).collect()[0].l
        assert got == ["https://x.example/a", "http://y.example/b"]

    def test_base_resolution(self, spark):
        from data_stream_flink_user_address_spark.functions.web import (
            extract_links,
        )

        df = spark.createDataFrame([Row(
            url="https://host.example/dir/page",
            html=(
                '<a href="https://x.example/a">abs</a>'
                '<a href="//cdn.example/lib.js">proto-rel</a>'
                '<a href="/rooted?q=1">rooted</a>'
                '<a href="../up">dropped</a>'
            ),
        )])
        got = df.select(extract_links("html", "url").alias("l")).collect()[0].l
        assert got == [
            "https://x.example/a",
            "https://cdn.example/lib.js",
            "https://host.example/rooted?q=1",
        ]


class TestDomainPagerank:
    def test_end_to_end_domain_scores(self, spark):
        # hub.example links out to a.example and b.example; both link
        # back to hub -> hub outranks the leaves
        def page(url, links):
            return Row(url=url, html="".join(
                f'<a href="{u}">l</a>' for u in links
            ))

        docs = spark.createDataFrame([
            page("https://hub.example/",
                 ["https://a.example/x", "https://b.example/y"]),
            page("https://a.example/x", ["https://hub.example/"]),
            page("https://b.example/y", ["https://hub.example/"]),
        ])
        got = {
            r.domain: r.rank for r in domain_pagerank(docs, iters=15).collect()
        }
        want = _py_pagerank(
            [("hub.example", "a.example"), ("hub.example", "b.example"),
             ("a.example", "hub.example"), ("b.example", "hub.example")],
            iters=15,
        )
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9)
        assert got["hub.example"] > got["a.example"]


def test_pagerank_edges_read_from_cache_without_exchange(spark, monkeypatch):
    """The 100 TB contract: the cached edge layout feeds every
    iteration's join directly -- no Exchange may sit immediately above
    an InMemoryTableScan (broadcast disabled to force the shuffled
    join the big-graph regime uses)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
        )
        # a zero driver cutoff selects the DISTRIBUTED branch this plan
        # contract is about (the r18 driver hybrid would otherwise
        # solve a 3-edge graph locally)
        monkeypatch.setattr(graph, "PAGERANK_DRIVER_MAX_EDGES", 0)
        out = pagerank(edges, iters=2, materialize=False)
        lines = (
            out._jdf.queryExecution().executedPlan().toString().splitlines()
        )
        for i, line in enumerate(lines):
            if "Exchange hashpartitioning" not in line:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert "InMemoryTableScan" not in child, "\n".join(lines)
        assert any("InMemoryTableScan" in l for l in lines)
    finally:
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


class TestConnectedComponents:
    def test_components_with_singletons(self, spark):
        from data_stream_flink_user_address_spark.functions.graph import (
            connected_components,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 4), (7, 7), (2, 1)], ["src", "dst"]
        )
        got = {
            r.node: r.component
            for r in connected_components(edges).collect()
        }
        # {1,2,3} -> 1; {4,5} -> 4; 7's only edge is a self-loop ->
        # singleton labeled by itself
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 7: 7}

    def test_stats_surface_passthrough(self, spark):
        from data_stream_flink_user_address_spark.functions.graph import (
            connected_components,
        )

        stats = {}
        edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
        connected_components(edges, stats=stats).collect()
        assert stats["mode"] in ("driver", "distributed")

    def test_string_node_ids(self, spark, monkeypatch):
        """URL/domain graphs are the advertised input: string ids must
        work through BOTH solver branches (driver union-find below the
        threshold, distributed min-label above it)."""
        from data_stream_flink_user_address_spark.functions.graph import (
            connected_components,
        )

        edges = spark.createDataFrame(
            [("a.com", "b.com"), ("b.com", "c.com"), ("z.com", "z.com")],
            ["src", "dst"],
        )
        for thresh in (5_000_000, 0):  # driver path, distributed path
            monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", thresh)
            stats = {}
            got = {
                r.node: r.component
                for r in connected_components(edges, stats=stats).collect()
            }
            assert got == {
                "a.com": "a.com", "b.com": "a.com", "c.com": "a.com",
                "z.com": "z.com",
            }, stats
        assert stats["mode"] == "distributed"


def test_pagerank_driver_and_distributed_branches_agree(spark, monkeypatch):
    """r19 probe gate: branch selection now runs a bounded count before
    any driver collect.  Both branches must agree after the consumers'
    required 6-digit rounding (the hybrid's documented contract)."""
    from data_stream_flink_user_address_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        ["src", "dst"],
    )
    drv = {
        r.node: round(r.rank, 6)
        for r in pagerank(edges, iters=8).collect()  # fits the default threshold
    }
    monkeypatch.setattr(graph, "PAGERANK_DRIVER_MAX_EDGES", 0)
    dist = {
        r.node: round(r.rank, 6)
        for r in pagerank(edges, iters=8).collect()
    }
    assert drv == dist


def test_pagerank_driver_branch_releases_its_edge_frame(spark):
    """The driver branch materializes the distinct edge list once for
    the size probe and the collect; it must release it before
    returning, not leave an edge-list-sized block set pinned for the
    rest of the session."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")], ["src", "dst"]
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    ranks = pagerank(edges, iters=3).collect()
    assert len(ranks) == 4
    assert jsc.getPersistentRDDs().size() == before
