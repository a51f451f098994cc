"""Crawl-graph scoring: iterative PageRank over a (src, dst) edge list.

Engine extension beyond the reference surface (BASELINE.json north
star).  Web-corpus curation uses link-graph centrality as a
domain-quality prior (the Common-Crawl-style ranking signal: a page
corpus is sampled/weighted by how reputable its domain neighborhood
is).  PageRank is the canonical iterative Spark workload, expressed
here entirely in DataFrame ops:

- the EDGE table is the big immutable side: deduplicated, projected to
  two columns, repartitioned ONCE on ``src`` and CACHED -- an
  ``InMemoryTableScan`` preserves its partitioning, so every
  iteration's join reads the cache with no exchange above it
  (plan-pinned; ``localCheckpoint`` would NOT work here -- PySpark's
  checkpoint drops outputPartitioning to Unknown and the edges would
  re-shuffle every iteration, measured before switching) and the
  per-iteration cost is the rank table's (tiny, two-column) shuffle,
  never the edges';
- out-degrees are computed once and live with the edges;
- each iteration is contribution = rank/degree joined src-side, then
  one ``groupBy(dst)`` aggregate (map-side partial) plus the damping
  re-base; dangling nodes (no outlinks) redistribute their mass
  uniformly via a 1-row aggregate broadcast -- mass is conserved, so
  ranks sum to n at every step;
- rank lineage is truncated with a lazy ``localCheckpoint`` at the top
  of every iteration (the repo-wide iterative-plan idiom, same as BPE
  training) -- the rank frame is referenced twice per round, so
  without truncation the plan doubles per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Distinct-edge count up to which pagerank runs on the driver; read at
# call time.
PAGERANK_DRIVER_MAX_EDGES = 2_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """Rank every node of the directed graph ``edges`` -- returns
    ``(node, rank)`` with ranks summing to the node count (the
    classic normalization: rank 1.0 = average importance).

    Exactness note for callers: execution is HYBRID (driver replica
    under :data:`PAGERANK_DRIVER_MAX_EDGES` distinct edges, distributed
    power iteration above), and the two branches sum inflow doubles in
    different orders, so UNROUNDED ranks can differ at ulp level
    depending on graph size.  Consumers comparing ranks across runs,
    engines, or sizes must round first (the registered query and the
    DuckDB oracle both round to 6 digits).

    Self-loops are dropped and duplicate edges collapse (an edge list
    scraped from HTML is full of both); nodes appearing only as
    destinations still get ranked.  Dangling mass (nodes with no
    outlinks) is redistributed uniformly each iteration, so the
    result is a true probability flow, not the leaky shortcut;
    dangling-ness is computed once before the loop as a boolean column
    the rank frame carries, so each iteration's dangling mass is ONE
    conditional aggregate over the checkpointed rank frame -- no
    per-iteration semi-join against a node set, and no driver-side
    node count (the divisor is the same aggregate's ``count``).  Each
    iteration's rank frame is lazily localCheckpointed: it is
    referenced twice (contribution join + dangling mass) and feeds the
    next iteration, so without truncation the plan doubles per round.
    The final frame is materialized eagerly so the internal caches can be
    unpersisted before returning -- callers get a self-contained
    result, not a handle pinning session cache memory
    (``materialize=False`` skips that and returns the raw lazy plan
    with the caches still pinned: for plan inspection or further
    composition inside one job; the caller then owns the unpersist).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    spark = edges.sparkSession
    # Hybrid execution (the dedup_clusters / connected_components
    # pattern, r18): the DISTINCT cross-node edge list of a domain
    # graph is orders of magnitude smaller than the page corpus, so
    # when it fits ``PAGERANK_DRIVER_MAX_EDGES`` rows the whole power
    # iteration runs on the driver over one collected copy -- one Spark
    # job instead of ~7 stages per iteration.  The replica computes the
    # IDENTICAL per-iteration formula (same per-edge rank/deg
    # division, same dangling-mass-over-n term, same damping
    # arithmetic) in a deterministic edge order; double summation
    # order differs from the distributed aggregate exactly as the
    # DuckDB oracle's already does, so CONSUMERS MUST ROUND ranks
    # (6 digits is the registered convention) before comparing results
    # across graph sizes -- unrounded doubles are size-dependent at ulp
    # level.  Above the threshold the distributed loop runs unchanged
    # (measured flat to 1e8 edges, R14_OPS_SCALE.json).
    #
    # The probe is GATED on a bounded count (r19): collecting
    # PAGERANK_DRIVER_MAX_EDGES+1 rows outright shipped up to 2M
    # Py4J-pickled string rows to the driver on EVERY call -- hundreds
    # of MB of discarded probe when the distributed branch was going to
    # run anyway.  The count job returns one scalar; the edge frame is
    # CACHED first, so the count materializes the distinct edges and
    # the follow-up (driver collect, or the distributed branch's
    # deg/nodes/linked derivations) reads the blocks instead of
    # re-running the corpus extract+distinct lineage.  A cache, not a
    # localCheckpoint: the cache is released once its consumers ran,
    # while a local checkpoint's blocks stay pinned for the session.
    e = e.cache()
    n_edges = e.limit(PAGERANK_DRIVER_MAX_EDGES + 1).count()
    if n_edges <= PAGERANK_DRIVER_MAX_EDGES:
        probe = e.collect()
        e.unpersist()
        from collections import defaultdict

        from pyspark.sql import types as T

        elist = sorted((r[0], r[1]) for r in probe)
        deg: dict = defaultdict(int)
        node_set = set()
        for s, d_ in elist:
            deg[s] += 1
            node_set.add(s)
            node_set.add(d_)
        node_list = sorted(node_set)
        n = len(node_list)
        rank = {v: 1.0 for v in node_list}
        for _ in range(int(iters)):
            inflow: dict = defaultdict(float)
            for s, d_ in elist:
                inflow[d_] += rank[s] / deg[s]
            mass = 0.0
            for v in node_list:
                if v not in deg:
                    mass += rank[v]
            mn = mass / n if n else 0.0
            rank = {
                v: (1.0 - damping)
                + damping * (inflow.get(v, 0.0) + mn)
                for v in node_list
            }
        id_type = e.schema["src"].dataType
        schema = T.StructType(
            [
                T.StructField("node", id_type),
                T.StructField("rank", T.DoubleType()),
            ]
        )
        return spark.createDataFrame(
            [(v, rank[v]) for v in node_list], schema
        )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # the big immutable side: partition once on the join key, CACHE
    # (not localCheckpoint -- see module docstring); every iteration's
    # join co-locates against the in-memory layout with no exchange
    linked = e.join(deg, "src").repartition(n_part, "src").cache()
    # dangling-ness is a STATIC per-node property: compute it once as a
    # boolean column the rank frame carries through every iteration.
    # r18: the per-iteration dangling mass is then ONE aggregate over
    # the checkpointed rank frame (sum of dangling rank / node count,
    # both from the same rows) -- the pre-r18 shape paid a semi-join
    # against a cached no-outlink node set PLUS a driver-side
    # nodes.count() job for the divisor, every call
    nodes = (
        nodes.join(
            linked.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("__has_out", F.lit(True)),
            "node",
            "left",
        )
        .select("node", F.coalesce("__has_out", F.lit(False)).alias("__has_out"))
        .repartition(n_part, F.col("node"))
        .cache()
    )

    ranks = nodes.select("node", F.lit(1.0).alias("rank"), "__has_out")
    for i in range(int(iters)):
        if i:
            # truncate the previous iteration's lineage BEFORE building
            # on it: ranks is referenced twice below (contribution join
            # + dangling mass) and feeds the next round -- without the
            # lazy checkpoint the plan doubles per iteration
            ranks = ranks.localCheckpoint(eager=False)
        contribs = (
            linked.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .select("dst", (F.col("rank") / F.col("__deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass / n in one aggregate: total rank on no-outlink
        # nodes over the node count, both read from the rank frame
        dangling = ranks.agg(
            (
                F.coalesce(
                    F.sum(F.when(~F.col("__has_out"), F.col("rank"))),
                    F.lit(0.0),
                )
                / F.count(F.lit(1))
            ).alias("mn")
        )
        ranks = (
            nodes.join(
                contribs.withColumnRenamed("dst", "node"), "node", "left"
            )
            .join(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("mn"))
                ).alias("rank"),
                "__has_out",
            )
        )
    ranks = ranks.select("node", "rank")
    if not materialize:
        return ranks
    out = ranks.localCheckpoint()
    for frame in (e, nodes, linked):
        frame.unpersist()
    return out


def domain_pagerank(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Domain-level link-graph quality prior straight from a fetched
    page corpus: :func:`..web.extract_links` pulls each page's
    outlinks (codegen regex, zero UDF), :func:`..web.domain_of`
    collapses both ends to domains, cross-domain edges dedup, and
    :func:`pagerank` scores the domain graph.  Output
    ``(domain, rank)`` joins back onto the corpus as a per-source
    weight for sampling/mixing.
    """
    from .web import domain_of, extract_links

    edges = (
        docs.select(
            domain_of(url_col).alias("src"),
            F.explode(extract_links(html_col, url_col)).alias("out_url"),
        )
        .select("src", domain_of("out_url").alias("dst"))
        .filter((F.col("src") != "") & (F.col("dst") != ""))
    )
    return pagerank(edges, iters=iters, damping=damping).select(
        F.col("node").alias("domain"), "rank"
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of an undirected graph given as a
    (possibly directed, possibly duplicated) edge list -- returns
    ``(node, component)`` with ``component`` = the minimum node id in
    the component, covering EVERY node that appears on either edge
    end (isolated endpoints of self-loops included).

    The engine already ships an industrial-strength component solver
    as the fuzzy-dedup cluster step (:func:`..dedup.dedup_clusters`:
    hybrid driver union-find under a size threshold, Pregel-style
    min-label propagation with pointer jumping above it, lineage
    truncation, measured in ``CC_BENCH.json``) -- this is the
    graph-facing name for the same machinery, plus the singleton
    completion dedup does not need: nodes whose only edges were
    self-loops still come back, labeled by themselves.  Node ids may
    be any orderable type (string domain graphs included).

    The projected edge frame is lazily materialized ONCE up front:
    the solver's size probe, the node union, and the solve itself all
    reference it, and an uncached expensive upstream (a parsed WARC
    corpus, an LSH pair stage) would otherwise re-run per reference
    (memory pitfall #1).  The driver-union-find cutoff is the solver's
    :data:`..dedup.DRIVER_MAX_EDGES`.
    """
    from .dedup import dedup_clusters

    e = edges.select(
        F.col(src_col).alias("doc_a"), F.col(dst_col).alias("doc_b")
    ).localCheckpoint(eager=False)
    labels = dedup_clusters(
        e.filter(F.col("doc_a") != F.col("doc_b")),
        max_iter=max_iter,
        stats=stats,
    ).select(F.col("doc_id").alias("node"), F.col("cluster_id").alias("component"))
    nodes = (
        e.select(F.col("doc_a").alias("node"))
        .unionByName(e.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
