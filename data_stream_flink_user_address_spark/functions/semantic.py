"""SemDeDup-style semantic deduplication over embedding columns.

Engine extension beyond the reference surface (the reference,
``Main.java``, has no vector analytics; this belongs to the
LLM-training-data curation suite alongside ``functions/dedup.py``).

The operator family follows "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" (Abbas et al., 2023): cluster
the corpus embeddings with k-means, then prune near-duplicate pairs
WITHIN each cluster only -- the clustering bounds the quadratic pairwise
term that makes global semantic dedup unpayable.  At 100 TB the shape
is: centroids broadcast (k ~ sqrt(n) keeps them megabytes), assignment
is a map-side argmax with ZERO corpus shuffle, and the single shuffle
keys the corpus by cluster id; per-cluster work is a dense BLAS matmul
bounded by cluster size (choose k so the hottest cluster fits one
task -- the same contract IVF search already documents).  The corpus
crosses exactly two exchanges, both fixed-width ``(id, vector)`` rows:
one keyed by vec_id (the map-side-combined argmax -- each vector's k
candidate rows collapse to one BEFORE the shuffle, because the
broadcast join emits them contiguously in the map partition), one
keyed by cluster id for the pairwise pass.

MEASURED on a planted-duplicate corpus (``SEMDEDUP_RECALL.json``,
``python bench_semantic.py``: 5,000 unit Gaussians + 500 near-copies at
cosine ~0.99, threshold 0.9, 2 Lloyd rounds): recall 0.91-0.97 with
ZERO false drops across k_cent 6..118, while the candidate-pair count
falls to 16.7%..0.84% of all-pairs -- the 6x-119x compute cut that is
the operator's reason to exist.  Recall IMPROVES with more centroids
on this corpus (0.912 at k=6 vs 0.972 at k=118): Lloyd-trained fine
cells give near-identical pairs larger assignment margins, so fewer
pairs straddle a Voronoi boundary.  Pick stride for the compute budget
first; recall is flat-to-better as clusters shrink until clusters
approach duplicate-group size.

Determinism contract (shared with the DuckDB oracle): cosines round to
6 digits; assignment ties break to the smaller centroid id; the pruning
rule is "drop a vector iff some SMALLER-ID vector in its cluster is
within ``threshold``" -- a deterministic stand-in for the paper's
keep-farthest-from-centroid rule, chosen so both engines agree without
floating-point order sensitivity.  Like the paper's rule it keeps
exactly one representative of any tight pairwise clique; it only
differs on which member survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import assign_to_centroids  # noqa: F401  (re-export; kernel lives with its siblings)
from .similarity import NORM_FLOOR, round_half_away


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    dim: int = 64,
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """Cluster-then-prune semantic dedup: ``(vec_id, cluster_id, keep)``.

    ``centroids`` is a ``(cid, centroid: array<double>)`` frame --
    typically :func:`..functions.similarity.train_ivf_centroids` output
    (trained Lloyd centroids), or any deterministic sample for
    oracle-parity runs.  Every corpus vector is assigned to its
    argmax-cosine centroid (rounded to 6 digits, ties to smaller cid --
    identical to the IVF assignment), then each cluster is scanned once
    as a dense float64 cosine matrix and a vector is marked
    ``keep = false`` iff a smaller-id cluster-mate sits at
    ``cosine >= threshold``.

    Plan shape: the assignment is one ``mapInPandas`` pass over the
    scan against the centroid frame (collected when this function is
    called -- see :func:`assign_to_centroids`), with no exchange before
    it; then one ``groupBy(cluster_id)`` shuffle -- no text anywhere --
    and a vectorized ``applyInPandas`` per cluster.  Compute is
    O(sum over clusters of size^2) BLAS flops: the k-means step is what
    turns global O(n^2) into that bounded sum, which is the entire
    SemDeDup argument.

    ``max_cluster_rows`` is the skew fuse: k-means owes you nothing
    about balance, and ONE runaway cluster (a boilerplate-heavy crawl
    segment) otherwise lands its whole quadratic matrix on one task.
    When set, any cluster larger than the cap deterministically
    sub-splits by ``pmod(xxhash64(vec_id), ceil(size/cap))`` -- cluster
    sizes come from one aggregate on the (already tiny) assignment
    keys, broadcast back -- and pruning runs within sub-clusters only.
    Like every bucketing escape hatch in this engine it trades recall
    (a pair split across salts is never compared, never precision), so
    the default is off and the right first move at scale is more
    centroids; the fuse is for the cluster you did not predict.
    """
    import numpy as np
    import pandas as pd

    from ..shipping import ensure_package_on_workers

    ensure_package_on_workers(emb.sparkSession)

    assigned = assign_to_centroids(
        emb, centroids, id_col, vec_col, dim, keep_vec=True
    )

    group_keys = ["cluster_id"]
    if max_cluster_rows is not None:
        sizes = assigned.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("__csize")
        )
        n_sub = F.ceil(F.col("__csize") / max_cluster_rows)
        assigned = assigned.join(F.broadcast(sizes), "cluster_id").withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("vec_id")), n_sub).cast("int"),
        ).drop("__csize")
        group_keys = ["cluster_id", "__salt"]

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["__cv"].to_numpy())[order].astype(np.float64)
        # zero-norm guard (see dedup.embedding_near_dup_pairs): cosine 0,
        # never NaN, so a zero vector is simply never a duplicate
        norms = np.maximum(np.linalg.norm(m, axis=1), NORM_FLOOR)
        cosm = m @ m.T
        cosm /= np.outer(norms, norms)
        # half-away-from-zero, matching F.round / the DuckDB oracle
        # (np.round is half-to-even -- ADVICE r8)
        round_half_away(cosm, 6)
        # upper triangle (k=1): entry [i, j] with i < j pairs a smaller
        # id (ids are sorted) with a larger one; column j any-reduces to
        # "j has a smaller-id near neighbor" -> dropped
        dropped = np.triu(cosm >= threshold, k=1).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": pdf["cluster_id"].iloc[0],
                "keep": ~dropped,
            }
        )

    return assigned.groupBy(*group_keys).applyInPandas(
        per_cluster, schema="vec_id long, cluster_id long, keep boolean"
    )
