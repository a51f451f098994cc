"""Embedding similarity search over array<float> columns.

Engine extension beyond the reference surface (BASELINE.json north star).

- ``brute_force_topk``: exact cosine top-k -- broadcast the (small) query
  set against the corpus; one pass, no shuffle of the corpus.  The
  baseline and the oracle path.
- ``lsh_bucketed_topk``: random-hyperplane LSH -- corpus and queries get
  sign-pattern bucket keys; candidates meet on equal buckets (optionally
  multiple tables for recall).  The 100 TB path: the corpus is scanned
  once, shuffled only by bucket key, and each query compares against its
  buckets instead of everything.

Search-side vector math is built-in (``zip_with`` + ``aggregate`` on
array columns): JVM-evaluated, no Python worker round-trip.  Centroid
assignment (``assign_to_centroids``, used by IVF, Lloyd training and
SemDeDup) is one Arrow-batched numpy pass over the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product as an explicit left-to-right sum of ``dim`` products.

    Numerically identical to :func:`_dot` (same sequential addition
    order), but fully expression-based -- whole-stage codegen compiles it
    to straight-line JVM arithmetic, ~10x faster than the interpreted
    higher-order ``aggregate`` lambda on hot pair-join paths.
    """
    acc = a.getItem(0).cast("double") * b.getItem(0).cast("double")
    for i in range(1, dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def round_half_away(arr, digits: int = 6):
    """Round a numpy array half-AWAY-from-zero, in place when possible.

    Spark's ``F.round`` (HALF_UP) and DuckDB's ``round()`` both round
    halves away from zero; ``np.round`` rounds half-to-even.  Every
    numpy cosine kernel (semantic_dedup, embedding_near_dup,
    embedding_near_dup_lsh) must use THIS helper so a cosine landing
    exactly on a 1e-6 half-boundary cannot flip keep/drop between the
    engine and the oracle.
    """
    import numpy as np

    scale = 10.0 ** digits
    # |x| -> floor(|x|*scale + 0.5)/scale, sign restored at the end;
    # the only temporary is a bool mask (1/8 the float64 footprint)
    neg = np.signbit(arr)
    np.abs(arr, out=arr)
    arr *= scale
    arr += 0.5
    np.floor(arr, out=arr)
    arr /= scale
    np.negative(arr, where=neg, out=arr)
    return arr


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


#: Zero-norm guard for every cosine denominator in the repo (expression,
#: numpy, and Pandas-UDF kernels alike).  Semantics: a zero-norm vector
#: has cosine 0.0 against everything (dot is 0, denominator is floored),
#: the same convention the DuckDB oracles spell with an explicit
#: ``CASE WHEN sqnorm = 0 THEN 0.0``.  The floor must be 1e-150, NOT
#: 1e-300: the denominator multiplies TWO floored norms, and 1e-300**2
#: underflows to exact 0.0 -- which Spark 4's default ANSI mode turns
#: into a job-killing DIVIDE_BY_ZERO the moment two zero vectors meet
#: (found by the r18 degenerate-corpus sweep).  Embeddings are float32,
#: so any nonzero vector has norm >= ~1e-45 >> the floor; only exact
#: zero vectors are affected, and for those both engines emit 0.0.
NORM_FLOOR = 1e-150


def _norm_floored(a: Column) -> Column:
    return F.greatest(_norm(a), F.lit(NORM_FLOOR))


def vec_is_finite(a: Column | str) -> Column:
    """True iff every component of an array<numeric> column is finite.

    The repo-wide predicate for gating NaN/Inf vectors out of
    similarity, quantization, and moment passes: SQL engines order NaN
    ABOVE +Inf (so ``NaN >= threshold`` is TRUE in Spark SQL and DuckDB
    alike -- a NaN vector would pair with everything), while the numpy
    kernels follow IEEE (``NaN >= t`` is False) -- the only consistent
    cross-engine semantics is to exclude non-finite vectors explicitly.
    DuckDB twin: ``len(list_filter(v, x -> NOT isfinite(x))) = 0``.
    """
    c = F.col(a) if isinstance(a, str) else a
    return F.forall(
        c,
        lambda x: ~F.isnan(x.cast("double"))
        & (F.abs(x.cast("double")) < F.lit(float("inf"))),
    )


def cosine_sim_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (double math).

    Zero-norm inputs yield 0.0, not a division error -- see NORM_FLOOR.
    """
    return _dot(a, b) / (_norm_floored(a) * _norm_floored(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int = 6,
    dim: int | None = 64,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    The query side is broadcast (it is the provably-small side); the
    corpus streams through map-side with zero shuffle until the final
    per-query top-k, which AQE keeps as a partial top-k + merge.
    Norms are precomputed per side (n + q rows, not n*q); the pair-side
    dot is unrolled into codegen arithmetic when ``dim`` is known.
    Deterministic: ties break on corpus id.
    """
    c = corpus.select(F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("__cv"))
    c = c.withColumn("__cn", _norm_floored(F.col("__cv")))
    q = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv"))
    q = q.withColumn("__qn", _norm_floored(F.col("__qv")))
    dot = (
        _dot_unrolled(F.col("__cv"), F.col("__qv"), dim)
        if dim is not None
        else _dot(F.col("__cv"), F.col("__qv"))
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", F.round(dot / (F.col("__cn") * F.col("__qn")), round_digits)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank"))
    )


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign bucket: one char per plane ('1' if dot>=0).

    ``planes`` are fixed (seeded) hyperplanes chosen by the caller --
    deterministic, so bucket assignment is reproducible and
    SQL-expressible.

    MEASURED DEAD END (r19, VERDICT r18 ask #9): unrolling each plane
    dot into literal multiply-add chains (the `_dot_unrolled` trick
    that wins on 1-dot-per-row paths) regresses the 8-table near-dup
    projection 6x (embedding_near_dup_lsh 5.1 s -> 31-35 s, same
    session A/B): 48 planes x 64 dims = 3,072 expression nodes in ONE
    Project blow past whole-stage codegen's method-size budget, so the
    giant tree falls back to interpreted expression eval -- strictly
    worse than 48 compact `aggregate(zip_with(...))` folds.  There is
    also no cross-table duplication for CSE to claw back: every
    (table, plane) literal array is distinct by construction (seeded
    per table).  Keep the fold spelling.
    """
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def make_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy dependency
    at the executor -- plain floats baked into the plan)."""
    planes = []
    state = seed & 0x7FFFFFFF or 1
    for _ in range(n_planes):
        p = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            p.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(p)
    return planes


def _centroid_arrays(rows, dim: int):
    """``(cids, K, kn)`` for :func:`_argmax_cosine` from collected
    ``(cid, centroid)`` pairs: centroid rows sorted by cid ascending,
    and each norm accumulated as 0.0 then ``+= k_i * k_i`` for i
    ascending (``_norm``'s fold order), square-rooted, then floored at
    NORM_FLOOR."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    if not rows:
        raise ValueError("assign_to_centroids: empty centroid frame")
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    K = np.array([r[1] for r in rows], dtype=np.float64)[:, :dim]  # (k, dim)
    kn = np.zeros(len(rows), dtype=np.float64)
    for i in range(dim):
        kn += K[:, i] * K[:, i]
    return cids, K, np.maximum(np.sqrt(kn), NORM_FLOOR)


def _argmax_cosine(V, K, kn, cids):
    """THE argmax-cosine kernel: for each row of the float64 batch ``V``
    the cid of its nearest centroid.  The arithmetic is the DuckDB
    oracle's ``round(cosine, 6) DESC, cid ASC`` (``_sql_cosine``),
    operation for operation:

    - norm: 0.0 then ``+= v_i * v_i`` for i ascending, sqrt, then
      ``max(norm, NORM_FLOOR)`` (zero vectors score cosine 0.0);
    - dot: ``v_0*k_0`` then ``+= v_i*k_i`` for i ascending (the
      left-to-right order of ``_dot_unrolled`` and the oracle's
      ``list_sum``);
    - cosine: ``dot / (cn * kn)``, rounded with :func:`round_half_away`;
    - argmax over cid-sorted centroid columns: the first maximum wins,
      so ties go to the smaller cid.
    """
    import numpy as np

    dim = K.shape[1]
    cn = np.zeros(len(V), dtype=np.float64)
    for i in range(dim):
        cn += V[:, i] * V[:, i]
    cn = np.maximum(np.sqrt(cn), NORM_FLOOR)
    acc = V[:, 0][:, None] * K[:, 0][None, :]
    for i in range(1, dim):
        acc += V[:, i][:, None] * K[:, i][None, :]
    acc /= cn[:, None] * kn[None, :]
    round_half_away(acc, 6)
    return cids[np.argmax(acc, axis=1)]


def assign_to_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    keep_vec: bool = False,
) -> DataFrame:
    """Argmax-cosine centroid assignment: ``(vec_id, cluster_id[, __cv])``.

    THE deterministic-assignment kernel (6-digit cosine rounding, ties
    to the smaller centroid id, NORM_FLOOR zero-norm guard) shared by
    ``train_ivf_centroids``' Lloyd rounds, ``ivf_topk``,
    ``semantic_dedup``, cluster-stratified sampling and the IVF-PQ
    index build -- and mirrored by the DuckDB oracle CTEs.

    One Arrow-batched ``mapInPandas`` pass runs :func:`_argmax_cosine`
    per batch: no per-row Python, no shuffle, one numpy pass per ~10k-row
    batch.  Measured against the broadcast-join + ``max_by`` plan it
    replaced (same rows): 59x less wall for the 1e6-vector IVF-PQ build
    assignment; at 2,000 vectors on a 4-vCPU VM, 2.1-2.4 s -> ~0.5 s
    median and 4 -> 3 Spark jobs per call.
    The centroid frame is COLLECTED when this function is called
    (bounded: k_cent x dim doubles, ~128 KB at k_cent=256), so
    constructing the result runs the centroid plan's jobs eagerly.

    ``keep_vec`` threads the input vector through to the output as
    ``__cv``: the batch already holds it, so Lloyd rounds and the IVF
    scoring stage never pay a vec_id join to re-attach vectors.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cids, K, kn = _centroid_arrays(
        centroids.select("cid", "centroid").collect(), dim
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = {
                "vec_id": pdf[id_col].to_numpy(),
                "cluster_id": _argmax_cosine(V, K, kn, cids),
            }
            if keep_vec:
                # .to_numpy(), not the raw Series: pd.DataFrame aligns a
                # Series by INDEX, which is only coincidentally positional
                # because Arrow batches arrive with a fresh RangeIndex --
                # the numpy array makes the row alignment positional and
                # index-independent (r19 ADVICE)
                out["__cv"] = pdf[vec_col].to_numpy()
            yield pd.DataFrame(out)

    fields = [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cluster_id", T.LongType()),
    ]
    if keep_vec:
        fields.append(T.StructField("__cv", emb.schema[vec_col].dataType))
    return emb.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(gen, schema=T.StructType(fields))


def train_ivf_centroids(
    corpus: DataFrame,
    iters: int = 2,
    centroid_stride: int = 31,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_digits: int = 6,
    k_cent: int | None = None,
    train_limit: int | None = None,
) -> DataFrame:
    """Lloyd-refined IVF coarse centroids: ``(cid, centroid:
    array<double>)``.

    Init is the same deterministic stride sample :func:`ivf_topk` uses
    standalone (sampling IS the standard k-means init); each of the
    ``iters`` Lloyd rounds is then

    1. **assign** -- :func:`assign_to_centroids` (per-vector argmax of
       the 6-digit-rounded cosine, ties to the smaller cid), with the
       training vector threaded through the batch (``keep_vec``), and
    2. **update** -- ``groupBy(cid)`` with one ``avg`` per dimension
       (``dim`` scalar agg columns, NOT an explode: map-side partials
       keep the shuffle at k_cent x dim doubles), each mean rounded to
       ``round_digits`` so the trained centroids are reproducible
       across engines and runs -- and across aggregation orders, which
       is the tolerance the DuckDB oracle replication relies on.

    Clusters that lose all members simply drop out (both the engine and
    the oracle SQL share that convention).  Each round COLLECTS the
    previous round's bounded centroid frame (k_cent x dim doubles;
    centroid count ~ sqrt(n) keeps even a 10^9-vector corpus' centroid
    set at ~16 MB) while the plan is built, so constructing the result
    runs the seed sample and rounds 1..iters-1 eagerly; only the last
    round stays lazy.  Cosine (not Euclidean) assignment matches the
    search-time metric -- spherical k-means, the right variant for
    normalized-embedding retrieval.

    ``k_cent`` caps the centroid COUNT: init takes the FIRST ``k_cent``
    stride-matching rows by ``vec_id`` ascending (a distributed
    top-k, exact for any id space -- sparse, hashed, or negative ids
    included).  Without the cap the stride sample
    grows as n/stride, so each assign round -- and any index build on
    the result -- costs O(n^2/stride); with a fixed cap both are O(n *
    k_cent), the linear build an IVF index needs at 10^9 vectors (size
    the cap ~ sqrt(n) for the usual recall/scan trade).

    ``train_limit`` bounds the TRAINING SAMPLE: Lloyd rounds assign and
    average only rows with ``vec_id < train_limit`` (a deterministic,
    SQL-replicable prefix sample), the standard FAISS practice of
    training the quantizer on ~1e2 points per centroid.  This makes
    training O(train_limit * k_cent) -- constant in corpus size -- so
    an index build pays exactly ONE full-corpus assignment pass.  With
    hash-generated or shuffled ids the prefix is an unbiased sample;
    for id-ordered corpora shuffle ids first or raise the limit.
    """
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("__cv")
    )
    seeds = c.filter(F.pmod(F.col("vec_id"), F.lit(centroid_stride)) == 0)
    if k_cent is not None:
        # FIRST k_cent stride-matching ids, order-independently: an
        # orderBy+limit plans as TakeOrderedAndProject (per-partition
        # partial top-k, one k_cent-row merge), so the cap holds for
        # sparse/hashed and negative id spaces alike -- the previous
        # `vec_id < stride*k_cent` prefix cutoff under-seeded sparse id
        # spaces and let negative stride multiples through uncapped
        # (r11 ADVICE).
        seeds = seeds.orderBy(F.col("vec_id").asc()).limit(k_cent)
    cent = seeds.select(
        F.col("vec_id").alias("cid"),
        F.transform(F.col("__cv"), lambda x: x.cast("double")).alias("centroid"),
    )
    train_corpus = (
        corpus.filter(F.col(corpus_id) < train_limit)
        if train_limit is not None
        else corpus
    )
    for _ in range(iters):
        assigned = assign_to_centroids(
            train_corpus, cent, corpus_id, corpus_vec, dim, keep_vec=True
        ).withColumnRenamed("cluster_id", "cid")
        cent = (
            assigned.groupBy("cid")
            .agg(
                *[
                    F.round(F.avg(F.col("__cv").getItem(i)), round_digits).alias(f"__m{i}")
                    for i in range(dim)
                ]
            )
            .select(
                "cid", F.array(*[F.col(f"__m{i}") for i in range(dim)]).alias("centroid")
            )
        )
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_stride: int = 31,
    nprobe: int = 3,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    The second scale path next to :func:`lsh_bucketed_topk`, mirroring
    the FAISS IVF-flat layout on DataFrames:

    1. **Centroids**: every ``centroid_stride``-th corpus vector
       (``vec_id % stride == 0``) serves as a coarse centroid -- a
       deterministic, SQL-expressible stand-in for k-means (pass
       ``centroids=`` a :func:`train_ivf_centroids` frame to swap in
       Lloyd-trained ones -- the plumbing below is unchanged, and
       sampled "random" centroids are the standard k-means init anyway).
       Centroid count scales as n/stride; choose stride ~ sqrt(n) so
       both the assignment fan-out (n * n/stride) and the list sizes
       (~stride) stay balanced.
    2. **Assignment** (the inverted lists): each corpus vector keeps
       its argmax-cosine centroid via :func:`assign_to_centroids` -- one
       Arrow pass over the corpus against the collected centroid set,
       no shuffle and no n*k_cent pair rows; ties break on the smaller
       centroid id.  At scale you would persist this frame partitioned
       by ``cid``: that IS the inverted index, reusable across every
       future query set.
    3. **Search**: each query probes its ``nprobe`` nearest centroids
       and scores only the vectors assigned to those lists -- corpus
       touched ~ nprobe/stride fraction, vs. 100% for brute force.

    Cosines are rounded to 6 digits BEFORE every argmax/rank so the
    assignment and ranking are reproducible across engines (same
    convention as the green ``similarity_topk`` oracle).

    Recall, MEASURED vs :func:`brute_force_topk` (TOPK_RECALL.json,
    bench_topk_recall.py; headline knobs stride=31, nprobe=3, k=5):
    0.62 at n=500 (probing 18.8% of the corpus) and 0.44 at n=2,000
    (probing 4.7%) -- in both cases well above the probed fraction, and
    2-2.6x the hyperplane-LSH recall (0.24 / 0.28) on the same corpus.
    The synthetic near-uniform corpus carries the usual IVF caveat --
    with weak cluster structure, recall degrades toward the probed
    fraction as n grows at fixed nprobe; real embedding corpora
    cluster, which is what makes IVF the production default (FAISS).

    Small-n wall time is STAGE-COUNT-bound, not compute-bound: the
    fixed per-stage overhead of IVF's tiny stages (probe window,
    scoring join, rank) dominates at sf0.1 (n=2,000).  Brute force is simply correct
    at small n; IVF's corpus-fraction advantage is the 10^6+ regime,
    the same shape as the measured near-dup LSH crossover
    (ANN_SCALE.json).
    """
    if centroids is not None:
        # pre-trained (cid, centroid) frame, e.g. from train_ivf_centroids
        cent = centroids.select("cid", F.col("centroid").alias("__kv"))
    else:
        cent = corpus.filter(
            F.pmod(F.col(corpus_id), F.lit(centroid_stride)) == 0
        ).select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("__kv"))
    assigned = (
        assign_to_centroids(
            corpus, cent.withColumnRenamed("__kv", "centroid"),
            corpus_id, corpus_vec, dim, keep_vec=True,
        )
        .withColumnRenamed("cluster_id", "cid")
        .withColumn("__cn", _norm_floored(F.col("__cv")))
    )
    cent = cent.withColumn("__kn", _norm_floored(F.col("__kv")))
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    ).withColumn("__qn", F.greatest(_norm(F.col("__qv")), F.lit(NORM_FLOOR)))
    q_cos = F.round(
        _dot_unrolled(F.col("__qv"), F.col("__kv"), dim) / (F.col("__qn") * F.col("__kn")),
        6,
    )
    pw = Window.partitionBy("query_id").orderBy(F.col("__kcos").desc(), F.col("cid").asc())
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "__qv", "__qn", "cid", q_cos.alias("__kcos"))
        .withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", "__qn", "cid")
    )
    scored = assigned.join(F.broadcast(probes), "cid").withColumn(
        "cosine",
        F.round(
            _dot_unrolled(F.col("__cv"), F.col("__qv"), dim) / (F.col("__cn") * F.col("__qn")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank"))
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket.

    Recall/latency trade via ``n_planes`` (more planes = smaller buckets).
    The corpus is bucketed once and shuffled by bucket key only; at scale
    you would persist the bucketed corpus and reuse it across query sets
    (the IVF pattern: bucket = inverted list).

    Recall, MEASURED vs :func:`brute_force_topk` (TOPK_RECALL.json,
    bench_topk_recall.py; headline knobs n_planes=6, seed=42, k=5):
    0.24 at n=500 and 0.28 at n=2,000 on the synthetic near-uniform
    corpus -- single-table hyperplane LSH at 64 buckets keeps only
    ~n/64 candidates, and with no cluster structure most true
    neighbors land across a hyperplane.  Production raises recall with
    multi-table OR-construction (exactly what ``embedding_near_dup``'s
    8-table LSH variant does, measured recall 0.43-0.44) or switches to
    :func:`ivf_topk` (0.44-0.62 here, 2-2.6x better at the same cost).
    """
    planes = make_planes(dim, n_planes, seed)
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("__cv"),
    ).withColumn("bucket", lsh_bucket(F.col("__cv"), planes)).withColumn("__cn", _norm(F.col("__cv")))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
    ).withColumn("bucket", lsh_bucket(F.col("__qv"), planes)).withColumn("__qn", _norm(F.col("__qv")))
    scored = c.join(F.broadcast(q), "bucket").withColumn(
        "cosine",
        F.round(_dot_unrolled(F.col("__cv"), F.col("__qv"), dim) / (F.col("__cn") * F.col("__qn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank"))
    )
