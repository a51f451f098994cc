"""Product quantization (PQ) with asymmetric-distance top-k search.

Engine extension beyond the reference surface, next to the SQ8 path
(quantize.py).  Where SQ8 compresses 4x and still dots full vectors,
PQ splits each ``dim``-vector into ``m`` subvectors and stores one
codebook index per subvector: at m=8, k_sub<=256 a 64-dim float32
vector (256 B) becomes 8 bytes -- 32x less scan bandwidth.  Search is
ADC (asymmetric distance computation, the FAISS ``IndexPQ`` scan): per
query build an m x k_sub lookup table of subvector inner products, then
score every corpus row by summing m table entries -- no float vector is
touched until the exact rescore of the survivors.

Codebook seeding is the same deterministic stride sample as
``ivf_topk``; encoding is one Arrow-batched numpy pass
(:func:`_pq_codes`: fixed-point L2 argmin per subspace against the
collected codebook frame), and the ADC scan is unrolled literal-indexed
LUT lookups -- JVM-side, no Python worker, zero corpus shuffle before
the partial top-k.

Determinism contract (shared with the DuckDB oracle): all ranking
quantities are FIXED-POINT BIGINTs -- subvector L2 distances and LUT
partials are ``round(x * 1e6)::BIGINT`` -- so sums are exact integer
arithmetic whose result cannot depend on accumulation order (the same
trick quantized_topk gets for free from int8 code dots).  Argmin ties
break to the smaller code, candidate ties to the smaller vec_id, and
the final cosines are exact floats rounded to ``round_digits``.

Index-build cost model (measured at 1e6 vectors, dim 64, k_cent=256,
local[32] -- TOPK_SCALE.json, bench_topk_scale.py):

=================  =========  ========================================
stage              wall (s)   scaling
=================  =========  ========================================
corpus encode         ~2      O(n * m * k_sub) fixed-point argmin via
                              the Arrow/numpy kernel (was 146 s as a
                              broadcast join + max_by plan);
                              persisted once and REUSED by the index
                              build (``corpus_codes``), never run twice
index build          ~11      Lloyd training O(train_limit * k_cent)
 (train + assign                via the Arrow assignment kernel (a 1e6
  + join + write)               round was 104 s as a broadcast-join
                              plan), coarse assignment O(n * k_cent *
                              dim) at ~8 s (was 492 s: same values, 59x
                              less wall), one vec_id join, one cid
                              repartition
=================  =========  ========================================

Total 1e6 stand-up ~13 s, vs 910 s before the encode-reuse +
vectorized-kernel changes (r11's 764 s build_index_s alone) -- 70x,
now scan/Arrow-transfer bound and linear in n (build_index_s across
the 1e4..1e6 ladder: 9.9 / 5.2 / 10.2 / 10.7).
Size ``k_cent ~ sqrt(n)`` (recall/scan balance; 256 suits 1e5..1e6,
~1000 at 1e8) and ``train_limit ~ 100 * k_cent`` (FAISS practice);
both are pure knobs -- the build stays linear in n for any fixed
k_cent, and the dominant terms (encode, assignment) parallelize per
partition with no shuffle before the final cid repartition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .similarity import NORM_FLOOR, _dot_unrolled, _norm

_FP = 1_000_000  # fixed-point scale for distances / LUT partials


def _sub_dot_fp(vec: Column, cvec: Column, s: int, d_sub: int) -> Column:
    """round(1e6 * <vec[s*d : (s+1)*d], cvec>) as BIGINT, unrolled."""
    acc = None
    for i in range(d_sub):
        term = vec.getItem(s * d_sub + i).cast("double") * cvec.getItem(i).cast("double")
        acc = term if acc is None else acc + term
    return F.round(acc * _FP).cast("bigint")



def _query_lut(q: DataFrame, codebooks: DataFrame, m: int, d_sub: int) -> DataFrame:
    """Per-query ADC lookup table ``(query_id, lutarr)`` -- ``lutarr[s][code]``
    = round(1e6 * <q[s*d:(s+1)*d], cvec(s, code)>) as BIGINT.

    ONE ``groupBy(query_id)`` aggregation (r19): the previous spelling
    aggregated twice -- ``groupBy(query_id, s)`` to pack each subspace,
    then ``groupBy(query_id)`` to nest them -- paying two exchanges of
    the (q x m x k_sub)-row LUT frame where one suffices.  Here the
    flat (s, code, p) structs collect in one pass, ``sort_array`` puts
    them in (s, code) order (s and code are unique per query row --
    codebooks hold one row per (s, code) -- so the p tiebreaker never
    fires), and a nested ``transform``/``filter`` slices out each
    subspace's code-ordered partials: exactly the arrays the two-level
    aggregation produced, from half the exchanges.
    """
    lj = q.join(F.broadcast(codebooks))
    part_fp = None
    for s in range(m):
        p = _sub_dot_fp(F.col("__qv"), F.col("cvec"), s, d_sub)
        part_fp = F.when(F.col("s") == s, p) if part_fp is None else part_fp.when(
            F.col("s") == s, p
        )
    return (
        lj.select("query_id", "s", "code", part_fp.alias("p"))
        .groupBy("query_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "code", "p"))).alias("__flat")
        )
        .select(
            "query_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.filter(F.col("__flat"), lambda x: x["s"] == s),
                    lambda x: x["p"],
                ),
            ).alias("lutarr"),
        )
    )


def _adc_sum(m: int) -> Column:
    """Unrolled ADC score: sum_s lutarr[s][codes[s]] as fixed BIGINT adds.

    Written as m literal-indexed getItem/element_at terms instead of an
    aggregate(zip_with(...)) lambda chain: higher-order functions are
    interpreted per row, while this unrolled form stays inside
    whole-stage codegen -- the ADC scan is the per-row hot loop, so the
    difference is the whole ballgame at corpus scale.  Integer adds in
    any arrangement are exact, so candidates are unchanged.
    """
    acc = None
    for s in range(m):
        term = F.element_at(F.col("lutarr").getItem(s), F.col("codes").getItem(s) + 1)
        acc = term if acc is None else acc + term
    return acc


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k_sub: int = 16,
    stride: int = 31,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Deterministic subvector codebooks: ``(s, code, cvec)``.

    Seeds are the first ``k_sub`` corpus rows with ``vec_id % stride ==
    0`` (the ``ivf_topk`` init convention: sampling IS the standard
    k-means init, and the exact rescore downstream absorbs codebook
    suboptimality).  ``code`` is the seed's dense rank by vec_id --
    0..k'-1 even when ids have gaps -- because the ADC LUT is indexed
    positionally.  The filter bounds the frame to <= k_sub rows before
    the rank window, so the single-partition window touches k_sub rows,
    never the corpus.
    """
    d_sub = dim // m
    seeds = (
        corpus.filter(
            (F.pmod(F.col(corpus_id), F.lit(stride)) == 0)
            & (F.col(corpus_id) < stride * k_sub)
        )
        .select(
            F.col(corpus_id).alias("__sid"),
            F.transform(F.col(corpus_vec), lambda x: x.cast("double")).alias("__sv"),
        )
        .withColumn(
            "code",
            (F.row_number().over(Window.orderBy(F.col("__sid"))) - 1).cast("int"),
        )
    )
    per_space = [
        seeds.select(
            F.lit(s).cast("int").alias("s"),
            "code",
            F.slice("__sv", s * d_sub + 1, d_sub).alias("cvec"),
        )
        for s in range(m)
    ]
    out = per_space[0]
    for p in per_space[1:]:
        out = out.unionByName(p)
    return out


def _codebook_arrays(rows, m: int) -> list[tuple]:
    """Per subspace ``s`` in 0..m-1, the code-sorted ``(codes, C)`` pair
    :func:`_pq_codes` scans, from collected ``(s, code, cvec)`` rows."""
    import numpy as np

    per_s = []
    for s in range(m):
        sub = sorted((r for r in rows if r[0] == s), key=lambda r: r[1])
        if not sub:
            raise ValueError(f"pq_encode: no codebook rows for subspace {s}")
        per_s.append(
            (
                np.array([r[1] for r in sub], dtype=np.int64),
                np.array([r[2] for r in sub], dtype=np.float64),  # (k, d_sub)
            )
        )
    return per_s


# the largest squared subvector distance whose ordering key
# ``dist_fp * 1024 + code`` still fits a signed 64-bit integer
_DIST_MAX = (2**63 - 1024) / 1024 / _FP


def _pq_codes(V, ids, per_s, d_sub: int):
    """THE PQ encode kernel: ``(n, m)`` int32 codes for the float64
    batch ``V`` (row ids ``ids``).  The arithmetic is the DuckDB oracle's
    encode CTE, operation for operation: per (subspace, code) the
    squared diffs accumulate dimension-ascending starting from the
    first term, the sum scales by ``_FP`` and rounds HALF_UP (the
    distance is non-negative, so ``floor(x + 0.5)``), and the argmin
    runs on the exact integer ``dist_fp * 1024 + code`` over
    code-sorted columns -- smallest rounded distance first, ties to the
    smaller code (k_sub <= 1024).

    A NaN or infinite component (or a distance too large for the
    integer key) has no code: the cast would wrap it to an arbitrary
    integer and encode the vector silently, so it raises ``ValueError``
    naming the first offending id instead.  Filter with
    ``vec_is_finite`` upstream.
    """
    import numpy as np

    codes = np.empty((len(V), len(per_s)), dtype=np.int32)
    for s, (code_vals, C) in enumerate(per_s):
        diff0 = V[:, s * d_sub][:, None] - C[:, 0][None, :]
        acc = diff0 * diff0
        for i in range(1, d_sub):
            diff = V[:, s * d_sub + i][:, None] - C[:, i][None, :]
            acc += diff * diff
        bad = ~(acc < _DIST_MAX).all(axis=1)
        if bad.any():
            raise ValueError(
                f"pq_encode: vec_id {ids[np.argmax(bad)]} has a non-finite "
                f"or overflowing subspace-{s} distance; filter non-finite "
                "vectors (vec_is_finite) before encoding"
            )
        dist_fp = np.floor(acc * _FP + 0.5).astype(np.int64)
        ord_ = dist_fp * 1024 + code_vals[None, :]
        codes[:, s] = code_vals[np.argmin(ord_, axis=1)]
    return codes


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Codes table ``(vec_id, codes: array<int>)`` -- the 8-byte layout.

    One Arrow-batched ``mapInPandas`` pass runs :func:`_pq_codes` per
    batch against the codebook frame, which is COLLECTED when this
    function is called (bounded: m x k_sub rows), so constructing the
    result runs the codebook plan's jobs eagerly.  No shuffle: one row
    in, one codes row out.
    """
    import numpy as np
    import pandas as pd

    d_sub = dim // m
    per_s = _codebook_arrays(codebooks.select("s", "code", "cvec").collect(), m)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[corpus_id].to_numpy()
            V = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {"vec_id": ids, "codes": list(_pq_codes(V, ids, per_s, d_sub))}
            )

    return corpus.select(
        F.col(corpus_id).alias(corpus_id), F.col(corpus_vec).alias(corpus_vec)
    ).mapInPandas(gen, schema="vec_id long, codes array<int>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    expand: int = 4,
    m: int = 8,
    k_sub: int = 16,
    stride: int = 31,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int = 6,
    corpus_codes: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine via PQ-ADC candidate generation + exact rescore.

    Stage 1 (ADC): per query an m x k_sub LUT of fixed-point subvector
    inner products is built from the codebooks (a q*m*k_sub-row frame,
    collapsed to one nested array per query) and broadcast; every
    corpus CODES row is scored by ``aggregate(zip_with(lut, codes,
    (l, c) -> l[c+1]))`` -- integer adds over an 8-int array, zero
    shuffle -- and the per-partition WindowGroupLimit keeps k*expand
    candidates per query before the only exchange.  Stage 2 rescores
    survivors with exact float cosine exactly like ``quantized_topk``.
    Output schema matches ``brute_force_topk``.

    ``corpus_codes`` (a persisted :func:`pq_encode` table) makes stage 1
    scan ONLY the 8-byte codes -- the production layout; the float
    corpus then enters in stage 2 alone via a broadcast candidate join.
    When it is given, ``codebooks`` must be the same frame the codes
    were encoded with.
    """
    d_sub = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(corpus, m, k_sub, stride, dim, corpus_id, corpus_vec)
    codes = (
        corpus_codes.select("vec_id", "codes")
        if corpus_codes is not None
        else pq_encode(corpus, codebooks, m, dim, corpus_id, corpus_vec)
    )

    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    # per-query (m x k_sub) nested LUT array -- ONE groupBy (r19); codes
    # are dense 0..k'-1 per subspace by construction, so code-ordered
    # sort equals positional order
    lut = _query_lut(q, codebooks, m, d_sub)

    approx = codes.join(F.broadcast(lut)).withColumn("approx_fp", _adc_sum(m))
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("approx_fp").desc(), F.col("vec_id").asc()
    )
    cand = (
        approx.withColumn("crank", F.row_number().over(w1))
        .filter(F.col("crank") <= k * expand)
        .select("query_id", "vec_id")
    )

    floats = corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("vec")
    )
    qf = q.withColumnRenamed("__qv", "q_vec")
    paired = floats.join(F.broadcast(cand), "vec_id").join(
        F.broadcast(qf), "query_id"
    )
    cn = F.greatest(_norm(F.col("vec")), F.lit(NORM_FLOOR))
    qn = F.greatest(_norm(F.col("q_vec")), F.lit(NORM_FLOOR))
    exact = paired.withColumn(
        "cosine",
        F.round(
            _dot_unrolled(F.col("vec"), F.col("q_vec"), dim) / (cn * qn), round_digits
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    index_path: str,
    m: int = 8,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Incrementally extend a persisted IVF-PQ index with new vectors.

    The continuous-ingestion counterpart of :func:`build_ivfpq_index`:
    assign + encode ONLY the new rows (one Arrow pass through both
    kernels -- O(new * (k_cent + m * k_sub)), independent of existing
    index size) and APPEND them into the existing ``cid``-partitioned
    parquet layout.  Probe-time readers (:func:`ivfpq_topk` over
    ``spark.read.parquet(index_path)``) see old and new rows under the
    same partition pruning, so a crawl pipeline can admit novel
    documents into the searchable index per batch instead of
    re-building the whole corpus (the compaction-cadence trade
    ``streaming_embedding_near_dup`` documents).

    Contracts: ``centroids`` and ``codebooks`` MUST be the frames the
    index was originally built with (probe and decode share them --
    persist them beside the index, as ``build_ivfpq_index`` already
    instructs); vec_id uniqueness is the caller's responsibility (this
    is an append, not an upsert); and centroids train once, so a corpus
    whose distribution drifts far from the training sample degrades
    recall -- rebuild on your compaction cadence, the same trade every
    IVF system makes between index freshness and build cost.
    """
    (
        build_ivfpq_index(
            new_vectors, centroids, codebooks, m, dim, corpus_id, corpus_vec
        )
        .write.mode("append")
        .partitionBy("cid")
        .parquet(index_path)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    expand: int = 8,
    nprobe: int = 3,
    centroid_stride: int = 31,
    m: int = 8,
    k_sub: int = 16,
    stride: int = 15,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int = 6,
    corpus_index: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: coarse-probe then ADC -- the billion-vector configuration.

    Composes the engine's two ANN layers the way FAISS ``IndexIVFPQ``
    does: each query probes its ``nprobe`` argmax-cosine coarse
    centroids (the ``ivf_topk`` convention: 6-digit rounding, ties to
    the smaller cid), and the integer-LUT ADC scan of :func:`pq_topk`
    runs ONLY over vectors assigned to the probed cells -- per-query
    scoring work drops from n to ~n*nprobe/k_cent 8-int adds, on
    8-byte codes.  Survivors get the exact float rescore.

    ``corpus_index`` is the production layout: a persisted
    ``(vec_id, cid, codes)`` frame -- the inverted index WITH the codes
    inline, written once, partitioned by ``cid`` so a probe prunes
    whole partitions.  When absent it is derived on the fly (one
    :func:`build_ivfpq_index` pass; at scale you persist instead).
    ``codebooks`` must accompany a given ``corpus_index`` (same frame
    the codes were encoded with).

    ``centroids`` (a ``(cid, centroid)`` frame, e.g. Lloyd-trained
    ``train_ivf_centroids`` output or the frame persisted next to a
    :func:`build_ivfpq_index` index) overrides the stride derivation
    for BOTH probing and on-the-fly assignment.  When ``corpus_index``
    is persisted, pass the SAME centroids the index was built with --
    probe centroids must match assignment centroids or probes hit
    cells the index never filled (with stride derivation that means
    ``centroid_stride`` must equal the build-time value).
    """
    d_sub = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(corpus, m, k_sub, stride, dim, corpus_id, corpus_vec)

    if centroids is not None:
        cent = centroids.select("cid", F.col("centroid").alias("__kv"))
    else:
        cent = corpus.filter(
            F.pmod(F.col(corpus_id), F.lit(centroid_stride)) == 0
        ).select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("__kv"))
    if corpus_index is None:
        index = _build_ivfpq_index_fused(
            corpus, cent.withColumnRenamed("__kv", "centroid"), codebooks,
            m, dim, corpus_id, corpus_vec,
        )
    else:
        index = corpus_index.select("vec_id", "cid", "codes")
    cent = cent.withColumn("__kn", F.greatest(_norm(F.col("__kv")), F.lit(NORM_FLOOR)))

    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    ).withColumn("__qn", F.greatest(_norm(F.col("__qv")), F.lit(NORM_FLOOR)))
    q_cos = F.round(
        _dot_unrolled(F.col("__qv"), F.col("__kv"), dim)
        / (F.col("__qn") * F.col("__kn")),
        6,
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("__kcos").desc(), F.col("cid").asc()
    )
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "cid", q_cos.alias("__kcos"))
        .withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "cid")
    )

    # per-query LUT, identical construction to pq_topk: ONE groupBy (r19)
    lut = _query_lut(q.select("query_id", "__qv"), codebooks, m, d_sub)

    # ADC only inside probed cells: the (query_id, cid) probe pairs and
    # the LUTs broadcast; the index never shuffles
    approx = (
        index.join(F.broadcast(probes), "cid")
        .join(F.broadcast(lut), "query_id")
        .withColumn("approx_fp", _adc_sum(m))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("approx_fp").desc(), F.col("vec_id").asc()
    )
    cand = (
        approx.withColumn("crank", F.row_number().over(w1))
        .filter(F.col("crank") <= k * expand)
        .select("query_id", "vec_id")
    )

    floats = corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("vec")
    )
    paired = floats.join(F.broadcast(cand), "vec_id").join(
        F.broadcast(q.select("query_id", F.col("__qv").alias("q_vec"))), "query_id"
    )
    cn = F.greatest(_norm(F.col("vec")), F.lit(NORM_FLOOR))
    qn = F.greatest(_norm(F.col("q_vec")), F.lit(NORM_FLOOR))
    exact = paired.withColumn(
        "cosine",
        F.round(
            _dot_unrolled(F.col("vec"), F.col("q_vec"), dim) / (cn * qn), round_digits
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def build_ivfpq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """The persistable IVF-PQ index: ``(vec_id, cid, codes)``.

    One Arrow pass over the corpus computes both the coarse assignment
    (:func:`..similarity._argmax_cosine`) and the PQ codes
    (:func:`_pq_codes`) per batch -- O(n * (k_cent + m * k_sub)) work,
    LINEAR in corpus size when both frames are bounded (pass
    :func:`similarity.train_ivf_centroids` output built with its
    ``k_cent`` cap; an uncapped stride sample grows the centroid set
    with n and turns the build quadratic).  The result comes back
    pre-clustered (``repartition("cid")``) so a
    ``.write.partitionBy("cid").parquet(path)`` emits one file per
    (task, cid) instead of tasks x k_cent small files, and a probe
    prunes whole cid partitions.  Persist ``centroids`` + ``codebooks``
    BESIDE the index:
    :func:`ivfpq_topk` must probe with the same centroids the index was
    assigned with and decode with the same codebooks the codes were
    encoded with.
    """
    from .similarity import assign_to_centroids

    # ``corpus_codes``: a persisted :func:`pq_encode` table (encoded with
    # the SAME ``codebooks``) skips the second full-corpus encode pass --
    # standing up codes + index costs one encode, not two (measured
    # -146 s of the 1e6-vector build, TOPK_SCALE.json)
    if corpus_codes is not None:
        assigned = assign_to_centroids(
            corpus, centroids.select("cid", "centroid"), corpus_id, corpus_vec, dim
        ).withColumnRenamed("cluster_id", "cid")
        return (
            assigned.join(corpus_codes.select("vec_id", "codes"), "vec_id")
            .select("vec_id", "cid", "codes")
            .repartition("cid")
        )
    return _build_ivfpq_index_fused(
        corpus, centroids, codebooks, m, dim, corpus_id, corpus_vec
    ).repartition("cid")


def _build_ivfpq_index_fused(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    corpus_id: str,
    corpus_vec: str,
) -> DataFrame:
    """One Arrow pass -> ``(vec_id, cid, codes)``: per batch the
    assignment kernel and the encode kernel on the same float64 matrix,
    so there is one corpus pass and no vec_id join pairing two outputs
    of the same input row."""
    import numpy as np
    import pandas as pd

    from .similarity import _argmax_cosine, _centroid_arrays

    d_sub = dim // m
    # ONE collect for both bounded artifact frames (r19): centroids and
    # codebooks are independent kilobyte-sized frames that used to
    # collect in two sequential driver jobs; a tagged union ships the
    # same rows in one job (both lineages materialize together).  Tags
    # split the rows back apart; per-frame values are untouched (the
    # cast widens a float32 stride-sample centroid exactly).
    tagged = (
        centroids.select(
            F.lit(0).alias("__t"),
            F.col("cid").alias("__a"),
            F.lit(None).cast("long").alias("__b"),
            F.col("centroid").cast("array<double>").alias("__v"),
        )
        .unionAll(
            codebooks.select(
                F.lit(1).alias("__t"),
                F.col("s").cast("long").alias("__a"),
                F.col("code").cast("long").alias("__b"),
                F.col("cvec").alias("__v"),
            )
        )
        .collect()
    )
    cids, K, kn = _centroid_arrays(
        [(r["__a"], r["__v"]) for r in tagged if r["__t"] == 0], dim
    )
    per_s = _codebook_arrays(
        [(r["__a"], r["__b"], r["__v"]) for r in tagged if r["__t"] == 1], m
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[corpus_id].to_numpy()
            V = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cid": _argmax_cosine(V, K, kn, cids),
                    "codes": list(_pq_codes(V, ids, per_s, d_sub)),
                }
            )

    return corpus.select(
        F.col(corpus_id).alias(corpus_id), F.col(corpus_vec).alias(corpus_vec)
    ).mapInPandas(gen, schema="vec_id long, cid long, codes array<int>")


def train_pq_codebooks(
    corpus: DataFrame,
    iters: int = 1,
    m: int = 8,
    k_sub: int = 16,
    stride: int = 31,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Lloyd-refined PQ codebooks as pure DataFrame aggregations.

    The subvector analogue of ``train_ivf_centroids``: init from the
    deterministic :func:`pq_codebooks` stride sample, then per round
    (1) encode the corpus against the current codebooks (fixed-point L2
    argmin, :func:`pq_encode`) and (2) recompute each
    (subspace, code) centroid as the mean of its assigned subvectors --
    one ``posexplode`` to (vec_id, s, code) rows and ONE ``groupBy(s,
    code)`` whose d_sub ``avg`` columns combine map-side, so the
    exchange carries m*k_sub x d_sub doubles, never subvector data.
    Means round to ``round_digits`` for cross-run reproducibility.

    Codes that lose all members drop out of the aggregation, so after
    each round surviving codes are RE-DENSIFIED (re-ranked 0..k'-1 per
    subspace by old code order).  This is load-bearing, not cosmetic:
    the ADC LUT in :func:`pq_topk` is packed positionally
    (``lutarr[s][code+1]``), so a gap in the code domain would make
    every later code read its neighbour's LUT entry and the largest
    code read past the array (NULL score) -- silently corrupted
    rankings.  The re-rank window partitions by ``s`` over <= k_sub
    rows, never corpus data.  Each round's encode collects the
    previous round's bounded (m x k_sub x d_sub) codebook frame while
    the plan is built, so rounds 1..iters-1 run at construction.

    Measured (TOPK_RECALL.json, k_sub=32, expand=16): one round lifts
    pq_topk recall@5 from 0.82 to 0.90 (n=500) and 0.70 to 0.80
    (n=2000); a second round regresses slightly on this corpus -- the
    same 1-round plateau train_ivf_centroids showed, so iters=1 is the
    default.
    """
    d_sub = dim // m
    cb = pq_codebooks(corpus, m, k_sub, stride, dim, corpus_id, corpus_vec)
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("__cv")
    )
    for _ in range(iters):
        enc = pq_encode(corpus, cb, m, dim, corpus_id, corpus_vec)
        exploded = (
            c.join(enc, "vec_id")
            .select("vec_id", "__cv", F.posexplode("codes").alias("s", "code"))
            .select(
                "s",
                "code",
                F.slice(
                    F.transform("__cv", lambda x: x.cast("double")),
                    F.col("s") * d_sub + 1,
                    d_sub,
                ).alias("subvec"),
            )
        )
        cb = (
            exploded.groupBy("s", "code")
            .agg(
                *[
                    F.round(F.avg(F.col("subvec").getItem(i)), round_digits).alias(
                        f"__m{i}"
                    )
                    for i in range(d_sub)
                ]
            )
            .select(
                "s",
                "code",
                F.array(*[F.col(f"__m{i}") for i in range(d_sub)]).alias("cvec"),
            )
            # re-densify: emptied cells leave gaps in the code domain,
            # which the positional ADC LUT cannot tolerate (see
            # docstring).  <= k_sub rows per subspace partition.
            .withColumn(
                "code",
                (
                    F.row_number().over(
                        Window.partitionBy("s").orderBy(F.col("code").asc())
                    )
                    - 1
                ).cast("int"),
            )
        )
    return cb
