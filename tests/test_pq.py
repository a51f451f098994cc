"""Product-quantization search (functions/pq.py): codes, determinism,
persisted-codes path, and plan shape."""

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.pq import (
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from data_stream_flink_user_address_spark.functions.similarity import (
    brute_force_topk,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


def _queries(spark):
    e = _emb(spark)
    return e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_codebooks_dense_codes_per_subspace(spark):
    cb = pq_codebooks(_emb(spark), m=8, k_sub=16, stride=31).collect()
    by_s = {}
    for r in cb:
        by_s.setdefault(r.s, []).append(r.code)
        assert len(r.cvec) == 8
    assert set(by_s) == set(range(8))
    for s, codes in by_s.items():
        assert sorted(codes) == list(range(16)), s  # dense 0..k-1


def test_encode_emits_one_codes_row_per_vector(spark):
    e = _emb(spark)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    codes = pq_encode(e, cb, m=8).collect()
    assert len(codes) == e.count()
    for r in codes:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_pq_topk_high_recall_with_expand(spark):
    e = _emb(spark)
    q = _queries(spark)
    exact = {
        (r.query_id, r.vec_id) for r in brute_force_topk(e, q, k=10).collect()
    }
    got_rows = pq_topk(e, q, k=10, expand=16, k_sub=32, stride=15).collect()
    got = {(r.query_id, r.vec_id) for r in got_rows}
    # survivors are EXACT-rescored, so every returned pair that is in
    # the true top-10 carries the true cosine; recall just has to clear
    # a sane bar on this uniform-random (hardest-case) corpus
    assert len(got & exact) / len(exact) >= 0.8
    # self-match must always survive candidate generation
    for r in got_rows:
        if r.query_id == r.vec_id:
            assert r.rank == 1 and r.cosine == 1.0


def test_persisted_codes_path_matches_on_the_fly(spark, tmp_path):
    e = _emb(spark)
    q = _queries(spark)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    codes_path = str(tmp_path / "pq_codes")
    pq_encode(e, cb, m=8).write.parquet(codes_path)
    codes = spark.read.parquet(codes_path)

    fly = pq_topk(e, q, k=5, expand=8, k_sub=16, stride=31).collect()
    persisted = pq_topk(
        e, q, k=5, expand=8, k_sub=16, stride=31,
        corpus_codes=codes, codebooks=cb,
    ).collect()
    assert {tuple(r) for r in fly} == {tuple(r) for r in persisted}


def test_pq_plan_no_cartesian_and_partial_topk(spark):
    buf = io.StringIO()
    topk = pq_topk(_emb(spark), _queries(spark), k=5, expand=8)
    with contextlib.redirect_stdout(buf):
        topk.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # partial per-partition top-k


def test_ivfpq_recall_not_below_probe_set(spark):
    """IVF-PQ's exact rescore must recover IVF-flat's recall at the same
    probes whenever expand covers the probed candidate pool."""
    from data_stream_flink_user_address_spark.functions.pq import ivfpq_topk
    from data_stream_flink_user_address_spark.functions.similarity import ivf_topk

    e = _emb(spark)
    q = _queries(spark)
    flat = {(r.query_id, r.vec_id) for r in
            ivf_topk(e, q, k=10, centroid_stride=31, nprobe=3).collect()}
    # expand large enough that every probed vector survives ADC ranking
    got = {(r.query_id, r.vec_id) for r in
           ivfpq_topk(e, q, k=10, expand=50, nprobe=3, centroid_stride=31,
                      k_sub=16, stride=31).collect()}
    assert got == flat


def _oracle_corpus(spark, con):
    """The sf0.001 corpus plus a zero vector (norm guard) and an exact
    duplicate of vec 0 (cosine and distance ties), as the Spark frame
    and as the DuckDB ``embeddings`` view the oracle SQL reads."""
    src = os.path.join(SF, "embeddings.parquet")
    con.execute(f"""
        CREATE OR REPLACE VIEW embeddings AS
        SELECT vec_id, embedding FROM read_parquet('{src}')
        UNION ALL SELECT 90001, list_transform(range(64), x -> 0.0::FLOAT)
        UNION ALL SELECT 90002, embedding FROM read_parquet('{src}') WHERE vec_id = 0
    """)
    e = _emb(spark).select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(90001, [0.0] * 64)], "vec_id long, embedding array<float>"
    ).union(
        e.filter(F.col("vec_id") == 0).select(
            F.lit(90002).cast("long").alias("vec_id"), "embedding"
        )
    )
    return e, e.union(extra)


def test_assign_kernel_matches_oracle_sql(spark):
    """The assignment kernel against the DuckDB oracle's argmax-cosine
    SQL (``_sql_cosine``, ``round(cos, 6) DESC, cid ASC``) on a corpus
    with a zero vector and a duplicate vector, and a centroid set with
    a duplicate centroid under a larger cid, so every vector nearest to
    it is an exact tie the smaller cid must win."""
    import duckdb

    import __spark_entry__ as entrymod
    from data_stream_flink_user_address_spark.functions.similarity import (
        assign_to_centroids,
    )

    con = duckdb.connect()
    e, corpus = _oracle_corpus(spark, con)
    con.execute("""
        CREATE TABLE cent AS
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 90000
        UNION ALL
        SELECT 99999, embedding::DOUBLE[] FROM embeddings WHERE vec_id = 31
    """)
    cos = entrymod._sql_cosine("c.embedding", "k.cvec")
    want = sorted(con.execute(f"""
        SELECT vec_id, cid FROM (
          SELECT c.vec_id, k.cid,
                 row_number() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY round({cos}, 6) DESC, k.cid ASC) AS rn
          FROM embeddings c CROSS JOIN cent k
        ) WHERE rn = 1
    """).fetchall())
    con.close()

    seeds = e.filter(F.col("vec_id") % 31 == 0)
    cent = seeds.union(
        seeds.filter(F.col("vec_id") == 31).select(
            F.lit(99999).cast("long").alias("vec_id"), "embedding"
        )
    ).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    got = sorted(
        map(tuple, assign_to_centroids(corpus, cent, "vec_id", "embedding", 64).collect())
    )
    assert got == want
    assert 99999 not in {cid for _, cid in got}


def test_pq_encode_kernel_matches_oracle_sql(spark):
    """The encode kernel against the ``similarity_ivfpq_topk`` oracle's
    own encode CTE over its finite-vector subset (fixed-point L2
    argmin, ties to the smaller code),
    with both the raw stride-seeded codebooks and Lloyd-trained
    (re-densified, possibly ragged) codebooks."""
    import re

    import duckdb

    import __spark_entry__ as entrymod
    from data_stream_flink_user_address_spark.functions.pq import (
        train_pq_codebooks,
    )

    enc_cte = re.search(
        r"\benc AS \((.*?)\),\s*lut AS",
        entrymod.oracle_sql()["similarity_ivfpq_topk"],
        re.S,
    ).group(1)
    con = duckdb.connect()
    e, corpus = _oracle_corpus(spark, con)
    for cb in (
        pq_codebooks(e, m=8, k_sub=16, stride=31),
        train_pq_codebooks(e, iters=1, m=8, k_sub=16, stride=31),
    ):
        con.execute("CREATE OR REPLACE TABLE cb (s INTEGER, code INTEGER, cvec DOUBLE[])")
        con.executemany(
            "INSERT INTO cb VALUES (?, ?, ?)",
            [(r["s"], r["code"], list(r["cvec"])) for r in cb.collect()],
        )
        want = sorted(
            (vec_id, tuple(codes))
            for vec_id, codes in con.execute(f"""
                WITH {entrymod._FINITE_EMB_CTE}, enc AS ({enc_cte})
                SELECT vec_id, list(code ORDER BY s) FROM enc GROUP BY vec_id
            """).fetchall()
        )
        got = sorted(
            (r["vec_id"], tuple(r["codes"]))
            for r in pq_encode(corpus, cb, m=8).collect()
        )
        assert got == want
    con.close()


def test_build_ivfpq_index_rejects_non_finite_vector(spark):
    """A NaN component has no fixed-point code: the encode must fail
    naming the vector, not cast the NaN distance to an arbitrary
    integer and hand the vector code 0."""
    import pytest

    from data_stream_flink_user_address_spark.functions.pq import (
        build_ivfpq_index,
    )

    e = _emb(spark).select("vec_id", "embedding")
    corpus = e.union(
        spark.createDataFrame(
            [(90003, [0.1] * 5 + [float("nan")] + [0.1] * 58)],
            "vec_id long, embedding array<float>",
        )
    )
    cent = e.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    with pytest.raises(Exception, match="vec_id 90003"):
        build_ivfpq_index(corpus, cent, cb, m=8).collect()


def test_ivfpq_persisted_index_matches_on_the_fly(spark, tmp_path):
    from data_stream_flink_user_address_spark.functions.pq import ivfpq_topk
    from data_stream_flink_user_address_spark.functions.similarity import (
        assign_to_centroids,
    )

    e = _emb(spark)
    q = _queries(spark)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    cent = (
        e.filter(F.col("vec_id") % 31 == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
        )
    )
    index = (
        assign_to_centroids(e, cent, "vec_id", "embedding", 64)
        .withColumnRenamed("cluster_id", "cid")
        .join(pq_encode(e, cb, m=8), "vec_id")
    )
    path = str(tmp_path / "ivfpq_index")
    index.write.partitionBy("cid").parquet(path)
    persisted = spark.read.parquet(path)

    fly = ivfpq_topk(e, q, k=5, expand=8, nprobe=3, centroid_stride=31,
                     k_sub=16, stride=31).collect()
    per = ivfpq_topk(e, q, k=5, expand=8, nprobe=3, centroid_stride=31,
                     k_sub=16, stride=31,
                     corpus_index=persisted, codebooks=cb).collect()
    assert {tuple(r) for r in fly} == {tuple(r) for r in per}


def test_trained_codebooks_shape_and_determinism(spark):
    from data_stream_flink_user_address_spark.functions.pq import (
        train_pq_codebooks,
    )

    e = _emb(spark)
    cb1 = train_pq_codebooks(e, iters=1, m=8, k_sub=16, stride=31)
    rows = cb1.collect()
    assert all(len(r.cvec) == 8 for r in rows)
    by_s = {}
    for r in rows:
        by_s.setdefault(r.s, set()).add(r.code)
    assert set(by_s) == set(range(8))
    # rounded means -> bit-identical across runs
    again = {(r.s, r.code): tuple(r.cvec) for r in
             train_pq_codebooks(e, iters=1, m=8, k_sub=16, stride=31).collect()}
    assert {(r.s, r.code): tuple(r.cvec) for r in rows} == again


def test_trained_codebooks_redensify_after_cell_drop(spark):
    """A codebook cell that loses all members must not leave a gap in
    the code domain: the ADC LUT is packed positionally, so a gap makes
    every later code read the wrong LUT entry and the largest code read
    past the array (NULL approx score) -- the ADVICE r9 finding.

    Seeds 0 and 1 are identical vectors, so code 1 never wins an argmin
    (ties break to the smaller code) and drops after one Lloyd round;
    post-fix the surviving codes re-densify to 0..k'-1."""
    from data_stream_flink_user_address_spark.functions.pq import (
        train_pq_codebooks,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # duplicate seed -> code 1 starves
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 1.0]),
        (4, [0.9, 0.1, 0.0, 0.0]),
        (5, [0.1, 0.9, 0.0, 0.0]),
        (6, [0.0, 0.1, 0.9, 1.0]),
        (7, [0.2, 0.8, 0.1, 0.0]),
    ]
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    cb = train_pq_codebooks(corpus, iters=1, m=2, k_sub=4, stride=1, dim=4)
    by_s = {}
    for r in cb.collect():
        by_s.setdefault(r.s, []).append(r.code)
    for s, codes in by_s.items():
        assert sorted(codes) == list(range(len(codes))), (s, codes)
        assert len(codes) < 4, "cell drop did not occur; test is vacuous"

    # encode against the trained books: every emitted code must index a
    # live LUT slot (code < k' for its subspace) -- fails pre-fix
    enc = pq_encode(corpus, cb, m=2, dim=4).collect()
    for r in enc:
        for s, c in enumerate(r.codes):
            assert 0 <= c < len(by_s[s]), (r.vec_id, s, c, by_s[s])

    # end-to-end: ADC with the trained books must keep self-matches
    q = corpus.limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = pq_topk(
        corpus, q, k=2, expand=2, m=2, k_sub=4, stride=1, dim=4, codebooks=cb
    ).collect()
    self_ranks = {r.query_id: r.rank for r in got if r.query_id == r.vec_id}
    for qid, rank in self_ranks.items():
        assert rank <= 2, (qid, rank)
    assert all(r.cosine is not None for r in got)


def test_persisted_codes_scan_reads_no_float_column(spark, tmp_path):
    """With a persisted codes table, ADC candidate generation must scan
    only (vec_id, codes) -- the 8-byte layout; floats enter in the
    rescore scan alone (same contract as the SQ8 layout test)."""
    e = _emb(spark)
    floats_path = str(tmp_path / "pq_floats")
    codes_path = str(tmp_path / "pq_codes")
    e.write.parquet(floats_path)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    pq_encode(e, cb, m=8).write.parquet(codes_path)

    floats = spark.read.parquet(floats_path)
    codes = spark.read.parquet(codes_path)
    q = floats.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = pq_topk(floats, q, k=5, expand=8, k_sub=16, stride=31,
                   corpus_codes=codes, codebooks=cb)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        topk.explain("formatted")
    plan = buf.getvalue()
    scans = [b for b in plan.split("\n\n") if "Scan parquet" in b]
    codes_scans = [b for b in scans if "pq_codes" in b]
    assert codes_scans, plan
    for b in codes_scans:
        schema_line = b.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "codes" in schema_line, schema_line
        assert "embedding" not in schema_line, (
            "ADC stage must not read the float column: " + schema_line
        )


def test_driver_pq_query_adc_reads_materialized_codes_not_floats(spark):
    """The shipped similarity_pq_topk config under the r18 honest-
    recompute contract: training + corpus encode run IN the invocation
    and are materialized once via lazy localCheckpoint, so the query
    plan's ADC side consumes the checkpointed compact frames
    (ExistingRDD leaves whose output carries ``codes``, never the
    ``embedding`` float column) -- the float corpus enters the plan
    only through the rescore/query-side parquet scans.  This replaces
    the pre-r18 persisted-cache plan pin (the cross-run artifact cache
    was removed by the optimization-round contract); the enduring
    claim -- the ADC stage never re-derives or re-reads the float
    corpus -- is unchanged."""
    import io
    import contextlib
    import __spark_entry__ as entrymod

    df = entrymod._q_similarity_pq_topk(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "posexplode" not in plan, (
        "training stage (train_pq_codebooks posexplode) found in the "
        "query plan -- codebooks must be materialized once per call, "
        "not re-derived inline"
    )
    rdd_leaves = [b for b in plan.split("\n\n") if "Scan ExistingRDD" in b]
    code_leaves = [b for b in rdd_leaves if "codes" in b]
    assert code_leaves, plan
    for b in code_leaves:
        assert "embedding" not in b, (
            "ADC stage must not read the float column: " + b
        )


def test_driver_ivfpq_query_adc_reads_materialized_index_not_floats(spark):
    """The shipped similarity_ivfpq_topk config under the r18 honest-
    recompute contract: the (vec_id, cid, codes) index is built in the
    invocation and materialized once (lazy localCheckpoint), so the
    probe's ADC stage consumes the checkpointed compact rows
    (ExistingRDD leaves carrying ``codes``, never the ``embedding``
    float column) -- the float corpus is read exactly once, by the
    build, and enters the final plan only through the rescore/query
    scans.  The enduring VERDICT r10 claim -- the ADC scan never
    touches the float corpus -- is unchanged; the write-once
    cid-partitioned production layout stays covered by
    test_build_ivfpq_index_matches_inline_derivation below."""
    import io
    import contextlib
    import __spark_entry__ as entrymod

    df = entrymod.queries()["similarity_ivfpq_topk"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    rdd_leaves = [b for b in plan.split("\n\n") if "Scan ExistingRDD" in b]
    idx_leaves = [b for b in rdd_leaves if "codes" in b]
    assert idx_leaves, plan
    for b in idx_leaves:
        assert "embedding" not in b, (
            "ADC stage must not read the float column: " + b
        )


def test_build_ivfpq_index_matches_inline_derivation(spark, tmp_path):
    """build_ivfpq_index persisted + read back must give ivfpq_topk the
    same results as the on-the-fly derivation with the same centroids
    and codebooks."""
    from data_stream_flink_user_address_spark.functions.pq import (
        build_ivfpq_index,
        ivfpq_topk,
    )
    from data_stream_flink_user_address_spark.functions.similarity import (
        train_ivf_centroids,
    )

    e = _emb(spark)
    q = _queries(spark)
    cent = train_ivf_centroids(e, iters=1, centroid_stride=31, k_cent=16)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    idx_path = str(tmp_path / "idx")
    build_ivfpq_index(e, cent, cb).write.partitionBy("cid").parquet(idx_path)
    idx = spark.read.parquet(idx_path).withColumn(
        "cid", F.col("cid").cast("long")
    )

    inline = ivfpq_topk(e, q, k=5, expand=8, centroids=cent, codebooks=cb)
    persisted = ivfpq_topk(
        e, q, k=5, expand=8, corpus_index=idx, codebooks=cb, centroids=cent
    )
    assert sorted(map(tuple, inline.collect())) == \
        sorted(map(tuple, persisted.collect()))

    # corpus_codes passthrough (the encode-once build): identical index
    # rows to the internal-encode path, given the same codebooks
    codes_path = str(tmp_path / "codes")
    pq_encode(e, cb, m=8).write.parquet(codes_path)
    via_codes = build_ivfpq_index(
        e, cent, cb, corpus_codes=spark.read.parquet(codes_path)
    )
    assert sorted(map(tuple, via_codes.collect())) == sorted(
        map(tuple, build_ivfpq_index(e, cent, cb).collect())
    )


def test_append_to_ivfpq_index_matches_full_rebuild(spark, tmp_path):
    """Building on half the corpus then appending the other half must
    give ivfpq_topk the same persisted index contents -- and therefore
    the same search results -- as building over everything at once
    (same centroids + codebooks both times)."""
    from data_stream_flink_user_address_spark.functions.pq import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_topk,
    )
    from data_stream_flink_user_address_spark.functions.similarity import (
        train_ivf_centroids,
    )

    e = _emb(spark)
    q = _queries(spark)
    cent = train_ivf_centroids(e, iters=1, centroid_stride=31, k_cent=16)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)

    full_path = str(tmp_path / "full")
    build_ivfpq_index(e, cent, cb).write.partitionBy("cid").parquet(full_path)

    half_path = str(tmp_path / "half")
    old = e.filter(F.col("vec_id") % 2 == 0)
    new = e.filter(F.col("vec_id") % 2 == 1)
    build_ivfpq_index(old, cent, cb).write.partitionBy("cid").parquet(half_path)
    append_to_ivfpq_index(new, cent, cb, half_path)

    full = spark.read.parquet(full_path)
    grown = spark.read.parquet(half_path)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, grown.collect()))

    kw = dict(k=5, expand=8, nprobe=3, codebooks=cb, centroids=cent)
    a = ivfpq_topk(e, q, corpus_index=full.withColumn(
        "cid", F.col("cid").cast("long")), **kw).collect()
    b = ivfpq_topk(e, q, corpus_index=grown.withColumn(
        "cid", F.col("cid").cast("long")), **kw).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_streaming_embedding_near_dup_gates_against_corpus(spark, tmp_path):
    """Incoming near-copies of corpus vectors are dropped; novel vectors
    are admitted -- across micro-batches, via the persisted PQ index."""
    import json as _json

    from data_stream_flink_user_address_spark.functions.dedup import (
        streaming_embedding_near_dup,
    )

    e = _emb(spark)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    codes_path = str(tmp_path / "codes")
    pq_encode(e, cb, m=8).write.parquet(codes_path)
    codes = spark.read.parquet(codes_path)

    # feed: ids 10000+ -- exact copies of corpus vectors 0..4 (dups)
    # plus 5 alternating-sign novel vectors nothing in the corpus matches
    corpus_rows = {r.vec_id: list(r.embedding) for r in e.filter(F.col("vec_id") < 5).collect()}
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    batch1 = [
        {"vec_id": 10000 + i, "embedding": corpus_rows[i]} for i in range(3)
    ] + [
        {"vec_id": 10100 + i, "embedding": [(1.0 if (j + i) % 2 else -1.0) for j in range(64)]}
        for i in range(2)
    ]
    batch2 = [
        {"vec_id": 10003 + i, "embedding": corpus_rows[3 + i]} for i in range(2)
    ] + [
        {"vec_id": 10200 + i, "embedding": [(1.0 if (j + i) % 2 else -1.0) * (1 + j / 64.0) for j in range(64)]}
        for i in range(3)
    ]
    with open(feed_dir / "b1.json", "w") as f:
        for r in batch1:
            f.write(_json.dumps(r) + "\n")

    stream = spark.readStream.schema("vec_id long, embedding array<float>").option(
        "maxFilesPerTrigger", 1
    ).json(str(feed_dir))
    out = str(tmp_path / "kept")
    q = streaming_embedding_near_dup(
        stream, e, codes, cb, out, str(tmp_path / "ckpt"), threshold=0.99
    )
    try:
        q.processAllAvailable()
        with open(feed_dir / "b2.json", "w") as f:
            for r in batch2:
                f.write(_json.dumps(r) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    kept = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert kept == {10100, 10101, 10200, 10201, 10202}, kept


def test_streaming_near_dup_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch re-runs an epoch when the sink write lands but the
    checkpoint commit does not; replaying the SAME epoch must not
    duplicate survivors (VERDICT r10 wrong #1), while a NEW epoch still
    accumulates."""
    from data_stream_flink_user_address_spark.functions.dedup import (
        _near_dup_gate_batch,
    )

    e = _emb(spark)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    codes = pq_encode(e, cb, m=8)
    novel = spark.createDataFrame(
        [(20000 + i, [(1.0 if (j + i) % 2 else -1.0) for j in range(64)])
         for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp_path / "kept")

    _near_dup_gate_batch(novel, 0, e, codes, cb, out, threshold=0.99)
    once = sorted(r.vec_id for r in spark.read.parquet(out).collect())
    _near_dup_gate_batch(novel, 0, e, codes, cb, out, threshold=0.99)  # replay
    twice = sorted(r.vec_id for r in spark.read.parquet(out).collect())
    assert once == twice == [20000, 20001, 20002]

    # a genuinely new epoch appends alongside epoch 0
    novel2 = novel.withColumn("vec_id", F.col("vec_id") + 100)
    _near_dup_gate_batch(novel2, 1, e, codes, cb, out, threshold=0.99)
    both = sorted(r.vec_id for r in spark.read.parquet(out).collect())
    assert both == [20000, 20001, 20002, 20100, 20101, 20102]


def test_streaming_near_dup_rejects_legacy_flat_layout(spark, tmp_path):
    """Resuming over an out_path populated by the pre-__epoch
    flat-append layout must fail fast (r11 ADVICE): mixing root part
    files with __epoch=N/ directories is unreadable, so the sink
    refuses to start rather than corrupt the directory."""
    import pytest

    from data_stream_flink_user_address_spark.functions.dedup import (
        streaming_embedding_near_dup,
    )

    e = _emb(spark)
    cb = pq_codebooks(e, m=8, k_sub=16, stride=31)
    codes = pq_encode(e, cb, m=8)
    out = str(tmp_path / "kept")
    # old-layout sink output: flat part files, no __epoch partition
    e.limit(2).write.parquet(out)

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    (feed_dir / "b.json").write_text(
        '{"vec_id": 1, "embedding": [' + ",".join(["0.5"] * 64) + "]}\n"
    )
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(
        str(feed_dir)
    )
    with pytest.raises(ValueError, match="flat-append"):
        streaming_embedding_near_dup(
            stream, e, codes, cb, out, str(tmp_path / "ckpt"), threshold=0.99
        )

    # an already-partitioned out_path still starts (and is stoppable)
    out2 = str(tmp_path / "kept2")
    e.limit(2).withColumn("__epoch", F.lit(-1)).write.partitionBy(
        "__epoch"
    ).parquet(out2)
    q = streaming_embedding_near_dup(
        stream, e, codes, cb, out2, str(tmp_path / "ckpt2"), threshold=0.99
    )
    q.stop()
