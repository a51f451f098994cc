"""Property-based tests (hypothesis) for the operators whose edge cases
are combinatorial rather than enumerable by hand:

- the ngram-Jaccard bitmap rescore vs its string-array twin across
  random corpora (vocab sizes crossing 64-bit word boundaries, docs
  sharing everything/nothing, duplicate docs);
- hash_split totality + hash_sample threshold nesting across random
  fraction vectors;
- pii_redact count/placeholder agreement on randomly assembled text.

Each example builds one small DataFrame with many generated rows, so a
handful of examples covers a wide input space without paying Spark job
latency per row.  max_examples stays small; determinism comes from the
operators, not from seeds.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_WORDS = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
_texts = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=2,
    max_size=14,
)


@settings(**_SETTINGS)
@given(_texts)
def test_ngram_bitmap_equals_array_on_random_corpora(spark, texts):
    from data_stream_flink_user_address_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    kw = dict(n=3, threshold=0.0, max_shingle_freq=len(texts))
    bitmap = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, bitmap_vocab_limit=65536, **kw).collect()
    }
    array = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, bitmap_vocab_limit=None, **kw).collect()
    }
    assert bitmap == array


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=50, unique=True),
    st.integers(min_value=0, max_value=2**31),
)
def test_hash_split_total_and_sample_nesting(spark, keys, seed):
    from data_stream_flink_user_address_spark.functions.sampling import (
        hash_sample,
        hash_split,
    )

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            df, {"a": 0.3, "b": 0.3, "c": 0.4}, seed=seed
        ).collect()
    }
    assert set(got) == set(keys)  # total: every key labeled exactly once
    assert set(got.values()) <= {"a", "b", "c"}
    small = {r["doc_id"] for r in hash_sample(df, 0.2, seed=seed).collect()}
    large = {r["doc_id"] for r in hash_sample(df, 0.7, seed=seed).collect()}
    assert small <= large  # thresholds nest


_pii_bits = st.lists(
    st.sampled_from(
        [
            "x@y.io",
            "a.b@example.com",
            "10.0.0.1",
            "123-45-6789",
            "555-123-4567",
            "plain",
            "word",
            "42",
            "",
        ]
    ),
    min_size=0,
    max_size=12,
)


@settings(**_SETTINGS)
@given(st.lists(_pii_bits, min_size=1, max_size=10))
def test_pii_counts_match_placeholders(spark, rows):
    from data_stream_flink_user_address_spark.functions.curation import pii_redact

    df = spark.createDataFrame(
        [(i, " ".join(bits)) for i, bits in enumerate(rows)],
        "doc_id int, text string",
    )
    for r in pii_redact(df).collect():
        red = r["redacted"]
        assert r["n_email"] == len(re.findall(r"\[EMAIL\]", red))
        assert r["n_ssn"] == len(re.findall(r"\[SSN\]", red))
        assert r["n_phone"] == len(re.findall(r"\[PHONE\]", red))
        assert r["n_ipv4"] == len(re.findall(r"\[IP\]", red))
        # redaction is complete: no raw PII token survives
        assert "@" not in red.replace("[EMAIL]", "")


# ---------------------------------------------------------------------------
# SCD2 vs a sequential Python reference model
# ---------------------------------------------------------------------------

_scd2_cases = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),          # key
        st.sampled_from(["A", "B", "C"]),              # new segment
        st.integers(min_value=1, max_value=30),         # day offset (ts)
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda t: (t[0], t[2]),                   # (key, ts) unique
)


@settings(**_SETTINGS)
@given(_scd2_cases)
def test_scd2_matches_sequential_model(spark, changes):
    from datetime import datetime, timedelta

    from data_stream_flink_user_address_spark.operators.scd2 import scd2_apply

    base = datetime(2020, 1, 1)
    cur_rows = [(k, "S", base, None, True) for k in (1, 2, 3, 4)]
    ch_rows = [(k, seg, base + timedelta(days=d)) for k, seg, d in changes]

    out = scd2_apply(
        spark.createDataFrame(
            cur_rows,
            "k long, seg string, valid_from timestamp, valid_to timestamp, is_current boolean",
        ),
        spark.createDataFrame(ch_rows, "k long, seg string, change_ts timestamp"),
        key_cols=["k"],
        tracked_cols=["seg"],
    )
    got = sorted((r.k, r.seg, r.valid_from, r.valid_to, r.is_current) for r in out.collect())

    # sequential reference: replay each key's changes in ts order,
    # skipping no-ops, closing the previous version at each survivor
    expect = []
    for k in (1, 2, 3, 4):
        versions = [("S", base)]
        for kk, seg, d in sorted(changes, key=lambda t: t[2]):
            if kk == k and seg != versions[-1][0]:
                versions.append((seg, base + timedelta(days=d)))
        for (seg, ts), nxt in zip(versions, versions[1:] + [None]):
            expect.append(
                (k, seg, ts, nxt[1] if nxt else None, nxt is None)
            )
    assert got == sorted(expect)


_pack_docs = st.lists(
    st.integers(min_value=0, max_value=40),   # token counts incl. empty docs
    min_size=1,
    max_size=30,
)


@settings(**_SETTINGS)
@given(_pack_docs, st.integers(min_value=2, max_value=17))
def test_sequence_pack_matches_sequential_prefix_sum(spark, sizes, seq_len):
    from data_stream_flink_user_address_spark.functions.packing import (
        sequence_pack_offsets,
    )

    # sparse, unordered doc ids exercise the bucketing
    rows = [(i * 13 + 5, " ".join(["w"] * n)) for i, n in enumerate(sizes)]
    out = sequence_pack_offsets(
        spark.createDataFrame(rows, "doc_id long, text string"),
        seq_len=seq_len,
        sep_tokens=1,
        bucket_size=4,
    )
    got = {r.doc_id: r for r in out.collect()}

    off = 0
    for doc_id, text in sorted(rows):
        n = len(text.split()) if text else 0
        r = got[doc_id]
        assert (r.n_tokens, r.start_offset, r.end_offset) == (n, off, off + n)
        assert r.first_chunk == off // seq_len
        assert r.last_chunk == (max(off + n - 1, off)) // seq_len
        off += n + 1


def _bpe_reference(word_counts, n_merges):
    """Sequential reference BPE trainer: dict-based, the textbook
    algorithm, for cross-checking the distributed fold."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    rules = []
    for rank in range(1, n_merges + 1):
        pairs = {}
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] = pairs.get(
                    (sym[i], sym[i + 1]), 0
                ) + c
        if not pairs:
            break
        # max count, ties on (left, right) ascending
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((rank, l, r, l + r, c))
        nxt = {}
        for sym, cnt in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + cnt
        # re-key by original word is lost; counts merge identically
        vocab = nxt
    return rules


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=5),
            min_size=1, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=6,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_bpe_train_matches_sequential_reference(spark, texts, n_merges):
    from data_stream_flink_user_address_spark.functions.text import bpe_train

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train(df, n_merges).collect()
    ]
    counts = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    assert got == _bpe_reference(counts, n_merges)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet="ab <>&;x/=\"'" + "ltgqunps#39",  # entity/tag chars
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=10,
    )
)
def test_strip_markup_matches_python_reference(spark, texts):
    from data_stream_flink_user_address_spark.functions.text import (
        _HTML_ENTITIES, strip_markup,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = {r.doc_id: r for r in strip_markup(df).collect()}
    for i, t in enumerate(texts):
        clean = re.sub(r"<[^>]*>", " ", t)
        for ent, ch in _HTML_ENTITIES:
            clean = clean.replace(ent, ch)
        clean = re.sub(r"\s+", " ", clean).strip()
        assert got[i].text == clean, (t, got[i].text, clean)
        assert got[i].n_tags == len(re.findall(r"<[^>]*>", t))
        assert got[i].n_chars_removed == len(t) - len(clean)


@settings(**_SETTINGS)
@given(
    st.lists(st.sampled_from(["s0", "s1", "s2", None]), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=6),
)
def test_per_source_cap_invariants(spark, sources, cap):
    from data_stream_flink_user_address_spark.functions.sampling import (
        per_source_cap,
    )

    df = spark.createDataFrame(
        list(enumerate(sources)), "doc_id int, source string"
    )
    out = per_source_cap(df, cap=cap).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.src_rank)
    want = {}
    for s in sources:
        want[s] = want.get(s, 0) + 1
    for s, n in want.items():
        k = min(cap, n)
        # exactly min(cap, size) survivors per source (NULL included),
        # ranked 1..k
        assert sorted(by_src.get(s, [])) == list(range(1, k + 1)), s


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),  # stratum
            st.integers(min_value=0, max_value=50),  # score
        ),
        min_size=4,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_quality_cuts_bounded_and_monotone(spark, rows, n_buckets):
    """quality_bucket_cuts on arbitrary (stratum, score) frames: every
    bucket lands in [1, n_buckets], and within a stratum the bucket is
    monotone non-decreasing in (score) -- a higher score can never get
    a lower bucket, whatever the cut placement."""
    from pyspark.sql import Row

    from data_stream_flink_user_address_spark.functions.sampling import (
        quality_bucket_cuts,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, source=s, score=float(v)) for i, (s, v) in enumerate(rows)]
    )
    got = quality_bucket_cuts(df, "score", n_buckets=n_buckets).collect()
    assert all(1 <= r.quality_bucket <= n_buckets for r in got)
    by_stratum: dict = {}
    for r in got:
        by_stratum.setdefault(r.source, []).append((r.score, r.quality_bucket))
    for pairs in by_stratum.values():
        pairs.sort()
        for (s1, b1), (s2, b2) in zip(pairs, pairs[1:]):
            assert b1 <= b2, (s1, b1, s2, b2)
        # equal scores always share a bucket (cuts are score-pure)
        seen: dict = {}
        for s, b in pairs:
            assert seen.setdefault(s, b) == b


@settings(**_SETTINGS)
@given(
    st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=12),
    st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=12),
)
def test_bucketed_incremental_matches_plain_store(spark, tmp_path, store_texts, batch_texts):
    """The bucketed-store anti-join and the parquet-store anti-join are
    the same operator: identical survivors on arbitrary store/batch
    text multisets (dups within batch, dups against store, novel)."""
    from pyspark.sql import Row

    from data_stream_flink_user_address_spark.functions.dedup import (
        build_bucketed_fingerprint_store,
        build_fingerprint_store,
        incremental_exact_dedup,
        incremental_exact_dedup_bucketed,
    )

    store_docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(store_texts)]
    )
    batch = spark.createDataFrame(
        [Row(doc_id=100 + i, text=t) for i, t in enumerate(batch_texts)]
    )
    plain = str(tmp_path / "plain")
    build_fingerprint_store(store_docs, plain, batch_id=0)
    want = {r.doc_id for r in incremental_exact_dedup(batch, plain).collect()}
    spark.sql("DROP TABLE IF EXISTS fp_prop_t")
    build_bucketed_fingerprint_store(
        store_docs, "fp_prop_t", str(tmp_path / "bkt"), n_buckets=4
    )
    try:
        got = {
            r.doc_id
            for r in incremental_exact_dedup_bucketed(batch, "fp_prop_t").collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_prop_t")
    assert got == want


@settings(**_SETTINGS)
@given(_texts, st.integers(min_value=1, max_value=5))
def test_bpe_apply_reconstructs_words(spark, texts, n_merges):
    """Applying a trained vocabulary must SEGMENT, never alter: for
    every document, stripping the symbol separators from the encoding
    reproduces the concatenated whitespace tokens exactly -- including
    OOV documents encoded against a vocabulary from a different
    corpus."""
    from pyspark.sql import Row

    from data_stream_flink_user_address_spark.functions.text import (
        bpe_apply,
        bpe_train_and_encode,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    _, vocab = bpe_train_and_encode(corpus, n_merges=n_merges)
    # apply to a SHIFTED doc set: half in-vocab, half novel words
    targets = [Row(doc_id=100 + i, text=t) for i, t in enumerate(texts)]
    targets.append(Row(doc_id=999, text="zzz qqq"))
    out = bpe_apply(spark.createDataFrame(targets), vocab).collect()
    want = {100 + i: "".join(t.split()) for i, t in enumerate(texts)}
    want[999] = "zzzqqq"
    for r in out:
        assert r.encoded.replace(" ", "") == want[r.doc_id], r


@settings(**_SETTINGS)
@given(_texts, _texts)
def test_minhash_gate_second_pass_admits_only_subshingle(
    spark, tmp_path, store_texts, batch_texts
):
    """Feeding the SAME batch through two consecutive epochs: epoch 1
    must admit exactly the sub-shingle pass-throughs (empty signature,
    ungated by design) -- every shingle-able doc either matched the
    store in epoch 0 (still matches), survived epoch 0 (now in the
    store at agreement 1.0), or lost its within-batch cluster to a doc
    that is now in the store (agreement held in epoch 0, holds now)."""
    from pyspark.sql import Row

    from data_stream_flink_user_address_spark.functions.dedup import (
        _minhash_gate,
        build_minhash_band_store,
    )

    store_docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(store_texts)]
    )
    batch = spark.createDataFrame(
        [Row(doc_id=100 + i, text=t) for i, t in enumerate(batch_texts)]
    )
    spark.sql("DROP TABLE IF EXISTS mh_prop_idem_t")
    build_minhash_band_store(
        store_docs, "mh_prop_idem_t", str(tmp_path / "bkt"),
        n_buckets=4, epoch=-1,
    )
    # hypothesis reuses ONE tmp_path across examples (the suppressed
    # function_scoped_fixture health check) -- the epoch-partitioned
    # sink must not accumulate survivors from earlier examples
    import uuid as _uuid

    out = str(tmp_path / f"out_{_uuid.uuid4().hex}")
    try:
        _minhash_gate(
            "mh_prop_idem_t", out, "text", "doc_id", 0.7, 5, 16, 4, 4,
        )(batch, 0)
        _minhash_gate(
            "mh_prop_idem_t", out, "text", "doc_id", 0.7, 5, 16, 4, 4,
        )(batch, 1)
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_prop_idem_t")
    rows = spark.read.parquet(out).collect()
    epoch1 = {r.doc_id for r in rows if r["__epoch"] == 1}
    subshingle = {r.doc_id for r in rows if len(r.signature) == 0}
    epoch1_sub = {
        r.doc_id for r in rows if r["__epoch"] == 1 and len(r.signature) == 0
    }
    assert epoch1 == epoch1_sub
    # and the pass-throughs repeat every epoch (never stored, never gated)
    epoch0_sub = {
        r.doc_id for r in rows if r["__epoch"] == 0 and len(r.signature) == 0
    }
    assert epoch1_sub == epoch0_sub
    assert subshingle == epoch0_sub | epoch1_sub


@settings(**_SETTINGS)
@given(_texts, _texts)
def test_minhash_gate_survivor_count_is_id_invariant(
    spark, tmp_path, store_texts, batch_texts
):
    """Relabeling batch ids changes WHICH doc of a near-dup cluster
    survives (keep-min) but never HOW MANY: cluster structure, store
    matches, and sub-shingle pass-throughs are all text-determined."""
    from pyspark.sql import Row

    from data_stream_flink_user_address_spark.functions.dedup import (
        build_minhash_band_store,
        incremental_minhash_dedup,
    )

    store_docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(store_texts)]
    )
    spark.sql("DROP TABLE IF EXISTS mh_prop_inv_t")
    build_minhash_band_store(
        store_docs, "mh_prop_inv_t", str(tmp_path / "bkt"),
        n_buckets=4, epoch=-1,
    )
    try:
        counts = []
        for relabel in (lambda i: 100 + i, lambda i: 5_000 - 7 * i):
            batch = spark.createDataFrame(
                [Row(doc_id=relabel(i), text=t)
                 for i, t in enumerate(batch_texts)]
            )
            counts.append(
                incremental_minhash_dedup(batch, "mh_prop_inv_t").count()
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_prop_inv_t")
    assert counts[0] == counts[1]
