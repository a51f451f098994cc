"""Linear quality classifier over hashed n-gram features (fastText-style).

Engine extension beyond the reference surface (BASELINE.json north
star): web-scale curation pipelines gate documents with a cheap linear
text classifier trained on a labeled seed set ("does this look like the
high-quality reference corpus?").  The model here is multinomial Naive
Bayes with Laplace smoothing over hashing-trick unigram+bigram
features -- the classic linear-in-log-space filter -- chosen over
SGD-family training because NB training is a single COUNTING pass:
pure DataFrame aggregation, deterministic, no iteration, no
driver-side optimizer state.

Scale shape (n docs, t tokens/doc, V = n_features buckets):

- featurize: per-row projection (md5-hash the n-grams, drop the text
  BEFORE anything wide happens) -- zero shuffle;
- train:     explode feature hashes -> ONE groupBy(feature) count
  shuffle with map-side combine (at most V rows survive per map task),
  plus a 1-row totals aggregate (the only driver-visible scalar);
- model:     <= V rows of (feature, weight) -- a few MB at V = 2^18 --
  always broadcastable;
- apply:     map-side broadcast join + per-doc sum.  A document's
  exploded features stay inside its input partition, so partial
  aggregation collapses them to one row per (partition, doc) before
  the shuffle: the exchange carries ~n_docs 16-byte rows, never the
  feature stream.

All hashing is the repo-wide md5 idiom, so scores are bit-for-bit
re-derivable by the DuckDB oracle harness (weights rounded to 1e-9,
the repo's fixed-point determinism rule).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..streaming.epoch import start_gate_stream, write_partition
from .dedup import _md5_long
from .text import lower_ascii, tokens


def hashed_ngram_features(
    text: Column | str,
    n_features: int = 1 << 18,
    use_bigrams: bool = True,
    hash_fn: str = "md5",
) -> Column:
    """Multiset of feature hashes (array<bigint>, values in
    [0, n_features)) for a document: lowercased whitespace unigrams
    plus adjacent-pair bigrams, hashing-tricked into ``n_features``
    buckets.  Pure projection -- the text column never leaves the row.

    ``hash_fn='md5'`` (default) is the repo-wide oracle-reproducible
    idiom; ``'xxhash'`` swaps in ``xxhash64`` -- the engine's native
    codegen hash, measurably faster on the per-token stream (md5 inside
    a higher-order ``transform`` evaluates interpreted) -- for
    pipelines that don't need cross-engine score replay.  Train and
    apply must use the SAME ``hash_fn`` (it rides the model info dict).
    """
    if hash_fn not in ("md5", "xxhash"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash', got {hash_fn!r}")
    if hash_fn == "xxhash":
        def _h(c: Column) -> Column:
            return F.pmod(F.xxhash64(c), F.lit(n_features))
    else:
        def _h(c: Column) -> Column:
            return _md5_long(c) % n_features
    # lower_ascii, not F.lower: feature hashes must be engine-portable
    # (Java lowers 'İ' to TWO code points, utf8proc to one -- one such
    # char anywhere in the corpus shifts every doc's global NB score;
    # r18 unicode sweep catch)
    toks = F.transform(tokens(text), lambda t: lower_ascii(t))
    uni = F.transform(toks, lambda t: _h(t))
    if not use_bigrams:
        return uni
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], so short docs
    # must short-circuit to an empty bigram list instead
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    bi = F.when(
        F.size(toks) < 2, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            idx,
            lambda i: _h(
                F.concat(F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1))
            ),
        )
    )
    return F.concat(uni, bi)


def train_nb_quality(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    n_features: int = 1 << 18,
    use_bigrams: bool = True,
    alpha: float = 1.0,
    hash_fn: str = "md5",
    min_df: int = 1,
    features_col: str | None = None,
) -> tuple[DataFrame, dict]:
    """Train the NB quality model.  ``label_col`` is 0/1 (1 = keep).

    Returns ``(weights_df, info)``: ``weights_df`` has
    ``(feature, weight)`` rows -- weight = smoothed log-odds
    log P(f|1) - log P(f|0) -- and ``info`` carries the scalars the
    apply side needs: ``prior`` (log class-odds), ``default_weight``
    (the log-odds of a feature never seen in training -- smoothing
    makes it a nonzero constant), plus the config needed to featurize
    identically (``n_features``, ``use_bigrams``).

    One corpus pass: featurize (projection) -> explode -> ONE
    feature-keyed count shuffle; the class totals ride the same
    aggregate as a grand-total rollup (1 extra row), collected once.

    ``min_df`` prunes features with total occurrence count below the
    threshold from the WEIGHT TABLE only: hash buckets touched once or
    twice carry ~no class signal yet dominate the table's row count
    (natural-text Zipf tail), so pruning shrinks the apply-side
    broadcast/densify collect without moving accuracy.  Smoothing
    denominators still count every occurrence; a pruned feature scores
    as unseen (``default_weight``) at apply time.

    ``features_col`` names a precomputed :func:`hashed_ngram_features`
    array column to consume instead of featurizing ``text_col`` here --
    for pipelines that train AND apply on the same corpus, a
    materialized feature frame means the md5 feature hashing runs once,
    not once per consumer (the arrays are byte-identical, so counts and
    weights are unchanged).  The caller owns hash-config consistency
    (same ``n_features``/``use_bigrams``/``hash_fn`` as the ``info``
    dict this returns).
    """
    lbl = F.col(label_col).cast("long")
    feat_arr = (
        F.col(features_col)
        if features_col is not None
        else hashed_ngram_features(text_col, n_features, use_bigrams, hash_fn)
    )
    feats = df.select(lbl.alias("__y"), F.explode(feat_arr).alias("feature"))
    counts = feats.groupBy("feature").agg(
        F.sum("__y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("__y")).alias("neg"),
    )
    counts = counts.localCheckpoint(eager=False)  # referenced by totals AND weights

    # ONE collect for both bounded scalar frames (r19): the feature
    # totals and the per-class doc counts are independent 1-row
    # aggregates -- crossJoin them so a single job materializes the
    # checkpointed counts AND returns all four scalars, instead of two
    # sequential collect jobs
    tot = docs = (
        counts.agg(
            F.sum("pos").alias("pos_tot"), F.sum("neg").alias("neg_tot")
        )
        .crossJoin(
            df.agg(
                F.sum(lbl).alias("n_pos"),
                (F.count(F.lit(1)) - F.sum(lbl)).alias("n_neg"),
            )
        )
        .collect()[0]
    )
    if not docs.n_pos or not docs.n_neg:
        raise ValueError("train_nb_quality needs at least one doc of each class")

    pos_denom = float(tot.pos_tot or 0) + alpha * n_features
    neg_denom = float(tot.neg_tot or 0) + alpha * n_features
    import math

    default_w = round(
        math.log(alpha / pos_denom) - math.log(alpha / neg_denom), 9
    )
    info = {
        "prior": round(math.log(docs.n_pos / docs.n_neg), 9),
        "default_weight": default_w,
        "n_features": n_features,
        "use_bigrams": use_bigrams,
        "hash_fn": hash_fn,
        "alpha": alpha,
        "min_df": int(min_df),
        "pos_total": int(tot.pos_tot or 0),
        "neg_total": int(tot.neg_tot or 0),
    }
    if min_df > 1:
        counts = counts.filter((F.col("pos") + F.col("neg")) >= min_df)
    weights = counts.select(
        "feature",
        F.round(
            F.log((F.col("pos") + alpha) / F.lit(pos_denom))
            - F.log((F.col("neg") + alpha) / F.lit(neg_denom)),
            9,
        ).alias("weight"),
    )
    return weights, info


def apply_nb_quality(
    df: DataFrame,
    weights: DataFrame,
    info: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "nb_score",
    method: str = "join",
    features_col: str | None = None,
) -> DataFrame:
    """Score every document: ``score = prior + sum_f w(f)`` over the
    document's feature multiset (unseen features contribute
    ``default_weight``).  Positive score => the doc looks like the
    positive (keep) class.

    ``method='join'``: projection featurize -> explode -> BROADCAST
    join on the (<= n_features row) weight table -> per-doc sum ->
    join scores back onto the input by id.  The feature stream's
    shuffle carries only (id, double) partial sums, but the FINAL
    join-back re-shuffles the whole input (text included) by id --
    scores are corpus-sized, so that join is sort-merge, not
    broadcast.  Deterministic to 1e-9 (rounded fixed-order inputs):
    the oracle-exact path, right for result-set-sized scoring and
    cross-engine replay.

    ``method='gather'`` (the 100 TB path): the weight table is
    DENSIFIED into a float64[n_features] numpy array (a few MB at
    2^18), broadcast once, and scores come from an Arrow-batched
    pandas UDF doing a vector gather ``w[ids].sum()`` per row -- ZERO
    shuffle, zero join: the score is a per-row projection and the
    corpus never moves.  Float summation order inside the gather
    differs from the join path, so scores match to ~1e-9 relative,
    not bitwise.  Zero-token and NULL-text docs score exactly
    ``prior`` on both paths.
    """
    if method == "gather":
        return _apply_nb_gather(df, weights, info, text_col, score_col)
    # ``features_col``: consume a precomputed hashed_ngram_features
    # array (same share-one-featurize contract as train_nb_quality's
    # parameter -- the caller guarantees it was built with this
    # ``info``'s hash config)
    feat_arr = (
        F.col(features_col)
        if features_col is not None
        else hashed_ngram_features(
            text_col,
            info["n_features"],
            info["use_bigrams"],
            info.get("hash_fn", "md5"),
        )
    )
    feats = df.select(F.col(id_col), F.explode_outer(feat_arr).alias("feature"))
    joined = feats.join(F.broadcast(weights), on="feature", how="left")
    contrib = F.when(F.col("feature").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(F.col("weight"), F.lit(info["default_weight"]))
    )
    scores = (
        joined.select(id_col, contrib.alias("__w"))
        .groupBy(id_col)
        .agg(F.round(F.sum("__w") + F.lit(info["prior"]), 9).alias(score_col))
    )
    return df.join(scores, on=id_col, how="left")


def _apply_nb_gather(
    df: DataFrame,
    weights: DataFrame,
    info: dict,
    text_col: str,
    score_col: str,
) -> DataFrame:
    """The zero-shuffle scoring path: densify + broadcast the weight
    vector, gather-sum per row in an Arrow-batched pandas UDF."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n = int(info["n_features"])
    w_arr = np.full(n, float(info["default_weight"]), dtype=np.float64)
    for r in weights.collect():
        w_arr[int(r["feature"])] = float(r["weight"])
    bw = df.sparkSession.sparkContext.broadcast(w_arr)
    prior = float(info["prior"])

    # no type hints: the module-wide `from __future__ import annotations`
    # would stringify them past pyspark's eval-type inference
    def _score_fn(feats):
        w = bw.value
        # NULL text -> null feature array -> None here: score = prior,
        # matching the join path's explode_outer null-row behavior
        return pd.Series(
            [
                prior
                + (
                    w[np.asarray(ids, dtype=np.int64)].sum()
                    if ids is not None and len(ids)
                    else 0.0
                )
                for ids in feats
            ],
            dtype="float64",
        )

    _score = F.pandas_udf(_score_fn, T.DoubleType())

    arr = hashed_ngram_features(
        text_col, n, info["use_bigrams"], info.get("hash_fn", "md5")
    )
    return df.withColumn(score_col, F.round(_score(arr), 9))


def save_nb_model(weights: DataFrame, info: dict, path: str) -> None:
    """Persist a trained model: ``path/weights/`` parquet + ``path/info.json``.

    The streaming gate and any later session re-load from here --
    train-once/score-many across restarts, the same persisted-artifact
    contract as the PQ/IVF indexes.  The weight table is repartitioned
    to 1 file: it is <= n_features rows (a few MB), and a single file
    keeps the later broadcast scan trivially balanced.
    """
    import json as _json
    import os as _os

    weights.repartition(1).write.mode("overwrite").parquet(
        _os.path.join(path, "weights")
    )
    tmp = _os.path.join(path, "info.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(info, f)
    _os.replace(tmp, _os.path.join(path, "info.json"))


def load_nb_model(spark, path: str) -> tuple[DataFrame, dict]:
    """Inverse of :func:`save_nb_model`."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "info.json")) as f:
        info = _json.load(f)
    return spark.read.parquet(_os.path.join(path, "weights")), info


def _nb_gate_batch(
    batch_df: DataFrame,
    epoch_id: int,
    weights: DataFrame,
    info: dict,
    out_path: str,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One epoch of :func:`streaming_nb_quality_gate` -- module-level so
    the replay-idempotency contract (same epoch twice == once) is
    directly unit-testable without a live stream."""
    write_partition(
        nb_quality_filter(batch_df, weights, info, threshold, text_col, id_col),
        out_path, epoch_id,
    )


def streaming_nb_quality_gate(
    stream: DataFrame,
    weights: DataFrame,
    info: dict,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Continuous-crawl admission through the trained NB quality model:
    every micro-batch is scored against the (frozen, broadcast) weight
    table and survivors land under an ``__epoch=<id>`` partition of
    ``out_path`` -- a replayed epoch rewrites exactly its own
    partition (the ``streaming/epoch.py`` contract shared with the
    dedup gates; they compose: chain this gate's output directory into
    :func:`~.dedup.streaming_incremental_minhash_dedup` for
    quality-then-novelty admission).

    The model is train-once/score-many: training happens OFFLINE on the
    labeled seed set (:func:`train_nb_quality`); the stream pays only
    the map-side featurize + broadcast join per batch -- no state, no
    shuffle of history.  Returns the started ``StreamingQuery``.
    """
    return start_gate_stream(
        stream, checkpoint_dir,
        partial(
            _nb_gate_batch, weights=weights, info=info, out_path=out_path,
            threshold=threshold, text_col=text_col, id_col=id_col,
        ),
        out_path,
    )


def nb_quality_filter(
    df: DataFrame,
    weights: DataFrame,
    info: dict,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "join",
) -> DataFrame:
    """Keep documents scoring above ``threshold`` (same columns as the
    input; the score column is dropped after the gate).  Pass
    ``method='gather'`` for the zero-shuffle scoring path when gating
    a full-scale corpus (see :func:`apply_nb_quality`)."""
    scored = apply_nb_quality(df, weights, info, text_col, id_col, method=method)
    return scored.filter(F.col("nb_score") > threshold).drop("nb_score")
