"""Unigram-LM subword tokenizer: seed-candidate generation, hard-EM
(Viterbi-EM) training with count pruning, and Viterbi encoding -- the
SentencePiece-family sibling of the BPE trainer (``text.bpe_train``),
re-derived from the published algorithm (Kudo 2018, "Subword
Regularization", arXiv:1804.10959).

Engine extension beyond the reference surface.  BPE grows a vocabulary
bottom-up by merging; the unigram LM goes top-down: seed a large
candidate piece inventory, fit piece probabilities to maximize corpus
likelihood under "every word is segmented into pieces", and prune the
least useful pieces until the target vocabulary size remains.  Encoding
is then a per-word Viterbi best segmentation.

Deliberate simplification, stated up front: training uses HARD EM --
the E-step is the Viterbi (single best) segmentation, not the full
lattice posterior of the paper -- and pruning drops the
lowest-probability prunable pieces instead of ranking by exact
likelihood loss.  Hard EM keeps every intermediate an integer count
(deterministic, order-invariant, replica-testable to the last digit;
no log-space forward/backward underflow handling), converges to the
same vocabularies on the corpora the tests pin, and is itself a
documented variant in subword-tokenizer practice.  Single-character
pieces are never pruned, so every in-alphabet word stays segmentable.

Scale shape (the BPE trainer's contract, shared):

- the corpus is scanned ONCE into the ``(word, cnt)`` VOCABULARY (one
  corpus-wide shuffle, distinct-word-sized); every later stage --
  candidate explosion, every E-step, every prune -- iterates on that
  compact frame and is corpus-size-INDEPENDENT;
- candidate seeding explodes word substrings (<= max_piece_len per
  start) of the vocabulary frame: vocab x len x L rows, map-side
  combined into candidate counts;
- each E-step is one Arrow-batched pandas pass over the vocabulary
  (piece table broadcast in the closure; Viterbi is O(len x L) per
  word) emitting (piece, weighted_count) pairs, then ONE piece-keyed
  aggregate.  The pandas UDF is the honest boundary: per-word dynamic
  programming has no Catalyst expression spelling;
- the driver holds only the piece table (<= seed size ~ 4x vocab_size
  rows) -- the histogram_pack solver-on-driver trade.

Encoding (:func:`unigram_lm_encode`) runs Viterbi once per DISTINCT
word on the vocabulary frame and broadcast-joins the result onto
posexploded document tokens -- ``bpe_apply``'s exact posture: one
doc-keyed shuffle of (position, piece-sequence) pairs reassembles, the
document text never rides an exchange.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import gating
from .text import tokens

UNK_LOGPROB_OFFSET = -10.0  # OOV char: min piece logprob + this

# Hard-EM training goes driver-side when the distinct-word vocabulary
# fits this many rows (~50 B/word -> a few MB collected): one Spark job
# instead of one mapInPandas+collect job per EM step.  Above it the
# distributed EM runs unchanged (the dedup_clusters hybrid idiom).
_ULM_DRIVER_VOCAB = 65536


def _round_half_away(x: float, digits: int) -> float:
    """Scalar half-AWAY-from-zero rounding -- the convention Spark's
    ``F.round`` (HALF_UP) and DuckDB's ``round()`` share; Python's
    ``round`` is half-to-even.  The driver-side twin of
    ``similarity.round_half_away`` so piece log-probs built here match
    a SQL oracle's ``round(ln(...), d)`` bit-for-bit."""
    scale = 10.0 ** digits
    return math.copysign(math.floor(abs(x) * scale + 0.5) / scale, x)


def viterbi_segment(
    word: str, logp: dict[str, float], max_piece_len: int
) -> tuple[list[str], float]:
    """Best segmentation of ``word`` under piece log-probs -- the
    shared reference kernel (driver AND executors run THIS function, so
    train/encode/tests cannot drift).  Characters absent from the piece
    table segment as themselves at ``min(logp) + UNK_LOGPROB_OFFSET``
    (documents must stay encodable; the cost makes OOV visibly bad).
    Ties break toward FEWER pieces, then lexicographically smaller
    piece at the split -- a total, content-deterministic order.
    Returns ``(pieces, total_logprob)``.
    """
    n = len(word)
    unk = (min(logp.values()) if logp else 0.0) + UNK_LOGPROB_OFFSET
    # best[j] = (score, n_pieces, piece_ending_at_j) for word[:j]
    best: list[tuple[float, int, str] | None] = [None] * (n + 1)
    best[0] = (0.0, 0, "")
    for j in range(1, n + 1):
        for i in range(max(0, j - max_piece_len), j):
            if best[i] is None:
                continue
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                if j - i > 1:
                    continue
                lp = unk
            cand = (best[i][0] + lp, best[i][1] + 1, piece)
            cur = best[j]
            if (
                cur is None
                or cand[0] > cur[0] + 1e-12
                or (
                    abs(cand[0] - cur[0]) <= 1e-12
                    and (cand[1], cand[2]) < (cur[1], cur[2])
                )
            ):
                best[j] = cand
    pieces: list[str] = []
    j = n
    while j > 0:
        piece = best[j][2]
        pieces.append(piece)
        j -= len(piece)
    pieces.reverse()
    return pieces, best[n][0]


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _seed_candidates(
    words: DataFrame, max_piece_len: int, seed_size: int
) -> DataFrame:
    """Top-``seed_size`` substrings by cnt-weighted occurrence count
    (ties to the lexicographically smaller piece) UNION all single
    characters (unprunable coverage floor).  Vocab-bound explosion."""
    subs = words.select(
        "cnt",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(max_piece_len),
                                F.length("word") - i + 1,
                            ),
                        ),
                        lambda l: F.substring(F.col("word"), i, l),
                    ),
                )
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("cnt").alias("c"))
    chars = counts.filter(F.length("piece") == 1)
    multi = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(int(seed_size))
    )
    return chars.unionByName(multi)


def unigram_lm_train(
    df: DataFrame,
    vocab_size: int = 512,
    text_col: str = "text",
    max_piece_len: int = 8,
    seed_size_mult: int = 4,
    n_em_iters: int = 2,
    prune_frac: float = 0.25,
    logprob_round: int | None = None,
) -> DataFrame:
    """Train the unigram-LM piece table: returns ``(piece, logprob)``
    with every single-character piece kept and at most ``vocab_size``
    pieces total (characters may exceed vocab_size on huge alphabets --
    coverage beats the budget).

    Loop: seed ``seed_size_mult * vocab_size`` candidates ->
    [``n_em_iters`` x (Viterbi E-step, count M-step)] -> prune the
    lowest-probability ``prune_frac`` of multi-char pieces -> repeat
    until the budget holds, finishing with one final EM round.  Pieces
    that win ZERO Viterbi counts in an E-step are dropped immediately
    (they contribute nothing to the likelihood).  All arithmetic on
    integer counts; probabilities materialize only in the emitted
    log table.  See the module docstring for the hard-EM trade.

    ``logprob_round`` (default off) rounds every piece log-prob
    half-away-from-zero to that many digits as it is created -- the
    registered driver query passes 6 so a SQL oracle's
    ``round(ln(n/total), 6)`` reproduces the exact doubles the Viterbi
    sums, making train/encode bit-replayable (the lm_ppl_buckets
    round-6 idiom); ``None`` keeps full precision.
    """

    def _r(x: float) -> float:
        if logprob_round is None:
            return x
        return _round_half_away(x, logprob_round)

    words = _word_vocab(df, text_col).cache()
    try:
        return _train_on_vocab(
            df.sparkSession, words, vocab_size, max_piece_len,
            seed_size_mult, n_em_iters, prune_frac, _r,
        )
    finally:
        # the vocabulary frame is this function's private scratch --
        # leaving it cached leaks executor storage across train calls
        words.unpersist()


def _train_on_vocab(
    spark,
    words: DataFrame,
    vocab_size: int,
    max_piece_len: int,
    seed_size_mult: int,
    n_em_iters: int,
    prune_frac: float,
    _r,
) -> DataFrame:
    # Hybrid execution (the dedup_clusters / _bpe_rounds pattern, r18):
    # the (word, cnt) vocabulary is distinct-word-sized; when it fits
    # _ULM_DRIVER_VOCAB rows the seed pass and every EM step run on the
    # driver over ONE collected copy -- one Spark job total instead of
    # one mapInPandas+collect job per EM step.  Exact by construction:
    # the driver runs the SAME viterbi_segment kernel the executors
    # would, pair/substring counts are plain integer sums (order-
    # invariant), seed selection replicates the orderBy(c desc, piece
    # asc).limit exactly (Python str order = codepoint order = Spark/
    # DuckDB UTF-8 binary order), and log-probs go through the same _r
    # rounding.  Above the threshold the distributed path is unchanged
    # -- the right shape for a web-scale distinct-word set.
    probe = words.limit(_ULM_DRIVER_VOCAB + 1).collect()
    local_rows: list[tuple[str, int]] | None = None
    if len(probe) <= _ULM_DRIVER_VOCAB:
        local_rows = [(r["word"], r["cnt"]) for r in probe]

    if local_rows is not None:
        sub_counts: dict[str, int] = {}
        for word, cnt in local_rows:
            ln = len(word)
            for i in range(ln):
                for pl in range(1, min(max_piece_len, ln - i) + 1):
                    p = word[i : i + pl]
                    sub_counts[p] = sub_counts.get(p, 0) + cnt
        seed_size = seed_size_mult * vocab_size
        multi = sorted(
            ((p, c) for p, c in sub_counts.items() if len(p) >= 2),
            key=lambda t: (-t[1], t[0]),
        )[: int(seed_size)]
        cands = [
            (p, c) for p, c in sub_counts.items() if len(p) == 1
        ] + multi
        total0 = sum(c for _, c in cands)
        logp = {p: _r(math.log(c / total0)) for p, c in cands}
    else:
        seeded = _seed_candidates(
            words, max_piece_len, seed_size_mult * vocab_size
        ).collect()
        # initial probs proportional to substring occurrence counts
        total0 = sum(r["c"] for r in seeded)
        logp = {
            r["piece"]: _r(math.log(r["c"] / total0)) for r in seeded
        }

    def em_step(cur: dict[str, float]) -> dict[str, float]:
        piece_items = sorted(cur.items())

        if local_rows is not None:
            lp_local = dict(piece_items)
            agg_l: dict[str, int] = {}
            for word, cnt in local_rows:
                for piece in viterbi_segment(word, lp_local, max_piece_len)[0]:
                    agg_l[piece] = agg_l.get(piece, 0) + cnt
            total_l = sum(agg_l.values())
            new = {p: _r(math.log(n / total_l)) for p, n in agg_l.items()}
            floor = (min(new.values()) if new else 0.0) - 1.0
            for p in cur:
                if len(p) == 1 and p not in new:
                    new[p] = floor
            return new

        def estep(batches: Iterator["object"]) -> Iterator["object"]:
            import pandas as _pd

            lp = dict(piece_items)
            for pdf in batches:
                agg: dict[str, int] = {}
                for word, cnt in zip(pdf["word"], pdf["cnt"]):
                    for piece in viterbi_segment(word, lp, max_piece_len)[0]:
                        agg[piece] = agg.get(piece, 0) + int(cnt)
                if agg:
                    yield _pd.DataFrame(
                        {"piece": list(agg), "n": list(agg.values())}
                    )

        counts = (
            words.mapInPandas(estep, "piece string, n long")
            .groupBy("piece")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        total = sum(r["n"] for r in counts)
        new = {r["piece"]: _r(math.log(r["n"] / total)) for r in counts}
        # coverage floor: never lose a single-char piece, even unused
        floor = (min(new.values()) if new else 0.0) - 1.0
        for p in cur:
            if len(p) == 1 and p not in new:
                new[p] = floor
        return new

    while True:
        for _ in range(int(n_em_iters)):
            logp = em_step(logp)
        n_multi = sum(1 for p in logp if len(p) > 1)
        n_chars = len(logp) - n_multi
        budget = max(int(vocab_size) - n_chars, 0)
        if n_multi <= budget:
            break
        # gradual pruning: at most prune_frac of the multi-char pieces
        # per round (re-EM between rounds redistributes their mass),
        # never past the budget in one step
        drop = min(n_multi - budget, max(1, int(n_multi * prune_frac)))
        for p in sorted(
            (p for p in logp if len(p) > 1), key=lambda p: (logp[p], p)
        )[:drop]:
            del logp[p]
    logp = em_step(logp)

    return spark.createDataFrame(
        sorted(logp.items()), "piece string, logprob double"
    )


def unigram_lm_encode(
    df: DataFrame,
    pieces: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 8,
) -> DataFrame:
    """Viterbi-encode every document under a trained piece table:
    output ``(id, n_words, n_pieces, encoded)`` with ``encoded`` the
    space-joined piece sequence (pieces never contain spaces -- words
    are whitespace-split upstream, so the flat string is unambiguous;
    the bpe_apply convention).

    One Viterbi per DISTINCT word (pandas pass over the vocabulary
    frame, piece table in the closure), joined onto posexploded
    document tokens; ONE doc-keyed shuffle of (position,
    piece-sequence) pairs reassembles.  Document text never rides an
    exchange.

    The word-segmentation frame is DISTINCT-WORD-sized, not
    vocab-sized (contrast ``bpe_apply``, whose broadcast frame is the
    bounded vocabulary): on 100 TB of web text the distinct-word set
    (typos, URLs, numbers) runs to 1e8-1e9 rows and an unconditional
    broadcast OOMs every executor.  So the join is SIZE-GATED, the
    :func:`~.gating.size_gated_broadcast` idiom: the gate counts the
    distinct words (one distinct-aggregate pass, local-checkpointed so
    the segmentation pass reuses it) and broadcasts only under
    ``gating.BROADCAST_MAX_ROWS``; above it the join falls back to a
    plain hash join on ``word`` carrying slim (word, seg) rows -- AQE
    may still pick a runtime broadcast if the frame turns out small.

    Hybrid execution (r19, the ``_train_on_vocab`` pattern applied to
    the encode side): when the distinct words fit
    ``min(_ULM_DRIVER_VOCAB, gating.BROADCAST_MAX_ROWS)`` rows the
    per-word Viterbi runs on the driver over ONE collected copy -- the
    probe collect replaces the gate-count job AND the mapInPandas
    segmentation job, and the bounded (word, seg, np) result broadcasts
    to the token join.  Exact by construction: the driver runs the
    SAME :func:`viterbi_segment` kernel over the SAME piece dict the
    executors would (the pandas path's closure is ``dict(piece_rows)``
    too).  The broadcast budget caps the driver branch too, so a
    broadcast-sized result is the only one the driver ever ships.
    Above the cap the distributed path runs untouched -- the
    1e8-distinct-word shape.
    """
    piece_rows = sorted(
        (r["piece"], r["logprob"]) for r in pieces.collect()
    )

    def encode_words(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as _pd

        lp = dict(piece_rows)
        for pdf in batches:
            segs = []
            nps = []
            for word in pdf["word"]:
                ps = viterbi_segment(word, lp, max_piece_len)[0]
                segs.append(" ".join(ps))
                nps.append(len(ps))
            yield _pd.DataFrame(
                {"word": pdf["word"], "seg": segs, "np": nps}
            )

    # checkpoint BEFORE the probe: the probe job materializes the
    # explode+distinct blocks, so whichever branch runs next (the
    # driver Viterbi, or the distributed gate count + segmentation
    # pass) reads them instead of re-paying the corpus scan
    distinct_words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    driver_cap = min(_ULM_DRIVER_VOCAB, gating.BROADCAST_MAX_ROWS)
    probe = distinct_words.limit(driver_cap + 1).collect()
    if probe and len(probe) <= driver_cap:
        lp = dict(piece_rows)
        seg_rows = []
        for r in probe:
            word = r["word"]
            ps = viterbi_segment(word, lp, max_piece_len)[0]
            seg_rows.append((word, " ".join(ps), len(ps)))
        word_segs = F.broadcast(
            df.sparkSession.createDataFrame(
                seg_rows, "word string, seg string, np long"
            )
        )
    else:
        word_segs = gating.size_gated_broadcast(
            distinct_words.mapInPandas(
                encode_words, "word string, seg string, np long"
            ),
            gate_df=distinct_words,
        )
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "word")
    )
    joined = toks.join(word_segs, "word")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("np").cast("bigint").alias("n_pieces"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", F.col("seg")))
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("encoded"),
        )
    )
