"""Single-pass corpus profiling: the summary report a data team runs
before and after every curation stage.

Engine extension beyond the reference surface (BASELINE.json north
star).  One narrow projection computes the per-row signals (token
count, char count, content fingerprint); everything else is aggregation
of those few columns -- the document text is dropped before any
exchange, so profiling a 100 TB corpus costs one scan plus two
narrow-column aggregates (a 1-row global rollup and an optional
per-group breakdown).  Duplicate rate uses HLL
(``approx_count_distinct``) on the 32-byte fingerprint: no dedup
shuffle, ~2% relative error, which is the right trade for a report.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.epoch import start_gate_stream, write_partition
from .rounding import round_parity

from .text import norm_ws, token_count


def _signals(
    df: DataFrame, text_col: str, id_col: str, keep: list[str]
) -> DataFrame:
    norm = norm_ws(text_col)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        token_count(text_col).alias("__toks"),
        F.length(text_col).alias("__chars"),
        F.md5(norm).alias("__fp"),
    )


_PCTS = [0.5, 0.9, 0.99]


def _agg_exprs(exact_distinct: bool = False) -> list:
    # HLL (approx_count_distinct) is the production default: no dedup
    # shuffle, ~2% relative error -- the right trade for a 100 TB
    # report.  exact_distinct=True swaps in count_distinct (one extra
    # distinct-aggregate expand of the 32-byte fingerprints) for
    # oracle-checkable runs and for the retired corpus_report's exact
    # dup-rate semantics (R16 fold ledger).
    nd = (
        F.count_distinct(F.col("__fp"))
        if exact_distinct
        else F.approx_count_distinct("__fp")
    )
    # count(*) with a NULL-when-zero guard: avg_tokens is defined as
    # total_tokens / n_docs (so the published triple is internally
    # consistent -- F.avg would skip NULL-token docs and report a mean
    # over a DIFFERENT denominator than the n_docs beside it), and an
    # empty stage must profile as NULL, not DIVIDE_BY_ZERO under ANSI
    # (degenerate-corpus sweep)
    cnt = F.count(F.lit(1))
    cnt_nz = F.when(cnt != 0, cnt)
    return [
        cnt.alias("n_docs"),
        F.sum("__toks").alias("total_tokens"),
        F.sum("__chars").alias("total_chars"),
        round_parity(F.sum("__toks").cast("double") / cnt_nz, 2).alias("avg_tokens"),
        F.min("__toks").alias("min_tokens"),
        F.max("__toks").alias("max_tokens"),
        F.expr(f"percentile_approx(__toks, array({', '.join(map(str, _PCTS))}))").alias(
            "token_percentiles"
        ),
        nd.alias("approx_distinct_docs"),
        # HLL can over-estimate distincts on near-duplicate-free data;
        # clamp so the reported rate never goes (confusingly) negative
        F.greatest(
            F.lit(0.0),
            round_parity(1.0 - nd / cnt_nz, 4),
        ).alias("approx_dup_rate"),
        F.count(F.when(F.col("__toks") == 0, 1)).alias("n_empty_docs"),
    ]


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Corpus summary: one row (or one row per ``by`` group) of
    document/token/char counts, token-length percentiles
    (p50/p90/p99), HLL-estimated distinct-content count and duplicate
    rate, and the empty-doc count.  ``exact_distinct=True`` swaps the
    HLL for an exact count_distinct (see ``_agg_exprs``).

    ``by=None`` returns the 1-row global profile; ``by='source'`` (or
    any column) returns the per-group breakdown, sorted by group.  The
    profile plan is the SAME narrow projection either way -- at most
    (id, group, 3 numeric, 1 fingerprint) columns ride the aggregate;
    partial aggregation collapses each map partition to one row per
    group before the (tiny) exchange.
    """
    sig = _signals(df, text_col, id_col, [by] if by else [])
    if by is None:
        return sig.agg(*_agg_exprs(exact_distinct))
    return sig.groupBy(by).agg(*_agg_exprs(exact_distinct)).orderBy(by)


def _profile_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    out_path: str,
    text_col: str,
    id_col: str,
) -> None:
    """One epoch of :func:`streaming_profile`: module-level so replay
    idempotency is unit-testable without a live stream."""
    write_partition(corpus_profile(batch_df, text_col, id_col), out_path, epoch_id)


def streaming_profile(
    stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Continuous ingestion observability: every micro-batch appends its
    1-row :func:`corpus_profile` under ``__epoch=<id>`` -- token/char
    volumes, length percentiles, HLL dup rate per batch.  Reading
    ``out_path`` gives the ingest-rate/quality time series a crawl
    operator watches; a replayed epoch rewrites exactly its own
    partition (the ``streaming/epoch.py`` contract), and a flat-layout
    ``out_path`` raises ``ValueError``.  Pair with the
    admission gates: profile the RAW stream on one branch and the
    gate's survivor directory on another, and the two series give
    kept-fraction drift over time.  Returns the started
    ``StreamingQuery``.
    """
    return start_gate_stream(
        stream, checkpoint_dir,
        partial(
            _profile_epoch, out_path=out_path, text_col=text_col,
            id_col=id_col,
        ),
        out_path,
    )


def profile_funnel(
    stages: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_distinct: bool = False,
) -> DataFrame:
    """Profile a curation funnel: ``{stage_name: df}`` -> one profile
    row per stage (insertion order preserved via an explicit stage
    index), so kept-fractions and token losses between stages read off
    a single small table.  Each stage is profiled independently --
    unioning the 1-row profiles is free; the input frames are NOT
    re-used across stages, so share/cache upstream frames yourself if
    the funnel stages build on each other.
    """
    out = None
    for i, (name, df) in enumerate(stages.items()):
        row = corpus_profile(
            df, text_col, id_col, exact_distinct=exact_distinct
        ).select(
            F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"), F.col("*")
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("profile_funnel needs at least one stage")
    return out.orderBy("stage_idx")


def profile_funnel_shared(
    df: DataFrame,
    stage_preds: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_distinct: bool = False,
) -> DataFrame:
    """One-pass funnel profile (r18): the per-row signal projection
    runs ONCE over the corpus and is materialized (lazy
    localCheckpoint) as the slim (id, stage flags, 3 numeric,
    1 fingerprint) frame; each stage is then a flag filter plus the
    same aggregate :func:`corpus_profile` runs.  Values are identical
    to :func:`profile_funnel` over nested-filtered inputs: the per-row
    signals are the same expressions over the same rows in the same
    partition layout (every op between scan and aggregate is narrow),
    so even ``percentile_approx`` merges the same per-partition
    summaries in the same order.  What changes is the pass count -- a
    4-stage funnel costs ONE corpus scan + four slim-column
    aggregates, not four text scans with per-stage signal derivation
    (at 100 TB the difference is three full corpus reads).

    ``stage_preds``: ordered ``(name, predicate)`` pairs; ``None``
    means "all rows" (the raw stage).  Funnel stages nest, so pass
    CUMULATIVE predicates explicitly (each stage's predicate must
    imply the previous stage's).

    Lifetime note (r19 ADVICE): the localCheckpoint blocks live in
    MEMORY_AND_DISK for the SESSION's lifetime -- Spark exposes no
    public unpersist on a checkpointed plan's blocks.  One call per
    session (the bench/oracle invocation shape) never notices; a
    long-lived service looping this function should recycle its
    session (or accept one slim signal frame per call resident) --
    the frame is id + flags + 3 numerics, not corpus text.
    """
    if not stage_preds:
        raise ValueError("profile_funnel_shared needs at least one stage")
    flags = [
        (F.lit(True) if p is None else p).alias(f"__st{i}")
        for i, (_, p) in enumerate(stage_preds)
    ]
    keep = [f"__st{i}" for i in range(len(stage_preds))]
    sig = _signals(
        df.select("*", *flags), text_col, id_col, keep
    ).localCheckpoint(eager=False)
    out = None
    for i, (name, _) in enumerate(stage_preds):
        row = (
            sig.filter(F.col(f"__st{i}"))
            .agg(*_agg_exprs(exact_distinct))
            .select(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col("*"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("stage_idx")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Classify every document across two corpus snapshots:
    ``added`` (id only in ``new``), ``removed`` (only in ``old``),
    ``changed`` (both, different content), ``unchanged`` -- the
    operator that turns a re-crawl into an INCREMENTAL pipeline run
    (process ``added``+``changed``, retire ``removed``, skip the
    unchanged bulk, which on a stable corpus is nearly everything).

    Content identity is the profile family's whitespace-normalized md5
    fingerprint, so "changed" agrees with :func:`corpus_profile`'s
    duplicate-rate notion; pass ``fingerprint_col`` to reuse a
    precomputed fingerprint (e.g. the incremental exact-dedup store's)
    and skip the text scan entirely.  NULL text fingerprints NULL and
    compares null-safely: NULL -> NULL is ``unchanged``, text <-> NULL
    is ``changed`` -- a diff must not silently lose rows.

    Returns ``(id, status, old_fp, new_fp)``.  Scale shape: each side
    projects to (id, 16-byte fp) BEFORE the full-outer join, so the
    exchange never carries text; ids are assumed unique per snapshot
    (it is a snapshot key).  When both snapshots are bucketed by id
    (``sources/layout.write_bucketed``) the join is zero-exchange;
    status is a row-local CASE either way.
    """
    def fp() -> F.Column:
        if fingerprint_col is not None:
            return F.col(fingerprint_col)
        return F.md5(norm_ws(text_col))

    # explicit presence flags: a present row with NULL text has a NULL
    # fingerprint and must not read as absent from its snapshot
    o = old.select(
        F.col(id_col), fp().alias("old_fp"), F.lit(True).alias("__in_old")
    )
    n = new.select(
        F.col(id_col), fp().alias("new_fp"), F.lit(True).alias("__in_new")
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, on=id_col, how="full_outer")
        .select(F.col(id_col), status.alias("status"), "old_fp", "new_fp")
    )


def top_terms(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    by: str | None = None,
) -> DataFrame:
    """Heavy-hitter vocabulary: the ``k`` most frequent (lowercased,
    whitespace) tokens corpus-wide, or per ``by`` group -- the
    profiling companion to :func:`corpus_profile` (stopword drift,
    boilerplate tokens, language mix all show up here first).

    Output ``(term, n)`` ordered by count desc / term asc, or
    ``(by, term, n, rank)`` per group.  Shape: tokens explode into a
    two-phase count aggregate (map-side combine collapses each
    partition to its distinct terms before the exchange); the global
    top-k is TakeOrderedAndProject (partial top-k per partition, never
    a single-task sort of the vocabulary), and the per-group variant
    is a rank filter that Catalyst rewrites to WindowGroupLimit --
    each map partition ships at most k rows per group, the
    `per_source_cap` contract.
    """
    from .text import lower_ascii, tokens

    keep = [F.col(by)] if by else []
    # lower_ascii: term identity must be engine-portable (see
    # functions/text.py:lower_ascii -- Java vs utf8proc 'İ')
    toks = df.select(
        *keep, F.explode(tokens(text_col)).alias("term")
    ).select(*keep, lower_ascii(F.col("term")).alias("term"))
    counts = toks.groupBy(*([by] if by else []), "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    if by is None:
        return counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(by, "rank")
    )
