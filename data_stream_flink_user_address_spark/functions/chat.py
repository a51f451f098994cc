"""Instruction/SFT conversation prep: JSON chat parsing, zero-shuffle
turn flattening with loss-mask character spans, structural validation,
and deterministic rendering.

Engine extension beyond the reference surface (the reference keys and
joins flat event streams -- `Main.java:45-183` has no conversation
shape).  A training-data pipeline that feeds instruction tuning gets
corpora as one JSON conversation per row (`[{"role": ..., "content":
...}, ...]`) and needs, per turn: the role, the content, the token
count, and -- the piece everything downstream consumes -- the character
span the turn's content occupies in the RENDERED training string, so
the trainer can loss-mask everything that is not assistant output.

Scale shape, explicitly: a conversation arrives WHOLE in one row, so
every quantity here -- offsets included -- is intra-row arithmetic.
:func:`conversation_turns` computes spans inside a ``transform`` over
the turns array (running totals via ``aggregate`` over an array
``slice``) and only then explodes; nothing shuffles, the stage fuses
onto the scan, and the plan contains ZERO exchanges (pinned in
``tests/test_plan_shapes.py``).  The alternative spelling -- explode
first, then a conv-keyed window for the running offset -- costs one
hash exchange that carries every turn's content; at 100 TB that
exchange IS the job, and it buys nothing the array arithmetic doesn't
already give.  The slice-sum is O(T^2) in the TURN COUNT of a single
conversation, over ``length()`` integers only (no string copies);
chats are tens of turns, not thousands, so the quadratic term is noise
next to the string scan itself.

Rendering convention (shared by all functions here so spans cannot
drift from the rendered text): each turn renders as
``"<|" + role + "|>" + content + sep`` with ``sep = "\\n"``; the
loss-mask span covers the CONTENT only, never the role header or the
separator.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..streaming.epoch import start_gate_stream, write_partition

from .text import tokens

SEP = "\n"

TURNS_SCHEMA = "array<struct<role: string, content: string>>"


def _header_len(turn: Column) -> Column:
    """Rendered header length for one turn struct: len('<|' role '|>')."""
    return (F.length(turn["role"]) + F.lit(4)).cast("bigint")


def _turn_len(turn: Column) -> Column:
    """Full rendered length of one turn: header + content + separator."""
    return _header_len(turn) + F.length(turn["content"]).cast("bigint") + F.lit(
        len(SEP)
    ).cast("bigint")


def parse_conversations(
    df: DataFrame,
    json_col: str = "conversation",
    id_col: str = "conv_id",
    turns_col: str = "turns",
) -> DataFrame:
    """Parse a JSON chat column into a typed turns array.

    ``from_json`` against the fixed ``[{role, content}]`` schema --
    row-local, JVM-side, no UDF.  Malformed JSON yields a NULL array
    (Spark's from_json contract); ``parse_ok`` makes the failure
    explicit so a quality gate can count or quarantine bad rows instead
    of silently dropping them.  Output keeps the id, the typed
    ``turns`` array, ``n_turns``, and ``parse_ok``.
    """
    parsed = F.from_json(F.col(json_col), TURNS_SCHEMA)
    return df.select(
        F.col(id_col),
        parsed.alias(turns_col),
        F.coalesce(F.size(parsed), F.lit(-1)).cast("int").alias("n_turns"),
        parsed.isNotNull().alias("parse_ok"),
    )


def conversation_turns(
    df: DataFrame,
    turns_col: str = "turns",
    id_col: str = "conv_id",
) -> DataFrame:
    """Flatten conversations to one row per turn with rendered-string
    character spans and loss-mask flags -- the SFT trainer's input
    manifest.

    Output ``(conv_id, turn_idx, role, content, n_chars, char_start,
    char_end, loss_mask, n_tokens)`` where ``[char_start, char_end)``
    is the 0-based span of the turn's CONTENT inside
    :func:`render_conversation`'s string for the same conversation
    (property-pinned: ``substring(rendered, char_start + 1, n_chars)
    == content``), and ``loss_mask`` is true exactly for assistant
    turns.

    Zero shuffles: spans come from an ``aggregate`` over a ``slice`` of
    the turns array inside one ``transform`` -- see the module
    docstring for why this beats the explode+window spelling at scale.
    NULL turn arrays (parse failures) produce no rows here; gate on
    ``parse_ok`` upstream to account for them.
    """
    arr = F.col(turns_col)

    def _cum(i: Column) -> Column:
        # rendered chars before turn i: sum of full turn lengths 0..i-1
        return F.aggregate(
            F.slice(arr, F.lit(1), i),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + _turn_len(t),
        )

    def _enrich(t: Column, i: Column) -> Column:
        start = _cum(i) + _header_len(t)
        end = start + F.length(t["content"]).cast("bigint")
        return F.struct(
            i.cast("int").alias("turn_idx"),
            t["role"].alias("role"),
            t["content"].alias("content"),
            F.length(t["content"]).cast("bigint").alias("n_chars"),
            start.alias("char_start"),
            end.alias("char_end"),
            (t["role"] == F.lit("assistant")).alias("loss_mask"),
            F.size(tokens(t["content"])).cast("bigint").alias("n_tokens"),
        )

    return df.select(
        F.col(id_col), F.explode(F.transform(arr, _enrich)).alias("__t")
    ).select(id_col, "__t.*")


def rendered_expr(turns_col: str = "turns") -> Column:
    """The module's render convention as a bare row-local Column --
    exactly what :func:`render_conversation` emits.  Exposed so callers
    can PRE-FILTER oversized conversations before
    :func:`pack_conversations_with_spans` (whose byte-exact packer
    refuses to clip) without a second render pass or a join: e.g.
    ``parsed.filter(F.size(tokens(rendered_expr())) <= seq_len)``.
    """
    return F.aggregate(
        F.col(turns_col),
        F.lit(""),
        lambda acc, t: F.concat(
            acc, F.lit("<|"), t["role"], F.lit("|>"), t["content"], F.lit(SEP)
        ),
    )


def render_conversation(
    df: DataFrame,
    turns_col: str = "turns",
    id_col: str = "conv_id",
    out_col: str = "text",
) -> DataFrame:
    """Render each conversation to its single training string under the
    module's fixed convention (header + content + separator per turn).
    Row-local ``aggregate`` concat -- zero shuffles.  Output
    ``(conv_id, text, n_chars)``; NULL turn arrays render NULL.
    """
    rendered = rendered_expr(turns_col)
    return df.select(
        F.col(id_col),
        rendered.alias(out_col),
        F.length(rendered).cast("bigint").alias("n_chars"),
    )


def _structural_flags(arr: Column) -> tuple[Column, ...]:
    """The validator's flag expressions over a turns-array column --
    shared by :func:`validate_conversations` (full report frame) and
    :func:`streaming_sft_gate` (inline ``valid`` filter, no self-join,
    no second parse of the batch).  Returns (starts_system, alternates,
    ends_assistant, n_asst, n_user, asst_chars, no_nulls, valid)."""
    starts_system = arr[0]["role"] == F.lit("system")
    off = F.when(starts_system, F.lit(1)).otherwise(F.lit(0))
    alternates = F.forall(
        F.transform(
            arr,
            lambda t, i: F.when(i < off, t["role"] == F.lit("system")).otherwise(
                t["role"]
                == F.when(
                    ((i - off) % 2) == 0, F.lit("user")
                ).otherwise(F.lit("assistant"))
            ),
        ),
        lambda ok: ok,
    )
    ends_assistant = F.element_at(arr, -1)["role"] == F.lit("assistant")
    n_asst = F.size(F.filter(arr, lambda t: t["role"] == F.lit("assistant")))
    n_user = F.size(F.filter(arr, lambda t: t["role"] == F.lit("user")))
    asst_chars = F.aggregate(
        F.filter(arr, lambda t: t["role"] == F.lit("assistant")),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.length(t["content"]).cast("bigint"),
    )
    no_nulls = F.forall(
        arr,
        lambda t: t["role"].isNotNull() & t["content"].isNotNull(),
    )
    valid = F.coalesce(
        no_nulls
        & alternates
        & ends_assistant
        & (n_asst >= 1)
        & (n_user >= 1),
        F.lit(False),
    )
    return (
        starts_system, alternates, ends_assistant, n_asst, n_user,
        asst_chars, no_nulls, valid,
    )


def validate_conversations(
    df: DataFrame,
    turns_col: str = "turns",
    id_col: str = "conv_id",
) -> DataFrame:
    """Structural gate for SFT corpora, one row per conversation:

    - ``starts_system``: turn 0 is a system turn;
    - ``alternates``: after the optional leading system turn, roles
      strictly alternate user, assistant, user, ... (the shape every
      chat template assumes -- a double user turn or an
      assistant-first conversation silently corrupts masking);
    - ``ends_assistant``: the final turn is assistant output (a
      trailing unanswered user turn contributes zero loss and wastes
      sequence budget);
    - ``n_assistant_turns`` / ``n_assistant_chars``: the conversation's
      actual supervision mass;
    - ``no_null_fields``: every turn carries a non-NULL role AND
      content (a JSON ``null`` in either is malformed data -- span
      arithmetic downstream would NULL-poison);
    - ``valid``: no_null_fields AND alternates AND ends_assistant AND
      has at least one user and one assistant turn.

    All flags are ``forall``/``aggregate`` expressions over the turns
    array -- row-local, zero shuffles, scan-fused.  NULL arrays (parse
    failures) come out ``valid = false`` with NULL detail flags kept
    NULL-honest rather than defaulted.
    """
    arr = F.col(turns_col)
    starts_system, alternates, ends_assistant, n_asst, n_user, asst_chars, \
        no_nulls, valid = _structural_flags(arr)
    return df.select(
        F.col(id_col),
        F.size(arr).cast("int").alias("n_turns"),
        starts_system.alias("starts_system"),
        alternates.alias("alternates"),
        ends_assistant.alias("ends_assistant"),
        n_asst.cast("int").alias("n_assistant_turns"),
        asst_chars.alias("n_assistant_chars"),
        no_nulls.alias("no_null_fields"),
        valid.alias("valid"),
    )


def streaming_sft_gate(
    stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    json_col: str = "conversation",
    id_col: str = "conv_id",
):
    """Continuous SFT-corpus admission: every micro-batch of JSON chats
    runs parse -> structural gate (:func:`validate_conversations`,
    ``valid`` only) -> :func:`conversation_turns`, and the surviving
    turn rows (loss-mask spans included) land under an
    ``__epoch=<id>`` partition of ``out_path`` -- a replayed epoch
    rewrites exactly its own partition (the ``streaming/epoch.py``
    contract shared with the dedup/NB admission gates; they
    compose: chain this gate's survivors into a dedup gate for
    validity-then-novelty admission -- measured composed in
    ``STREAM_BENCH.json:sft_ingest_dedup_stream``,
    ``python bench_stream_sft_dedup.py``: render -> exact dedup vs a
    growing store inside the same foreachBatch).

    Per batch the work is row-local expressions ONLY: the gate filters
    on the validator's inline ``valid`` expression (shared flag
    builder), so there is no self-join, no second read/parse of the
    micro-batch, no state, no shuffle of history, and nothing
    model-shaped to load.  Returns the started ``StreamingQuery``.
    Measured end to end in ``STREAM_BENCH.json:sft_ingest_stream``
    (``python bench_stream_sft.py``).
    """
    return start_gate_stream(
        stream, checkpoint_dir,
        partial(
            _sft_gate_epoch, out_path=out_path, json_col=json_col,
            id_col=id_col,
        ),
        out_path,
    )


def _sft_gate_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    out_path: str,
    json_col: str,
    id_col: str,
) -> None:
    """One epoch of :func:`streaming_sft_gate` -- module-level so the
    replay-idempotency contract (same epoch twice == once) is directly
    unit-testable without a running stream."""
    parsed = parse_conversations(batch_df, json_col, id_col)
    valid = _structural_flags(F.col("turns"))[-1]
    write_partition(
        conversation_turns(parsed.filter(valid), id_col=id_col),
        out_path, epoch_id,
    )


def pack_conversations_with_spans(
    df: DataFrame,
    seq_len: int,
    turns_col: str = "turns",
    id_col: str = "conv_id",
    bucket_size: int = 100_000,
    assume_valid_turns: bool = False,
) -> tuple[DataFrame, DataFrame, dict]:
    """The SFT trainer's final deliverable: render each conversation,
    SPFHP-pack the rendered strings byte-exactly into ``seq_len`` bins
    (:func:`~.packing.histogram_pack` + :func:`~.packing.pack_bins_exact`
    -- whole conversations only, no cross-conversation attention
    contamination, no re-tokenization), and RE-BASE every turn's
    loss-mask character span into its bin's packed string.

    Returns ``(bins, spans, stats)``:

    - ``bins``: one row per bin -- ``(bin_id, n_docs, n_tokens,
      packed_text, char_bases)`` (pack_bins_exact's frame);
    - ``spans``: one row per turn -- ``(bin_id, id, turn_idx, role,
      loss_mask, n_chars, abs_start, abs_end)`` with
      ``[abs_start, abs_end)`` the 0-based span of the turn's content
      inside ``packed_text`` (property: ``substring(packed_text,
      abs_start + 1, n_chars)`` recovers the content -- the invariant
      the registered ``sft_pack_spans`` query hash-checks per row);
    - ``stats``: :func:`~.packing.histogram_pack`'s solver report
      (n_docs, n_bins, padding_frac, n_truncated, ...).

    ``seq_len`` must exceed every rendered conversation's token count:
    byte-exact packing cannot clip (pack_bins_exact raises otherwise)
    -- pre-filter or split oversized conversations upstream.

    Scale shape: rendering and span arithmetic are row-local array
    expressions; packing adds one id-keyed equi-join plus ONE bin-keyed
    shuffle carrying each rendered string exactly once; the re-basing
    join moves only the slim (bin_id, id, char_base) triples onto the
    turn rows (one id-keyed hash join -- conversation content itself is
    already in the turn rows, packed strings stay in ``bins``).  The
    rendered frame is lazily localCheckpoint-ed so the guard action,
    the histogram collect, and the byte-exact assembly share one
    render pass.  ``assume_valid_turns=True`` skips the NULL-turns
    guard action -- only for callers whose upstream gate already
    removed parse failures.
    """
    from .packing import histogram_pack, pack_bins_exact

    # lazy local checkpoint on the rendered frame: THREE driver actions
    # read it before the outputs run (the NULL guard below,
    # histogram_pack's histogram collect, pack_bins_exact's validation
    # agg), and multi-reference lineage recomputes -- without the
    # checkpoint each call re-parses and re-renders the source ~3x
    # (ADVICE r16).  The checkpoint stores the rendered strings once on
    # the executors (MEMORY_AND_DISK, spills past memory -- the same
    # footprint one shuffle of the corpus would leave)
    rendered = render_conversation(df, turns_col, id_col).localCheckpoint(
        eager=False
    )
    if not assume_valid_turns:
        # a NULL turn array (parse failure) renders NULL and would be
        # silently EXCLUDED by histogram_pack -- the conversation would
        # vanish from bins/spans with no error.  Fail loudly with one
        # explicit validation action on the slim rendered frame (the
        # pack_bins_exact guard pattern).  NOT an in-plan raise_error:
        # Catalyst pushes histogram_pack's length filter below upstream
        # joins, so an expression-embedded raise fires on rows an
        # upstream valid-id join would have dropped (found by the SFT
        # prep demo).  ``assume_valid_turns=True`` skips the action --
        # for callers whose upstream gate already removed parse
        # failures (the streaming epoch's structural gate).
        n_null = rendered.filter(F.col("text").isNull()).count()
        if n_null:
            raise ValueError(
                f"pack_conversations_with_spans: {n_null} conversation(s) "
                "with NULL turns (parse failure) cannot be packed -- "
                "filter on parse_ok before packing"
            )
    assigned, stats = histogram_pack(
        rendered, text_col="text", id_col=id_col, seq_len=seq_len,
        bucket_size=bucket_size,
    )
    # lazy local checkpoint: spans' lineage reads bins' char_bases and
    # every realistic consumer (the registered query, a trainer writing
    # both frames) materializes bins AND spans -- without the
    # checkpoint the bin-assembly aggregation (collect_list/sort_array
    # + O(m^2) char_bases) would execute twice
    bins = pack_bins_exact(
        rendered, assigned, text_col="text", id_col=id_col
    ).localCheckpoint(eager=False)
    turns = conversation_turns(df, turns_col, id_col)
    bases = bins.select(
        "bin_id", F.explode("char_bases").alias("__cb")
    ).select(
        "bin_id",
        F.col("__cb.id").alias(id_col),
        F.col("__cb.char_base").alias("__base"),
    )
    spans = turns.join(bases, id_col).select(
        "bin_id",
        F.col(id_col),
        "turn_idx",
        "role",
        "loss_mask",
        "n_chars",
        (F.col("__base") + F.col("char_start")).alias("abs_start"),
        (F.col("__base") + F.col("char_end")).alias("abs_end"),
    )
    return bins, spans, stats


def _sft_pack_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    bins_path: str,
    spans_path: str,
    seq_len: int,
    json_col: str,
    id_col: str,
    bucket_size: int,
) -> None:
    """One epoch of :func:`streaming_sft_pack` -- module-level so the
    replay-idempotency contract (same epoch twice == once) is directly
    unit-testable without a running stream."""
    parsed = parse_conversations(batch_df, json_col, id_col)
    valid = parsed.filter(_structural_flags(F.col("turns"))[-1])
    # the structural gate above already removed parse failures, so the
    # packer's per-batch NULL-count action is redundant work every
    # micro-batch (ADVICE r16)
    bins, spans, _stats = pack_conversations_with_spans(
        valid, seq_len=seq_len, id_col=id_col, bucket_size=bucket_size,
        assume_valid_turns=True,
    )
    write_partition(bins, bins_path, epoch_id)
    write_partition(spans, spans_path, epoch_id)


def streaming_sft_pack(
    stream: DataFrame,
    bins_path: str,
    spans_path: str,
    checkpoint_dir: str,
    seq_len: int,
    json_col: str = "conversation",
    id_col: str = "conv_id",
    bucket_size: int = 100_000,
):
    """The full SFT corpus build as ONE stream: every micro-batch of
    JSON chats runs parse -> structural gate -> render -> byte-exact
    SPFHP packing -> loss-mask span re-basing
    (:func:`pack_conversations_with_spans`), and BOTH trainer
    deliverables land under ``__epoch=<id>`` partitions -- packed bins
    at ``bins_path``, re-based spans at ``spans_path``.  A bin is
    addressed ``(__epoch, bin_id)``: packing is per-epoch (the SPFHP
    solve sees one micro-batch's histogram), which is the correct
    streaming trade -- bins never span a checkpoint boundary, so a
    replayed epoch rewrites exactly its own partitions in both
    directories and the corpus stays consistent under at-least-once
    delivery (the ``streaming/epoch.py`` contract).  Chain a dedup
    gate upstream for validity-then-novelty admission before packing
    (the ``streaming_sft_gate`` composition).

    Per batch the plan is the batch operator's: row-local render/span
    arithmetic, one id-keyed join, one bin-keyed shuffle of each
    rendered string, slim re-basing triples.  The structural gate
    filters parse failures BEFORE packing (a NULL turn array would
    otherwise raise the packer's in-plan guard).  Returns the started
    ``StreamingQuery``.
    """
    return start_gate_stream(
        stream, checkpoint_dir,
        partial(
            _sft_pack_epoch, bins_path=bins_path, spans_path=spans_path,
            seq_len=seq_len, json_col=json_col, id_col=id_col,
            bucket_size=bucket_size,
        ),
        bins_path, spans_path,
    )
