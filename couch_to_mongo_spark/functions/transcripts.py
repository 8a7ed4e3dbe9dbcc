"""Conversation-level operators over the (conv_id, turn_idx) transcript
state — the bridge from the CDC lakehouse to training documents, used by
the corpus view (operators/corpus_view.py) and ``submit_main.py render``.

The MERGE engine materializes one row per live (conv_id, turn_idx) turn
(operators/merge.py read_state); a training run consumes CONVERSATIONS,
not turns. :func:`render_conversations` folds turn-state into one
per-conversation document, :func:`turn_boilerplate` applies the one
curation step that only makes sense across conversations (C4's "line
appearing in >= K documents" boilerplate rule, re-expressed at turn
granularity), and :func:`pack_sequences` cuts the rendered documents into
fixed-length training sequences (``render --pack-seq-len``).

All JVM-side Column expressions with exact DuckDB oracles
(__spark_entry__ q_render_conversations / q_boilerplate_turns /
q_conversation_pack / q_pack_sequences). The reference engine stops at
per-document replication (couch-to-mongo Mongo.java:189 saveToMongo
writes raw docs); conversation assembly is beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def render_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str | None = None,
    tool_col: str | None = None,
    sep: str = "\n",
    max_turns: int | None = None,
    keep: str = "last",
) -> DataFrame:
    """Fold per-turn state into one ordered training document per
    conversation: ``(conv, n_turns, n_chars, doc)`` where ``doc`` is the
    turn texts (optionally ``role: text``) joined by ``sep`` in
    ``turn_col`` order.

    Plan: ONE shuffle (groupBy conv) — ``collect_list(struct(turn, ...))``
    partially aggregates map-side, ``array_sort`` orders locally per
    group, ``array_join(transform(...))`` renders in codegen. No window,
    no second exchange, no per-row Python. Per-group memory is one
    conversation's turns — bounded by the engine's own state invariant
    (turn_idx is a PK component), so the plan survives 10^10 turns as
    long as no single conversation is pathological.

    ``array_sort`` on the struct sorts by field order, so ``turn_col``
    leads the struct; within a conversation turn_idx is unique (post-LWW
    state), making the layout deterministic and partitioning-independent.

    ``max_turns`` is the context-window truncation (and the guard against
    a pathological conversation blowing the per-group buffer): keep only
    the last (``keep="last"``, the usual context-window rule) or first
    ``max_turns`` turns, applied as ``slice`` on the sorted array —
    still zero extra shuffles. ``n_turns`` reports the RENDERED count.
    """
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    fields = [F.col(turn_col).cast("int").alias("_t")]
    if role_col is not None:
        fields.append(F.col(role_col).alias("_r"))
    if tool_col is not None:
        fields.append(F.col(tool_col).alias("_tool"))
    fields.append(F.col(text_col).alias("_x"))
    agg = df.groupBy(F.col(conv_col)).agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("_turns")
    )
    if max_turns is not None:
        # separate projection so the sorted array binds ONCE (CLAUDE.md
        # materialize-before-reference rule); slice(start=-m) is invalid
        # for arrays shorter than m, so short conversations pass through
        m = int(max_turns)
        sliced = (
            F.slice(F.col("_turns"), 1, m)
            if keep == "first"
            else F.when(F.size("_turns") <= m, F.col("_turns")).otherwise(
                F.slice(F.col("_turns"), -m, m)
            )
        )
        agg = agg.select(F.col(conv_col), sliced.alias("_turns"))
    # null-safe: array_join silently DROPS null elements, so a null role/
    # tool/text must degrade to the non-null parts, never lose the turn.
    # tool_col marks tool-call turns "role [tool]: text" (null tool = a
    # plain turn, no brackets).
    def _render_turn(t):
        parts = []
        if role_col is not None and tool_col is not None:
            parts.append(
                F.coalesce(
                    F.concat(t["_r"], F.lit(" ["), t["_tool"], F.lit("]: ")),
                    F.concat(t["_r"], F.lit(": ")),
                    F.concat(F.lit("["), t["_tool"], F.lit("]: ")),
                    F.lit(""),
                )
            )
        elif role_col is not None:
            parts.append(F.coalesce(F.concat(t["_r"], F.lit(": ")), F.lit("")))
        elif tool_col is not None:
            parts.append(
                F.coalesce(F.concat(F.lit("["), t["_tool"], F.lit("]: ")), F.lit(""))
            )
        parts.append(F.coalesce(t["_x"], F.lit("")))
        return F.concat(*parts) if len(parts) > 1 else parts[0]

    rendered = F.transform(F.col("_turns"), _render_turn)
    return agg.select(
        F.col(conv_col),
        F.size(F.col("_turns")).cast("long").alias("n_turns"),
        F.array_join(rendered, sep).alias("doc"),
    ).withColumn("n_chars", F.length("doc").cast("long")).select(
        conv_col, "n_turns", "n_chars", "doc"
    )


def turn_boilerplate(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    min_convs: int = 3,
) -> DataFrame:
    """C4-style boilerplate detection at turn granularity: a turn whose
    exact text occurs in >= ``min_convs`` DISTINCT conversations is
    boilerplate (greeting templates, canned tool banners, system
    preambles) and gets ``keep = false``; everything else passes.

    Output: ``(conv, turn, n_convs, keep)`` — one row per input turn, so
    the verdict joins back onto the state table by PK.

    Plan: ``groupBy(md5(text))`` with ``countDistinct(conv)`` (two-phase:
    partial distinct map-side), then an equi-join back on the hash. The
    aggregate's output is already hash-partitioned by ``_h``, so the join
    reuses that side's partitioning and only the raw turn stream pays a
    second exchange. Deliberately NOT a window with ``collect_set`` — a
    truly global boilerplate turn (10^6+ conversations) would collect an
    unbounded set per row; ``countDistinct`` keeps per-group state at one
    counter. Within-conversation repeats of the same text count once
    (distinct convs, not occurrences), matching the C4 rule.
    """
    # null-safe: md5(NULL) is NULL and a NULL join key never matches —
    # a null-text turn would silently vanish from the verdicts. Treat
    # null as empty text (they're the same turn content for this rule).
    h = F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h")
    counts = df.select(h, F.col(conv_col)).groupBy("_h").agg(
        F.countDistinct(conv_col).cast("long").alias("n_convs")
    )
    tagged = df.select(F.col(conv_col), F.col(turn_col), h)
    return (
        tagged.join(counts, "_h")
        .select(
            F.col(conv_col),
            F.col(turn_col),
            F.col("n_convs"),
            (F.col("n_convs") < F.lit(int(min_convs))).alias("keep"),
        )
    )


def hash15(col: Column) -> Column:
    """Deterministic 60-bit integer hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _bpe_tokens_col(text_col: str) -> Column:
    """The BPE-ish subword count: lowercase alphanumeric runs plus single
    punctuation marks."""
    return F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0
        )
    )


#: derive_n_shards target: docs per packing shard. One shard = one window
#: partition of the single packing exchange, so this bounds both per-task
#: memory/sort size and the job's parallelism ceiling.
PACK_DOCS_PER_SHARD = 250_000
_PACK_SHARDS_MIN = 8


def derive_n_shards(n_rows: int, docs_per_shard: int = PACK_DOCS_PER_SHARD) -> int:
    """Corpus-sized packing parallelism: enough shards that each
    window partition holds ~``docs_per_shard`` docs — proportional in the
    corpus above the floor, so 10^10 docs get ~40k-way packing instead of
    a fixed-8 bottleneck."""
    import math

    return max(_PACK_SHARDS_MIN, math.ceil(max(n_rows, 1) / docs_per_shard))


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    n_shards: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Concat-then-chunk sequence packing — the step that turns a curated
    corpus into fixed-length training sequences: documents are laid out in
    a deterministic hash order and the concatenated token stream is cut
    every ``seq_len`` tokens; a document crossing a cut emits one row per
    sequence it touches. (The packing layout most pretraining stacks use —
    GPT-style concat+chunk — rather than bin-packing whole docs, which is
    inherently sequential.)

    The hash order doubles as the training shuffle (content-independent
    md5 of the id, :func:`hash15`), so the
    layout is reproducible across runs/engines/partitionings. Sequences
    are packed within ``n_shards`` independent shards (shard = hash mod
    n_shards): each shard's window is one partition of a single exchange,
    so packing 10^10 docs costs one shuffle with n_shards-bounded
    parallelism. ``n_shards=None`` (default) sizes shards from the corpus
    itself (:func:`derive_n_shards`, one count job — pass an explicit
    value to skip it); sequence identity (shard, seq_id) stays
    deterministic for a fixed (n_shards, seed), so pin n_shards wherever
    cross-run layout stability matters (contract entries do).

    Output: (id, shard, seq_id, start_in_seq, n_toks) — one row per
    (document, sequence) span; ``sum(n_toks) over (shard, seq_id)`` =
    seq_len for every sequence except each shard's last. Zero-token docs
    (empty after normalization) are dropped."""
    from pyspark.sql import Window

    if n_shards is None:
        n_shards = derive_n_shards(df.count())
    h = F.pmod(
        hash15(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
        F.lit(1_000_000),
    )
    t = df.select(
        F.col(id_col),
        _bpe_tokens_col(text_col).cast("long").alias("_n"),
        h.alias("_h"),
    ).where(F.col("_n") > 0)
    t = t.withColumn("shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int"))
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    L = F.lit(int(seq_len)).cast("long")
    # materialize the span bounds BEFORE the explode: expressions selected
    # alongside a Generate re-evaluate per output element
    spans = t.withColumn("_cum", F.sum("_n").over(w)).select(
        F.col(id_col),
        F.col("shard"),
        (F.col("_cum") - F.col("_n")).alias("_gs"),
        F.col("_cum").alias("_ge"),
    )
    e = spans.select(
        F.col(id_col),
        F.col("shard"),
        F.col("_gs"),
        F.col("_ge"),
        F.explode(
            F.sequence(
                F.floor(F.col("_gs") / L), F.floor((F.col("_ge") - 1) / L)
            )
        ).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("_gs"), F.col("seq_id") * L)
    seg_end = F.least(F.col("_ge"), (F.col("seq_id") + 1) * L)
    return e.select(
        F.col(id_col),
        F.col("shard"),
        F.col("seq_id").cast("long"),
        (seg_start - F.col("seq_id") * L).cast("long").alias("start_in_seq"),
        (seg_end - seg_start).cast("long").alias("n_toks"),
    )
