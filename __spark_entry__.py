"""Query contract: Spark queries with DuckDB twins (PySpark target).

``entry(spark)`` runs the flagship query (the real CDC engine end-to-end on
sf0.001). ``queries()``/``oracle_sql()`` expose 32 entries over the
fixture's ``events`` and ``documents`` tables: 9 engine checks (the LWW and
change-feed folds, the engine and corpus-view replays, conversation
rendering, boilerplate and packing, sequence packing, rev ordering) and 23
text-family queries (dedup, quality, decontamination, sampling, PII). Each
oracle is ANSI-ish DuckDB SQL over the same parquet views.

Cross-engine determinism rules used throughout:
- timestamps surface as ``*_epoch`` bigints (``unix_timestamp`` vs
  ``CAST(floor(epoch(ts)) AS BIGINT)``);
- float aggregates are ROUNDed in BOTH engines;
- the shared numeric hash is ``int(md5_hex[:15], 16)`` (``conv`` in Spark,
  ``CAST('0x'||... AS BIGINT)`` in DuckDB);
- counts cast to BIGINT in SQL (DuckDB sum(int) is HUGEINT otherwise).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from couch_to_mongo_spark.functions import text as X
from couch_to_mongo_spark.functions.transcripts import pack_sequences
from couch_to_mongo_spark.operators.dedup import lww_dedup, with_rev_gen


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


_SCRATCH_ROOTS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    """Process-lifetime scratch dir for the engine-replay entries. The
    returned DataFrames lazily read these tables, so the dirs can't be
    removed when the query function returns — they're reaped atexit
    instead (each bench/oracle pass used to leak a table-sized /tmp dir
    per invocation)."""
    work = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_ROOTS:
        import atexit
        import shutil

        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_ROOTS]
        )
    _SCRATCH_ROOTS.append(work)
    return work


def _epoch(col):
    """NTZ-safe epoch seconds: the driver's session may read naive parquet
    timestamps as TIMESTAMP_NTZ (we disable that inference in our own
    session, but not in theirs); cast pins the type either way."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.unix_timestamp(c.cast("timestamp"))


# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (mirror couch_to_mongo_spark.functions.text)
# ---------------------------------------------------------------------------

def _H(s: str) -> str:  # hash15
    return f"CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"


def _H32(s: str) -> str:  # hash32 (minhash content hash)
    return f"CAST('0x' || substr(md5({s}), 1, 8) AS BIGINT)"


def _NORM(t: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9 ]', '', 'g'),"
        f" '\\s+', ' ', 'g'))"
    )


def _TOKS(t: str) -> str:
    return f"string_split({_NORM(t)}, ' ')"


_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(tk)-2, 1)),"
    " i -> array_to_string(tk[i:i+2], ' '))"
)

_STOP_SQL = "['the','a','of','and','to','in','is','it']"


# ---------------------------------------------------------------------------
# CDC / events operators (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q_lww_latest_state(spark, sf_dir):
    """A4: per-key last-writer-wins via max_by hash aggregation."""
    ev = _t(spark, sf_dir, "events")
    out = lww_dedup(ev, ["user_id"], ["event_id"])
    return out.select(
        F.col("user_id"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        _epoch("ts").alias("last_epoch"),
    )


SQL_LWW = """
SELECT user_id, event_id AS last_event_id, event_type AS last_type,
       value AS last_value, CAST(floor(epoch(ts)) AS BIGINT) AS last_epoch
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
      FROM events)
WHERE rn = 1
"""


def _derive_changes(ev: DataFrame) -> DataFrame:
    """Deterministic change-feed derivation from the events table
    (event_id≈seq, user_id≈conv) — FIXTURES.md §5. Text embeds messy
    whitespace (double space + trailing spaces) so the engine-path oracle
    exercises the normalizer, not just the fold."""
    return ev.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("d")).otherwise(F.lit("u")).alias("op"),
        F.concat(F.lit("conv-"), F.lpad((F.col("user_id") % 50).cast("string"), 6, "0")).alias("conv_id"),
        (F.col("event_id") % 20).cast("int").alias("turn_idx"),
        F.concat(F.col("event_type"), F.lit(":  "), (F.col("event_id") % 997).cast("string"), F.lit("  ")).alias("text"),
    )


SQL_DERIVE = """
SELECT event_id AS seq,
       CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
       'conv-' || lpad(CAST(user_id % 50 AS VARCHAR), 6, '0') AS conv_id,
       CAST(event_id % 20 AS INTEGER) AS turn_idx,
       event_type || ':  ' || CAST(event_id % 997 AS VARCHAR) || '  ' AS text
FROM events
"""


def q_cdc_fold(spark, sf_dir):
    """A4+S6: the CDC correctness kernel — LWW fold of a change feed to
    final state, deletes dropped."""
    ch = _derive_changes(_t(spark, sf_dir, "events"))
    win = lww_dedup(ch, ["conv_id", "turn_idx"], ["seq"])
    return win.where(F.col("op") != "d").select(
        "conv_id", "turn_idx", F.col("seq").alias("last_seq"), "text"
    )


SQL_CDC_FOLD = f"""
WITH ch AS ({SQL_DERIVE}),
ranked AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY seq DESC) rn
           FROM ch)
SELECT conv_id, turn_idx, seq AS last_seq, text
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


def _fold_state_with_role(spark, sf_dir):
    """LWW-resolved live turn state + a deterministic role column
    (turn_idx % 3 → user/assistant/tool) so the conversation operators
    exercise the role-tagged path; the fixture feed has no role field."""
    ch = _derive_changes(_t(spark, sf_dir, "events"))
    win = lww_dedup(ch, ["conv_id", "turn_idx"], ["seq"])
    return win.where(F.col("op") != "d").select(
        "conv_id",
        "turn_idx",
        F.when(F.col("turn_idx") % 3 == 0, F.lit("user"))
        .when(F.col("turn_idx") % 3 == 1, F.lit("assistant"))
        .otherwise(F.lit("tool"))
        .alias("role"),
        "text",
    )


_SQL_FOLD_ROLE = f"""
WITH fold AS ({SQL_CDC_FOLD})
SELECT conv_id, turn_idx,
       CASE CAST(turn_idx % 3 AS INTEGER) WHEN 0 THEN 'user'
            WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       text
FROM fold
"""


def q_render_conversations(spark, sf_dir):
    """Conversation assembly (functions/transcripts.py
    render_conversations): fold the LWW-resolved (conv_id, turn_idx)
    state into one ordered role-tagged training document per
    conversation — one shuffle, collect_list + array_sort + array_join,
    no window."""
    from couch_to_mongo_spark.functions.transcripts import render_conversations

    return render_conversations(
        _fold_state_with_role(spark, sf_dir), role_col="role", sep="\n"
    )


SQL_RENDER_CONV = f"""
WITH r AS ({_SQL_FOLD_ROLE})
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(length(string_agg(role || ': ' || coalesce(text, ''), chr(10)
                              ORDER BY turn_idx))
            AS BIGINT) AS n_chars,
       string_agg(role || ': ' || coalesce(text, ''), chr(10)
                  ORDER BY turn_idx) AS doc
FROM r
GROUP BY conv_id
"""


BOILERPLATE_MIN_CONVS = 3


def q_boilerplate_turns(spark, sf_dir):
    """C4-style cross-conversation boilerplate rule at turn granularity
    (functions/transcripts.py turn_boilerplate): a turn text appearing in
    >= 3 distinct conversations is boilerplate (keep=false)."""
    from couch_to_mongo_spark.functions.transcripts import turn_boilerplate

    return turn_boilerplate(
        _fold_state_with_role(spark, sf_dir), min_convs=BOILERPLATE_MIN_CONVS
    )


SQL_BOILERPLATE = f"""
WITH fold AS ({SQL_CDC_FOLD}),
c AS (SELECT md5(coalesce(text, '')) AS h,
             CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
      FROM fold GROUP BY 1)
SELECT f.conv_id, f.turn_idx, c.n_convs,
       c.n_convs < {BOILERPLATE_MIN_CONVS} AS keep
FROM fold f JOIN c ON md5(coalesce(f.text, '')) = c.h
"""


CONV_PACK_SEQ_LEN, CONV_PACK_SHARDS = 64, 2


def q_conversation_pack(spark, sf_dir):
    """The full lakehouse-to-training bridge in ONE declarative plan:
    LWW fold of the change feed -> role-tagged conversation assembly
    (render_conversations) -> concat-then-chunk sequence packing
    (pack_sequences) over the rendered docs. What a pretraining run
    actually consumes from the CDC table."""
    from couch_to_mongo_spark.functions.transcripts import render_conversations

    rendered = render_conversations(
        _fold_state_with_role(spark, sf_dir), role_col="role", sep="\n"
    )
    return pack_sequences(
        rendered,
        seq_len=CONV_PACK_SEQ_LEN,
        n_shards=CONV_PACK_SHARDS,
        text_col="doc",
        id_col="conv_id",
        seed=0,
    )


SQL_CONV_PACK = f"""
WITH rendered AS ({SQL_RENDER_CONV}),
t AS (
  SELECT conv_id,
         CAST(len(regexp_extract_all(lower(doc), '[a-z0-9]+|[^a-z0-9\\s]'))
              AS BIGINT) AS n,
         {_H("conv_id || ':' || '0'")} % 1000000 AS h
  FROM rendered),
t2 AS (SELECT *, CAST(h % {CONV_PACK_SHARDS} AS INT) AS shard FROM t WHERE n > 0),
c AS (SELECT *, sum(n) OVER (PARTITION BY shard ORDER BY h, conv_id
                             ROWS UNBOUNDED PRECEDING) AS cum FROM t2),
s AS (SELECT conv_id, shard, CAST(cum - n AS BIGINT) AS gs,
             CAST(cum AS BIGINT) AS ge FROM c),
e AS (SELECT conv_id, shard, gs, ge,
             unnest(generate_series(gs // {CONV_PACK_SEQ_LEN},
                                    (ge - 1) // {CONV_PACK_SEQ_LEN}))
               AS seq_id
      FROM s)
SELECT conv_id, shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(gs, seq_id * {CONV_PACK_SEQ_LEN})
            - seq_id * {CONV_PACK_SEQ_LEN} AS BIGINT) AS start_in_seq,
       CAST(least(ge, (seq_id + 1) * {CONV_PACK_SEQ_LEN})
            - greatest(gs, seq_id * {CONV_PACK_SEQ_LEN}) AS BIGINT) AS n_toks
FROM e
"""


def q_rev_order(spark, sf_dir):
    """C4: CouchDB-style N-hash rev parsing + (gen, hash) LWW ordering."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.concat(
            (F.col("event_id") % 5 + 1).cast("string"),
            F.lit("-"),
            F.md5(F.col("event_id").cast("string")),
        ).alias("_rev"),
    )
    ev = with_rev_gen(ev)
    win = lww_dedup(ev, ["user_id"], ["rev_gen", "_rev", "event_id"])
    return win.select("user_id", "event_id", F.col("rev_gen").alias("winning_gen"))


SQL_REV = """
WITH r AS (
  SELECT user_id, event_id,
         CAST(event_id % 5 + 1 AS VARCHAR) || '-' || md5(CAST(event_id AS VARCHAR)) AS rev,
         CAST(event_id % 5 + 1 AS BIGINT) AS rev_gen
  FROM events),
ranked AS (SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY rev_gen DESC, rev DESC, event_id DESC) rn
           FROM r)
SELECT user_id, event_id, rev_gen AS winning_gen FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# training-data operators: dedup family / text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return X.exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = f"""
SELECT md5({_NORM('text')}) AS fp, min(doc_id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))


SQL_FP = f"SELECT doc_id, md5({_NORM('text')}) AS fp FROM documents"


def q_minhash_lsh(spark, sf_dir):
    return X.lsh_band_buckets(_t(spark, sf_dir, "documents"), k=8, bands=4)


# affine-permutation MinHash: one md5 per shingle, k permutations — exact
# twin of functions/text.py minhash_signature_df (constants shared)
_MH_COLS = ", ".join(
    f"list_min(list_transform(sl, s -> ({a} * {_H32('s')} + {b}) % {X.MINHASH_P})) AS mh{i}"
    for i, (a, b) in enumerate(X.minhash_perms(8))
)

SQL_MINHASH_LSH = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS sl FROM docs),
sig AS (SELECT doc_id, {_MH_COLS}
  FROM sh)
SELECT doc_id, bucket FROM (
  SELECT doc_id, unnest([
    '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR),
    '1_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR),
    '2_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR),
    '3_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR)]) AS bucket
  FROM sig) t
"""


def q_ngram_jaccard(spark, sf_dir):
    return X.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.5)


SQL_JACCARD = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s FROM docs),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, n_common,
       ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5
"""


def q_ngram_jaccard_capped(spark, sf_dir):
    """Jaccard with the hot-shingle doc-frequency cutoff (the 100 TB skew
    guard): shingles in > max_doc_freq docs leave the inverted index before
    the self-join; Jaccard is exact over the filtered shingle universe."""
    return X.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.4, max_doc_freq=20
    )


SQL_JACCARD_CAPPED = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
sh0 AS (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s FROM docs),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 20),
sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, n_common,
       ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.4
"""


def q_dedup_groups(spark, sf_dir):
    """Near-dup pairs closed into canonical dedup groups: transitive closure
    of the Jaccard pair graph via the distributed large-star/small-star
    fixpoint (operators/components.py), singletons grouped as themselves.
    Oracle: DuckDB recursive CTE computing min-reachable-label."""
    return X.dedup_groups(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


SQL_DEDUP_GROUPS = f"""
WITH RECURSIVE
docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s FROM docs),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b
          FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
          WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id
"""


def q_lsh_dedup_groups(spark, sf_dir):
    """The production-scale dedup pipeline end-to-end: MinHash-LSH band
    buckets -> bucket-local candidate pair expansion (size-capped) ->
    exact Jaccard verification of candidates only -> connected-components
    closure. The oracle replays the identical signature/bucket/cap/verify
    pipeline, so LSH's recall misses are byte-identical cross-engine."""
    return X.lsh_dedup_groups(
        _t(spark, sf_dir, "documents"), k=8, bands=4, n=3,
        threshold=0.5, max_bucket_size=50,
    )


SQL_LSH_DEDUP_GROUPS = f"""
WITH RECURSIVE
docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
shl AS (SELECT doc_id, {_SHINGLES} AS sl FROM docs),
sh AS (SELECT doc_id, unnest(list_distinct(sl)) AS s FROM shl),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
sig AS (SELECT doc_id, {_MH_COLS}
  FROM shl),
buckets AS (
  SELECT doc_id, unnest([
    '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR),
    '1_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR),
    '2_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR),
    '3_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR)]) AS bucket
  FROM sig),
ok AS (SELECT bucket FROM buckets GROUP BY bucket
       HAVING count(*) BETWEEN 2 AND 50),
cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM buckets a JOIN buckets b
           ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         WHERE a.bucket IN (SELECT bucket FROM ok)
         GROUP BY 1, 2),
inter AS (SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b
          FROM inter JOIN sizes sa ON sa.doc_id = id_a
                     JOIN sizes sb ON sb.doc_id = id_b
          WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id
"""


def q_conversation_dedup(spark, sf_dir):
    """Conversation-granularity near-dup dedup — the composition a
    transcript pipeline actually runs: LWW fold -> role-tagged render
    (one doc per conversation) -> the production LSH dedup pipeline
    (minhash bands -> capped candidates -> exact Jaccard verify ->
    components) over the RENDERED docs, with the keeper verdict
    (conv_id == group min). Re-recorded turns, reordered batches, and
    boilerplate-heavy near-identical conversations dedup at the level
    training consumes them."""
    from couch_to_mongo_spark.functions.transcripts import render_conversations

    rendered = render_conversations(
        _fold_state_with_role(spark, sf_dir), role_col="role", sep="\n"
    )
    groups = X.lsh_dedup_groups(
        rendered, text_col="doc", id_col="conv_id",
        k=8, bands=4, n=3, threshold=0.5, max_bucket_size=50,
    )
    return groups.select(
        "conv_id",
        "group_id",
        (F.col("conv_id") == F.col("group_id")).alias("keep"),
    )


SQL_CONVERSATION_DEDUP = f"""
WITH RECURSIVE
src AS ({SQL_RENDER_CONV}),
docs AS (SELECT conv_id, {_TOKS('doc')} AS tk FROM src),
shl AS (SELECT conv_id, {_SHINGLES} AS sl FROM docs),
sh AS (SELECT conv_id, unnest(list_distinct(sl)) AS s FROM shl),
sizes AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY conv_id),
sig AS (SELECT conv_id, {_MH_COLS}
  FROM shl),
buckets AS (
  SELECT conv_id, unnest([
    '0_' || CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR),
    '1_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR),
    '2_' || CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR),
    '3_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR)]) AS bucket
  FROM sig),
ok AS (SELECT bucket FROM buckets GROUP BY bucket
       HAVING count(*) BETWEEN 2 AND 50),
cand AS (SELECT a.conv_id AS id_a, b.conv_id AS id_b
         FROM buckets a JOIN buckets b
           ON a.bucket = b.bucket AND a.conv_id < b.conv_id
         WHERE a.bucket IN (SELECT bucket FROM ok)
         GROUP BY 1, 2),
inter AS (SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
          FROM cand c
          JOIN sh a ON a.conv_id = c.id_a
          JOIN sh b ON b.conv_id = c.id_b AND b.s = a.s
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b
          FROM inter JOIN sizes sa ON sa.conv_id = id_a
                     JOIN sizes sb ON sb.conv_id = id_b
          WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT conv_id, conv_id FROM docs
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS conv_id, MIN(lbl) AS group_id, id = MIN(lbl) AS keep
FROM reach GROUP BY id
"""


def q_simhash(spark, sf_dir):
    return X.simhash16_df(_t(spark, sf_dir, "documents"))


SQL_SIMHASH = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS t FROM docs),
tb AS (SELECT doc_id, b.bit,
              sum(CASE WHEN ({_H('t')} >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
       FROM tok CROSS JOIN range(0, 16) b(bit) GROUP BY doc_id, b.bit)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM tb GROUP BY doc_id
"""


def q_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-<=3 near-dup pairs via the pigeonhole band join
    (guaranteed recall for max_hamming < bands) + exact popcount verify.
    60-bit hash, 15-bit bands — band selectivity 2^15, so buckets are
    collision-bound, not corpus-fraction-bound (a 16-bit hash degenerates
    at scale: 81 s at sf1 vs collision-bound with 60-bit)."""
    return X.simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3, bands=4, n_bits=60
    )


SQL_SIMHASH_PAIRS = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS t FROM docs),
tb AS (SELECT doc_id, b.bit,
              sum(CASE WHEN ({_H('t')} >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
       FROM tok CROSS JOIN range(0, 60) b(bit) GROUP BY doc_id, b.bit),
sim AS (SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
        FROM tb GROUP BY doc_id),
bandrows AS (SELECT doc_id, simhash,
                    CAST(b.b AS VARCHAR) || '_' ||
                    CAST((simhash >> (b.b * 15)) & 32767 AS VARCHAR) AS bkey
             FROM sim CROSS JOIN range(0, 4) b(b)),
cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.simhash AS ha, b.simhash AS hb
         FROM bandrows a JOIN bandrows b
           ON a.bkey = b.bkey AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def q_repetition(spark, sf_dir):
    """Gopher/C4-style repetition filters: duplicate-line fraction,
    duplicate-3gram fraction, top-2gram fraction — the self-repetition
    signal token filters miss."""
    return X.repetition_features(_t(spark, sf_dir, "documents"))


SQL_REPETITION = f"""
WITH docs AS (SELECT doc_id, text, {_TOKS('text')} AS tk FROM documents),
lf AS (SELECT doc_id,
         ROUND(1 - len(list_distinct(string_split(text, chr(10))))::DOUBLE
                 / len(string_split(text, chr(10))), 6) AS dup_line_frac
       FROM docs),
g3 AS (SELECT doc_id, unnest(list_transform(
         generate_series(1, greatest(len(tk)-2, 1)),
         i -> array_to_string(tk[i:i+2], ' '))) AS g FROM docs),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
r3 AS (SELECT doc_id, ROUND(1 - count(*)::DOUBLE / sum(c), 6) AS dup_3gram_frac
       FROM c3 GROUP BY doc_id),
g2 AS (SELECT doc_id, unnest(list_transform(
         generate_series(1, greatest(len(tk)-1, 1)),
         i -> array_to_string(tk[i:i+1], ' '))) AS g FROM docs),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
r2 AS (SELECT doc_id, ROUND(max(c)::DOUBLE / sum(c), 6) AS top_2gram_frac
       FROM c2 GROUP BY doc_id)
SELECT lf.doc_id, dup_line_frac, dup_3gram_frac, top_2gram_frac
FROM lf JOIN r3 USING (doc_id) JOIN r2 USING (doc_id)
"""


def q_lang_id(spark, sf_dir):
    return X.lang_id(_t(spark, sf_dir, "documents"))


def _lang_score_sql(lang: str, markers: tuple) -> str:
    arr = "[" + ",".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter(tk, x -> list_contains({arr}, x)))"


SQL_LANG = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
s AS (SELECT doc_id,
  {", ".join(f"CAST({_lang_score_sql(lang, m)} AS INTEGER) AS score_{lang}" for lang, m in X.LANG_MARKERS.items())}
  FROM docs)
SELECT *,
  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es
            AND score_en > 0 THEN 'en'
       WHEN score_de >= score_fr AND score_de >= score_es AND score_de > 0 THEN 'de'
       WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
       WHEN score_es > 0 THEN 'es'
       ELSE 'unknown' END AS lang_pred
FROM s
"""


def q_quality(spark, sf_dir):
    return X.quality_features(_t(spark, sf_dir, "documents"))


SQL_QUALITY = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars_m,
         len({_TOKS('text')}) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         len(list_filter({_TOKS('text')}, x -> list_contains({_STOP_SQL}, x))) AS n_stop
  FROM documents)
SELECT doc_id,
       CAST(n_chars_m AS BIGINT) AS n_chars_m,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       ROUND(n_punct / n_chars_m, 6) AS punct_ratio,
       ROUND(n_digit / n_chars_m, 6) AS digit_ratio,
       ROUND(n_stop / n_tokens, 6) AS stopword_ratio,
       ROUND(least(n_tokens / 100.0, 1.0) * (1 - n_punct / n_chars_m), 6) AS quality_score
FROM f
"""


MIX_FRACTIONS = {"en": 0.9, "de": 0.5, "fr": 0.25, "es": 0.1, "zh": 0.05}


def q_stratified_sample(spark, sf_dir):
    """Deterministic mixture sampling (functions/text.py
    stratified_sample): per-language keep fractions via a cross-engine
    md5 hash threshold — same kept set on every run/engine/partitioning,
    monotone under fraction increases."""
    return X.stratified_sample(
        _t(spark, sf_dir, "documents"), MIX_FRACTIONS, strata_col="lang", seed=7
    ).select("doc_id", "lang")


SQL_STRATIFIED = f"""
SELECT doc_id, lang FROM documents
WHERE {_H("CAST(doc_id AS VARCHAR) || ':' || '7'")} % 1000000 <
  CASE lang {' '.join(f"WHEN '{k}' THEN {int(v * 1_000_000)}" for k, v in sorted(MIX_FRACTIONS.items()))}
  ELSE 0 END
"""


# token budgets, not fractions — how mixing specs are actually written
# ("8k English tokens, 3k German"); fixed absolute budgets scale-test
# naturally (sf0.1 keeps a smaller fraction of a bigger corpus)
TOKEN_BUDGETS = {"en": 8000, "de": 3000, "zh": 1500}


def q_token_budget_sample(spark, sf_dir):
    """Exact token-budget mixture sampling (functions/text.py
    token_budget_sample): per stratum, keep docs in md5-hash order until
    the cumulative BPE-ish token count reaches the budget — attained
    within one document of target, deterministic, monotone in the budget
    (prefix of a fixed order). The window-prefix twin of
    q_stratified_sample; token_budget_fractions is the scan-only 100 TB
    path when sampling noise is acceptable."""
    return X.token_budget_sample(
        _t(spark, sf_dir, "documents"), TOKEN_BUDGETS, strata_col="lang", seed=7
    )


SQL_TOKEN_BUDGET = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT)
           AS n_tokens,
         {_H("CAST(doc_id AS VARCHAR) || ':' || '7'")} % 1000000 AS h
  FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (
        PARTITION BY lang ORDER BY h, doc_id
        ROWS UNBOUNDED PRECEDING) AS cum FROM t)
SELECT doc_id, lang, n_tokens FROM c
WHERE cum - n_tokens <
  CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(TOKEN_BUDGETS.items()))}
  ELSE 0 END
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (functions/text.py ngram_contamination):
    corpus docs sharing >= 2 distinct 3-gram shingles with any doc of a
    small 'benchmark' set (here the 10 lowest doc_ids) — the asymmetric
    broadcast-containment operator, distinct from the self-join Jaccard
    family."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 10)
    corpus = docs.where(F.col("doc_id") >= 10)
    return X.ngram_contamination(corpus, bench, n=3, min_common=2)


SQL_DECONTAMINATE = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
csh AS (SELECT doc_id, {_H('s')} AS h
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs
              WHERE doc_id >= 10)),
bsh AS (SELECT DISTINCT doc_id AS bench_id, {_H('s')} AS h
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs
              WHERE doc_id < 10))
SELECT c.doc_id, b.bench_id, CAST(count(DISTINCT c.h) AS BIGINT) AS n_common
FROM csh c JOIN bsh b USING (h)
GROUP BY 1, 2 HAVING count(DISTINCT c.h) >= 2
"""


def q_decontaminate_spans(spark, sf_dir):
    """Decontamination span output (functions/text.py
    ngram_contamination_spans): for every contaminated (doc, bench) pair,
    the 1-based start positions of the matched 3-gram windows in the doc's
    normalized token stream — the mask-not-drop workflow."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 10)
    corpus = docs.where(F.col("doc_id") >= 10)
    return X.ngram_contamination_spans(corpus, bench, n=3, min_common=2)


SQL_DECONTAMINATE_SPANS = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
csp0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
          i -> struct_pack(pos := i, h := {_H("array_to_string(tk[i:i+2], ' ')")}))) AS u
         FROM docs WHERE doc_id >= 10),
csp AS (SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.h AS h FROM csp0),
bsh AS (SELECT DISTINCT doc_id AS bench_id, {_H('s')} AS h
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs
              WHERE doc_id < 10)),
hits AS (SELECT c.doc_id, b.bench_id, c.pos, c.h FROM csp c JOIN bsh b USING (h)),
agg AS (SELECT doc_id, bench_id FROM hits GROUP BY 1, 2
        HAVING count(DISTINCT h) >= 2)
SELECT DISTINCT h.doc_id, h.bench_id, h.pos
FROM hits h JOIN agg a USING (doc_id, bench_id)
"""


def q_mask_contaminated(spark, sf_dir):
    """The mask-not-drop decontamination endgame (functions/text.py
    mask_contaminated): every token inside a matched benchmark n-gram
    window is replaced with a sentinel; clean docs pass through whole.
    Oracle composes the spans CTE family, expands each span to its n
    token indices, and rebuilds the normalized token stream with a list
    comprehension."""
    docs = _t(spark, sf_dir, "documents")
    return X.mask_contaminated(
        docs.where(F.col("doc_id") >= 10), docs.where(F.col("doc_id") < 10),
        n=3, min_common=2,
    )


SQL_MASK_CONTAMINATED = f"""
WITH sp AS ({SQL_DECONTAMINATE_SPANS}),
mp AS (SELECT doc_id, list_sort(list(DISTINCT p)) AS mask
       FROM (SELECT doc_id, unnest(generate_series(pos, pos + 2)) AS p FROM sp)
       GROUP BY doc_id),
d AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents WHERE doc_id >= 10)
SELECT d.doc_id,
       array_to_string(
         [CASE WHEN list_contains(coalesce(mp.mask, []), i)
               THEN '<extra_id_0>' ELSE d.tk[i] END
          FOR i IN generate_series(1, len(d.tk))], ' ') AS masked_text,
       CAST(len(list_filter(coalesce(mp.mask, []), p -> p <= len(d.tk)))
            AS BIGINT) AS n_masked
FROM d LEFT JOIN mp ON d.doc_id = mp.doc_id
"""


# a high-frequency marker ('the' keeps only non-English docs) plus a
# never-occurring term — exercises both verdicts on the fixture
BLOCKLIST = ["the", "qusvxz"]


def q_blocklist_filter(spark, sf_dir):
    """C4-style bad-words filter (functions/text.py blocklist_filter):
    per-doc blocklist hit count over the normalized token stream (array
    literal + HOF filter, zero shuffle) and a keep verdict at
    max_hits=0."""
    return X.blocklist_filter(
        _t(spark, sf_dir, "documents"), BLOCKLIST, max_hits=0
    )


SQL_BLOCKLIST = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents)
SELECT doc_id,
       CAST(len(list_filter(tk, x -> list_contains({BLOCKLIST!r}, x))) AS BIGINT)
         AS n_blocked,
       len(list_filter(tk, x -> list_contains({BLOCKLIST!r}, x))) <= 0 AS keep
FROM docs
"""


PACK_SEQ_LEN, PACK_SHARDS = 128, 4


def q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing (functions/transcripts.py
    pack_sequences): deterministic md5-hash layout order, shard-local
    cumulative token offsets, one output row per (document, sequence)
    span — every sequence except each shard's last is exactly seq_len
    tokens (test-asserted)."""
    return pack_sequences(
        _t(spark, sf_dir, "documents"),
        seq_len=PACK_SEQ_LEN, n_shards=PACK_SHARDS, seed=7,
    )


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT)
           AS n,
         {_H("CAST(doc_id AS VARCHAR) || ':' || '7'")} % 1000000 AS h
  FROM documents),
t2 AS (SELECT *, CAST(h % {PACK_SHARDS} AS INT) AS shard FROM t WHERE n > 0),
c AS (SELECT *, sum(n) OVER (PARTITION BY shard ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum FROM t2),
s AS (SELECT doc_id, shard, CAST(cum - n AS BIGINT) AS gs,
             CAST(cum AS BIGINT) AS ge FROM c),
e AS (SELECT doc_id, shard, gs, ge,
             unnest(generate_series(gs // {PACK_SEQ_LEN}, (ge - 1) // {PACK_SEQ_LEN}))
               AS seq_id
      FROM s)
SELECT doc_id, shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(gs, seq_id * {PACK_SEQ_LEN}) - seq_id * {PACK_SEQ_LEN} AS BIGINT)
         AS start_in_seq,
       CAST(least(ge, (seq_id + 1) * {PACK_SEQ_LEN})
            - greatest(gs, seq_id * {PACK_SEQ_LEN}) AS BIGINT) AS n_toks
FROM e
"""


def q_curate_corpus(spark, sf_dir):
    """The curation pipeline composed end to end (functions/text.py
    curate_corpus): quality + repetition features + exact-dedup keeper
    election + NEAR-dup group keeper election (lsh_dedup_groups as the
    fourth branch; group_id is the component min, so the keeper test is
    id == group_id) joined per document with the final keep verdict — the
    one-query form of a pretraining data-prep pass. The oracle composes
    the LSH-groups recursive-CTE family inside the curation CTE chain."""
    return X.curate_corpus(_t(spark, sf_dir, "documents"))


def q_token_counts(spark, sf_dir):
    return X.token_counts(_t(spark, sf_dir, "documents"))


SQL_CURATE = f"""
WITH q AS ({SQL_QUALITY}),
rep AS ({SQL_REPETITION}),
fp AS (SELECT doc_id, md5({_NORM('text')}) AS fp FROM documents),
k AS (SELECT fp, min(doc_id) AS keeper FROM fp GROUP BY 1),
d AS (SELECT fp.doc_id, fp.doc_id = k.keeper AS is_exact_keeper
      FROM fp JOIN k USING (fp)),
ndg AS ({SQL_LSH_DEDUP_GROUPS}),
nd AS (SELECT doc_id, doc_id = group_id AS is_neardup_keeper FROM ndg)
SELECT q.doc_id, q.n_tokens, q.quality_score, rep.dup_3gram_frac,
       d.is_exact_keeper, nd.is_neardup_keeper,
       (d.is_exact_keeper AND nd.is_neardup_keeper
        AND q.n_tokens BETWEEN 15 AND 10000
        AND q.punct_ratio <= 0.3 AND rep.dup_3gram_frac <= 0.5) AS keep
FROM q JOIN rep ON q.doc_id = rep.doc_id JOIN d ON q.doc_id = d.doc_id
     JOIN nd ON q.doc_id = nd.doc_id
"""


SQL_TOKENS = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS bpe_tokens,
       ROUND(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))
             / len(string_split_regex(trim(text), '\\s+')), 6) AS subword_ratio
FROM documents
"""


def q_mask_pii(spark, sf_dir):
    """PII scrubbing (functions/text.py mask_pii): emails / dotted-quad
    IPs / long digit runs -> typed sentinels + per-class hit counts, a
    pure codegen regexp chain. The fixture has no organic PII, so the
    entry plants it deterministically (doc_id-derived emails on ids % 5,
    IPs + account numbers on ids % 7) identically in both engines."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 250).cast("string"),
                    F.lit(".25 ref 12345678901"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return X.mask_pii(planted)


_SQL_PII_SRC = """
SELECT doc_id,
       text
       || CASE WHEN doc_id % 5 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END
       || CASE WHEN doc_id % 7 = 0
               THEN ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR)
                    || '.25 ref 12345678901'
               ELSE '' END AS text
FROM documents
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_NUM = r"\b\d{9,}\b"

SQL_MASK_PII = f"""
WITH src AS ({_SQL_PII_SRC}),
s1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
              regexp_replace(text, '{_PII_EMAIL}', '<email>', 'g') AS t
       FROM src),
s2 AS (SELECT doc_id, n_email,
              CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ip,
              regexp_replace(t, '{_PII_IP}', '<ip>', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ip,
              CAST(len(regexp_extract_all(t, '{_PII_NUM}')) AS BIGINT) AS n_number,
              regexp_replace(t, '{_PII_NUM}', '<number>', 'g') AS masked_text
       FROM s2)
SELECT doc_id, masked_text, n_email, n_ip, n_number,
       CAST(n_email + n_ip + n_number AS BIGINT) AS n_pii
FROM s3
"""


UNIGRAM_VOCAB = 500


def q_unigram_logprob(spark, sf_dir):
    """Corpus-LM quality score (functions/text.py unigram_logprob_score):
    per-doc mean unigram log probability under the corpus's own top-500
    vocabulary, OOV floored at ln(1/total) — the CCNet-style perplexity
    filter's unigram core. Vocab cutoff tie-breaks on (count desc, token)
    so both engines pick the identical vocabulary."""
    return X.unigram_logprob_score(
        _t(spark, sf_dir, "documents"), vocab_size=UNIGRAM_VOCAB
    )


SQL_UNIGRAM = f"""
WITH docs AS (SELECT doc_id, {_TOKS('text')} AS tk FROM documents),
toks AS (SELECT doc_id, t FROM (SELECT doc_id, unnest(tk) AS t FROM docs)
         WHERE t <> ''),
counts AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM counts),
vocab AS (SELECT t, ROUND(ln(c / (SELECT n FROM total)), 6) AS lp
          FROM counts ORDER BY c DESC, t LIMIT {UNIGRAM_VOCAB})
SELECT k.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.lp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(avg(coalesce(v.lp,
                          (SELECT ROUND(ln(1.0 / n), 6) FROM total))), 4)
         AS avg_logprob
FROM toks k LEFT JOIN vocab v ON k.t = v.t
GROUP BY k.doc_id
"""


# ---------------------------------------------------------------------------
# the real engine end-to-end (non-SQL-expressible: streaming + table format)
# ---------------------------------------------------------------------------

def q_engine_replay(spark, sf_dir):
    """Full engine path, oracle-checked: derived change feed → two bucketed
    MOR MERGE batches with the JVM text normalizer → a compaction
    between them (rewrite-files) → LWW read with tombstone elimination.
    The DuckDB oracle (SQL_ENGINE_REPLAY) folds the same feed and applies
    a SQL twin of the normalizer — hash-level equality proves the *engine*
    (table format + MOR + compaction + normalize), not just the dedup
    kernel."""
    from couch_to_mongo_spark.functions.normalize import normalize_text
    from couch_to_mongo_spark.operators.compact import compact
    from couch_to_mongo_spark.operators.merge import merge_batch, read_state, with_engine_schema
    from couch_to_mongo_spark.tableformat import LakeTable
    from pyspark.sql import types as T

    ch = _derive_changes(_t(spark, sf_dir, "events"))
    payload = T.StructType(
        [f for f in ch.schema.fields if f.name not in ("seq", "op")]
    )
    work = _scratch_dir("c2m_entry_")
    table = LakeTable.create(
        spark, os.path.join(work, "tbl"), with_engine_schema(payload), n_buckets=8
    )
    norm = lambda df: df.withColumn("text", normalize_text(F.col("text")))
    n = ch.agg(F.max("seq")).first()[0] or 0
    half = n // 2
    merge_batch(table, ch.where(F.col("seq") <= half), run_id="entry", batch_id=0,
                transform_after_dedup=norm)
    compact(table, max_files_per_bucket=0)  # fold every bucket mid-replay
    merge_batch(table, ch.where(F.col("seq") > half), run_id="entry", batch_id=1,
                transform_after_dedup=norm)
    return read_state(table).select("conv_id", "turn_idx", "text")


SQL_ENGINE_REPLAY = f"""
WITH ch AS ({SQL_DERIVE}),
ranked AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY seq DESC) rn
           FROM ch)
SELECT conv_id, turn_idx,
       trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


def q_corpus_view_replay(spark, sf_dir):
    """Incrementally-maintained rendered-corpus view, oracle-checked end
    to end (operators/corpus_view.py): the derived change feed is applied
    to a primary transcript table in three MERGE batches, and after each
    batch the view refreshes ONLY the touched conversations (bucket-
    pruned read, O(changed) re-render, MERGE into the view table). The
    DuckDB oracle is the full rebuild — fold + string_agg per
    conversation — so hash equality proves the incremental maintenance
    converges to the batch answer."""
    from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView
    from couch_to_mongo_spark.operators.merge import merge_batch, with_engine_schema
    from couch_to_mongo_spark.tableformat import LakeTable
    from pyspark.sql import types as T

    ch = _derive_changes(_t(spark, sf_dir, "events"))
    payload = T.StructType(
        [f for f in ch.schema.fields if f.name not in ("seq", "op")]
    )
    work = _scratch_dir("c2m_cview_")
    primary = LakeTable.create(
        spark, os.path.join(work, "tbl"), with_engine_schema(payload), n_buckets=8
    )
    view = RenderedCorpusView(
        spark, primary, os.path.join(work, "view"), n_buckets=4
    )
    n = ch.agg(F.max("seq")).first()[0] or 0
    bounds = [-1, n // 3, (2 * n) // 3, n]
    for i in range(3):
        b = ch.where(
            (F.col("seq") > bounds[i]) & (F.col("seq") <= bounds[i + 1])
        )
        merge_batch(primary, b, run_id="cv", batch_id=i)
        view.refresh(
            b.select("conv_id"), seq=bounds[i + 1], run_id="cv-view", batch_id=i
        )
    return view.read()


SQL_CORPUS_VIEW = f"""
WITH fold AS ({SQL_CDC_FOLD})
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(length(string_agg(coalesce(text, ''), chr(10) ORDER BY turn_idx))
            AS BIGINT) AS n_chars,
       string_agg(coalesce(text, ''), chr(10) ORDER BY turn_idx) AS doc
FROM fold
GROUP BY conv_id
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the CDC engine applied end-to-end on sf0.001."""
    return q_engine_replay(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lww_latest_state": q_lww_latest_state,
        "cdc_fold": q_cdc_fold,
        "engine_replay": q_engine_replay,
        "corpus_view_replay": q_corpus_view_replay,
        "mask_pii": q_mask_pii,
        "unigram_logprob": q_unigram_logprob,
        "render_conversations": q_render_conversations,
        "boilerplate_turns": q_boilerplate_turns,
        "conversation_pack": q_conversation_pack,
        "rev_order": q_rev_order,
        "dedup_exact": q_dedup_exact,
        "doc_fingerprint": q_fingerprint,
        "minhash_lsh_buckets": q_minhash_lsh,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "dedup_groups": q_dedup_groups,
        "lsh_dedup_groups": q_lsh_dedup_groups,
        "conversation_dedup": q_conversation_dedup,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "lang_id": q_lang_id,
        "quality_score": q_quality,
        "repetition_features": q_repetition,
        "token_counts": q_token_counts,
        "curate_corpus": q_curate_corpus,
        "decontaminate": q_decontaminate,
        "decontaminate_spans": q_decontaminate_spans,
        "mask_contaminated": q_mask_contaminated,
        "blocklist_filter": q_blocklist_filter,
        "pack_sequences": q_pack_sequences,
        "stratified_sample": q_stratified_sample,
        "token_budget_sample": q_token_budget_sample,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "lww_latest_state": SQL_LWW,
        "cdc_fold": SQL_CDC_FOLD,
        "render_conversations": SQL_RENDER_CONV,
        "boilerplate_turns": SQL_BOILERPLATE,
        "conversation_pack": SQL_CONV_PACK,
        "rev_order": SQL_REV,
        "dedup_exact": SQL_DEDUP_EXACT,
        "doc_fingerprint": SQL_FP,
        "minhash_lsh_buckets": SQL_MINHASH_LSH,
        "ngram_jaccard_pairs": SQL_JACCARD,
        "ngram_jaccard_capped": SQL_JACCARD_CAPPED,
        "dedup_groups": SQL_DEDUP_GROUPS,
        "lsh_dedup_groups": SQL_LSH_DEDUP_GROUPS,
        "conversation_dedup": SQL_CONVERSATION_DEDUP,
        "simhash": SQL_SIMHASH,
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "lang_id": SQL_LANG,
        "quality_score": SQL_QUALITY,
        "repetition_features": SQL_REPETITION,
        "token_counts": SQL_TOKENS,
        "curate_corpus": SQL_CURATE,
        "decontaminate": SQL_DECONTAMINATE,
        "decontaminate_spans": SQL_DECONTAMINATE_SPANS,
        "mask_contaminated": SQL_MASK_CONTAMINATED,
        "blocklist_filter": SQL_BLOCKLIST,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "stratified_sample": SQL_STRATIFIED,
        "token_budget_sample": SQL_TOKEN_BUDGET,
        "mask_pii": SQL_MASK_PII,
        "unigram_logprob": SQL_UNIGRAM,
        # round 2: the full engine path is oracle-checked too — final MOR
        # state after merge+compaction+tombstones IS SQL-expressible
        "engine_replay": SQL_ENGINE_REPLAY,
        # round 5: incremental view maintenance vs the full-rebuild SQL
        "corpus_view_replay": SQL_CORPUS_VIEW,
    }
