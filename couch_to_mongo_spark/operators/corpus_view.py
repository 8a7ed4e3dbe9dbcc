"""Incrementally-maintained rendered-conversation view — a materialized
training corpus that stays fresh as the CDC stream lands.

A full re-render of 10^8 conversations per micro-batch is a full-table
scan + shuffle every few seconds; the view refresh is O(changed): only
the conversations touched by a batch are re-read (bucket-pruned via the
primary's own hash layout), re-rendered, and MERGEd into a second
LakeTable keyed by (conv_id, 0). Because the view is maintained with the
same merge_batch machinery as the primary, it inherits the whole
operational story for free: exactly-once per-run fences, idempotent
replay, LWW convergence, MOR deltas + compaction, snapshot time travel.

The reference has no analogue (it replicates raw docs, Mongo.java:189);
this is the "derived table maintained from the change feed" pattern a
training-data platform runs on top of the lakehouse.

Scale shape per refresh (B touched buckets out of N, C touched convs):
manifest I/O O(B); scan O(rows in B buckets) with the conv semi-join
pushed below the render; render shuffle O(touched turns); view write
O(C). Nothing is O(table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couch_to_mongo_spark.functions.transcripts import render_conversations
from couch_to_mongo_spark.operators.merge import (
    MergeResult,
    merge_batch,
    read_state,
    resolve_live_state,
    with_engine_schema,
)
from couch_to_mongo_spark.tableformat import LakeTable, bucket_expr

VIEW_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),  # always 0
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_chars", T.LongType(), True),
        T.StructField("text", T.StringType(), True),  # the rendered doc
    ]
)


class RenderedCorpusView:
    """Maintains ``view`` (a LakeTable of one rendered doc per
    conversation, rendered by
    :func:`~couch_to_mongo_spark.functions.transcripts.render_conversations`
    with its defaults) from a primary transcript table, one CDC batch at a
    time."""

    def __init__(
        self,
        spark: SparkSession,
        primary: LakeTable,
        view_path: str,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.primary = primary
        self.view = LakeTable.create(
            spark, view_path, with_engine_schema(VIEW_SCHEMA), n_buckets=n_buckets
        )

    # -- incremental refresh ------------------------------------------

    def refresh(
        self,
        changed_convs: DataFrame,
        seq: int,
        run_id: str = "corpus_view",
        batch_id: int = 0,
    ) -> MergeResult:
        """Re-render exactly the conversations in ``changed_convs`` (any
        DataFrame with a conv_id column; deduped here) as of the
        primary's current snapshot, stamped with change version ``seq``
        (use the source batch's max seq: batches are monotonic per run,
        so LWW converges the view even under replay/reorder).

        Conversations that end up with NO live turns (fully tombstoned)
        get a delete row — the view never serves a stale doc for a dead
        conversation."""
        return merge_batch(
            self.view,
            self.plan_refresh(changed_convs, seq),
            run_id=run_id,
            batch_id=batch_id,
        )

    #: above this many changed convs the refresh stops inlining the conv set
    #: as a pushed-down IN literal and broadcast-semi-joins instead
    PUSHDOWN_MAX_CONVS = 10_000

    def plan_refresh(self, changed_convs: DataFrame, seq: int) -> DataFrame:
        """The refresh batch as a DataFrame (upserts + tombstones), before
        the MERGE — separated so tests can plan-assert the bucket-pruned,
        conv-filtered, single-render-shuffle shape.

        The conv filter sits BELOW the LWW fold (r6): filtering by conv
        before per-(conv, turn) LWW keeps whole keys, so resolving state
        for untouched convs in the touched buckets is pure waste — at 32
        buckets a 50-conv micro-batch used to fold ~27/32 of the table's
        rows through the window. For a micro-batch-sized set
        (<= PUSHDOWN_MAX_CONVS) the conv ids inline as a pushed-down IN
        literal, so the parquet scan row-group-skips on the conv-sorted
        compacted files; bigger sets broadcast-semi-join against the raw
        bucket read instead. Measured: 5k-event tail refresh 2.4s -> see
        BENCH cdc_view_incremental."""
        convs = changed_convs.select("conv_id").distinct()
        # bounded driver collect: touched conv ids -> touched bucket ids
        # plus the conv ids themselves — the same O(touched) contract
        # merge itself makes, and the set the broadcast must hold anyway.
        n_b = self.primary.snapshot(materialize=False).n_buckets
        pairs = convs.select("conv_id", bucket_expr("conv_id", n_b).alias("b")).collect()
        touched = sorted({r["b"] for r in pairs})
        conv_ids = [r["conv_id"] for r in pairs]
        raw = self.primary.read_buckets(touched)
        if len(conv_ids) <= self.PUSHDOWN_MAX_CONVS:
            raw = raw.where(F.col("conv_id").isin(conv_ids))
        else:
            raw = raw.join(F.broadcast(convs), "conv_id", "left_semi")
        live = resolve_live_state(raw)
        rendered = render_conversations(live)
        upserts = rendered.select(
            "conv_id",
            F.lit(0).cast("int").alias("turn_idx"),
            "n_turns",
            "n_chars",
            F.col("doc").alias("text"),
            F.lit("u").alias("op"),
            F.lit(int(seq)).alias("seq"),
        )
        deletes = (
            convs.join(rendered.select("conv_id"), "conv_id", "left_anti")
            .select(
                "conv_id",
                F.lit(0).cast("int").alias("turn_idx"),
                F.lit(None).cast("long").alias("n_turns"),
                F.lit(None).cast("long").alias("n_chars"),
                F.lit(None).cast("string").alias("text"),
                F.lit("d").alias("op"),
                F.lit(int(seq)).alias("seq"),
            )
        )
        return upserts.unionByName(deletes)

    def catch_up(self, run_id: str = "corpus_view") -> MergeResult | None:
        """Deferred-maintenance refresh: bring the view up to the primary's
        CURRENT snapshot without per-batch conv sets. The changed-conv set
        is derived from the primary table itself — files whose per-file
        ``_seq`` bounds exceed the view's high-water stamp (metadata-only
        pruning, O(new files) scan) — so any number of un-refreshed
        batches, including batches a crashed run merged but never
        refreshed, are covered by construction. Idempotent: re-running
        with the same primary state re-renders the same convs with the
        same stamp and LWW converges; a no-op (primary hwm <= view hwm)
        returns None without committing.

        The view's high-water mark is recovered from its own manifests
        (every refresh stamps rows with the primary's max seq), so
        catch-up needs no driver-side state — the crash-safe property the
        deferred mode rests on. The commit is fenced at the primary's seq
        high-water: monotonic across catch-ups, recoverable after a crash
        (unlike a driver counter), and never colliding with a per-batch
        refresh fence as long as catch-ups run under their own run_id
        (CdcPipeline uses ``<run_id>:catchup``).

        Late-row coverage (r7 correctness fix, ADVICE r6 medium): a late
        out-of-order event whose seq is <= the view's hwm can still win
        LWW on the primary (e.g. the first row for its key), but the old
        row-level ``_seq >= hwm+1`` filter dropped it from the changed-
        conv derivation — and because merges write PER-BUCKET delta
        files, such a row routinely lands in a file whose every row is
        late (file seq-max below the bound), so file-level pruning alone
        misses it too. The changed set is therefore the UNION of two
        derivations: (a) the seq-bound read with file-level pruning only
        (``min_seq_rows=False`` — covers rewrite-style commits whose
        folded files carry fresh seq bounds), and (b) a snapshot-diff
        ``read_appended`` from the earliest primary version whose seq
        high-water had reached the view's stamp — every file COMMITTED
        after the last refresh, regardless of its seq bounds (hwm is
        monotone in version, so binary search; under-inclusion is
        impossible because the stamping refresh's own snapshot qualifies,
        and over-inclusion only re-renders convs idempotently).
        Remaining assumptions: a catch-up only fires when the primary
        hwm ADVANCED past the view's (a wholly-late tail that never
        advances the feed's max seq defers to the next advancing batch —
        the fence high-water contract already assumes cross-batch
        progress), and snapshot retention must cover the refresh lag
        (expire_snapshots pruning the stamping version degrades (b) to
        the earliest retained version — still correct within the
        retained window)."""
        primary_hwm = self.primary.seq_high_water()
        if primary_hwm is None:
            return None  # empty primary: nothing to render
        view_hwm = self.view.seq_high_water()
        if view_hwm is not None and primary_hwm <= view_hwm:
            return None  # view already current
        new_rows = self.primary.read(
            min_seq=(view_hwm + 1) if view_hwm is not None else None,
            min_seq_rows=False,
        )
        changed = new_rows.select("conv_id")
        if view_hwm is not None:
            since = self._earliest_version_at_hwm(view_hwm)
            if since is not None and since < self.primary.latest_version():
                changed = changed.unionByName(
                    self.primary.read_appended(since).select("conv_id")
                )
        return self.refresh(
            changed,
            seq=primary_hwm,
            run_id=run_id,
            batch_id=int(primary_hwm),
        )

    def _earliest_version_at_hwm(self, hwm: int) -> int | None:
        """Earliest RETAINED primary version whose seq high-water >= hwm —
        the snapshot-diff base for catch_up's changed-file derivation.
        seq_high_water is monotone non-decreasing in version (appends only
        raise it; rewrites preserve it), so binary search over the
        retained version list: O(log V) snapshot-metadata loads."""
        versions = self.primary._existing_versions()
        if not versions:
            return None
        lo, hi, ans = 0, len(versions) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            h = self.primary.seq_high_water(version=versions[mid])
            if h is not None and h >= hwm:
                ans = versions[mid]
                hi = mid - 1
            else:
                lo = mid + 1
        return ans if ans is not None else versions[0]

    def maybe_compact(self, max_files_per_bucket: int = 8) -> dict:
        """Fold view buckets holding more than ``max_files_per_bucket``
        MOR delta files (each refresh appends one delta per touched
        bucket — unbounded without this). Same rewrite-files kernel as
        the primary; the view is a plain LakeTable, so `submit_main
        compact/vacuum --table <view_path>` also work on it."""
        from couch_to_mongo_spark.operators.compact import compact

        return compact(self.view, max_files_per_bucket=max_files_per_bucket)

    # -- reads --------------------------------------------------------

    def read(self) -> DataFrame:
        """The live corpus: (conv_id, n_turns, n_chars, doc)."""
        return read_state(self.view).select(
            "conv_id", "n_turns", "n_chars", F.col("text").alias("doc")
        )
