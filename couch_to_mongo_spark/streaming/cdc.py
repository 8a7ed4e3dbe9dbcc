"""The CDC tail: Structured Streaming + foreachBatch exactly-once apply.

Reference lifecycle (SURVEY.md §3.2): poll `_changes` since=<seq> every
5 s → coalesce changed ids per poll → re-fetch winning revs → bulk upsert
→ persist last seq (reference: ChangeFeedClient.java:50-155). Spark
rendering:

    readStream(changes dir)                       # S4 source
      -> foreachBatch(batch_id, df):
           fence(run_id, batch_id)                # exactly-once replay guard
           drift-check(df.inputFiles())           # schema evolution
           normalize text (JVM expression)        # C7
           LWW dedup + MERGE INTO table           # A4 + S6 (merge_batch)
           lineage.append(...)                    # S7

Resume = restart with the same checkpointLocation: Spark's offset log
replays the uncommitted batch, the fence skips committed ones — the
reference's session-resume (Mongo.java:422-466) with zero driver-side
state. ``run_id`` is pinned to the checkpoint directory (created once) so
fencing keys survive restarts.

Schema evolution mid-stream follows the lake-standard restart-on-drift
model: the stream runs with the currently-known feed schema; when a batch's
input files carry unseen columns, the query aborts *before* any commit,
the outer loop re-infers the schema and restarts from the same checkpoint —
the batch replays with the wider schema and MERGE evolves the table. The
catch-up (``run_available``) and the continuous tail (``tail``, also the
CLI's) run under that one loop.
"""

from __future__ import annotations

import os
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couch_to_mongo_spark.functions.normalize import normalize_text
from couch_to_mongo_spark.operators.merge import merge_batch, with_engine_schema
from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
from couch_to_mongo_spark.sources.changes import (
    feed_schema_drift,
    infer_feed_schema,
    read_changes_stream,
)
from couch_to_mongo_spark.streaming.lineage import LineageLog
from couch_to_mongo_spark.tableformat import LakeTable


class SchemaDrift(Exception):
    def __init__(
        self,
        new_columns: list[str],
        widened_columns: list[str] | None = None,
        incompatible_columns: list[str] | None = None,
    ):
        self.new_columns = new_columns
        self.widened_columns = widened_columns or []
        self.incompatible_columns = incompatible_columns or []
        super().__init__(
            f"schema drift: new columns {new_columns}, "
            f"widened {self.widened_columns}, "
            f"incompatible {self.incompatible_columns}"
        )


def _pin_run_id(checkpoint_dir: str) -> str:
    """One stable run_id per checkpoint identity (create-once file)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "run_id")
    try:
        fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        rid = uuid.uuid4().hex
        os.write(fd, rid.encode())
        os.close(fd)
        return rid
    except FileExistsError:
        with open(p) as fh:
            return fh.read().strip()


def _local_path(uri: str) -> str:
    """Local filesystem path of a file URI as Spark writes it: the source
    log and ``inputFiles()`` percent-encode the path (a space becomes
    ``%20``), so the scheme is dropped and the path decoded once."""
    return unquote(urlparse(uri).path)


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        changes_dir: str,
        checkpoint_dir: str,
        n_buckets: int = 16,
        max_files_per_trigger: int | None = None,
        since_seq: int | None = None,
        compact_threshold: int = 8,
        compact_async: bool = True,
        quarantine_poison: bool = False,
        transform_kernel=None,
        emit_cdf: bool = False,
        maintain_view: str | None = None,
        view_refresh_every: int = 1,
        retention_keep_last: int | None = None,
        retention_every: int = 50,
    ):
        self.spark = spark
        self.table_path = table_path
        self.changes_dir = changes_dir
        self.checkpoint_dir = checkpoint_dir
        self.n_buckets = n_buckets
        self.max_files_per_trigger = max_files_per_trigger
        self.since_seq = since_seq
        self.compact_threshold = compact_threshold
        self.compact_async = compact_async
        self.compactions = 0
        self.view_compactions = 0
        self._compact_thread = None
        self._compact_error: BaseException | None = None
        # snapshot retention on the maintenance loop: a long tail commits
        # one snapshot per micro-batch (plus compactions) — 10^6 version
        # JSONs + orphaned manifests over a month without expiry. Every
        # `retention_every` applied batches the maintenance pass calls
        # expire_snapshots(keep_last=retention_keep_last) on the primary
        # (and the maintained view). Fences ride in every snapshot, so
        # pruned history never weakens exactly-once; time travel and
        # read_appended stay valid within the retained window only.
        self.retention_keep_last = retention_keep_last
        self.retention_every = max(int(retention_every), 1)
        self.expirations = 0
        # due-ness LATCH, not a modulo check (r7 correctness fix): in
        # async mode the whole maintenance pass is skipped while the
        # previous thread is alive, so a stream whose compactions
        # routinely straddle the retention boundary would starve expiry
        # forever (unbounded version log — the exact problem retention
        # exists for). Expiry fires when batches_applied has advanced
        # retention_every past the last expiry, whenever that is observed.
        self._last_expired_at = 0

        # quarantine_poison: run the text transform through the
        # poison-isolating mapInPandas wrapper (operators/poison.py) — a row
        # the kernel cannot process is dead-lettered instead of failing the
        # batch. transform_kernel: optional custom schema-preserving pandas
        # kernel replacing the default normalizer (codec, validator, ...).
        self.quarantine_poison = quarantine_poison
        self.transform_kernel = transform_kernel
        self.dead_letter = None
        if quarantine_poison:
            from couch_to_mongo_spark.sources.json_changes import DeadLetterLog

            self.dead_letter = DeadLetterLog(os.path.join(table_path, "_dead_letter"))
        # semantic change feed (insert / update pre+post / delete per batch):
        # downstream CDC-out for consumers that can't fold raw MOR deltas
        self.cdf = None
        if emit_cdf:
            from couch_to_mongo_spark.operators.cdf import ChangeFeedLog

            self.cdf = ChangeFeedLog(spark, os.path.join(table_path, "_changes"))

        self.run_id = _pin_run_id(checkpoint_dir)
        self.table = self._ensure_table()
        # maintain_view: keep a rendered-conversation corpus table fresh —
        # after each merged batch, re-render ONLY the touched conversations
        # into the derived LakeTable at this path (O(changed) per batch).
        # The refresh runs on fenced replays too: its own fence decides, so
        # a crash between primary commit and view refresh self-heals.
        # view_refresh_every=K > 1 DEFERS maintenance off the ingest
        # critical path: the view catches up every K batches (and at end of
        # run) from the primary's own per-file _seq bounds instead of
        # per-batch conv sets — a crash between primary commits and the
        # deferred refresh converges on the next catch-up by construction
        # (corpus_view.catch_up recovers the floor from view manifests).
        self.view = None
        self.view_refresh_every = max(int(view_refresh_every), 1)
        self._last_batch_id: int | None = None
        if maintain_view is not None:
            from couch_to_mongo_spark.operators.corpus_view import (
                RenderedCorpusView,
            )

            self.view = RenderedCorpusView(
                spark, self.table, maintain_view, n_buckets=n_buckets
            )
        self.lineage = LineageLog(os.path.join(table_path, "_lineage"))
        self.feed_schema: T.StructType | None = None
        self.batches_applied = 0
        self.batches_fenced = 0
        self.drift_error: SchemaDrift | None = None

    def _ensure_table(self) -> LakeTable:
        tbl = LakeTable(self.spark, self.table_path)
        if not tbl.exists():
            tbl = LakeTable.create(
                self.spark,
                self.table_path,
                with_engine_schema(TRANSCRIPT_SCHEMA),
                n_buckets=self.n_buckets,
            )
        return tbl

    # ---------------- foreachBatch body ----------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # schema drift fence BEFORE any commit: ONE footer pass over the
        # batch's input files detects new columns, type widening (int->long
        # mid-stream), and off-lattice incompatible changes (long->string).
        # The first two restart the stream with a re-inferred schema; an
        # incompatible change surfaces here as SchemaDrift (the re-infer on
        # restart then raises the precise TypeError) instead of failing
        # later inside the parquet scan with an opaque executor error.
        if self.feed_schema is not None:
            paths = self._batch_input_files(batch_df, batch_id)
            new_cols, widened, incompatible = feed_schema_drift(paths, self.feed_schema)
            if new_cols or widened or incompatible:
                self.drift_error = SchemaDrift(new_cols, widened, incompatible)
                raise self.drift_error

        if self.since_seq is not None:
            batch_df = batch_df.where(F.col("seq") > F.lit(self.since_seq))
        transform = None
        if self.quarantine_poison:
            from couch_to_mongo_spark.functions.normalize import normalize_kernel
            from couch_to_mongo_spark.operators.poison import isolate_poison

            kernel = self.transform_kernel or normalize_kernel
            transform = lambda df: isolate_poison(df, kernel)
        elif "text" in batch_df.columns:
            transform = lambda df: df.withColumn("text", normalize_text(F.col("text")))

        res = merge_batch(
            self.table,
            batch_df,
            run_id=self.run_id,
            batch_id=batch_id,
            transform_after_dedup=transform,
            dead_letter=self.dead_letter,
            cdf=self.cdf,
        )
        if res.skipped:
            self.batches_fenced += 1
            self.lineage.backfill(self.run_id, batch_id, res)
            self._refresh_view(batch_df, batch_id, res)
            return
        self.batches_applied += 1
        self._refresh_view(batch_df, batch_id, res)
        self._maybe_compact()
        self.lineage.append_result(self.run_id, batch_id, res, n_poison=res.n_poison)

    def _refresh_view(self, batch_df: DataFrame, batch_id: int, res) -> None:
        """Refresh the maintained corpus view for this batch's touched
        conversations. Stamped with the batch's source max seq from the
        merge result's lineage (a fenced replay carries the committed
        snapshot's); runs under the pipeline run_id so the view's fences
        track the primary's.

        With ``view_refresh_every=K > 1`` the per-batch refresh is
        skipped; every K-th batch triggers a catch-up that derives the
        accumulated changed-conv set from the primary's per-file _seq
        bounds (O(new files)). The remainder is flushed by
        :meth:`finish_maintenance`. View-delta compaction is handled by
        :meth:`_maybe_compact` (async by default), NOT inline here — view
        render latency is on the ingest critical path, bucket rewrites
        must not be."""
        if self.view is None:
            return
        self._last_batch_id = batch_id
        if self.view_refresh_every > 1:
            if (batch_id + 1) % self.view_refresh_every == 0:
                self.view.catch_up(run_id=f"{self.run_id}:catchup")
            return
        if res.seq_max is None:  # empty batch, or no resolvable lineage
            return
        self.view.refresh(
            batch_df.select("conv_id"),
            seq=int(res.seq_max),
            run_id=self.run_id,
            batch_id=batch_id,
        )

    def _batch_input_files(self, batch_df: DataFrame, batch_id: int) -> list[str]:
        """The micro-batch's input files. Primary source: the file-stream
        source's per-batch log in the checkpoint (``sources/0/<batchId>``,
        one JSON entry per file) — trigger-independent, metadata-only.
        ``batch_df.inputFiles()`` is only a fallback: it returns [] under
        the processingTime trigger."""
        import json as _json

        src_dir = os.path.join(self.checkpoint_dir, "sources", "0")
        log = os.path.join(src_dir, str(batch_id))
        if not os.path.exists(log):
            # the source log compacts every N batches: batch N's entries
            # live in "N.compact" together with all prior ones (tagged by
            # their original batchId)
            log = os.path.join(src_dir, f"{batch_id}.compact")
        paths: list[str] = []
        if os.path.exists(log):
            with open(log) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        e = _json.loads(line)
                        if e.get("batchId") == batch_id and e.get("path"):
                            paths.append(e["path"])
        if not paths:
            paths = batch_df.inputFiles()
        return [_local_path(p) for p in paths]

    # ---------------- maintenance ----------------

    def _maybe_compact(self) -> None:
        """Compaction off the hot path: by default runs in a daemon thread
        so the micro-batch latency never pays the bucket rewrite (round-1
        ran it inline — a compaction outliving the trigger interval stalls
        the stream). The rewrite-files commit rebases under concurrent
        merges, so the racing thread is safe; at most one compaction runs
        at a time. The maintained view's MOR deltas (one per touched view
        bucket per refresh — unbounded without folding) compact in the
        same guarded pass, gated on the same compact_threshold."""
        do_primary = bool(self.compact_threshold)
        do_view = self.view is not None and do_primary
        applied_now = self.batches_applied
        do_expire = bool(
            self.retention_keep_last
            and applied_now - self._last_expired_at >= self.retention_every
        )
        if not (do_primary or do_view or do_expire):
            return
        from couch_to_mongo_spark.operators.compact import compact

        def work():
            if do_primary and compact(
                self.table, max_files_per_bucket=self.compact_threshold
            ):
                self.compactions += 1
            if do_view and self.view.maybe_compact(self.compact_threshold):
                self.view_compactions += 1
            if do_expire:
                self.table.expire_snapshots(keep_last=self.retention_keep_last)
                if self.view is not None:
                    self.view.view.expire_snapshots(
                        keep_last=self.retention_keep_last
                    )
                self.expirations += 1
                # latch at the batch count CAPTURED when this pass was
                # scheduled — batches applied while expiry ran still count
                # toward the next due window
                self._last_expired_at = applied_now

        if not self.compact_async:
            work()
            return
        if self._compact_thread is not None and self._compact_thread.is_alive():
            return
        import threading

        def run():
            try:
                work()
            except BaseException as e:  # surfaced on join
                self._compact_error = e

        self._compact_thread = threading.Thread(target=run, daemon=True, name="c2m-compact")
        self._compact_thread.start()

    def finish_maintenance(self) -> None:
        """Join any in-flight async compaction and flush a deferred view
        to the primary's current snapshot (call after a run drains)."""
        if self._compact_thread is not None:
            self._compact_thread.join()
            self._compact_thread = None
        if self._compact_error is not None:
            err, self._compact_error = self._compact_error, None
            raise err
        if self.view is not None and self.view_refresh_every > 1:
            # no-op (None, no commit) when the last modulo trigger already
            # caught up; otherwise covers every batch since the view's
            # high-water stamp, crashed-run leftovers included. Fenced at
            # the primary's seq hwm under the dedicated catch-up run key.
            self.view.catch_up(run_id=f"{self.run_id}:catchup")

    # ---------------- drivers ----------------

    def run_available(self, max_restarts: int = 10) -> "CdcPipeline":
        """Replay everything currently in the feed (trigger availableNow),
        restarting on schema drift with the evolved schema."""
        return self._supervised_stream({"availableNow": True}, max_restarts)

    def tail(
        self,
        processing_time: str = "5 seconds",
        max_restarts: int = 10,
        until: "callable | None" = None,
        poll_seconds: float = 0.5,
    ) -> "CdcPipeline":
        """Continuous tail — the reference's forever-poll loop
        (ChangeFeedClient.java:61-71) as a processingTime trigger, under the
        same restart-on-drift supervision as :meth:`run_available`.
        ``until(pipeline)`` (optional) stops the tail cleanly when it
        returns True (tests / bounded runs); without it the call blocks
        forever like the reference's poll loop."""
        return self._supervised_stream(
            {"processingTime": processing_time}, max_restarts, until, poll_seconds
        )

    def _supervised_stream(
        self,
        trigger: dict,
        max_restarts: int,
        until: "callable | None" = None,
        poll_seconds: float = 0.5,
    ) -> "CdcPipeline":
        """Run the feed stream under ``trigger`` until it terminates (or
        ``until`` says stop), then drain maintenance. A batch that hit
        schema drift aborted before its commit: re-infer the (wider) feed
        schema and restart from the same checkpoint, which replays it."""
        import time

        for _ in range(max_restarts):
            self.feed_schema = infer_feed_schema(self.changes_dir)
            self.drift_error = None
            stream = read_changes_stream(
                self.spark,
                self.changes_dir,
                self.feed_schema,
                max_files_per_trigger=self.max_files_per_trigger,
            )
            q = (
                stream.writeStream.foreachBatch(self.process_batch)
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(**trigger)
                .start()
            )
            try:
                if until is None:
                    q.awaitTermination()
                else:
                    while q.isActive and not until(self):
                        time.sleep(poll_seconds)
                    q.stop()
                    q.awaitTermination()
                if self.drift_error is not None:
                    # drift killed the last batch before stop(): restart
                    continue
                self.finish_maintenance()
                return self
            except Exception:
                if self.drift_error is not None:
                    continue  # restart with re-inferred (wider) schema
                raise
        raise RuntimeError("too many schema-drift restarts")
