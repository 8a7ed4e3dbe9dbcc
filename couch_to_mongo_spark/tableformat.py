"""Mini lakehouse table format: parquet data files + atomic JSON snapshot log.

The reference persists its resumability state (session lifecycle, per-batch
lineage, last change-feed seq) in a `migration.metadata` collection in the
sink (reference: src/main/java/demo/Mongo.java:311-356, 524-593) and detects
unfinished sessions by aggregating it (Mongo.java:422-466). Our Spark-native
analogue is an Iceberg-style table:

- data files are parquet, laid out in hash buckets on the merge key
  (``bucket = pmod(xxhash64(conv_id), n_buckets)``) so a micro-batch MERGE
  rewrites only the touched buckets — O(changed), not O(table);
- a ``_snapshots/v{N}.json`` log lists, per bucket, a reference to an
  immutable *manifest* file (``_snapshots/manifests/m-*.json``) holding
  that bucket's live data files + per-file ``_seq`` bounds; the snapshot
  also carries the table schema, per-commit lineage, and the per-run
  exactly-once fences — committed atomically via O_CREAT|O_EXCL
  (Iceberg's manifest-list + optimistic-commit model in miniature, since
  no Iceberg jars ship in this image). A commit rewrites ONLY the touched
  buckets' manifests and reuses the rest by reference, so per-commit
  metadata I/O is O(touched buckets), not O(live files);
- replaying an already-committed batch is a no-op (**fencing**) — the Spark
  rendering of the reference's "skip already-migrated ids"
  (Mongo.java:93-102) and unfinished-session resume (Mongo.java:422-466),
  but O(1) in driver memory instead of O(sink ids).

At 100 TB the same design holds: n_buckets scales to O(10^4-10^5), the
snapshot JSON stays O(n_buckets) manifest references (file lists live in
per-bucket manifests, rewritten only when the bucket changes), a
``_latest`` pointer makes version discovery O(1) instead of a directory
listing, and commit contention is a single atomic create per micro-batch.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SNAP_RE = re.compile(r"^v(\d{8})\.json$")
BUCKET_COL = "_bucket"
# the engine's sequence column: per-file bounds on it drive scan pruning
SEQ_COL = "_seq"
# commit rebase budget: retries after a CommitConflict, and the base of the
# jittered exponential backoff between them (seconds)
COMMIT_MAX_RETRIES = 10
COMMIT_BACKOFF_BASE_S = 0.02


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic hash bucket for a key column.

    Spark-native analogue of the reference's equal-count key ranges
    (Couch.java:106-140): hash buckets need no histogram walk and are
    immune to lexicographic hot ranges.
    """
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


@dataclass
class Snapshot:
    version: int
    snapshot_id: int
    parent: int | None
    schema_json: dict
    n_buckets: int
    files: dict[str, list[str]]  # bucket (str) -> relative file paths
    lineage: dict[str, Any] = field(default_factory=dict)
    # per-file stats for scan pruning: relpath -> [rows, seq_min, seq_max]
    # (Iceberg's per-data-file column bounds, for the one column the engine
    # always filters on). Carried forward across commits; entries for
    # removed files are dropped.
    file_stats: dict[str, list] = field(default_factory=dict)
    # exactly-once fence, O(1) per run: run_id -> [max_batch_id, snapshot_id
    # of that batch's commit]. Structured Streaming batch ids are monotonic
    # per checkpoint (and run_id is pinned to the checkpoint), so a single
    # high-water mark per run fences every replay — snapshot metadata stays
    # O(runs), not O(total batches). (Round-1 design kept the full
    # {run:batch -> snapshot} map, which serialized the entire commit
    # history into every snapshot: O(B^2) metadata bytes over a long
    # stream.)
    fences: dict[str, list[int]] = field(default_factory=dict)
    # bucket (str) -> manifest filename under _snapshots/manifests/. The
    # serialized (v2) snapshot stores ONLY these references; `files` and
    # `file_stats` above are materialized from the manifests on load so
    # every in-memory consumer is unchanged. Manifests are immutable and
    # uuid-named, hence safely cacheable process-wide.
    manifests: dict[str, str] = field(default_factory=dict)
    # wall-clock commit time (epoch seconds) — timestamp time travel
    # (Iceberg FOR SYSTEM_TIME AS OF). None on pre-upgrade snapshots.
    committed_at: float | None = None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def all_files(self) -> list[str]:
        return [f for fl in self.files.values() for f in fl]

    def to_json(self) -> dict:
        """Serialized (v2) form: manifest references, not inline file lists.

        Per-commit metadata bytes are O(n_buckets) here plus O(files in
        touched buckets) in the freshly written manifests — the Iceberg
        manifest-list shape. (The v1 format inlined the full `files` +
        `file_stats` maps: O(live files) re-serialized per commit, which at
        10^5-10^6 live files × 10^6 micro-batch commits is a metadata
        scale-killer.)
        """
        return {
            "format": 2,
            "version": self.version,
            "snapshot_id": self.snapshot_id,
            "parent": self.parent,
            "schema": self.schema_json,
            "n_buckets": self.n_buckets,
            "manifests": self.manifests,
            "lineage": self.lineage,
            "fences": self.fences,
            "committed_at": self.committed_at,
        }

    @classmethod
    def from_json(cls, d: dict) -> "Snapshot":
        """Build from a v1 (inline files) snapshot dict. v2 dicts are
        resolved by :meth:`LakeTable.snapshot`, which owns manifest I/O."""
        fences = d.get("fences", {})
        if not fences and d.get("committed_batches"):
            # migrate round-1 layout ({run:batch -> snapshot_id}) on read
            for k, sid in d["committed_batches"].items():
                run, bid = k.rsplit(":", 1)
                cur = fences.get(run)
                if cur is None or int(bid) > cur[0]:
                    fences[run] = [int(bid), sid]
        return cls(
            version=d["version"],
            snapshot_id=d["snapshot_id"],
            parent=d.get("parent"),
            schema_json=d["schema"],
            n_buckets=d["n_buckets"],
            files=d.get("files", {}),
            lineage=d.get("lineage", {}),
            fences=fences,
            file_stats=d.get("file_stats", {}),
            manifests=d.get("manifests", {}),
            committed_at=d.get("committed_at"),
        )


class CommitConflict(Exception):
    """Another writer committed the same version first (optimistic commit)."""


# Manifests are immutable once published (uuid-named, never rewritten), so a
# process-wide cache never goes stale; a long-lived driver reads each bucket
# manifest at most once. Bounded (LRU: overflow evicts the least-recently-
# used entry, not the whole cache) to keep a many-table driver from hoarding.
# Lock-guarded: snapshot materialization reads manifests through a thread
# pool (_MANIFEST_PARALLEL_THRESHOLD), and at the eviction cap an unguarded
# check-then-act can double-pop the same first key or mutate the dict mid-
# iteration. The critical section is a dict move — nanoseconds next to the
# file I/O it caches — so one module lock costs nothing.
_MANIFEST_CACHE: dict[str, tuple[list[str], dict[str, list]]] = {}
_MANIFEST_CACHE_MAX = 65536
_MANIFEST_CACHE_LOCK = threading.Lock()
# above this many buckets, a cold materialized snapshot load reads the
# per-bucket manifests through a thread pool instead of a serial loop
_MANIFEST_PARALLEL_THRESHOLD = 64
# below this many files the footer-stats pass reads serially: the
# thread-pool overhead beats the loop
_FOOTER_PARALLEL_THRESHOLD = 32


def _cache_put(p: str, entry: tuple[list[str], dict[str, list]]) -> None:
    with _MANIFEST_CACHE_LOCK:
        # pop-then-reinsert refreshes recency (dict preserves insertion order)
        _MANIFEST_CACHE.pop(p, None)
        while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
            _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
        _MANIFEST_CACHE[p] = entry


def _one_footer(path: str) -> list:
    """[rows, seq_min, seq_max] of one parquet file from its footer."""
    import pyarrow.parquet as _pq

    md = _pq.read_metadata(path)
    fmn, fmx = None, None
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if SEQ_COL in idx:
        ci = idx[SEQ_COL]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is not None and st.has_min_max:
                fmn = st.min if fmn is None else min(fmn, st.min)
                fmx = st.max if fmx is None else max(fmx, st.max)
    return [md.num_rows, fmn, fmx]


class LakeTable:
    """A bucketed parquet table with an atomic snapshot log."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.snap_dir = os.path.join(self.path, "_snapshots")
        self.manifest_dir = os.path.join(self.snap_dir, "manifests")
        self.data_dir = os.path.join(self.path, "data")

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        n_buckets: int = 16,
    ) -> "LakeTable":
        tbl = cls(spark, path)
        os.makedirs(tbl.snap_dir, exist_ok=True)
        os.makedirs(tbl.data_dir, exist_ok=True)
        if tbl.latest_version() is None:
            snap = Snapshot(
                version=0,
                snapshot_id=0,
                parent=None,
                schema_json=json.loads(schema.json()),
                n_buckets=n_buckets,
                files={},
                lineage={"op": "create"},
                committed_at=time.time(),
            )
            tbl._write_snapshot(snap)
        return tbl

    def exists(self) -> bool:
        return self.latest_version() is not None

    # ---------------- snapshot log ----------------

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.snap_dir, f"v{version:08d}.json")

    def _existing_versions(self) -> list[int]:
        if not os.path.isdir(self.snap_dir):
            return []
        return sorted(
            int(m.group(1))
            for f in os.listdir(self.snap_dir)
            if (m := _SNAP_RE.match(f))
        )

    def latest_version(self) -> int | None:
        """Current version via the ``_latest`` pointer file — O(1 + lag)
        instead of a directory listing per read/commit (O(#versions), an
        O(B²) cumulative cost over ~10^6 micro-batch commits). The pointer
        is a hint updated after each successful commit; staleness (crash
        between publish and pointer update, or a concurrent writer) is
        repaired by probing forward, and a missing/invalid pointer falls
        back to the listing."""
        v: int | None = None
        try:
            with open(os.path.join(self.snap_dir, "_latest")) as fh:
                v = int(fh.read().strip())
        except (FileNotFoundError, NotADirectoryError, ValueError):
            v = None
        if v is not None and not os.path.exists(self._snap_path(v)):
            v = None  # bogus pointer (or pointee pruned out from under it)
        if v is None:
            versions = self._existing_versions()
            if not versions:
                return None
            v = versions[-1]
        while os.path.exists(self._snap_path(v + 1)):
            v += 1
        return v

    def snapshot(
        self, version: int | None = None, materialize: bool = True
    ) -> Snapshot:
        """Load a snapshot. ``materialize=False`` skips resolving the
        per-bucket manifests into ``files``/``file_stats`` — right for
        metadata-only consumers (fences, schema, n_buckets) and for
        bucket-pruned reads that resolve their own buckets: a cold driver
        on a 10^5-bucket table must not pay 10^5 manifest opens to check a
        fence. A materialized load above ``_MANIFEST_PARALLEL_THRESHOLD``
        buckets fans the manifest reads out to a thread pool (cold-cache
        path only; warm loads are dict lookups)."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no snapshots in {self.snap_dir}")
        p = self._snap_path(version)
        try:
            with open(p) as fh:
                d = json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"snapshot v{version} not found in {self.snap_dir} "
                "(expired beyond retention, or never committed)"
            ) from None
        snap = Snapshot.from_json(d)
        if materialize and snap.manifests and not snap.files:
            items = list(snap.manifests.items())
            if len(items) > _MANIFEST_PARALLEL_THRESHOLD:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=32) as pool:
                    loaded = list(
                        pool.map(lambda kv: self._read_manifest(kv[1]), items)
                    )
            else:
                loaded = [self._read_manifest(name) for _, name in items]
            files: dict[str, list[str]] = {}
            stats: dict[str, list] = {}
            for (b, _), (fl, st) in zip(items, loaded):
                files[b] = fl
                stats.update(st)
            snap.files = files
            snap.file_stats = stats
        return snap

    def history(self) -> list[Snapshot]:
        """All snapshots still on disk (oldest first). After
        expire_snapshots pruning, this is the retained window only."""
        return [self.snapshot(v) for v in self._existing_versions()]

    # ---------------- manifests ----------------

    def _read_manifest(self, name: str) -> tuple[list[str], dict[str, list]]:
        p = os.path.join(self.manifest_dir, name)
        hit = _MANIFEST_CACHE.get(p)
        if hit is not None:
            _cache_put(p, hit)  # LRU touch
            return hit
        with open(p) as fh:
            d = json.load(fh)
        entry = (d["files"], d.get("file_stats", {}))
        _cache_put(p, entry)
        return entry

    def _write_manifest(
        self, bucket: str, files: list[str], file_stats: dict[str, list]
    ) -> str:
        """Publish one bucket's immutable manifest; returns its filename.
        fsync'd before the snapshot that references it is linked, so a
        published snapshot never points at a torn manifest. Conflicted
        commit attempts orphan their manifests; expire_snapshots reclaims
        them (with an mtime grace for in-flight commits)."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        name = f"m-{uuid.uuid4().hex}.json"
        p = os.path.join(self.manifest_dir, name)
        with open(p, "w") as fh:
            json.dump({"bucket": bucket, "files": files, "file_stats": file_stats}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        _cache_put(p, (files, file_stats))
        return name

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Atomic publish: O_CREAT|O_EXCL then write+fsync via temp+link.

        Write the payload to a temp file first, then `os.link` it to the
        final name — link(2) fails with EEXIST if a concurrent writer won,
        which is exactly Iceberg's optimistic-concurrency commit. On
        success the ``_latest`` pointer is refreshed (atomic replace; a
        crash in between only costs the next reader a probe-forward).
        """
        final = self._snap_path(snap.version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(snap.to_json(), fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise CommitConflict(f"version {snap.version} already committed") from e
        finally:
            os.unlink(tmp)
        ptr = os.path.join(self.snap_dir, "_latest")
        ptr_tmp = ptr + f".tmp-{uuid.uuid4().hex}"
        with open(ptr_tmp, "w") as fh:
            fh.write(str(snap.version))
        os.replace(ptr_tmp, ptr)

    # ---------------- fencing ----------------

    def is_batch_committed(self, run_id: str, batch_id: int) -> bool:
        """True iff this (run_id, batch_id) already has a committed snapshot.

        The foreachBatch exactly-once fence: Structured Streaming may replay
        a batch after a crash between sink-write and offset-commit; the
        fence makes the replay a no-op. (Reference analogue: unfinished-
        session detection + id-skip, Mongo.java:422-466 / 93-102.)

        Batch ids are monotonic per run (run_id is pinned to the streaming
        checkpoint), so the check is against the per-run high-water mark.
        """
        if not self.exists():
            return False
        fence = self.snapshot(materialize=False).fences.get(run_id)
        return fence is not None and batch_id <= fence[0]

    def fence_snapshot_id(self, run_id: str, batch_id: int) -> int | None:
        """Snapshot id that committed (run_id, batch_id), if it is the run's
        high-water batch — used to backfill a lineage row lost to a crash
        between snapshot commit and lineage append."""
        fence = self.snapshot(materialize=False).fences.get(run_id)
        if fence is not None and batch_id == fence[0]:
            return fence[1]
        return None

    # ---------------- read ----------------

    def version_as_of(self, ts: float) -> int:
        """Timestamp time travel (Iceberg FOR SYSTEM_TIME AS OF): the
        latest version whose commit landed at or before ``ts`` (epoch
        seconds). Walks back from the latest snapshot — O(versions newer
        than ts) metadata reads, i.e. cheap for the common "a few minutes
        ago" queries; pre-upgrade snapshots without a timestamp are treated
        as arbitrarily old."""
        v = self.latest_version()
        if v is None:
            raise FileNotFoundError(f"no snapshots under {self.snap_dir}")
        while v >= 0:
            try:
                snap = self.snapshot(v)
            except FileNotFoundError:
                # walked past the retention window (expire_snapshots pruned
                # this version): surface as the documented too-old error,
                # not a missing-file crash
                break
            if snap.committed_at is None or snap.committed_at <= ts:
                return v
            v -= 1
        raise ValueError(
            f"no snapshot committed at or before {ts} within retention"
        )

    def read(
        self,
        version: int | None = None,
        min_seq: int | None = None,
        as_of: float | None = None,
        min_seq_rows: bool = True,
    ) -> DataFrame:
        """Read a snapshot. ``min_seq`` prunes data files whose snapshot-level
        ``_seq`` max is below it BEFORE Spark plans the scan — metadata-only
        file skipping on the engine's universal filter column (Iceberg's
        per-file column bounds). At 10^10 events an incremental consumer
        reads O(new files), not O(table). ``as_of`` (epoch seconds)
        resolves the version by commit timestamp instead.

        ``min_seq_rows=False`` keeps the file-level pruning but skips the
        row-level ``_seq >= min_seq`` filter: every row CO-LOCATED in a
        retained file is returned, including late out-of-order rows whose
        own seq is below the bound. Incremental consumers that derive a
        re-process set (e.g. the corpus view's catch-up) need this — a
        late row can still win LWW on the primary, so dropping it from
        the changed-set derivation would leave derived state stale."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version or as_of, not both")
            version = self.version_as_of(as_of)
        snap = self.snapshot(version)
        rels = snap.all_files() if min_seq is None else self._files_from_seq(snap, min_seq)
        files = [os.path.join(self.path, f) for f in rels]
        if not files:
            df = self.spark.createDataFrame([], snap.schema)
        else:
            # Explicit schema => missing (later-evolved) columns read as null,
            # the Spark-native analogue of the reference tolerating docs
            # with/without Header/Analytics (SURVEY.md §1.2).
            df = self.spark.read.schema(snap.schema).parquet(*files)
        if min_seq is not None and min_seq_rows and SEQ_COL in df.columns:
            df = df.where(F.col(SEQ_COL) >= F.lit(min_seq))
        return df

    @staticmethod
    def _files_from_seq(snap: Snapshot, min_seq: int) -> list[str]:
        """The live files a ``min_seq`` read scans: those whose ``_seq`` max
        reaches ``min_seq``, plus every file without seq stats."""
        kept = []
        for f in snap.all_files():
            st = snap.file_stats.get(f)
            seq_max = st[2] if st else None
            if seq_max is None or seq_max >= min_seq:
                kept.append(f)
        return kept

    def seq_high_water(self, version: int | None = None) -> int | None:
        """Max ``_seq`` upper bound across the snapshot's live files —
        metadata-only (manifest per-file stats, no scan). None when the
        table is empty or no file carries seq stats. Files without stats
        are skipped, which can only UNDER-estimate — callers using this
        as an incremental floor (corpus-view catch-up) then re-process a
        little, never miss anything."""
        snap = self.snapshot(version)
        maxes = [
            st[2] for st in snap.file_stats.values() if st and st[2] is not None
        ]
        return max(maxes) if maxes else None

    def files_pruned_by_seq(self, min_seq: int, version: int | None = None) -> tuple[int, int]:
        """(files_read, files_total) a min_seq read would scan — pruning
        observability for tests and ops."""
        snap = self.snapshot(version)
        return len(self._files_from_seq(snap, min_seq)), len(snap.all_files())

    def read_appended(
        self, since_version: int, version: int | None = None
    ) -> DataFrame:
        """Incremental read (CDC-out / changelog view): only the delta rows
        added AFTER ``since_version`` up to ``version`` — the files present
        in the later snapshot but not the earlier one. O(new data) I/O; a
        downstream consumer polls this instead of re-reading the table.
        Rows are raw multi-version deltas (tombstones included) in the
        later snapshot's schema. Any rewrite-style commit — one that
        REMOVED files relative to its parent (compaction, rescale, strict
        replace) — is excluded, because its new files re-materialize
        previously-delivered rows. Merges only append, so every merged
        row is delivered exactly once. Requires snapshot retention
        (expire_snapshots keep_last) to cover the consumer's lag."""
        snap = self.snapshot(version)
        target = snap.version
        base = self.snapshot(since_version)
        seen = set(base.all_files())
        parent_files = set(base.all_files())
        new: list[str] = []
        for v in range(since_version + 1, target + 1):
            s = self.snapshot(v)
            cur = set(s.all_files())
            added = [f for f in s.all_files() if f not in seen]
            seen.update(added)
            if not (parent_files - cur):  # pure append: nothing removed
                new.extend(added)
            parent_files = cur
        if not new:
            return self.spark.createDataFrame([], snap.schema)
        return self.spark.read.schema(snap.schema).parquet(
            *[os.path.join(self.path, f) for f in new]
        )

    def read_buckets(self, buckets: list[int], version: int | None = None) -> DataFrame:
        """Read only the given buckets — the partition-pruned side of MERGE.
        Metadata I/O is O(requested buckets): only the asked-for buckets'
        manifests are opened (a cold driver merging a 3-bucket batch into a
        10^5-bucket table opens 3 manifests, not 10^5)."""
        snap = self.snapshot(version, materialize=False)
        if snap.manifests and not snap.files:
            per_bucket = {
                str(b): self._read_manifest(snap.manifests[str(b)])[0]
                for b in buckets
                if str(b) in snap.manifests
            }
        else:
            per_bucket = snap.files
        files = [
            os.path.join(self.path, f)
            for b in buckets
            for f in per_bucket.get(str(b), [])
        ]
        if not files:
            return self.spark.createDataFrame([], snap.schema)
        return self.spark.read.schema(snap.schema).parquet(*files)

    # ---------------- write / commit ----------------

    def commit(
        self,
        new_files: dict[int, list[str]],
        touched_buckets: list[int],
        lineage: dict[str, Any],
        new_schema: T.StructType | None = None,
        run_id: str | None = None,
        batch_id: int | None = None,
        append: bool = False,
        replaced_files: set[str] | None = None,
        base_version: int | None = None,
        new_file_stats: dict[str, list] | None = None,
        new_n_buckets: int | None = None,
    ) -> Snapshot:
        """Publish a new snapshot with optimistic-concurrency rebase.

        Three write semantics (Iceberg's commit taxonomy in miniature):

        - ``append=True`` (MOR delta append): touched buckets get
          ``prev + new_files``. Always rebaseable — a concurrent commit just
          changes the base we append onto, so on :class:`CommitConflict`
          we re-read the latest snapshot and retry (bounded).
        - ``replaced_files`` given (compaction / rewrite-files): touched
          buckets become ``new_files + (prev - replaced_files)`` — files
          appended by concurrent merges *after* our read survive the
          rewrite. Also always rebaseable.
        - neither (strict replace: bootstrap / rescale): touched buckets
          become exactly ``new_files``; rebase is only safe if no concurrent
          commit modified a touched bucket since ``base_version`` — if one
          did, its rows would be silently dropped, so we raise
          :class:`CommitConflict` for the caller to re-run.
        """
        if new_n_buckets is not None and (append or replaced_files is not None):
            raise ValueError(
                "new_n_buckets (bucket rescale) requires strict-replace "
                "semantics: the whole file layout is re-keyed, so partial "
                "commits cannot be rebased onto it"
            )
        base = self.snapshot(base_version) if base_version is not None else self.snapshot()
        touched = set(touched_buckets)
        for attempt in range(COMMIT_MAX_RETRIES + 1):
            prev = self.snapshot()
            files = {b: list(fl) for b, fl in prev.files.items() if int(b) not in touched}
            for b in touched:
                prev_fl = prev.files.get(str(b), [])
                new_fl = new_files.get(b) or new_files.get(str(b)) or []
                if append:
                    fl = prev_fl + list(new_fl)
                elif replaced_files is not None:
                    fl = list(new_fl) + [f for f in prev_fl if f not in replaced_files]
                else:
                    if prev.version != base.version and prev_fl != base.files.get(str(b), []):
                        raise CommitConflict(
                            f"bucket {b} changed since v{base.version}; "
                            "strict-replace commit cannot rebase"
                        )
                    fl = list(new_fl)
                if fl:
                    files[str(b)] = fl
                else:
                    files.pop(str(b), None)
            fences = {r: list(v) for r, v in prev.fences.items()}
            if run_id is not None and batch_id is not None:
                cur = fences.get(run_id)
                if cur is not None and batch_id <= cur[0]:
                    raise CommitConflict(
                        f"batch {run_id}:{batch_id} already fenced at {cur[0]}"
                    )
                fences[run_id] = [batch_id, prev.snapshot_id + 1]
            stats = dict(prev.file_stats)
            stats.update(new_file_stats or {})
            live = {f for fl in files.values() for f in fl}
            stats = {f: s for f, s in stats.items() if f in live}
            # Per-bucket manifests: untouched buckets reuse the previous
            # snapshot's manifest by reference (their file list and stats
            # cannot have changed — new_file_stats only covers files in
            # touched buckets); touched buckets get a fresh immutable
            # manifest. Metadata written per commit = O(touched buckets).
            # A v1-format (inline) previous snapshot has no manifests, so
            # the first commit on a migrated table writes all of them once.
            manifests: dict[str, str] = {}
            for b_str, fl in files.items():
                if int(b_str) not in touched and b_str in prev.manifests:
                    manifests[b_str] = prev.manifests[b_str]
                else:
                    manifests[b_str] = self._write_manifest(
                        b_str, fl, {f: stats[f] for f in fl if f in stats}
                    )
            snap = Snapshot(
                version=prev.version + 1,
                snapshot_id=prev.snapshot_id + 1,
                parent=prev.version,
                schema_json=json.loads(new_schema.json()) if new_schema is not None else prev.schema_json,
                n_buckets=new_n_buckets if new_n_buckets is not None else prev.n_buckets,
                files=files,
                lineage=lineage,
                fences=fences,
                file_stats=stats,
                manifests=manifests,
                # clamp to parent: version_as_of's backward walk assumes
                # committed_at is non-decreasing across versions, which a
                # backwards wall-clock step would otherwise break
                committed_at=max(
                    time.time(),
                    prev.committed_at if prev.committed_at is not None else 0.0,
                ),
            )
            try:
                self._write_snapshot(snap)
                return snap
            except CommitConflict:
                if attempt == COMMIT_MAX_RETRIES:
                    raise
                # Jittered exponential backoff before the rebase re-read: N
                # writers colliding on one version otherwise busy-spin
                # re-serializing snapshots in lockstep (reference analogue:
                # bounded retry budgets, Mongo.java:51-52).
                import random

                time.sleep(random.uniform(0, COMMIT_BACKOFF_BASE_S * (2**attempt)))
        raise CommitConflict("unreachable")  # pragma: no cover

    # ---------------- maintenance ----------------

    def expire_snapshots(
        self,
        keep_last: int = 2,
        manifest_grace_seconds: float = 300.0,
    ) -> dict[str, int]:
        """Delete data files referenced only by snapshots older than the
        last ``keep_last`` (bounded time travel — Iceberg's
        expire_snapshots), then prune the expired snapshot JSONs and every
        manifest no retained snapshot references. Without metadata pruning,
        version files accumulate forever (~10^6 over a long stream) and
        conflicted-commit manifests leak. Manifests younger than
        ``manifest_grace_seconds`` are kept — an in-flight concurrent
        commit may have written its manifests but not yet linked its
        snapshot. Time travel and read_appended stay valid within the
        retained window only."""
        versions = self._existing_versions()
        if not versions:
            return {"files_deleted": 0, "snapshots_expired": 0, "manifests_deleted": 0}
        keep_versions = versions[-keep_last:] if keep_last > 0 else []
        expired_versions = [v for v in versions if v not in set(keep_versions)]
        live: set[str] = set()
        live_manifests: set[str] = set()
        for v in keep_versions:
            s = self.snapshot(v)
            live.update(s.all_files())
            live_manifests.update(s.manifests.values())
        deleted = 0
        for v in expired_versions:
            for f in self.snapshot(v).all_files():
                if f in live:
                    continue
                p = os.path.join(self.path, f)
                if os.path.exists(p):
                    os.unlink(p)
                    deleted += 1
                live.add(f)  # only attempt once
        for v in expired_versions:
            os.unlink(self._snap_path(v))
        manifests_deleted = 0
        if os.path.isdir(self.manifest_dir):
            now = time.time()
            for name in os.listdir(self.manifest_dir):
                if name in live_manifests or not name.endswith(".json"):
                    continue
                p = os.path.join(self.manifest_dir, name)
                if now - os.path.getmtime(p) < manifest_grace_seconds:
                    continue
                os.unlink(p)
                _MANIFEST_CACHE.pop(p, None)
                manifests_deleted += 1
        return {
            "files_deleted": deleted,
            "snapshots_expired": len(expired_versions),
            "manifests_deleted": manifests_deleted,
        }

    def gc_orphans(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete staging dirs under data/ referenced by NO snapshot —
        the residue of crashes between write_bucketed and commit. A dir is
        kept if any of its files appears in any snapshot, or if it was
        modified within ``grace_seconds`` (an in-flight concurrent write).
        Returns the deleted dir names."""
        import shutil

        live_dirs: set[str] = set()
        for snap in self.history():
            for f in snap.all_files():
                # f is like "data/s00000002-ab12cd34/b3/part-....parquet"
                parts = f.split(os.sep)
                if len(parts) >= 2:
                    live_dirs.add(parts[1])
        deleted = []
        now = time.time()
        for entry in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, entry)
            if not os.path.isdir(p) or entry in live_dirs:
                continue
            if now - os.path.getmtime(p) < grace_seconds:
                continue
            shutil.rmtree(p)
            deleted.append(entry)
        return sorted(deleted)

    def write_bucketed(self, df: DataFrame, snapshot_hint: str) -> dict[int, list[str]]:
        """Write df as per-bucket parquet under data/<snapshot_hint>-<uuid>/
        and return {bucket: [relative paths]}.

        Uses partitionBy(bucket) so each Spark task streams into its bucket
        directory — one shuffle (the repartition upstream), parallel write.

        The staging dir is uuid-suffixed so a crash between write and
        snapshot commit never poisons the replay: the fenced re-run stages
        to a fresh dir instead of hitting PATH_ALREADY_EXISTS on the
        deterministic one, and concurrent writers targeting the same next
        version can never collide on disk. Orphaned staging dirs (written
        but never committed) are reclaimed by :meth:`gc_orphans`.
        """
        out = os.path.join(self.data_dir, f"{snapshot_hint}-{uuid.uuid4().hex[:8]}")
        (df.write.mode("errorifexists").partitionBy(BUCKET_COL).parquet(out))
        # Rename `_bucket=N` -> `bN` so later multi-file reads never trigger
        # Spark's partition-column inference (which would append _bucket to
        # the schema and poison schema-equality checks).
        result: dict[int, list[str]] = {}
        for entry in os.listdir(out):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            b = int(entry.split("=", 1)[1])
            bdir = os.path.join(out, f"b{b}")
            os.rename(os.path.join(out, entry), bdir)
            rels = [
                os.path.relpath(os.path.join(bdir, f), self.path)
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            ]
            result[b] = sorted(rels)
        return result

    def file_stats(self, new_files: dict[int, list[str]]) -> tuple[int, dict[str, list]]:
        """(total rows, {relpath: [rows, seq_min, seq_max]}) of freshly
        written files, read from parquet footers (metadata-only I/O). The
        per-file dict is what :meth:`commit` persists as ``new_file_stats``
        for seq-range scan pruning (:meth:`read` with ``min_seq``).

        Per-micro-batch MERGE touches O(touched buckets) files — a serial
        loop is fine. Whole-table writers (bulk_bootstrap, rescale_buckets)
        hand in every file of the table, so above a threshold the footer
        reads fan out to a thread pool (pyarrow releases the GIL on I/O): a
        10^5-file table must not pay 10^5 serial opens in its commit path."""
        rel = [f for fl in new_files.values() for f in fl]
        paths = [os.path.join(self.path, f) for f in rel]
        if len(paths) > _FOOTER_PARALLEL_THRESHOLD:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(32, len(paths))) as pool:
                stats = list(pool.map(_one_footer, paths))
        else:
            stats = [_one_footer(p) for p in paths]
        return sum(st[0] for st in stats), dict(zip(rel, stats))
