"""Per-batch lineage / metrics log (SURVEY.md §2.1 S7, FIXTURES.md §4).

Reference analogue: the `migration.metadata` collection — per-batch audit
docs with time, threadId, inserted/upserted ids and per-doc sequence
numbers (reference: Mongo.java:524-593), written fire-and-forget
(WriteConcern 0, Mongo.java:314). Our rendering: an append-only parquet
directory next to the table; one tiny file per micro-batch, written by the
driver after the snapshot commit (audit only — correctness lives in the
snapshot log, so a lost lineage row can't corrupt state, matching the
reference's WC-0 semantics).
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone
from typing import Any

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# one fixed physical schema for every lineage file: a row whose optional
# fields are None (an empty batch's seq range, unclassified counts) must
# still write int64 columns, or a later multi-file read trips over a
# null-typed column
LINEAGE_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("batch_id", pa.int64()),
        ("seq_min", pa.int64()),
        ("seq_max", pa.int64()),
        ("rows_applied", pa.int64()),
        ("n_inserts", pa.int64()),
        ("n_updates", pa.int64()),
        ("n_deletes", pa.int64()),
        ("snapshot_id", pa.int64()),
        ("partition_stats", pa.string()),
        ("committed_at", pa.timestamp("us")),
    ]
)
LINEAGE_COLUMNS = LINEAGE_SCHEMA.names


class LineageLog:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)

    def append(
        self,
        run_id: str,
        batch_id: int,
        *,
        seq_min: int | None,
        seq_max: int | None,
        rows_applied: int,
        n_inserts: int | None = None,
        n_updates: int | None = None,
        n_deletes: int | None = None,
        snapshot_id: int | None = None,
        partition_stats: dict[str, Any] | None = None,
    ) -> str:
        """One lineage row. ``n_*`` stay null unless the batch was
        classified (only merges with a change feed attached are)."""
        row = {
            "run_id": run_id,
            "batch_id": int(batch_id),
            "seq_min": seq_min,
            "seq_max": seq_max,
            "rows_applied": int(rows_applied),
            "n_inserts": n_inserts,
            "n_updates": n_updates,
            "n_deletes": n_deletes,
            "snapshot_id": snapshot_id,
            "partition_stats": json.dumps(partition_stats or {}),
            # audit timestamp — NOT in the data path (determinism lives there)
            "committed_at": datetime.now(timezone.utc).replace(tzinfo=None),
        }
        name = f"lineage-{run_id}-{batch_id:08d}-{uuid.uuid4().hex[:6]}.parquet"
        p = os.path.join(self.path, name)
        pq.write_table(pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA), p)
        return p

    def append_result(self, run_id: str, batch_id: int, res, **partition_stats) -> str:
        """The batch's lineage row from its ``MergeResult``;
        ``partition_stats`` join the result's touched-bucket count."""
        return self.append(
            run_id,
            batch_id,
            seq_min=res.seq_min,
            seq_max=res.seq_max,
            rows_applied=res.rows_applied,
            n_inserts=res.n_inserts,
            n_updates=res.n_updates,
            n_deletes=res.n_deletes,
            snapshot_id=res.snapshot_id,
            partition_stats={"touched_buckets": res.touched_buckets, **partition_stats},
        )

    def backfill(self, run_id: str, batch_id: int, res) -> None:
        """A crash between snapshot commit and lineage append loses the
        batch's row; the fenced re-run writes it from the committed
        snapshot's lineage its skip result ``res`` carries."""
        if res.snapshot_id is not None and not self.has(run_id, batch_id):
            self.append_result(run_id, batch_id, res, backfilled=1)

    def has(self, run_id: str, batch_id: int) -> bool:
        """Fast existence probe by filename (no data read). The run id is
        matched literally and the suffix is exactly ``append``'s 6-hex
        uuid, so neither a glob character in the id nor a run whose id
        extends this one (``x`` vs ``x-00000001``) can decide the probe."""
        import glob

        name = f"lineage-{glob.escape(run_id)}-{batch_id:08d}-??????.parquet"
        return bool(glob.glob(os.path.join(glob.escape(self.path), name)))

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, "*.parquet"))

    def read_pandas(self) -> pd.DataFrame:
        import glob

        files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        if not files:
            return pd.DataFrame(columns=LINEAGE_COLUMNS)
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

    def last_seq(self) -> int | None:
        """Latest applied source seq — the reference's getLastSequenceNumber
        checkpoint lookup (Mongo.java:358-374), as max over lineage."""
        pdf = self.read_pandas()
        if pdf.empty or pdf["seq_max"].isna().all():
            return None
        return int(pdf["seq_max"].max())
