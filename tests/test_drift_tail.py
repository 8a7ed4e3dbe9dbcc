"""Schema-drift hardening: type widening mid-stream + supervised tail.

Covers VERDICT wrong-#4 (drift check missed type changes) and ADVICE r01
(a continuous tail needs restart-on-drift supervision: CdcPipeline.tail
runs the same supervised loop as run_available).
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from couch_to_mongo_spark.operators.merge import read_state
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.sources.changes import feed_schema_drift, infer_feed_schema
from couch_to_mongo_spark.streaming.cdc import CdcPipeline

from feedgen import make_changes_df, write_change_files


def _write_feed_file(path: str, seqs, score_type: pa.DataType, mtime: int):
    n = len(seqs)
    tbl = pa.table(
        {
            "seq": pa.array(seqs, pa.int64()),
            "op": pa.array(["u"] * n),
            "conv_id": pa.array([f"conv-{s % 4:06d}" for s in seqs]),
            "turn_idx": pa.array([s % 10 for s in seqs], pa.int32()),
            "_rev": pa.array([f"1-{s:08x}" for s in seqs]),
            "role": pa.array(["user"] * n),
            "text": pa.array([f"turn {s}" for s in seqs]),
            "tool": pa.array([None] * n, pa.string()),
            "ts": pa.array([1700000000_000000 + s for s in seqs], pa.timestamp("us")),
            "score": pa.array(list(range(n)), score_type),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def test_feed_schema_drift_detects_widening(tmp_path):
    f1 = str(tmp_path / "changes-00000.parquet")
    f2 = str(tmp_path / "changes-00001.parquet")
    _write_feed_file(f1, list(range(0, 50)), pa.int32(), 1700000000)
    _write_feed_file(f2, list(range(50, 100)), pa.int64(), 1700000001)

    known = infer_feed_schema(str(tmp_path))
    # union inference widens score to long
    assert dict((f.name, f.dataType.simpleString()) for f in known.fields)["score"] == "bigint"

    from pyspark.sql import types as T

    narrow = T.StructType(
        [f if f.name != "score" else T.StructField("score", T.IntegerType()) for f in known.fields]
    )
    new_cols, widened, incompatible = feed_schema_drift([f1, f2], narrow)
    assert new_cols == [] and widened == ["score"] and incompatible == []
    # no false positive on the narrow file alone
    assert feed_schema_drift([f1], narrow) == ([], [], [])


def test_feed_schema_drift_flags_incompatible_change(tmp_path):
    """An off-lattice type change (score long -> string) must surface as
    drift, not crash later inside the parquet scan."""
    import pytest

    f1 = str(tmp_path / "changes-00000.parquet")
    f2 = str(tmp_path / "changes-00001.parquet")
    _write_feed_file(f1, list(range(0, 50)), pa.int64(), 1700000000)
    tbl = pq.read_table(f1)
    bad = tbl.set_column(
        tbl.schema.get_field_index("score"),
        "score",
        pa.array([str(i) for i in range(50)], pa.string()),
    )
    pq.write_table(bad, f2)
    from pyspark.sql import types as T

    sch = pq.read_schema(f1)
    from couch_to_mongo_spark.sources.changes import _spark_type

    known = T.StructType(
        [T.StructField(n, _spark_type(t), True) for n, t in zip(sch.names, sch.types)]
    )
    new_cols, widened, incompatible = feed_schema_drift([f2], known)
    assert incompatible == ["score"] and new_cols == [] and widened == []
    # and full re-inference raises the precise error
    with pytest.raises(TypeError, match="incompatible feed types"):
        infer_feed_schema(str(tmp_path), sample_limit=None)


def test_type_widening_mid_stream_end_to_end(spark, tmp_path):
    """int32 file then int64 file: the table column evolves to long and the
    int32 rows read back correctly through the widened schema."""
    changes = str(tmp_path / "changes")
    os.makedirs(changes)
    _write_feed_file(os.path.join(changes, "c0.parquet"), list(range(0, 50)), pa.int32(), 1700000000)
    _write_feed_file(os.path.join(changes, "c1.parquet"), list(range(50, 100)), pa.int64(), 1700000001)

    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=changes,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,
    ).run_available()

    out = read_state(pipe.table).toPandas()
    assert str(out["score"].dtype) == "int64"
    # every live key's score survived the widened read
    assert len(out) == out[["conv_id", "turn_idx"]].drop_duplicates().shape[0]
    assert out["score"].notna().all()


def test_tail_restarts_on_mid_stream_drift(spark, tmp_path):
    """Supervised tail: feed evolves (new columns) WHILE the continuous
    query is running; the tail restarts with the wider schema and
    converges — no external supervisor needed."""
    changes = str(tmp_path / "changes")
    pdf1 = make_changes_df(n_events=600, n_convs=12, seed=51)
    write_change_files(changes, pdf1, n_files=2)

    pdf2 = make_changes_df(
        n_events=300, n_convs=12, seed=52, seq_start=600, evolve_at=600
    )

    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=changes,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        max_files_per_trigger=1,
    )

    state = {"written": False, "deadline": time.monotonic() + 300}

    def until(p: CdcPipeline) -> bool:
        if time.monotonic() > state["deadline"]:  # safety net
            return True
        if not state["written"] and p.batches_applied >= 1:
            write_change_files(changes, pdf2, n_files=1, evolve_at=600, start_index=10)
            state["written"] = True
            return False
        return state["written"] and p.lineage.last_seq() == 899

    pipe.tail(processing_time="1 seconds", until=until)
    assert time.monotonic() < state["deadline"], "tail did not converge"

    out = read_state(pipe.table).toPandas()
    assert "metadata" in out.columns
    exp = expected_state(
        pd.concat([pdf1, pdf2], ignore_index=True), extra_cols=["metadata", "tool_args"]
    )
    assert_state_parity(out, exp)
