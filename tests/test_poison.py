"""Write-side poison isolation (VERDICT r01 missing-#1 / next-#6).

Reference analogue: insertMany bisection down to the single bad document
(Mongo.java:250-261). Here: a schema-preserving pandas kernel that raises
on a marker row; the batch must commit minus the quarantined row.
"""

from __future__ import annotations

import pandas as pd
import pytest

from couch_to_mongo_spark.functions.normalize import normalize_kernel
from couch_to_mongo_spark.operators.merge import read_state
from couch_to_mongo_spark.operators.poison import POISON_COL, isolate_poison
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.streaming.cdc import CdcPipeline

from feedgen import make_changes_df, write_change_files

MARKER = "\x00POISON\x00"  # NUL-framed: an honestly unencodable-ish payload


def make_fussy_kernel():
    """Normalizer that cannot handle the marker (simulates a codec /
    encoder crash on one pathological row). Returned as a NESTED function
    so cloudpickle ships it by value — a module-level function in tests/
    is pickled by reference and is unimportable on executors."""
    marker = MARKER

    def fussy_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["text"].fillna("").str.contains(marker, regex=False).any():
            raise ValueError("unencodable control sequence")
        return normalize_kernel(pdf)

    return fussy_kernel


def test_isolate_poison_bisects_to_single_rows(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(100),
            "text": [MARKER if i in (17, 83) else f"  doc {i}  " for i in range(100)],
        }
    )
    out = isolate_poison(spark.createDataFrame(pdf), make_fussy_kernel()).toPandas()
    bad = out[out[POISON_COL].notna()]
    good = out[out[POISON_COL].isna()]
    assert sorted(bad["doc_id"]) == [17, 83]
    assert (bad["text"] == MARKER).all()  # poison rows pass through raw
    assert bad[POISON_COL].str.contains("unencodable").all()
    assert len(good) == 98
    assert (good["text"] == good["doc_id"].map(lambda i: f"doc {i}")).all()


def test_pipeline_quarantines_poison_row(spark, tmp_path):
    """End-to-end: one poison row in the feed; the batch succeeds minus the
    quarantined row, which lands in the dead-letter table with its reason."""
    pdf = make_changes_df(n_events=1000, n_convs=15, seed=71, delete_frac=0.0)
    # poison a key's LAST event so it survives the pre-transform LWW dedup
    # (the kernel runs on winners only) and would otherwise be the live row
    winners = pdf.sort_values("seq").groupby(["conv_id", "turn_idx"]).tail(1)
    poison_seq = int(winners["seq"].iloc[5])
    pdf.loc[pdf.seq == poison_seq, "text"] = MARKER
    write_change_files(str(tmp_path / "changes"), pdf, n_files=2)

    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        quarantine_poison=True,
        transform_kernel=make_fussy_kernel(),
    ).run_available()

    dead = pipe.dead_letter.read(spark).toPandas()
    assert len(dead) == 1
    assert dead.iloc[0]["seq"] == poison_seq
    assert "unencodable" in dead.iloc[0][POISON_COL]

    lin = pipe.lineage.read_pandas()
    assert lin["partition_stats"].str.contains('"n_poison": 1').any()

    # final state == oracle fold of the feed WITHOUT the poison event
    exp = expected_state(pdf[pdf.seq != poison_seq])
    assert_state_parity(read_state(pipe.table).toPandas(), exp)


def test_pipeline_poison_replay_is_fenced(spark, tmp_path):
    """Replaying after a quarantining run stays exactly-once: no duplicate
    table rows, fenced batches, dead letter keyed by (run_id, batch_id)."""
    pdf = make_changes_df(n_events=400, n_convs=8, seed=73, delete_frac=0.0)
    winners = pdf.sort_values("seq").groupby(["conv_id", "turn_idx"]).tail(1)
    poison_seq = int(winners["seq"].iloc[3])
    pdf.loc[pdf.seq == poison_seq, "text"] = MARKER
    write_change_files(str(tmp_path / "changes"), pdf, n_files=1)

    kw = dict(
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        quarantine_poison=True,
        transform_kernel=make_fussy_kernel(),
    )
    CdcPipeline(spark, **kw).run_available()
    pipe2 = CdcPipeline(spark, **kw).run_available()
    assert pipe2.batches_applied == 0  # everything fenced / no new offsets
    exp = expected_state(pdf[pdf.seq != poison_seq])
    assert_state_parity(read_state(pipe2.table).toPandas(), exp)
