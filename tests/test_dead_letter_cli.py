"""Dead-letter operability: the submit_main dead-letter subcommand lists,
inspects, and REPLAYS quarantined rows after the kernel is fixed — closing
the poison-isolation loop end to end."""

from __future__ import annotations

import json

import pytest

import submit_main
from couch_to_mongo_spark.operators.merge import read_state
from couch_to_mongo_spark.operators.poison import POISON_COL
from couch_to_mongo_spark.oracle import assert_state_parity, expected_state
from couch_to_mongo_spark.streaming.cdc import CdcPipeline
from tests.test_poison import MARKER, make_fussy_kernel


@pytest.fixture()
def quarantined(spark, tmp_path):
    from feedgen import make_changes_df, write_change_files

    pdf = make_changes_df(n_events=500, n_convs=10, seed=77, delete_frac=0.0)
    winners = pdf.sort_values("seq").groupby(["conv_id", "turn_idx"]).tail(1)
    poison_seq = int(winners["seq"].iloc[4])
    pdf.loc[pdf.seq == poison_seq, "text"] = MARKER
    write_change_files(str(tmp_path / "changes"), pdf, n_files=1)
    pipe = CdcPipeline(
        spark,
        table_path=str(tmp_path / "table"),
        changes_dir=str(tmp_path / "changes"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
        quarantine_poison=True,
        transform_kernel=make_fussy_kernel(),
    )
    pipe.run_available()
    return pipe, pdf, poison_seq


def test_list_and_inspect(quarantined, capsys):
    pipe, _, poison_seq = quarantined
    submit_main.main(["dead-letter", "list", "--table", pipe.table_path])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 1
    entry = lines[0]
    assert entry["n_rows"] == 1 and entry["run_id"] == pipe.run_id
    assert any("unencodable" in r for r in entry["reasons"])

    submit_main.main(
        ["dead-letter", "inspect", "--table", pipe.table_path,
         "--run-id", entry["run_id"], "--batch-id", str(entry["batch_id"])]
    )
    out = capsys.readouterr().out
    assert str(poison_seq) in out and POISON_COL in out


def test_replay_after_kernel_fix(quarantined, capsys, spark):
    """The quarantined row merges into the table once replayed with the
    fixed (default) kernel; the final state equals the full-feed oracle
    fold, and the replay is idempotent under its own run_id fencing."""
    pipe, pdf, poison_seq = quarantined
    # pre-replay: the poisoned key is absent entirely — the single batch's
    # losing revisions were discarded at dedup and the winner quarantined
    prow = pdf.loc[pdf.seq == poison_seq].iloc[0]
    state = read_state(pipe.table).toPandas()
    assert state.query(
        "conv_id == @prow.conv_id and turn_idx == @prow.turn_idx"
    ).empty
    entry = pipe.dead_letter.summary(spark).collect()[0]
    args = ["dead-letter", "replay", "--table", pipe.table_path,
            "--run-id", entry["run_id"], "--batch-id", str(entry["batch_id"])]
    submit_main.main(args)
    lineage = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert lineage["rows_applied"] == 1 and lineage["n_poison"] == 0
    # the fixed kernel (real normalizer) processes the row -> full parity
    assert_state_parity(read_state(pipe.table).toPandas(), expected_state(pdf))
    # replaying again is fenced (same dlq run_id, batch 0)
    submit_main.main(args)
    lineage2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert lineage2["skipped"] is True
    assert_state_parity(read_state(pipe.table).toPandas(), expected_state(pdf))
