"""JSON change source + quarantine (C2/E3/F3)."""

from __future__ import annotations

import json
import os

import pandas as pd

from couch_to_mongo_spark.sources.json_changes import (
    DeadLetterLog,
    read_json_changes_batch,
)

from feedgen import make_changes_df


def write_jsonl_feed(tmp_path, pdf: pd.DataFrame, poison: int = 5):
    lines = []
    for _, r in pdf.iterrows():
        d = {k: (None if pd.isna(v) else v) for k, v in r.items()}
        if d.get("ts") is not None:
            d["ts"] = str(d["ts"])
        lines.append(json.dumps(d))
    # inject poison: malformed json + seq-less entries
    for i in range(poison):
        lines.insert(i * 7, '{"seq": broken json %d' % i)
        lines.insert(i * 11, json.dumps({"op": "u", "conv_id": "x", "turn_idx": 1}))
    p = tmp_path / "changes-00000.jsonl"
    p.write_text("\n".join(lines))
    return str(tmp_path)


def test_json_parse_and_quarantine(spark, tmp_path):
    pdf = make_changes_df(n_events=500, n_convs=10, seed=51)
    feed = write_jsonl_feed(tmp_path, pdf, poison=4)
    good, dead = read_json_changes_batch(spark, feed)
    assert good.count() == 500
    bad = dead.toPandas()
    assert len(bad) == 8
    assert set(bad["reason"]) == {"malformed_json", "missing_seq"}
    # good rows parse to the right types
    row = good.orderBy("seq").first()
    assert row.seq == 0 and isinstance(row.turn_idx, int)

    dl = DeadLetterLog(os.path.join(str(tmp_path), "dead"))
    assert dl.append(dead, run_id="r", batch_id=0) == 8
    assert dl.read(spark).count() == 8

