"""Property-based tests (hypothesis): the LWW fold is a CRDT —
permutation- and duplication-insensitive (SURVEY.md §5.7).

The pandas reference fold here is intentionally independent of both the
engine and oracle.py.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from couch_to_mongo_spark.functions.normalize import normalize_text_py

events = st.lists(
    st.tuples(
        st.integers(0, 99),  # seq (may duplicate across keys, unique enforced below)
        st.integers(0, 3),  # conv
        st.integers(0, 2),  # turn
        st.integers(1, 4),  # rev_gen
        st.sampled_from(["i", "u", "d"]),
    ),
    min_size=1,
    max_size=40,
)


def fold(rows):
    """Reference LWW fold: last (seq, rev_gen, rev) per key; drop 'd'."""
    best = {}
    for seq, conv, turn, gen, op in rows:
        k = (conv, turn)
        o = (seq, gen, f"{gen}-h{seq}")
        if k not in best or o > best[k][0]:
            best[k] = (o, op, seq)
    return {
        k: (o, op, seq) for k, (o, op, seq) in best.items() if op != "d"
    }


@settings(max_examples=200, deadline=None)
@given(events, st.randoms())
def test_fold_permutation_and_replay_insensitive(evs, rnd):
    # make seq unique (feed contract: global order)
    evs = [(i, c, t, g, op) for i, (_, c, t, g, op) in enumerate(evs)]
    base = fold(evs)

    shuffled = list(evs)
    rnd.shuffle(shuffled)
    assert fold(shuffled) == base

    # replay arbitrary subset again (at-least-once delivery)
    replay = shuffled + [e for e in evs if rnd.random() < 0.5]
    assert fold(replay) == base


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=60))
def test_normalizer_idempotent(s):
    once = normalize_text_py(s)
    assert normalize_text_py(once) == once
    assert once == once.strip()


def test_engine_matches_fold_on_random_case(spark, tmp_path):
    """Anchor the hypothesis model to the real engine on one generated case."""
    import numpy as np

    from couch_to_mongo_spark.operators.merge import merge_batch, read_state, with_engine_schema
    from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA
    from couch_to_mongo_spark.tableformat import LakeTable

    rng = np.random.default_rng(7)
    rows = []
    for seq in range(300):
        conv, turn = int(rng.integers(0, 5)), int(rng.integers(0, 3))
        gen = int(rng.integers(1, 5))
        op = ["i", "u", "u", "d"][int(rng.integers(0, 4))]
        rows.append((seq, conv, turn, gen, op))
    pdf = pd.DataFrame(
        {
            "seq": [r[0] for r in rows],
            "op": [r[4] for r in rows],
            "conv_id": [f"c{r[1]}" for r in rows],
            "turn_idx": pd.array([r[2] for r in rows], dtype="int32"),
            "_rev": [f"{r[3]}-h{r[0]}" for r in rows],
            "role": "user",
            "text": [f"t{r[0]}" for r in rows],
            "tool": None,
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), with_engine_schema(TRANSCRIPT_SCHEMA), n_buckets=4
    )
    # apply in 3 batches, then replay batch 1 under a new run (at-least-once)
    thirds = [pdf[pdf.seq % 3 == i] for i in range(3)]
    for i, b in enumerate(thirds):
        merge_batch(table, spark.createDataFrame(b), run_id="r", batch_id=i)
    merge_batch(table, spark.createDataFrame(thirds[1]), run_id="r2", batch_id=0)

    model = fold([(r[0], r[1], r[2], r[3], r[4]) for r in rows])
    got = read_state(table).toPandas()
    got_keys = {(int(r.conv_id[1:]), int(r.turn_idx)) for r in got.itertuples()}
    assert got_keys == set(model.keys())
    got_seq = {(int(r.conv_id[1:]), int(r.turn_idx)): int(r.text[1:]) for r in got.itertuples()}
    assert got_seq == {k: v[2] for k, v in model.items()}
