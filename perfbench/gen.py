"""Seeded input generator for the benchmark: snapshots and change files.

Pure numpy/pyarrow in the calling process (no threads, no Spark), so the
program under test only ever sees the parquet files written here. Every
value is a function of (seed, parameters, file index): the same seed gives
byte-identical inputs.

Shapes follow the engine's transcript domain: a snapshot holds one row per
(conv_id, turn_idx); a change file holds seq-ordered upsert/delete events
with CouchDB-style ``N-hash`` revisions. Text carries NFD accents and
messy whitespace so the ingest normalizer has real work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
TOOLS = np.array(["search", "python", "browser", "calc"], dtype=object)
_MESSY = np.array(
    [
        "re\u0301sume\u0301  review",
        "tool\tcall\ttrace",
        "  leading and trailing  ",
        "unicode \u2014 dash\xa0nbsp",
        "plain text turn",
        "multi\n\nline\n answer",
        "cafe\u0301 znak \u0142 \xdf",
    ],
    dtype=object,
)

CHANGE_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("_rev", pa.string()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
SNAPSHOT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def conv_ids(nums: np.ndarray) -> np.ndarray:
    return np.array([f"conv-{n:06d}" for n in nums], dtype=object)


def _payload(conv: np.ndarray, turn: np.ndarray, salt: np.ndarray) -> dict:
    role = ROLES[turn % 4]
    tool = np.where(role == "tool", TOOLS[turn % 4], None)
    messy = _MESSY[(salt * 2654435761) % len(_MESSY)]
    text = np.array(
        [f"{m} {c} t={t} s={s % 997}" for m, c, t, s in zip(messy, conv, turn, salt)],
        dtype=object,
    )
    return {"role": role, "text": text, "tool": tool}


def make_snapshot(seed: int, n_convs: int, max_turns: int) -> pd.DataFrame:
    """One row per (conv_id, turn_idx): conversation c has 1..max_turns turns."""
    rng = np.random.default_rng([seed, 1])
    n_turns = rng.integers(1, max_turns + 1, n_convs)
    conv_num = np.repeat(np.arange(n_convs), n_turns)
    turn = np.concatenate([np.arange(k) for k in n_turns]).astype(np.int32)
    conv = conv_ids(conv_num)
    salt = np.arange(len(conv), dtype=np.int64)
    df = pd.DataFrame({"conv_id": conv, "turn_idx": turn, **_payload(conv, turn, salt)})
    df["ts"] = pd.to_datetime(EPOCH_US - 1_000_000 + salt, unit="us")
    return df[SNAPSHOT_COLUMNS]


def snapshot_as_events(snapshot: pd.DataFrame) -> pd.DataFrame:
    """The snapshot in change-feed shape, as the bootstrap stamps it
    (seq -1, revision ``0-bootstrap``) — input for the oracle fold."""
    ev = snapshot.assign(seq=np.int64(-1), op="i", _rev="0-bootstrap")
    return ev[CHANGE_SCHEMA.names]


def make_events(
    seed: int,
    index: int,
    seq_start: int,
    n_events: int,
    n_convs: int,
    max_turns: int,
    hot_frac: float,
    delete_frac: float,
    touch_frac: float = 1.0,
) -> pd.DataFrame:
    """``n_events`` seq-ordered change events for file/batch ``index``.

    ``hot_frac`` of events go to conversation 0 (the skew fixture); the rest
    spread over a ``touch_frac`` share of conversations drawn for this index.
    Revision generation is ``seq + 1``, so it rises per key with seq."""
    rng = np.random.default_rng([seed, 2, index])
    n_touch = max(1, int(round(n_convs * touch_frac)))
    pool = rng.choice(np.arange(1, n_convs), size=min(n_touch, n_convs - 1), replace=False)
    hot = rng.random(n_events) < hot_frac
    conv_num = np.where(hot, 0, pool[rng.integers(0, len(pool), n_events)])
    turn = rng.integers(0, max_turns, n_events).astype(np.int32)
    seq = np.arange(seq_start, seq_start + n_events, dtype=np.int64)
    is_del = rng.random(n_events) < delete_frac
    conv = conv_ids(conv_num)
    pay = _payload(conv, turn, seq)
    rev = np.array(
        [f"{s + 1}-{(s * 2654435761 + seed) & 0xFFFFFFFF:08x}" for s in seq], dtype=object
    )
    df = pd.DataFrame(
        {
            "seq": seq,
            "op": np.where(is_del, "d", "u"),
            "conv_id": conv,
            "turn_idx": turn,
            "_rev": rev,
            "role": np.where(is_del, None, pay["role"]),
            "text": np.where(is_del, None, pay["text"]),
            "tool": np.where(is_del, None, pay["tool"]),
            "ts": pd.to_datetime(EPOCH_US + seq * 1_000_000, unit="us"),
        }
    )
    df.loc[is_del, "ts"] = pd.NaT
    return df


def write_events(path: str, df: pd.DataFrame) -> None:
    """Write one change file atomically: a hidden temp name (which Spark's
    file source ignores) renamed into place, so a tailing reader never sees
    a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(pa.Table.from_pandas(df, schema=CHANGE_SCHEMA, preserve_index=False), tmp)
    os.replace(tmp, path)
