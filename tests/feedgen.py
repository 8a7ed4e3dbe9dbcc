"""Deterministic change-feed generator for the tests (SURVEY.md §2.1 S9,
FIXTURES.md §2).

Spark-free (numpy/pandas/pyarrow) so fixtures are reproducible
byte-for-byte: every value is a pure function of (seed, conv_id, turn_idx,
seq) — no wall clock, mirroring the reference's seed scripts
(reference: scripts/seed.sh:2656-2676, seed_cf.sh:14-34) translated to the
transcript domain.

Feed properties (FIXTURES.md §2):
- ``seq`` strictly increasing, one global order;
- one hot conversation holds ~``hot_frac`` of all events (skew fixture);
- per-key revision chain ``N-<hash>`` with N = per-key event count;
- ~``delete_frac`` deletes, including delete-then-reinsert;
- optional schema evolution: events with seq >= evolve_at carry extra
  ``metadata``/``tool_args`` columns (files split at the boundary);
- text embeds unicode NFD + messy whitespace so the normalizer has work.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

EPOCH = pd.Timestamp("2024-01-01 00:00:00")
ROLES = np.array(["user", "assistant", "tool", "system"])
TOOLS = np.array(["search", "python", "browser", "calc"])

# deliberately messy text fragments: NFD sequences, tabs, double spaces
_MESSY = [
    "re\u0301sume\u0301  review",  # NFD: e + combining acute (U+0301)
    "tool\tcall\ttrace",
    "  leading and trailing  ",
    "unicode — dash nbsp",
    "plain text turn",
    "multi\n\nline\n answer",
    "café znak ł ß",
]


def _rev_hash(conv: str, turn: int, gen: int, seed: int) -> str:
    h = hashlib.md5(f"{seed}:{conv}:{turn}:{gen}".encode()).hexdigest()[:8]
    return f"{gen}-{h}"


def make_changes_df(
    n_events: int = 10_000,
    n_convs: int = 200,
    seed: int = 42,
    hot_frac: float = 0.2,
    delete_frac: float = 0.02,
    max_turns: int = 40,
    evolve_at: int | None = None,
    seq_start: int = 0,
) -> pd.DataFrame:
    """Build the whole feed as one pandas frame, in seq order."""
    rng = np.random.default_rng(seed)
    seq = np.arange(seq_start, seq_start + n_events, dtype=np.int64)

    hot = rng.random(n_events) < hot_frac
    conv_num = np.where(hot, 0, rng.integers(1, max(n_convs, 2), n_events))
    conv_id = np.char.add("conv-", np.char.zfill(conv_num.astype(str), 6))
    turn_idx = rng.integers(0, max_turns, n_events).astype(np.int32)

    df = pd.DataFrame(
        {"seq": seq, "conv_id": conv_id, "turn_idx": turn_idx}
    )
    # per-key revision generation = 1 + count of prior events for the key
    df["rev_gen"] = df.groupby(["conv_id", "turn_idx"]).cumcount() + 1

    is_first = df["rev_gen"] == 1
    op_roll = rng.random(n_events)
    df["op"] = np.where(
        is_first, "i", np.where(op_roll < delete_frac, "d", "u")
    )

    df["_rev"] = [
        _rev_hash(c, t, g, seed)
        for c, t, g in zip(df["conv_id"], df["turn_idx"], df["rev_gen"])
    ]

    is_del = df["op"].to_numpy() == "d"
    role = ROLES[df["turn_idx"].to_numpy() % 4]
    tool = np.where(role == "tool", TOOLS[df["turn_idx"].to_numpy() % 4], None)
    messy = np.array(_MESSY)[(df["seq"].to_numpy() * 2654435761 % len(_MESSY))]
    text = np.array(
        [
            f"{m} c={c} t={t} rev={g} s={s % 997}"
            for m, c, t, g, s in zip(
                messy, df["conv_id"], df["turn_idx"], df["rev_gen"], df["seq"]
            )
        ],
        dtype=object,
    )
    df["role"] = np.where(is_del, None, role)
    df["text"] = np.where(is_del, None, text)
    df["tool"] = np.where(is_del, None, tool)
    df["ts"] = EPOCH + pd.to_timedelta(df["seq"], unit="s")
    df.loc[is_del, "ts"] = pd.NaT

    if evolve_at is not None:
        post = (df["seq"] >= evolve_at) & ~is_del
        df["metadata"] = ("m-" + df["seq"].astype(str)).where(post, None)
        df["tool_args"] = pd.Series('{"q": "x"}', index=df.index).where(
            post & (role == "tool"), None
        )

    cols = ["seq", "op", "conv_id", "turn_idx", "_rev", "role", "text", "tool", "ts"]
    if evolve_at is not None:
        cols += ["metadata", "tool_args"]
    return df[cols].drop(columns=[], errors="ignore")


def write_change_files(
    out_dir: str,
    df: pd.DataFrame,
    n_files: int = 10,
    evolve_at: int | None = None,
    start_index: int = 0,
) -> list[str]:
    """Write the feed as numbered seq-ordered parquet files (the streaming
    file-source input). Pre-evolution files omit the evolved columns
    entirely so readers see a genuine schema change mid-stream."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    # split exactly at the evolution boundary so no file mixes schemas
    if evolve_at is not None:
        pos = int((df["seq"] < evolve_at).sum())
        bounds = np.unique(np.append(bounds, pos))
    paths = []
    for i in range(len(bounds) - 1):
        part = df.iloc[bounds[i] : bounds[i + 1]]
        if part.empty:
            continue
        if evolve_at is not None and part["seq"].iloc[-1] < evolve_at:
            part = part.drop(columns=["metadata", "tool_args"], errors="ignore")
        p = os.path.join(out_dir, f"changes-{start_index + i:05d}.parquet")
        # microsecond timestamps: Spark cannot read TIMESTAMP(NANOS) parquet
        part.to_parquet(
            p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        # monotone mtimes so file-source pickup order == seq order
        t = 1700000000 + start_index + i
        os.utime(p, (t, t))
        paths.append(p)
    return paths


def generate_changes(
    out_dir: str,
    n_events: int = 10_000,
    n_convs: int = 200,
    seed: int = 42,
    n_files: int = 10,
    hot_frac: float = 0.2,
    delete_frac: float = 0.02,
    max_turns: int = 40,
    evolve_at: int | None = None,
) -> pd.DataFrame:
    df = make_changes_df(
        n_events=n_events,
        n_convs=n_convs,
        seed=seed,
        hot_frac=hot_frac,
        delete_frac=delete_frac,
        max_turns=max_turns,
        evolve_at=evolve_at,
    )
    write_change_files(out_dir, df, n_files=n_files, evolve_at=evolve_at)
    return df
