"""Seeded transcript generator for the benchmark.

Every value is a splitmix64 hash of (seed, stream, conversation, turn), so
the same seed gives the same table on any machine, independent of the order
rows are produced in. The output follows the engine's T0 schema
(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp) and is written as parquet for the engine to read; the engine
never sees the settings below.

Shape of a table:
  * conversation 0 is hot: it holds ``hot_share`` of the turns and spans
    the whole time range;
  * the other conversations get Zipf(``zipf_s``) turn counts and start at
    a hashed time, with 5-244 s gaps between turns and an occasional
    2-6 h pause (which leaves hourly buckets for the gap-fill to fill);
  * ``ooo_share`` of turns arrive out of order: their ts is pulled back
    by up to two hours, so ts no longer follows turn_idx;
  * ``dup_share`` of turns appear twice: half as exact copies, half as
    replays with a later ts (the engine keeps the earliest);
  * ``null_share`` of rows have a null ts and must be masked out.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2025, 1, 1)
TOOLS = np.array(["search", "exec", "fetch", "calc", "browse"], dtype=object)


@dataclass(frozen=True)
class Shape:
    turns: int
    span_days: int
    n_convs: int
    zipf_s: float = 1.1
    hot_share: float = 0.05
    ooo_share: float = 0.02
    dup_share: float = 0.03
    null_share: float = 0.001


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def hash64(seed: int, stream: int, *keys) -> np.ndarray:
    """Hash of (seed, stream, *keys); keys broadcast as integer arrays."""
    h = _mix(np.uint64((seed * 0x100000001B3 + stream) & 0xFFFFFFFFFFFFFFFF))
    for k in keys:
        with np.errstate(over="ignore"):
            h = _mix(h ^ np.asarray(k).astype(np.uint64) * np.uint64(0x9E3779B1))
    return h


def uniform(seed: int, stream: int, *keys) -> np.ndarray:
    return (hash64(seed, stream, *keys) >> np.uint64(11)).astype(np.float64) / 2.0**53


def below(seed: int, stream: int, n: int, *keys) -> np.ndarray:
    return (hash64(seed, stream, *keys) % np.uint64(n)).astype(np.int64)


def conv_name(ids: np.ndarray) -> np.ndarray:
    return np.char.add("c", np.char.zfill(ids.astype(str), 6)).astype(object)


def _turn_counts(shape: Shape) -> np.ndarray:
    hot = int(shape.turns * shape.hot_share)
    rank = np.arange(1, shape.n_convs, dtype=np.float64)
    w = 1.0 / rank**shape.zipf_s
    rest = np.maximum(2, np.floor((shape.turns - hot) * w / w.sum())).astype(np.int64)
    return np.concatenate([[max(hot, 2)], rest])


def _strings(lens: np.ndarray, seed: int) -> pa.Array:
    """Text column of the given lengths, sliced from one seeded buffer."""
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)
    pool = alphabet[below(seed, 90, len(alphabet), np.arange(1 << 16))]
    total = int(lens.sum())
    data = np.resize(pool, total).tobytes()
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(lens), pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)
    )


def _turn_table(
    seed: int, conv: np.ndarray, turn: np.ndarray, ts_s: np.ndarray
) -> pd.DataFrame:
    """Payload columns for (conv, turn, ts seconds since EPOCH)."""
    tool_pick = below(seed, 3, 100, conv, turn)
    tool = np.where(
        tool_pick < 30, TOOLS[below(seed, 4, len(TOOLS), conv, turn)], None
    )
    role = np.where(
        tool_pick < 30, "tool", np.where(turn % 2 == 0, "user", "assistant")
    ).astype(object)
    lens = 1 + below(seed, 5, 160, conv, turn)
    micros = below(seed, 6, 1_000_000, conv, turn)
    ts = (
        np.datetime64(EPOCH, "us")
        + ts_s.astype("timedelta64[s]")
        + micros.astype("timedelta64[us]")
    )
    return pd.DataFrame(
        {
            "conv_id": conv_name(conv),
            "turn_idx": turn.astype(np.int32),
            "role": role,
            "text_len": lens,
            "tool": tool,
            "ts": ts,
        }
    )


def generate(shape: Shape, seed: int) -> pd.DataFrame:
    """The raw table as pandas (text kept as its length until written)."""
    counts = _turn_counts(shape)
    conv = np.repeat(np.arange(len(counts)), counts)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    turn = np.arange(len(conv)) - np.repeat(starts, counts)
    span_s = shape.span_days * 86400

    gap = 5 + below(seed, 1, 240, conv, turn)
    pause = below(seed, 2, 19, conv, turn) == 0
    gap = np.where(pause, 7200 + below(seed, 7, 14401, conv, turn), gap)
    gap[starts] = 0
    cum = np.cumsum(gap)
    cum = cum - np.repeat(cum[starts], counts)
    length = cum[np.cumsum(counts) - 1].astype(np.float64)
    # squeeze conversations longer than the span into it; the hot one
    # always spans it whole
    scale = np.minimum(1.0, 0.98 * span_s / np.maximum(length, 1.0))
    scale[0] = 0.999 * span_s / max(length[0], 1.0)
    cum = np.floor(cum * np.repeat(scale, counts)).astype(np.int64)
    room = np.maximum(1, span_s - np.ceil(length * scale)).astype(np.int64)
    begin = (uniform(seed, 8, np.arange(len(counts))) * room).astype(np.int64)
    begin[0] = 0
    ts_s = np.repeat(begin, counts) + cum
    ooo = uniform(seed, 9, conv, turn) < shape.ooo_share
    ts_s = np.where(ooo, np.maximum(0, ts_s - below(seed, 10, 7200, conv, turn)), ts_s)

    df = _turn_table(seed, conv, turn, ts_s)
    dup = uniform(seed, 11, conv, turn) < shape.dup_share
    copies = df[dup].copy()
    replay = below(seed, 12, 2, conv[dup], turn[dup]) == 1
    delay = (1 + below(seed, 13, 3600, conv[dup], turn[dup])).astype("timedelta64[s]")
    copies.loc[replay, "ts"] = copies.loc[replay, "ts"] + delay[replay]
    df = pd.concat([df, copies], ignore_index=True)
    null = uniform(seed, 14, np.arange(len(df))) < shape.null_share
    df["ts"] = df["ts"].where(~null)
    order = np.argsort(hash64(seed, 15, np.arange(len(df))), kind="stable")
    return df.iloc[order].reset_index(drop=True)


def late_batch(shape: Shape, seed: int, turns: int, days: list[int]) -> pd.DataFrame:
    """A late batch for a table of `shape`: `turns` new turns of existing
    conversations (turn_idx past any the table has), with ts spread over the
    given past days (day offsets from EPOCH)."""
    j = np.arange(turns)
    conv = below(seed, 20, shape.n_convs, j)
    turn = 10_000_000 + j
    day = np.asarray(days)[below(seed, 21, len(days), j)]
    ts_s = day * 86400 + below(seed, 22, 86400, j)
    return _turn_table(seed, conv, turn, ts_s)


def to_arrow(df: pd.DataFrame, seed: int) -> pa.Table:
    return pa.table(
        {
            "conv_id": pa.array(df["conv_id"], pa.string()),
            "turn_idx": pa.array(df["turn_idx"], pa.int32()),
            "role": pa.array(df["role"], pa.string()),
            "text": _strings(df["text_len"].to_numpy(np.int64), seed),
            "tool": pa.array(df["tool"], pa.string()),
            "ts": pa.array(df["ts"].astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def write(df: pd.DataFrame, seed: int, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(to_arrow(df, seed), path)
