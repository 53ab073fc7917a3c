"""Answer checks, run outside the timed region.

Every expected answer is computed without the engine: from the generated
raw table with pandas (tier parity against the repository's pandas tier
oracle, range and top-k aggregations), or from a direct read of a tier
for the answers that are defined by the tiers themselves (SQL, series,
chunk decode). Each check returns a list of failure messages; empty means
the answer is right.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests import oracle_pandas  # noqa: E402

STATE = [
    "n_turns", "token_sum", "token_min", "token_max", "tool_sum",
    "tool_min", "tool_max", "hours_count", "hturns_min", "hturns_max",
]
KEY = ["conv_id", "bucket_start"]
HOUR_S = 3600.0


def dedup(raw: pd.DataFrame) -> pd.DataFrame:
    """The engine's mask + dedup contract: drop rows without a ts, keep
    the earliest ts per (conv_id, turn_idx), ties broken by (role, text)."""
    df = raw.dropna(subset=["conv_id", "ts", "turn_idx"])
    df = df.sort_values(["conv_id", "turn_idx", "ts", "role", "text_len"])
    df = df.drop_duplicates(["conv_id", "turn_idx"], keep="first")
    return df.reset_index(drop=True)


def with_text(df: pd.DataFrame) -> pd.DataFrame:
    """The oracle derives token counts from text; only the length matters."""
    out = df.drop(columns=["text_len"])
    out["text"] = df["text_len"].map(lambda n: "x" * int(n))
    return out


def frame_diff(got: pd.DataFrame, exp: pd.DataFrame, key: list[str], what: str) -> list[str]:
    cols = list(exp.columns)
    got = got[cols].sort_values(key, ignore_index=True)
    exp = exp.sort_values(key, ignore_index=True)
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected {len(exp)}"]
    bad = []
    for c in cols:
        g, e = got[c], exp[c]
        if pd.api.types.is_datetime64_any_dtype(e):
            g, e = pd.to_datetime(g).astype("datetime64[us]"), e.astype("datetime64[us]")
        same = (g.to_numpy() == e.to_numpy()) | (pd.isna(g).to_numpy() & pd.isna(e).to_numpy())
        if not same.all():
            bad.append(f"{what}.{c}: {int((~same).sum())} rows differ")
    return bad


def tiers_match(
    tiers: dict[str, pd.DataFrame], clean: pd.DataFrame, hourly_from=None
) -> list[str]:
    """Observed tier state equals the pandas oracle, bit for bit; hourly
    rows before `hourly_from` are expected to have been dropped."""
    exp = oracle_pandas.build_tiers(with_text(clean))
    if hourly_from is not None:
        exp["hourly"] = exp["hourly"][exp["hourly"].bucket_start >= hourly_from]
    bad = []
    for name, got in tiers.items():
        e = exp[name][KEY + STATE]
        bad += frame_diff(got, e.astype({c: "int64" for c in STATE}), KEY, name)
    total = int(tiers["daily"]["n_turns"].sum())
    if total != len(clean):
        bad.append(f"sum(n_turns)={total}, expected {len(clean)} deduplicated turns")
    return bad


def range_agg(clean: pd.DataFrame, lo, hi) -> pd.DataFrame:
    w = clean[(clean.ts >= lo) & (clean.ts < hi)]
    g = w.assign(is_tool=w.tool.notna().astype("int64")).groupby("conv_id")
    out = g.agg(
        n_turns=("text_len", "size"),
        token_sum=("text_len", "sum"),
        token_min=("text_len", "min"),
        token_max=("text_len", "max"),
        tool_sum=("is_tool", "sum"),
    ).reset_index()
    return out.astype({c: "int64" for c in out.columns if c != "conv_id"})


def topk(clean: pd.DataFrame, lo, hi, k: int = 3) -> pd.DataFrame:
    w = clean[(clean.ts >= lo) & (clean.ts < hi) & clean.tool.notna()]
    n = w.groupby(["conv_id", "tool"]).size().reset_index(name="n")
    n = n.sort_values(["conv_id", "n", "tool"], ascending=[True, False, True])
    n["rank"] = n.groupby("conv_id").cumcount() + 1
    n = n[n["rank"] <= k].rename(columns={"tool": "value"})
    return n[["conv_id", "rank", "value", "n"]].astype({"rank": "int64", "n": "int64"})


def series(hourly: pd.DataFrame, lo, hi, conv: str | None = None) -> pd.DataFrame:
    """Long-form hourly metric series straight from observed tier rows."""
    h = hourly[(hourly.bucket_start >= lo) & (hourly.bucket_start < hi)]
    if conv is not None:
        h = h[h.conv_id == conv]
    n = h["n_turns"].to_numpy(np.float64)
    parts = [
        ("turn_rate", n / HOUR_S),
        ("token_count_mean", h["token_sum"].to_numpy(np.float64) / n),
        ("tool_rate", h["tool_sum"].to_numpy(np.float64) / n),
    ]
    return pd.concat(
        [
            pd.DataFrame(
                {"conv_id": h.conv_id.to_numpy(), "bucket_start": h.bucket_start.to_numpy(),
                 "metric": m, "value": v}
            )
            for m, v in parts
        ],
        ignore_index=True,
    )
