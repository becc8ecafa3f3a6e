"""Single-node pandas oracle: the golden tests the reference never had
(SURVEY §5 — the reference enforces correctness only via inline runtime
asserts, e.g. ``edf_reader.py:219-220,243-244``).

Implements the identical semantics of derive → gap-fill → rollup cascade
with the identical reduction order, in plain pandas/numpy, for small
deterministic inputs. Spark output must match **bit-for-bit**:
- integer state (cnt/n/sum/min/max/last) compared exactly;
- means defined as sum/n at finalize (same double division both sides).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TIER_SECONDS = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "5m", "1h", "1d"]


def derive_pdf(turns: pd.DataFrame) -> pd.DataFrame:
    """latency_ms = ts - lag(ts) per conv (stable turn order); token_count
    = whitespace tokens of text. Mirrors operators/derive.py exactly."""
    df = turns.sort_values(["conv_id", "turn_idx"], kind="mergesort").copy()
    ts_us = df["ts"].astype("datetime64[us]").astype("int64")
    lag = ts_us.groupby(df["conv_id"]).shift(1)
    df["latency_ms"] = np.floor((ts_us - lag) / 1000.0)
    df["latency_ms"] = df["latency_ms"].astype("Int64")
    stripped = df["text"].fillna("").str.strip()
    df["token_count"] = np.where(stripped == "", 0, stripped.str.split().str.len()).astype(
        "int32"
    )
    return df


def rollup_pdf(derived: pd.DataFrame, tier: str) -> pd.DataFrame:
    """Tier rollup straight from derived turns (identical bucket math)."""
    secs = TIER_SECONDS[tier]
    df = derived.sort_values(["conv_id", "turn_idx"], kind="mergesort").copy()
    ts_us = df["ts"].astype("datetime64[us]").astype("int64")
    us = secs * 1_000_000
    df["bucket_us"] = (ts_us // us) * us

    rows = []
    for (conv, b), g in df.groupby(["conv_id", "bucket_us"], sort=True):
        g = g.sort_values(["ts", "turn_idx"], kind="mergesort")
        lat = g["latency_ms"].dropna()
        last = g.iloc[-1]
        rows.append(
            {
                "conv_id": conv,
                "bucket_start": pd.Timestamp(b, unit="us"),
                "cnt": len(g),
                "n_latency": len(lat),
                "sum_latency": int(lat.sum()) if len(lat) else None,
                "min_latency": int(lat.min()) if len(lat) else None,
                "max_latency": int(lat.max()) if len(lat) else None,
                "sum_tokens": int(g["token_count"].sum()),
                "min_tokens": int(g["token_count"].min()),
                "max_tokens": int(g["token_count"].max()),
                "last_ts": last["ts"],
                "last_turn_idx": int(last["turn_idx"]),
                "last_latency": None if pd.isna(last["latency_ms"]) else int(last["latency_ms"]),
                "last_token_count": int(last["token_count"]),
                "tier": tier,
            }
        )
    out = pd.DataFrame(rows)
    out["mean_latency"] = [
        (float(s) / float(n)) if (n and n > 0) else None
        for s, n in zip(out["sum_latency"], out["n_latency"])
    ]
    out["mean_tokens"] = [float(s) / float(c) for s, c in zip(out["sum_tokens"], out["cnt"])]
    return out


def gapfill_pdf(turns: pd.DataFrame) -> pd.DataFrame:
    """Materialize missing turn_idx per conv (0..max present) and fill:
    ts linearly interpolated between neighbors (exact integer µs midpoint
    math — same formula as operators/gapfill.py), text "" (its
    ``GAP_TEXT``), role/tool forward-filled. Mirrors the
    reference's Background gap-fill (Extract_Transform_Labeler.py:49-70)."""
    out = []
    for conv, g in turns.sort_values(["conv_id", "turn_idx"]).groupby("conv_id", sort=True):
        idx = g["turn_idx"].to_numpy()
        full = np.arange(idx.min(), idx.max() + 1)
        gg = g.set_index("turn_idx").reindex(full)
        gg["conv_id"] = conv
        gg["is_gap_filled"] = gg["ts"].isna()
        _arr = gg["ts"].astype("datetime64[us]").to_numpy().astype("int64")
        _mask = gg["ts"].isna().to_numpy()
        _vals = pd.array(_arr, dtype="Int64")
        _vals[_mask] = pd.NA
        ts_us = pd.Series(_vals, index=gg.index)
        # linear interpolation with integer truncation between prev/next present
        present = ~ts_us.isna()
        pos = np.arange(len(gg))
        prev_pos = pd.Series(np.where(present, pos, np.nan)).ffill().to_numpy()
        next_pos = pd.Series(np.where(present, pos, np.nan)).bfill().to_numpy()
        filled = ts_us.copy()
        for i in np.where(~present.to_numpy())[0]:
            p, n = int(prev_pos[i]), int(next_pos[i])
            t0, t1 = int(ts_us.iloc[p]), int(ts_us.iloc[n])
            frac_num, frac_den = (i - p), (n - p)
            filled.iloc[i] = t0 + (t1 - t0) * frac_num // frac_den
        gg["ts"] = pd.to_datetime(filled.astype("int64"), unit="us")
        for c in ("role", "tool"):
            gg[c] = gg[c].where(~gg["is_gap_filled"], gg[c].ffill())
        gg["text"] = gg["text"].where(~gg["is_gap_filled"], "")
        gg = gg.reset_index().rename(columns={"index": "turn_idx"})
        out.append(gg)
    res = pd.concat(out, ignore_index=True)
    res["turn_idx"] = res["turn_idx"].astype("int32")
    return res[["conv_id", "turn_idx", "role", "text", "tool", "ts", "is_gap_filled"]]
