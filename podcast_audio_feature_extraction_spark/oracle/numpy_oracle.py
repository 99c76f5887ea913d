"""Single-node numpy/pandas golden oracle (SURVEY.md §5 engine test plan).

An *independent* reimplementation — in the reference's own computational
medium (pandas/numpy, cf. /root/reference/src/features/*.py,
/root/reference/src/search/metrics.py) — of every semantic the distributed
engine claims: gap sessionization, per-turn rolling functionals, the hash
embedding, sliding-window functionals, and pd.merge_asof backfill. Engine
output must be np.allclose to these vectors at each (conv_id, ts) and
byte-equal on per-turn text (BASELINE.json invariant).

Deliberately eager, single-threaded, and simple — correctness yardstick,
not a fast path.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd

# spelled out, not imported: the oracle re-derives the engine's token
# class (functions/text.WS) independently
_WS = re.compile(r"[ \t\n\f\r]+")


def _tokens(text) -> list[str]:
    if text is None or (isinstance(text, float) and math.isnan(text)) or text == "":
        return []
    return [t for t in _WS.split(text) if t != ""]


def sort_transcript(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical stable ordering: (conv_id, ts, turn_idx)."""
    return pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)


def sessionize_np(pdf: pd.DataFrame, gap_s: float = 1800.0) -> pd.DataFrame:
    """session_id = cumulative count of gaps > gap_s, per conv_id."""
    pdf = sort_transcript(pdf)
    out = []
    for _, g in pdf.groupby("conv_id", sort=True):
        us = g["ts"].astype("int64").to_numpy() // 1000  # exact integer micros
        gaps = np.diff(us, prepend=us[0] if len(us) else 0) / 1e6
        is_new = (gaps > gap_s).astype(np.int64)
        if len(is_new):
            is_new[0] = 0
        g = g.copy()
        g["session_id"] = np.cumsum(is_new).astype(np.int32)
        out.append(g)
    return pd.concat(out, ignore_index=True) if out else pdf.assign(session_id=np.array([], dtype=np.int32))


def turn_features_np(pdf: pd.DataFrame, k: int = 5, val_col: str | None = "val") -> pd.DataFrame:
    """Rolling trailing-(k+1)-row functionals per conversation.

    Population std (ddof=0); rolling windows are row-based
    [i-k, i] like Spark's rowsBetween(-k, 0).
    """
    pdf = sort_transcript(pdf)
    texts = pdf["text"]
    pdf = pdf.copy()
    pdf["token_cnt"] = np.array([len(_tokens(t)) for t in texts], dtype=np.int32)
    pdf["char_len"] = np.array([0 if t is None else len(t) for t in texts.fillna("")], dtype=np.int32)
    pdf["is_tool_use"] = pdf["tool"].notna().astype(np.int32)

    frames = []
    for _, g in pdf.groupby("conv_id", sort=True):
        g = g.copy()
        us = g["ts"].astype("int64").to_numpy() // 1000
        g["prev_role"] = g["role"].shift(1)
        g["next_role"] = g["role"].shift(-1)
        prev = g["role"].shift(1)
        g["role_changed"] = np.where(prev.isna(), 1, (g["role"] != prev).astype(int)).astype(np.int32)
        g["gap_s"] = np.diff(us, prepend=us[0] if len(us) else 0) / 1e6
        win = g["token_cnt"].rolling(window=k + 1, min_periods=1)
        g["roll_token_mean"] = win.mean()
        g["roll_token_std"] = g["token_cnt"].rolling(window=k + 1, min_periods=1).std(ddof=0).fillna(0.0)
        g["roll_token_min"] = win.min().astype(np.int32)
        g["roll_token_max"] = win.max().astype(np.int32)
        g["roll_tool_cnt"] = g["is_tool_use"].rolling(window=k + 1, min_periods=1).sum().astype(np.int32)
        g["roll_role_changes"] = g["role_changed"].rolling(window=k + 1, min_periods=1).sum().astype(np.int32)
        if val_col and val_col in g.columns:
            vwin = g[val_col].rolling(window=k + 1, min_periods=1)
            g["roll_val_mean"] = vwin.mean()
            g["roll_val_std"] = g[val_col].rolling(window=k + 1, min_periods=1).std(ddof=0).fillna(0.0)
            g["roll_val_min"] = vwin.min()
            g["roll_val_max"] = vwin.max()
        frames.append(g)
    return pd.concat(frames, ignore_index=True)


def embed_text_oracle(text, dim: int = 64) -> np.ndarray:
    """Independent reimplementation of the hash-embedding spec
    (functions/embedding.py docstring)."""
    vec = np.zeros(dim, dtype=np.float64)
    for tok in _tokens(text):
        h = hashlib.md5(tok.encode("utf-8")).digest()
        vec[int.from_bytes(h[:4], "big") % dim] += 1.0 if h[4] % 2 == 0 else -1.0
    n = float(np.sqrt((vec * vec).sum()))
    return vec / n if n > 0 else vec


def sliding_window_functionals_np(
    pdf: pd.DataFrame,
    length_s: float = 120.0,
    hop_s: float = 60.0,
    val_col: str = "val",
) -> pd.DataFrame:
    """Overlapping fixed-origin windows (Spark F.window semantics, epoch
    origin 0): row at ts belongs to every window [s, s+length) with
    s = hop*k <= ts < s+length. Aggregates: count, mean, pop-std, min, max,
    median (linear interpolation, matching Spark `percentile`)."""
    pdf = sort_transcript(pdf)
    recs = []
    for conv, g in pdf.groupby("conv_id", sort=True):
        # integer microseconds throughout, like the engine: subtracting the
        # window start from an epoch-scale DOUBLE loses ~1e-7 s, which the
        # slope amplifies when rows cluster tightly in time
        us = g["ts"].astype("int64").to_numpy() // 1000
        ts = us / 1e6
        vals = g[val_col].to_numpy(dtype=np.float64)
        n_back = int(np.ceil(length_s / hop_s))
        starts = set()
        for t in ts:
            base = math.floor(t / hop_s) * hop_s
            for j in range(n_back):
                s = base - j * hop_s
                if s <= t < s + length_s:
                    starts.add(s)
        for s in sorted(starts):
            m = (ts >= s) & (ts < s + length_s)
            v = vals[m]
            if v.size == 0:
                continue
            # window-relative seconds via integer-micros subtraction (exact)
            x = (us[m] - int(round(s * 1e6))) / 1e6
            xc = x - x.mean()
            varx = float((xc * xc).mean())
            recs.append(
                {
                    "conv_id": conv,
                    "win_start": pd.Timestamp(s, unit="s"),
                    "n": int(v.size),
                    "mean": float(v.mean()),
                    "std": float(v.std(ddof=0)),
                    "min": float(v.min()),
                    "max": float(v.max()),
                    "p20": float(np.percentile(v, 20, method="linear")),
                    "median": float(np.percentile(v, 50, method="linear")),
                    "p80": float(np.percentile(v, 80, method="linear")),
                    "slope": float((xc * (v - v.mean())).mean() / varx) if varx > 0 else 0.0,
                    "cv": float(v.std(ddof=0) / v.mean()) if v.mean() != 0 else 0.0,
                }
            )
    return pd.DataFrame(recs)


def asof_np(
    left: pd.DataFrame,
    right: pd.DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    inclusive: bool = True,
) -> pd.DataFrame:
    """Golden as-of merge: pd.merge_asof per key group."""
    value_cols = value_cols or [c for c in right.columns if c not in (on, ts_col)]
    outs = []
    for key, lg in left.groupby(on, sort=True):
        rg = right[right[on] == key]
        lg = lg.sort_values(ts_col, kind="mergesort")
        # a key with no right rows goes through merge_asof too: its value
        # columns come out all-NA with the right frame's dtypes (int ->
        # float for NaN, as for any unmatched row), so pd.concat never
        # meets an all-NA object column it would have to exclude
        rg = rg.sort_values(ts_col, kind="mergesort")
        outs.append(
            pd.merge_asof(
                lg,
                rg[[ts_col] + value_cols],
                on=ts_col,
                allow_exact_matches=inclusive,
                suffixes=("", "__r"),
            )
        )
    return pd.concat(outs, ignore_index=True)
