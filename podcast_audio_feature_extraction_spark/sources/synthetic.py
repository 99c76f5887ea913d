"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Seeded, pure numpy/pandas — byte-reproducible across runs. Shapes mirror the
reference's data statistics: Zipf-skewed conversation lengths (the "viral
3-hour podcast" straggler analog, /root/reference/src/features/FeatureExtractor.py:28-44),
irregular inter-turn gaps including gaps larger than the session cutoff,
duplicate-timestamp ties broken by turn_idx, sparse tool usage, and texts
drawn from a fixed vocabulary so per-turn text equality is byte-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from podcast_audio_feature_extraction_spark.operators.sessionize import GAP_S

_VOCAB = np.array(
    "the a to of and in is it you that he was for on are as with his they i "
    "at be this have from or one had by word but not what all were we when "
    "your can said there use an each which she do how their if will up other "
    "about out many then them these so some her would make like him into time "
    "has look two more write go see number no way could people my than first "
    "water been call who oil its now find long down day did get come made may".split()
)

_ROLES = np.array(["user", "assistant", "tool", "system"])
_TOOLS = np.array(["search", "python", "browser", "calculator", "shell"])

EPOCH_0 = pd.Timestamp("2024-01-01 00:00:00")


def generate_transcripts(
    n_convs: int = 20,
    mean_turns: int = 25,
    seed: int = 42,
    zipf_a: float = 1.6,
    max_turns: int = 2000,
) -> pd.DataFrame:
    """Return a pandas DataFrame with the input_hint schema.

    Deterministic for a given (n_convs, mean_turns, seed). Conversation
    lengths follow a truncated Zipf so a few conversations are 10-100x the
    median (skew-handling tests), capped at ``max_turns`` (perfbench
    reads the cap from this signature). ~10% of gaps exceed the session
    cutoff ``GAP_S`` so sessionization splits; ~3% of consecutive turns
    share an identical ts (tie-break-by-turn_idx tests).
    """
    rng = np.random.default_rng(seed)
    lengths = np.minimum(rng.zipf(zipf_a, size=n_convs) * mean_turns // 2 + 2, max_turns)
    rows_conv, rows_idx, rows_role, rows_text, rows_tool, rows_ts = [], [], [], [], [], []
    for ci in range(n_convs):
        n = int(lengths[ci])
        conv = f"conv_{ci:06d}"
        start = float(rng.integers(0, 90 * 24 * 3600))
        gaps = rng.exponential(60.0, size=n)
        long_mask = rng.random(n) < 0.10
        gaps[long_mask] += GAP_S * (1.0 + rng.random(long_mask.sum()) * 3.0)
        dup_mask = rng.random(n) < 0.03
        gaps[dup_mask] = 0.0
        gaps[0] = 0.0
        ts = start + np.cumsum(gaps)
        # microsecond resolution like real event-time columns
        ts = np.round(ts, 6)
        roles = _ROLES[rng.integers(0, len(_ROLES), size=n)]
        roles[0] = "user"
        n_words = rng.integers(0, 18, size=n)  # includes empty texts
        texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), size=k)]) for k in n_words]
        tools = np.where(
            (roles == "tool") | (rng.random(n) < 0.05),
            _TOOLS[rng.integers(0, len(_TOOLS), size=n)],
            None,
        )
        rows_conv.append(np.repeat(conv, n))
        rows_idx.append(np.arange(n, dtype=np.int32))
        rows_role.append(roles)
        rows_text.append(np.array(texts, dtype=object))
        rows_tool.append(tools)
        rows_ts.append(ts)

    df = pd.DataFrame(
        {
            "conv_id": np.concatenate(rows_conv),
            "turn_idx": np.concatenate(rows_idx).astype(np.int32),
            "role": np.concatenate(rows_role),
            "text": np.concatenate(rows_text),
            "tool": np.concatenate([np.asarray(t, dtype=object) for t in rows_tool]),
            "ts": EPOCH_0 + pd.to_timedelta(np.concatenate(rows_ts), unit="s"),
        }
    )
    df["ts"] = df["ts"].dt.floor("us")
    return df
