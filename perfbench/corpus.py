"""Seeded inputs for every workload: corpora, delta micro-batches, queries.

Everything here is a pure function of the seed (numpy/pandas only, no
Spark), so the same seed gives byte-identical inputs and the program under
test receives only generated data.

The corpus comes from the package's own generator
(``sources.synthetic.generate_transcripts``) with these adjustments, which
keep runs of different seeds comparable:

- it is cut to an exact turn count (the Zipf conversation lengths make the
  generator's total vary by seed; the last conversation is truncated);
- ``conv_id`` loses its underscore (``conv_000012`` -> ``conv000012``),
  because segment ids are ``{conv_id}_{window_start}`` and the search
  layer splits them on ``_`` to find the conversation;
- a seeded ``val`` column (the numeric low-level descriptor) is added.
"""

from __future__ import annotations

import inspect
import io
import zlib

import numpy as np
import pandas as pd

ZIPF_A = 1.6
MEAN_TURNS = 25
TURNS_PER_CONV = 2  # new turns per touched conversation in a delta batch


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(tag.encode())])


def _n_convs_for(n_turns: int, seed: int) -> int:
    """Smallest conversation count whose generated lengths reach n_turns
    (the generator draws all lengths first, so the prefix is the same)."""
    from podcast_audio_feature_extraction_spark.sources.synthetic import generate_transcripts

    max_turns = inspect.signature(generate_transcripts).parameters["max_turns"].default
    lengths = np.minimum(
        np.random.default_rng(seed).zipf(ZIPF_A, size=4 * n_turns) * MEAN_TURNS // 2 + 2, max_turns
    )
    return int(np.searchsorted(np.cumsum(lengths), n_turns) + 1)


def conv_bucket(conv_id: str, n_buckets: int) -> int:
    """The storage layout's bucket rule (``plans.backfill.conv_bucket_col``:
    crc32 of the utf-8 conv_id mod n_buckets)."""
    return zlib.crc32(conv_id.encode()) % n_buckets


def make_corpus(seed: int, n_turns: int) -> pd.DataFrame:
    """Exactly ``n_turns`` turns, columns conv_id, turn_idx, role, text,
    tool, ts (naive UTC, microseconds), val."""
    from podcast_audio_feature_extraction_spark.sources.synthetic import generate_transcripts

    n_convs = _n_convs_for(n_turns, seed)
    while True:
        pdf = generate_transcripts(n_convs=n_convs, mean_turns=MEAN_TURNS, seed=seed, zipf_a=ZIPF_A)
        if len(pdf) >= n_turns:
            break
        n_convs *= 2
    pdf = pdf.iloc[:n_turns].copy()
    pdf["conv_id"] = pdf["conv_id"].str.replace("_", "", regex=False)
    pdf["val"] = np.round(_rng(seed, "val").gamma(2.0, 20.0, size=len(pdf)), 6)
    return pdf.reset_index(drop=True)


def make_delta_batches(
    corpus: pd.DataFrame, seed: int, n_batches: int, n_buckets: int, bucket_frac: float = 0.01
) -> list[pd.DataFrame]:
    """Micro-batches of new turns. Each batch touches about ``bucket_frac``
    of the ``n_buckets`` storage buckets: one conversation in each chosen
    bucket gets ``TURNS_PER_CONV`` turns appended after its last ts
    (turn_idx and ts continue from the conversation's latest state,
    including earlier batches). A fixed count keeps new turns per second
    comparable across seeds."""
    rng = _rng(seed, "delta")
    last = corpus.groupby("conv_id", sort=True).agg(ts=("ts", "max"), idx=("turn_idx", "max"))
    convs = last.index.to_numpy()
    buckets = np.array([conv_bucket(c, n_buckets) for c in convs])
    live = np.unique(buckets)
    k = max(1, int(round(bucket_frac * n_buckets)))
    roles = np.array(["user", "assistant", "tool", "system"])
    vocab = np.array(sorted({w for t in corpus["text"] if t for w in t.split()}))
    state = {c: (ts, int(i)) for c, ts, i in zip(convs, last["ts"], last["idx"])}
    out = []
    for _ in range(n_batches):
        rows = []
        for b in rng.choice(live, size=min(k, len(live)), replace=False):
            conv = rng.choice(convs[buckets == b])
            ts, idx = state[conv]
            for _ in range(TURNS_PER_CONV):
                ts = ts + pd.Timedelta(microseconds=int(rng.exponential(60.0) * 1e6) + 1)
                idx += 1
                words = rng.choice(vocab, size=int(rng.integers(0, 18)))
                role = str(rng.choice(roles))
                rows.append(
                    {
                        "conv_id": conv,
                        "turn_idx": np.int32(idx),
                        "role": role,
                        "text": " ".join(words),
                        "tool": "search" if role == "tool" else None,
                        "ts": ts,
                        "val": round(float(rng.gamma(2.0, 20.0)), 6),
                    }
                )
            state[conv] = (ts, idx)
        out.append(pd.DataFrame(rows).astype({"turn_idx": np.int32}))
    return out


def make_queries(corpus: pd.DataFrame, seed: int, n: int, n_terms: int = 3) -> list[str]:
    """Seeded ``n_terms``-word queries drawn from the corpus vocabulary."""
    rng = _rng(seed, "queries")
    vocab = np.array(sorted({w for t in corpus["text"] if t for w in t.split()}))
    return [" ".join(rng.choice(vocab, size=n_terms, replace=False)) for _ in range(n)]


def write_parquet_files(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Store the corpus as ``n_files`` parquet files split at conversation
    boundaries (one input split each, as a real multi-file table has)."""
    import os

    os.makedirs(path)
    convs = pdf["conv_id"].unique()
    for i, part in enumerate(np.array_split(convs, n_files)):
        with open(os.path.join(path, f"part-{i:05d}.parquet"), "wb") as f:
            f.write(to_parquet_bytes(pdf[pdf["conv_id"].isin(part)]))


def to_parquet_bytes(pdf: pd.DataFrame) -> bytes:
    """Parquet bytes in the transcript+val schema, ts as UTC-adjusted
    microseconds (Spark reads it as TimestampType). The schema is explicit:
    a batch whose ``tool`` is all NULL must still store a string column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("val", pa.float64()),
        ]
    )
    table = pa.Table.from_pandas(
        pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC")), schema=schema, preserve_index=False
    )
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()
