"""Custom stateful streaming operator (SURVEY.md §2.9 engine extension).

The streaming as-of enrichment via ``applyInPandasWithState``
(:func:`stateful_asof_enrich`): one tagged feature+query stream, and per
conv_id the state holds only the newest feature row and the last
processed (ts, turn_idx) — O(1) state per conversation (NOT per turn),
the streaming twin of the batch ``asof_join``.

Ordering contract: turns must arrive in (ts, turn_idx) order per conv_id
across micro-batches (i.e. the upstream source is time-partitioned, the
usual Kafka/file-stream layout). Within a batch, rows are sorted before
folding, so intra-batch disorder is tolerated.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ASOF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("feat_turn_idx", T.IntegerType(), True),
        T.StructField("functionals", T.ArrayType(T.DoubleType()), True),
    ]
)

# STATE-SCHEMA COMPATIBILITY: round 4 widened this from 3 to 5 fields
# (the ordering-contract watermark). A streaming query RESUMED from a
# checkpoint written under the 3-field schema will fail at state.get /
# state-schema validation rather than migrate — restart such queries
# from a fresh checkpoint directory (state is a pure enrichment cache:
# the rebuild cost is one cold pass, no data loss).
ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("feat_ts_us", T.LongType()),
        T.StructField("feat_turn_idx", T.IntegerType()),
        T.StructField("functionals", T.ArrayType(T.DoubleType())),
        # watermark of what this key has already processed: a later batch
        # starting BELOW it means the source violated the cross-batch
        # (ts, turn_idx) ordering contract -> fail loud, never emit a
        # silently-leaky enrichment
        T.StructField("last_us", T.LongType()),
        T.StructField("last_idx", T.IntegerType()),
    ]
)


def _make_asof_fold(tolerance_s: float | None):
    tol_us = None if tolerance_s is None else int(tolerance_s * 1_000_000)

    def fold(key, pdfs: "Iterator[pd.DataFrame]", state: GroupState) -> "Iterator[pd.DataFrame]":
        (conv_id,) = key
        if state.exists:
            feat_us, feat_idx, feats, last_us, last_idx = state.get
        else:
            feat_us, feat_idx, feats, last_us, last_idx = None, None, None, None, None
        # a big group arrives as SEVERAL Arrow chunks in one micro-batch —
        # sorting each independently would let a later chunk's older
        # feature overwrite newer state AND hide features from earlier
        # chunks' queries; concat first, sort once
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            # feature rows sort BEFORE query rows at equal (ts, turn_idx):
            # a feature AT a query's ts is visible (the batch union-trick's
            # inclusive side ordering)
            side_rank = pdf["side"].map({"f": 0, "q": 1})
            pdf = (
                pdf.assign(__sr=side_rank)
                .sort_values(["ts", "turn_idx", "__sr"], kind="mergesort")
            )
            us = pdf["ts"].astype("int64").to_numpy() // 1000
            sides = pdf["side"].to_numpy()
            turn_idx = pdf["turn_idx"].to_numpy()
            ts_vals = pdf["ts"].to_numpy()
            funcs = pdf["functionals"].tolist()
            # NULL ts sorts last: rows [n_known:] have no time, so (as in the
            # batch as-of) a feature among them never enters state and a
            # query among them reads NULL; neither moves the watermark
            n_known = int(pdf["ts"].notna().sum())
            if n_known:
                if last_us is not None and (int(us[0]), int(turn_idx[0])) < (last_us, last_idx):
                    raise ValueError(
                        f"stateful_asof_enrich: ordering contract violated for conv_id="
                        f"{conv_id!r} — batch starts at (ts_us={int(us[0])}, "
                        f"turn_idx={int(turn_idx[0])}) but (ts_us={last_us}, "
                        f"turn_idx={last_idx}) was already processed; a late row would "
                        "silently produce leaky/missing enrichments. Fix the source "
                        "partitioning (it must deliver per-conv rows in (ts, turn_idx) "
                        "order across micro-batches)."
                    )
                last_us, last_idx = int(us[n_known - 1]), int(turn_idx[n_known - 1])
            rows: dict[str, list] = {k: [] for k in ("turn_idx", "ts", "feat_turn_idx", "functionals")}
            for i in range(len(pdf)):
                if sides[i] == "f":
                    if i < n_known:
                        feat_us, feat_idx, feats = int(us[i]), int(turn_idx[i]), funcs[i]
                    continue
                fresh = (
                    i < n_known
                    and feat_us is not None
                    and (tol_us is None or int(us[i]) - feat_us <= tol_us)
                )
                rows["turn_idx"].append(int(turn_idx[i]))
                rows["ts"].append(ts_vals[i])
                rows["feat_turn_idx"].append(feat_idx if fresh else None)
                rows["functionals"].append(feats if fresh else None)
            if rows["turn_idx"]:
                yield pd.DataFrame({"conv_id": conv_id, **rows})
        if feat_us is not None or last_us is not None:
            # state travels through the pickle path (not Arrow): numpy
            # scalars/arrays must be coerced to pure-Python types
            state.update(
                (
                    None if feat_us is None else int(feat_us),
                    None if feat_idx is None else int(feat_idx),
                    None if feats is None else [float(x) for x in feats],
                    None if last_us is None else int(last_us),
                    None if last_idx is None else int(last_idx),
                )
            )

    return fold


def stateful_asof_enrich(tagged: DataFrame, tolerance_s: float | None = None) -> DataFrame:
    """The engine's streaming as-of: ONE co-partitioned stream carries
    both feature rows (side='f': conv_id, turn_idx, ts, functionals) and
    query/turn rows (side='q'); per conv_id the state holds ONLY the
    newest feature (O(1), not per-row), and each query row is emitted
    with the latest feature at-or-before its ts — the same zero-leakage
    contract as the batch as-of, evaluated incrementally.

    Ordering contract: rows arrive in (ts, turn_idx) order per conv_id
    ACROSS micro-batches (time-partitioned source); intra-batch disorder
    is tolerated (sorted before folding). The contract is VALIDATED: the
    state tracks the last processed (ts, turn_idx) per key and a batch
    regressing below it raises instead of silently emitting leaky
    enrichments. ``tolerance_s`` nulls out stale features exactly like
    the batch operator. A NULL ts has the batch operator's meaning too: a
    feature row without a ts never enters state, and a query row without
    one is emitted with NULL features; neither moves the watermark.
    State is kept for every conversation seen (no timeout).
    """
    return (
        tagged.select("conv_id", "turn_idx", "ts", "side", "functionals")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_asof_fold(tolerance_s),
            outputStructType=ASOF_OUTPUT_SCHEMA,
            stateStructType=ASOF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

