"""Integrated parity gates (SURVEY.md §5.2-5.3, BASELINE.json invariants):

- flagship engine output (sessionize -> rolling functionals -> embedding ->
  as-of backfill) must be np.allclose to the numpy oracle at every
  (conv_id, ts), with per-turn text byte-equal under stable ordering;
- temporal leakage: adding future rows must not change any feature vector
  at existing (conv_id, ts).
"""

import numpy as np
import pandas as pd

from podcast_audio_feature_extraction_spark.functions.embedding import EMBED_DIM
from podcast_audio_feature_extraction_spark.operators.rolling import ROLL_K
from podcast_audio_feature_extraction_spark.operators.sessionize import GAP_S
from podcast_audio_feature_extraction_spark.oracle import numpy_oracle as O
from podcast_audio_feature_extraction_spark.plans.backfill import flagship
from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
from podcast_audio_feature_extraction_spark.sources import synthetic as S


def with_future_rows(pdf: pd.DataFrame, seed: int = 7, frac: float = 0.1) -> pd.DataFrame:
    """Append 'future' rows after each conversation's max ts: the
    temporal-leakage property test's input (SURVEY.md §5.3), where
    backfilled vectors at (conv_id, ts) must be unchanged by rows with
    ts' > ts."""
    rng = np.random.default_rng(seed)
    futures = []
    for conv, g in pdf.groupby("conv_id", sort=True):
        k = max(1, int(len(g) * frac))
        base_ts = g["ts"].max()
        idx0 = int(g["turn_idx"].max()) + 1
        futures.append(
            pd.DataFrame(
                {
                    "conv_id": conv,
                    "turn_idx": np.arange(idx0, idx0 + k, dtype=np.int32),
                    "role": S._ROLES[rng.integers(0, len(S._ROLES), size=k)],
                    "text": [
                        "future " + " ".join(S._VOCAB[rng.integers(0, len(S._VOCAB), size=3)]) for _ in range(k)
                    ],
                    "tool": None,
                    "ts": base_ts + pd.to_timedelta(rng.integers(1, 10_000, size=k).cumsum(), unit="s"),
                }
            )
        )
    return pd.concat([pdf] + futures, ignore_index=True)


FUNCTIONAL_ORDER = [
    "token_cnt",
    "char_len",
    "is_tool_use",
    "role_changed",
    "gap_s",
    "roll_token_mean",
    "roll_token_std",
    "roll_token_min",
    "roll_token_max",
    "roll_tool_cnt",
    "roll_role_changes",
]


def _oracle_flagship(pdf: pd.DataFrame) -> pd.DataFrame:
    feats = O.turn_features_np(O.sessionize_np(pdf, gap_s=GAP_S), k=ROLL_K, val_col=None)
    feats["functionals"] = [np.array([r[c] for c in FUNCTIONAL_ORDER], dtype=np.float64) for _, r in feats.iterrows()]
    feats["embedding"] = [O.embed_text_oracle(t, dim=EMBED_DIM) for t in feats["text"]]
    return feats


def _sorted(df):
    return df.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)


def test_flagship_allclose_to_oracle(spark, transcripts_sdf, transcripts_pdf):
    got = _sorted(flagship(transcripts_sdf).toPandas())
    want = _sorted(_oracle_flagship(transcripts_pdf))
    assert len(got) == len(want)
    # per-turn text byte-equality under stable (conv_id, turn_idx) ordering
    assert (got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
    assert (got["text"].fillna("").to_numpy() == want["text"].fillna("").to_numpy()).all()
    # every turn's backfilled vector == its own feature vector (inclusive
    # as-of with the turn itself as the latest right row at ts)
    gf = np.stack([np.asarray(v, dtype=np.float64) for v in got["functionals"]])
    wf = np.stack(list(want["functionals"]))
    assert gf.shape == wf.shape
    np.testing.assert_allclose(gf, wf, rtol=1e-9, atol=1e-9)
    ge = np.stack([np.asarray(v, dtype=np.float64) for v in got["embedding"]])
    we = np.stack(list(want["embedding"]))
    np.testing.assert_allclose(ge, we, rtol=1e-12, atol=1e-12)
    assert (got["feat_session_id"].to_numpy() == want["session_id"].to_numpy()).all()


def test_flagship_zero_temporal_leakage(spark, transcripts_pdf):
    """Backfilled vectors at original (conv_id, ts) must be identical with
    and without injected future rows."""
    base_sdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    fut_pdf = with_future_rows(transcripts_pdf, seed=7, frac=0.15)
    fut_sdf = spark.createDataFrame(fut_pdf, schema=TRANSCRIPT_SCHEMA)

    base = _sorted(flagship(base_sdf).toPandas())
    with_fut = flagship(fut_sdf).toPandas()
    # restrict to the original rows
    orig_keys = set(zip(base["conv_id"], base["turn_idx"]))
    with_fut = _sorted(
        with_fut[[(c, t) in orig_keys for c, t in zip(with_fut["conv_id"], with_fut["turn_idx"])]]
    )
    assert len(base) == len(with_fut)
    bf = np.stack([np.asarray(v, dtype=np.float64) for v in base["functionals"]])
    ff = np.stack([np.asarray(v, dtype=np.float64) for v in with_fut["functionals"]])
    np.testing.assert_array_equal(bf, ff)
    be = np.stack([np.asarray(v, dtype=np.float64) for v in base["embedding"]])
    fe = np.stack([np.asarray(v, dtype=np.float64) for v in with_fut["embedding"]])
    np.testing.assert_array_equal(be, fe)


def test_session_turns_dataframe_call_site_capture_off(spark):
    """get_spark turns PySpark's per-call call-site capture off: it walks
    the Python stack on every DataFrame/Column call of a plan build."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_feature_plan_build_makes_at_most_1000_py4j_calls(spark, transcripts_sdf, monkeypatch):
    """Building the feature plan is paid per backfill run and per delta
    micro-batch; its py4j round trips are the driver cost (about 2,000
    with call-site capture on, about 700 with it off)."""
    import gc
    import threading

    import pyspark.sql.functions as F
    from py4j.java_gateway import GatewayClient

    from podcast_audio_feature_extraction_spark.plans.backfill import build_feature_table

    src = transcripts_sdf.withColumn("val", F.lit(1.0))
    build_feature_table(src)  # first build: one-off UDF and class set-up
    calls = 0
    send = GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me  # the build's own calls only
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    gc.collect()
    gc.disable()  # a collection mid-build would add py4j detach calls
    try:
        build_feature_table(src)
    finally:
        gc.enable()
    assert calls <= 1000
