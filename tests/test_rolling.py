import numpy as np

from podcast_audio_feature_extraction_spark.operators.rolling import turn_features, assemble_functionals
from podcast_audio_feature_extraction_spark.oracle.numpy_oracle import turn_features_np

K = 5
NUM_COLS = [
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


def _sorted(pdf):
    return pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)


def test_turn_features_match_oracle(spark, transcripts_sdf, transcripts_pdf):
    got = _sorted(turn_features(transcripts_sdf, k=K, val_col=None).toPandas())
    want = turn_features_np(transcripts_pdf, k=K, val_col=None)
    assert len(got) == len(want)
    # per-turn text byte equality under stable ordering (BASELINE invariant)
    assert (got["text"].fillna("").to_numpy() == want["text"].fillna("").to_numpy()).all()
    for c in NUM_COLS:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=np.float64),
            want[c].to_numpy(dtype=np.float64),
            rtol=1e-12,
            atol=1e-12,
            err_msg=c,
        )
    # lag/lead context
    assert (got["prev_role"].fillna("~") == want["prev_role"].fillna("~")).all()
    assert (got["next_role"].fillna("~") == want["next_role"].fillna("~")).all()


def test_assemble_functionals_vector(spark, transcripts_sdf):
    df = assemble_functionals(turn_features(transcripts_sdf, k=K, val_col=None))
    row = df.select("functionals").first()
    assert len(row["functionals"]) == 11  # no val columns in this fixture
    pdf = df.select("token_cnt", "functionals").limit(50).toPandas()
    for _, r in pdf.iterrows():
        assert r["functionals"][0] == float(r["token_cnt"])


def test_turn_features_single_exchange(spark, transcripts_sdf):
    """All four window passes (lag/lead, whole-partition min, trailing
    frame, plus any upstream derivation) must share ONE conv_id shuffle."""
    plan = (
        turn_features(transcripts_sdf, k=K, val_col=None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 1


def test_trailing_window_evaluates_each_aggregate_once(spark, transcripts_sdf):
    """roll_val_std/slope/cv are derived from the trailing frame's
    aggregates in the projection after the Window operator: the trailing
    Window node evaluates each aggregate once (a window expression repeated
    across select items is evaluated again per frame), and the feature
    pass still plans 2 Window operators."""
    import re

    import pyspark.sql.functions as F

    df = transcripts_sdf.withColumn("val", F.col("turn_idx").cast("double") * 1.5)
    plan = turn_features(df, k=K)._jdf.queryExecution().optimizedPlan().toString()
    windows = [line for line in plan.splitlines() if "Window [" in line]
    assert len(windows) == 2, plan
    trail = [line for line in windows if "covar_pop(" in line]
    assert len(trail) == 1, plan
    counts = {
        agg: len(re.findall(rf"(?<![a-z_]){agg}\(", trail[0]))
        for agg in ("avg", "stddev_pop", "var_pop", "covar_pop", "percentile", "min", "max", "sum")
    }
    # token + val for avg/stddev_pop/min/max; tool + role changes for sum
    assert counts == {
        "avg": 2, "stddev_pop": 2, "var_pop": 1, "covar_pop": 1,
        "percentile": 1, "min": 2, "max": 2, "sum": 2,
    }, counts
