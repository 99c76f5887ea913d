import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from podcast_audio_feature_extraction_spark.operators.functionals import window_functionals
from podcast_audio_feature_extraction_spark.operators.segments import build_segments
from podcast_audio_feature_extraction_spark.oracle.numpy_oracle import sliding_window_functionals_np


def _with_val(pdf):
    rng = np.random.default_rng(3)
    out = pdf.copy()
    out["val"] = np.round(rng.uniform(0, 100, size=len(pdf)), 2)
    return out


def test_window_functionals_match_numpy_oracle(spark, transcripts_pdf):
    pdf = _with_val(transcripts_pdf)
    sdf = spark.createDataFrame(pdf)
    got = (
        window_functionals(sdf, "120 seconds", "60 seconds", round_digits=None)
        .toPandas()
        .sort_values(["conv_id", "win_start"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = sliding_window_functionals_np(pdf, 120.0, 60.0).sort_values(
        ["conv_id", "win_start"], kind="mergesort"
    ).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["conv_id"].to_numpy() == want["conv_id"].to_numpy()).all()
    assert (got["win_start"].to_numpy() == want["win_start"].to_numpy()).all()
    np.testing.assert_array_equal(got["n"].to_numpy(), want["n"].to_numpy())
    for s, w in (
        ("val_mean", "mean"), ("val_std", "std"), ("val_min", "min"), ("val_max", "max"),
        ("val_p20", "p20"), ("val_median", "median"), ("val_p80", "p80"),
        ("val_slope", "slope"), ("val_cv", "cv"),
    ):
        np.testing.assert_allclose(got[s].to_numpy(), want[w].to_numpy(), rtol=1e-9, atol=1e-12, err_msg=s)


def test_each_row_lands_in_exactly_two_windows(spark, transcripts_sdf):
    n_rows = transcripts_sdf.count()
    total = (
        window_functionals(transcripts_sdf.withColumn("val", F.lit(1.0)))
        .agg(F.sum("n").alias("s"))
        .first()["s"]
    )
    assert total == 2 * n_rows  # 120s/60s overlap factor


def test_segments_words_ordered_by_ts_turnidx(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 4,
            "turn_idx": [0, 1, 2, 3],
            "role": ["user", "assistant", "user", "assistant"],
            "text": ["alpha", "bravo", "charlie", "delta"],
            "tool": [None] * 4,
            # two rows share a ts -> tie broken by turn_idx
            "ts": pd.to_datetime(["2024-01-01 00:00:10", "2024-01-01 00:00:10",
                                  "2024-01-01 00:00:30", "2024-01-01 00:01:50"]),
        }
    )
    sdf = spark.createDataFrame(pdf)
    segs = build_segments(sdf).toPandas().sort_values("win_start").reset_index(drop=True)
    first = segs.iloc[1]  # window starting at 00:00:00 (index 0 is the -60s window)
    assert first["seg_words"] == "alpha bravo charlie delta"
    assert first["seg_length"] == 4
    assert first["seg_speakers"] == 2
    assert first["seg_id"].startswith("c_")


def test_segments_exact_speakers_single_pass(spark, transcripts_sdf):
    # r6: exact speakers moved from count(DISTINCT role) to
    # size(collect_set(role)) — identical values, but single-pass: no
    # 2-phase Expand (which duplicated every text row) and no extra
    # Exchange. The counts are the plan's when the approx_count_distinct
    # variant was deleted, which planned the same ones.
    plan = build_segments(transcripts_sdf)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # exactly ONE Expand: the sliding time-window replication.
    # count_distinct's 2-phase aggregation would add a second one.
    assert plan.count("Expand") == 1
    # values: the single-pass count equals count(DISTINCT role)
    win = F.window("ts", "120 seconds", "60 seconds")
    want = (
        transcripts_sdf.groupBy("conv_id", win.alias("win"))
        .agg(F.count_distinct("role").alias("n"))
        .select(F.concat_ws("_", "conv_id", F.unix_timestamp("win.start").cast("string")).alias("seg_id"), "n")
        .toPandas()
    )
    e = build_segments(transcripts_sdf).toPandas()
    m = want.sort_values("seg_id").reset_index(drop=True), e.sort_values("seg_id").reset_index(drop=True)
    assert (m[0]["seg_id"].to_numpy() == m[1]["seg_id"].to_numpy()).all()
    assert (m[0]["n"].to_numpy() == m[1]["seg_speakers"].to_numpy()).all()


def test_robust_scale_known_values(spark):
    from podcast_audio_feature_extraction_spark.operators.functionals import robust_scale

    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 5 + ["b"] * 3,
            "turn_idx": list(range(5)) + list(range(3)),
            "val": [10.0, 20.0, 30.0, 40.0, 50.0, 7.0, 7.0, 7.0],  # b is constant
        }
    )
    got = robust_scale(spark.createDataFrame(pdf)).toPandas().set_index(["conv_id", "turn_idx"])["val_scaled"]
    # a: median 30, IQR = 40-20 = 20 -> values (-1, -0.5, 0, 0.5, 1)
    assert got[("a", 0)] == -1.0 and got[("a", 2)] == 0.0 and got[("a", 4)] == 1.0
    # constant group: IQR 0 -> all 0.0 (not NaN/inf)
    assert (got.loc["b"] == 0.0).all()


def test_functional_grid_single_pass_and_matches_numpy(spark, transcripts_pdf):
    """The full descriptor x functional grid computes in ONE aggregation
    pass (exactly one Exchange in the plan — columns scale the agg list,
    never the shuffle count) and matches a numpy oracle per cell."""
    from podcast_audio_feature_extraction_spark.operators.functionals import functional_grid

    stats = (
        "mean", "std", "min", "max", "median", "p20", "p80", "cv", "slope", "range",
        "skew", "kurt",
    )
    vpdf = _with_val(transcripts_pdf)
    t = spark.createDataFrame(vpdf).withColumn(
        "tok",
        F.size(F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"), lambda x: x != "")).cast(
            "double"
        ),
    )
    grid = functional_grid(t, ["val", "tok"], stats=stats)
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    got = grid.toPandas()
    assert list(got.columns) == ["conv_id", "win_start", "n"] + [
        f"{c}_{s}" for c in ("val", "tok") for s in stats
    ]

    # numpy oracle for one conversation's windows
    pdf = vpdf.copy()
    pdf["us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    conv = pdf["conv_id"].iloc[0]
    sub = pdf[pdf["conv_id"] == conv]
    g = got[got["conv_id"] == conv].set_index("win_start").sort_index()
    assert len(g) > 0
    for ws, row in g.iterrows():
        lo = int(pd.Timestamp(ws).value // 1000)
        m = sub[(sub["us"] >= lo) & (sub["us"] < lo + 120_000_000)]
        v = m["val"].to_numpy(dtype=float)
        x = (m["us"].to_numpy() - lo) / 1e6
        assert row["n"] == len(v)
        assert abs(row["val_mean"] - round(v.mean(), 6)) < 1e-9
        assert abs(row["val_std"] - round(v.std(), 6)) < 1e-9
        assert row["val_min"] == v.min() and row["val_max"] == v.max()
        assert abs(row["val_range"] - round(v.max() - v.min(), 6)) < 1e-9
        assert abs(row["val_median"] - round(np.percentile(v, 50), 6)) < 1e-9
        assert abs(row["val_p20"] - round(np.percentile(v, 20), 6)) < 1e-9
        cv = v.std() / v.mean() if v.mean() != 0 else 0.0
        assert abs(row["val_cv"] - round(cv, 6)) < 1e-9
        vx = np.var(x)
        slope = (np.mean(x * v) - np.mean(x) * np.mean(v)) / vx if vx > 0 else 0.0
        assert abs(row["val_slope"] - round(slope, 6)) < 1e-6
        var = np.mean(v**2) - np.mean(v) ** 2
        if var > 1e-12:
            m3c = np.mean(v**3) - 3 * np.mean(v) * np.mean(v**2) + 2 * np.mean(v) ** 3
            m4c = (
                np.mean(v**4)
                - 4 * np.mean(v) * np.mean(v**3)
                + 6 * np.mean(v) ** 2 * np.mean(v**2)
                - 3 * np.mean(v) ** 4
            )
            # numpy's accumulation order differs from Spark's; near a round-6
            # midpoint the two can land one rounding step apart (the n=2
            # kurt = exactly -2 case) — allow one step
            assert abs(row["val_skew"] - round(m3c / var**1.5, 6)) < 1.5e-6
            assert abs(row["val_kurt"] - round(m4c / var**2 - 3.0, 6)) < 1.5e-6
        else:
            assert row["val_skew"] == 0.0 and row["val_kurt"] == 0.0


def test_functional_grid_rejects_unknown_stat(spark, transcripts_pdf):
    import pytest

    from podcast_audio_feature_extraction_spark.operators.functionals import functional_grid

    sdf = spark.createDataFrame(_with_val(transcripts_pdf))
    with pytest.raises(ValueError, match="unknown grid stats"):
        functional_grid(sdf, ["val"], stats=("mean", "kurtosis_nope"))


def test_functional_grid_approx_percentiles_close_to_exact(spark, transcripts_pdf):
    """The sketch mode (approx_pct_accuracy) tracks the exact percentiles —
    the 100 TB path where exact buffering is the grid's dominant cost."""
    from podcast_audio_feature_extraction_spark.operators.functionals import functional_grid

    sdf = spark.createDataFrame(_with_val(transcripts_pdf))
    stats = ("min", "max", "median", "p20", "p80")
    exact = (
        functional_grid(sdf, ["val"], stats=stats)
        .toPandas().set_index(["conv_id", "win_start"]).sort_index()
    )
    approx = (
        functional_grid(sdf, ["val"], stats=stats, approx_pct_accuracy=10000)
        .toPandas().set_index(["conv_id", "win_start"]).sort_index()
    )
    assert (exact.index == approx.index).all()
    # approx_percentile picks ACTUAL data points; exact interpolates — with
    # tiny windows a single window can differ by an adjacent-value gap, so
    # assert (a) every sketch value is a legal in-window value and (b) the
    # two track each other in aggregate
    for col in ("val_median", "val_p20", "val_p80"):
        assert (approx[col] >= exact["val_min"]).all(), col
        assert (approx[col] <= exact["val_max"]).all(), col
        assert (exact[col] - approx[col]).abs().median() < 10.0, col


def test_exact_pct_matches_builtin_percentile(spark):
    """The sorted-array percentile family must be BIT-identical to
    F.percentile (the previous implementation, which the DuckDB
    quantile_cont twins were verified against) — including the
    duplicate-neighbor case where re-blending equal values perturbs the
    last ulp, and tiny/empty-ish groups — and int literals q=0 / q=1."""
    import numpy as np
    import pyspark.sql.functions as F

    from podcast_audio_feature_extraction_spark.operators.functionals import _exact_pct_col

    rng = np.random.default_rng(7)
    rows = []
    gid = 0
    for n in [1, 2, 2, 3, 5, 17, 100]:
        vals = np.round(rng.uniform(0, 100, size=n), 2)
        if n >= 2:
            vals[1] = vals[0]  # force duplicate neighbors
        for v in vals:
            rows.append((f"g{gid}", float(v)))
        gid += 1
    # an all-duplicates group (the pure short-circuit path)
    rows += [("gdup", 3.0)] * 4
    sdf = spark.createDataFrame(rows, "g string, v double")

    qs = (0, 0.2, 0.5, 0.8, 1)
    agg = sdf.groupBy("g").agg(
        F.percentile(F.col("v"), F.array(*[F.lit(float(q)) for q in qs])).alias("builtin"),
        F.sort_array(F.collect_list(F.col("v"))).alias("__sorted"),
    )
    out = agg.select(
        "g",
        "builtin",
        F.array(*[_exact_pct_col("__sorted", q) for q in qs]).alias("ours"),
    ).collect()
    assert len(out) == gid + 1
    for r in out:
        for a, b in zip(r["builtin"], r["ours"]):
            assert repr(a) == repr(b), (r["g"], r["builtin"], r["ours"])
