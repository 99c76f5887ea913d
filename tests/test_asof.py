import numpy as np
import pandas as pd
import pytest

from podcast_audio_feature_extraction_spark.operators.asof import asof_join
from podcast_audio_feature_extraction_spark.oracle.numpy_oracle import asof_np


@pytest.fixture(scope="module")
def asof_data(spark):
    rng = np.random.default_rng(7)
    keys = [f"k{i}" for i in range(8)]
    left_rows, right_rows = [], []
    for k in keys:
        lt = np.sort(rng.integers(0, 10_000, size=60))
        rt = np.sort(rng.integers(0, 10_000, size=25))
        # force some exact-match timestamps to pin tie semantics
        rt[:5] = lt[:5]
        for t in lt:
            left_rows.append((k, pd.Timestamp(int(t), unit="s")))
        for i, t in enumerate(np.sort(rt)):
            right_rows.append((k, pd.Timestamp(int(t), unit="s"), float(i), i))
    lpdf = pd.DataFrame(left_rows, columns=["conv_id", "ts"])
    rpdf = pd.DataFrame(right_rows, columns=["conv_id", "ts", "feat", "ridx"])
    # key with no right rows at all
    lpdf = pd.concat([lpdf, pd.DataFrame([("lonely", pd.Timestamp(5, unit="s"))], columns=["conv_id", "ts"])])
    lsdf = spark.createDataFrame(lpdf)
    rsdf = spark.createDataFrame(rpdf)
    return lpdf, rpdf, lsdf, rsdf


@pytest.mark.parametrize("inclusive", [True, False])
def test_asof_matches_merge_asof(spark, asof_data, inclusive):
    lpdf, rpdf, lsdf, rsdf = asof_data
    got = (
        asof_join(
            lsdf, rsdf, on="conv_id", ts_col="ts",
            value_cols=["feat"], inclusive=inclusive, right_tie_cols=["ridx"],
        )
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = asof_np(lpdf, rpdf, value_cols=["feat"], inclusive=inclusive)
    want = want.sort_values(["conv_id", "ts"], kind="mergesort").reset_index(drop=True)
    assert len(got) == len(want)
    g = got["feat"].astype(float).to_numpy()
    w = want["feat"].astype(float).to_numpy()
    both_nan = np.isnan(g) & np.isnan(w)
    assert (both_nan | (g == w)).all()


def _feat_by_key_ts(pdf):
    return pdf.sort_values(["conv_id", "ts"], kind="mergesort")["feat"].to_numpy(dtype=float)


def _same_feats(a, b):
    return bool(((np.isnan(a) & np.isnan(b)) | (a == b)).all())


def test_asof_no_temporal_leakage(spark, asof_data):
    """Right rows strictly after a left ts must never affect its value, and
    neither may a right row of unknown (NULL) ts."""
    lpdf, rpdf, lsdf, rsdf = asof_data
    base = _feat_by_key_ts(asof_join(lsdf, rsdf, value_cols=["feat"], right_tie_cols=["ridx"]).toPandas())
    # inject future right rows (after each key's max left ts)
    fut = rpdf.copy()
    fut["ts"] = fut["ts"] + pd.Timedelta(days=400)
    fut["feat"] = 9999.0
    rsdf2 = spark.createDataFrame(pd.concat([rpdf, fut], ignore_index=True))
    with_future = asof_join(lsdf, rsdf2, value_cols=["feat"], right_tie_cols=["ridx"]).toPandas()
    assert _same_feats(base, _feat_by_key_ts(with_future))

    # a NULL-ts right row per key matches no left row (DuckDB ASOF: l.ts >=
    # NULL is never true; "lonely" has no other right row to hide it), and
    # a NULL-ts left row reads NULL
    unknown = pd.DataFrame(
        {"conv_id": lpdf["conv_id"].unique(), "ts": pd.NaT, "feat": 99.0, "ridx": -1}
    )
    rsdf3 = spark.createDataFrame(pd.concat([rpdf, unknown], ignore_index=True), schema=rsdf.schema)
    lsdf3 = lsdf.unionByName(spark.createDataFrame([("k0", None)], schema=lsdf.schema))
    with_null = asof_join(lsdf3, rsdf3, value_cols=["feat"], right_tie_cols=["ridx"]).toPandas()
    assert _same_feats(base, _feat_by_key_ts(with_null[with_null["ts"].notna()]))
    assert with_null.loc[with_null["ts"].isna(), "feat"].isna().all()


def test_asof_tolerance_matches_merge_asof(spark, asof_data):
    """Stale matches (older than tolerance) are nulled, like
    pd.merge_asof(tolerance=...)."""
    lpdf, rpdf, lsdf, rsdf = asof_data
    tol = 1000.0
    got = (
        asof_join(
            lsdf, rsdf, value_cols=["feat"], tolerance_s=tol, right_tie_cols=["ridx"],
        )
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    outs = []
    for key, lg in lpdf.groupby("conv_id", sort=True):
        rg = rpdf[rpdf["conv_id"] == key]
        lg = lg.sort_values("ts", kind="mergesort")
        if rg.empty:
            lg = lg.copy(); lg["feat"] = np.nan
            outs.append(lg)
            continue
        outs.append(
            pd.merge_asof(lg, rg.sort_values("ts")[["ts", "feat"]], on="ts",
                          tolerance=pd.Timedelta(seconds=tol))
        )
    want = pd.concat(outs).sort_values(["conv_id", "ts"], kind="mergesort").reset_index(drop=True)
    g = got["feat"].astype(float).to_numpy()
    w = want["feat"].astype(float).to_numpy()
    both_nan = np.isnan(g) & np.isnan(w)
    assert (both_nan | (g == w)).all()
    assert np.isnan(w).any()  # tolerance actually nulled something


def test_asof_null_value_on_newest_right_row_wins(spark):
    """A NULL value column on the newest matching right row must surface as
    NULL (pd.merge_asof semantics) — not silently fall back to a stale
    older right row's value (round-1 union-trick bug)."""
    lpdf = pd.DataFrame(
        {"conv_id": ["k", "k"], "ts": pd.to_datetime([100, 200], unit="s"), "meta.src": ["a", "b"]}
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["k", "k"],
            "ts": pd.to_datetime([50, 150], unit="s"),
            "feat": [1.0, None],
            "other": [10.0, 20.0],
        }
    )
    lsdf, rsdf = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    got = (
        asof_join(lsdf, rsdf, value_cols=["feat", "other"])
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # left ts=100 -> right ts=50 (feat=1.0); left ts=200 -> right ts=150
    # whose feat is NULL: must stay NULL, while other comes from the SAME row
    assert got.loc[0, "feat"] == 1.0 and got.loc[0, "other"] == 10.0
    assert pd.isna(got.loc[1, "feat"])
    assert got.loc[1, "other"] == 20.0
    assert list(got["meta.src"]) == ["a", "b"]  # a dotted left column name passes through


def test_asof_tolerance_freshness_uses_matched_row(spark):
    """Tolerance must be evaluated against the ts of the row the values come
    from; with the struct carry they are the same row by construction."""
    lpdf = pd.DataFrame({"conv_id": ["k"], "ts": pd.to_datetime([300], unit="s")})
    rpdf = pd.DataFrame(
        {
            "conv_id": ["k", "k"],
            "ts": pd.to_datetime([100, 290], unit="s"),
            "feat": [1.0, None],
        }
    )
    lsdf, rsdf = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    got = asof_join(lsdf, rsdf, value_cols=["feat"], tolerance_s=60.0).toPandas()
    # newest matching row is ts=290 (fresh, within 60s) with feat NULL ->
    # NULL; the stale ts=100 row must not leak through the tolerance check
    assert pd.isna(got.loc[0, "feat"])


def test_asof_rejects_non_integral_tie_column(spark, asof_data):
    _, _, lsdf, rsdf = asof_data
    bad = rsdf.withColumn("ridx", rsdf["ridx"].cast("string"))
    with pytest.raises(TypeError, match="non-integral"):
        asof_join(lsdf, bad, value_cols=["feat"], right_tie_cols=["ridx"])


def test_asof_composite_key(spark):
    """Multi-column as-of keys: matches never cross either key column."""
    lpdf = pd.DataFrame(
        {
            "tenant": ["t1", "t1", "t2"],
            "conv_id": ["c", "c", "c"],
            "ts": pd.to_datetime([100, 200, 200], unit="s"),
        }
    )
    rpdf = pd.DataFrame(
        {
            "tenant": ["t1", "t2"],
            "conv_id": ["c", "c"],
            "ts": pd.to_datetime([50, 150], unit="s"),
            "feat": [1.0, 2.0],
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            on=["tenant", "conv_id"],
            value_cols=["feat"],
        )
        .toPandas()
        .sort_values(["tenant", "ts"])
        .reset_index(drop=True)
    )
    assert list(got["feat"]) == [1.0, 1.0, 2.0]  # t1 rows never see t2's feature


def test_asof_rejects_value_column_colliding_with_left_column(spark):
    """A left column named like a value column would be silently replaced
    by the right row's value — the join refuses and names the column."""
    lsdf = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["k"], "ts": pd.to_datetime([100], unit="s"), "feat": [-5.0]})
    )
    rsdf = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["k"], "ts": pd.to_datetime([50], unit="s"), "feat": [1.0]})
    )
    with pytest.raises(ValueError, match=r"\['feat'\]"):
        asof_join(lsdf, rsdf, value_cols=["feat"])


def test_asof_np_key_without_right_rows_gives_float_nan():
    """The oracle's as-of: a left key with no right rows yields NaN values,
    and an int value column comes out float64 for every key, with no
    pandas FutureWarning (whose fix would change the dtypes silently)."""
    import warnings

    import numpy as np

    lpdf = pd.DataFrame(
        {"conv_id": ["a", "a", "b"], "ts": pd.to_datetime([100, 200, 150], unit="s")}
    )
    rpdf = pd.DataFrame({"conv_id": ["a"], "ts": pd.to_datetime([50], unit="s"), "n": [7]})
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        got = asof_np(lpdf, rpdf, value_cols=["n"])
    got = got.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert got["n"].dtype == np.float64
    assert list(got["n"][:2]) == [7.0, 7.0]
    assert np.isnan(got["n"][2])
