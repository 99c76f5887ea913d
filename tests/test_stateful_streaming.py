import time

import numpy as np
import pyspark.sql.functions as F


def test_stateful_asof_enrich_matches_batch_asof(spark, transcripts_pdf, tmp_path):
    """The O(1)-state streaming as-of over a tagged feature+query stream
    must equal the batch as-of join on the same data, across time-ordered
    micro-batches (zero leakage evaluated incrementally)."""
    import pandas as pd
    from pyspark.sql import types as T

    from podcast_audio_feature_extraction_spark.operators.asof import asof_join
    from podcast_audio_feature_extraction_spark.streaming.stateful import stateful_asof_enrich

    rng = np.random.default_rng(5)
    pdf = transcripts_pdf.sort_values(["ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    # assistant turns publish a feature vector; user turns query
    is_feat = pdf["role"].eq("assistant")
    tagged = pdf.assign(
        side=np.where(is_feat, "f", "q"),
        functionals=[
            [float(i), float(i % 7)] if f else None for i, f in enumerate(is_feat)
        ],
    )[["conv_id", "turn_idx", "ts", "side", "functionals"]]

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("side", T.StringType(), False),
            T.StructField("functionals", T.ArrayType(T.DoubleType()), True),
        ]
    )
    in_dir = tmp_path / "asof_stream_in"
    in_dir.mkdir()
    for i, rows in enumerate(np.array_split(np.arange(len(tagged)), 3)):
        chunk = tagged.iloc[rows]
        spark.createDataFrame(chunk.reset_index(drop=True), schema=schema).coalesce(1).write.parquet(
            str(in_dir / f"batch_{i}")
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(in_dir) + "/batch_*")
    )
    q = (
        stateful_asof_enrich(stream)
        .writeStream.format("memory")
        .queryName("stateful_asof")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def canon(df):
        return (
            df.select(
                "conv_id", "turn_idx", "feat_turn_idx",
                F.col("functionals").cast("string").alias("functionals"),
            )
            .toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .reset_index(drop=True)
        )

    got = canon(spark.table("stateful_asof"))

    all_sdf = spark.createDataFrame(tagged, schema=schema)
    left = all_sdf.filter("side = 'q'").select("conv_id", "turn_idx", "ts")
    right = all_sdf.filter("side = 'f'").select(
        "conv_id", F.col("turn_idx").alias("feat_turn_idx"), "ts", "functionals"
    )
    want = canon(
        asof_join(
            left, right, value_cols=["feat_turn_idx", "functionals"],
            right_tie_cols=["feat_turn_idx"], left_tie_cols=["turn_idx"],
        )
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stateful_asof_tolerance_nulls_stale_features(spark, tmp_path):
    """tolerance_s must null out features older than the bound — same
    semantics as the batch as-of tolerance (batch mode of the fold)."""
    import pandas as pd
    from pyspark.sql import types as T

    from podcast_audio_feature_extraction_spark.streaming.stateful import stateful_asof_enrich

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("side", T.StringType(), False),
            T.StructField("functionals", T.ArrayType(T.DoubleType()), True),
        ]
    )
    rows = [
        ("c", 0, pd.Timestamp(100, unit="s"), "f", [1.0]),
        ("c", 1, pd.Timestamp(130, unit="s"), "q", None),   # 30s old: fresh
        ("c", 2, pd.Timestamp(300, unit="s"), "q", None),   # 200s old: stale
        ("c", 3, pd.Timestamp(310, unit="s"), "f", [2.0]),
        ("c", 4, pd.Timestamp(315, unit="s"), "q", None),   # 5s old: fresh
    ]
    sdf = spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema=schema)
    in_dir = str(tmp_path / "tol_in")
    sdf.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        stateful_asof_enrich(stream, tolerance_s=60.0)
        .writeStream.format("memory").queryName("tol_asof")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("tol_asof").toPandas().sort_values("turn_idx").reset_index(drop=True)
    assert list(got["turn_idx"]) == [1, 2, 4]
    assert got.loc[0, "functionals"] is not None and list(got.loc[0, "functionals"]) == [1.0]
    assert got.loc[1, "functionals"] is None or pd.isna(got.loc[1, "functionals"])
    assert list(got.loc[2, "functionals"]) == [2.0]


def test_stateful_asof_ordering_violation_raises(spark, tmp_path):
    """A micro-batch regressing below the key's processed (ts, turn_idx)
    watermark violates the cross-batch ordering contract — the fold must
    raise (silently folding it would produce leaky/missing enrichments)."""
    import pandas as pd
    import pyspark.sql.utils
    import pytest
    from pyspark.sql import types as T

    from podcast_audio_feature_extraction_spark.streaming.stateful import stateful_asof_enrich

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("side", T.StringType(), False),
            T.StructField("functionals", T.ArrayType(T.DoubleType()), True),
        ]
    )
    in_dir = tmp_path / "ooo_in"
    in_dir.mkdir()
    b0 = [("c", 0, pd.Timestamp(100, unit="s"), "f", [1.0]),
          ("c", 1, pd.Timestamp(200, unit="s"), "q", None)]
    b1 = [("c", 2, pd.Timestamp(150, unit="s"), "q", None)]  # regression
    for i, rows in enumerate((b0, b1)):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=schema.names), schema=schema
        ).coalesce(1).write.parquet(str(in_dir / f"batch_{i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/batch_*")
    )
    q = (
        stateful_asof_enrich(stream)
        .writeStream.format("memory").queryName("ooo_asof")
        .outputMode("append").trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="ordering contract violated"):
        q.awaitTermination()


class FakeState:
    """GroupState stand-in for unit-testing a fold: ``update`` makes the
    state exist for the next invocation."""

    def __init__(self):
        self.exists = False
        self.updated = None

    @property
    def get(self):
        assert self.exists, "get on non-existent state"
        return self.updated

    def update(self, v):
        self.exists = True
        self.updated = v


def test_stateful_asof_null_ts_never_enters_state():
    """A feature row with a NULL ts never becomes the stored feature, and a
    query row with a NULL ts reads NULL features without moving the
    ordering watermark — the batch as-of's NULL-ts meaning, across two
    micro-batches of the fold."""
    import pandas as pd

    from podcast_audio_feature_extraction_spark.streaming.stateful import _make_asof_fold

    fold = _make_asof_fold(None)
    state = FakeState()
    b0 = pd.DataFrame(
        {
            "conv_id": ["c", "c", "c"],
            "turn_idx": [0, 1, 2],
            "ts": pd.to_datetime([None, 100, None], unit="s"),
            "side": ["f", "f", "q"],
            "functionals": [[99.0], [1.0], None],
        }
    )
    out0 = pd.concat(list(fold(("c",), iter([b0]), state)), ignore_index=True)
    assert list(out0["turn_idx"]) == [2]
    assert out0.loc[0, "functionals"] is None and pd.isna(out0.loc[0, "feat_turn_idx"])
    feat_us, feat_idx, feats, last_us, last_idx = state.updated
    assert (feat_us, feat_idx, feats) == (100_000_000, 1, [1.0])
    assert (last_us, last_idx) == (100_000_000, 1)

    b1 = pd.DataFrame(
        {
            "conv_id": ["c"],
            "turn_idx": [3],
            "ts": pd.to_datetime([300], unit="s"),
            "side": ["q"],
            "functionals": [None],
        }
    )
    out1 = pd.concat(list(fold(("c",), iter([b1]), state)), ignore_index=True)
    assert list(out1["feat_turn_idx"]) == [1] and list(out1.loc[0, "functionals"]) == [1.0]
