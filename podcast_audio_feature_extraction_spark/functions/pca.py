"""PCA-whitening post-processor (SURVEY.md §2.10 E6, §2.5 W5).

Analog of the post-process stage of the reference's VGGish pipeline
(reference ``src/features/VGGishExtractor.py:34-128``): a PCA whitener
(a matrix multiply + clip) over embeddings.

The whitening matrix is fitted ONCE on a bounded ordered sample of a
parquet file (:func:`fit_pca_whitener_local`, driver-side numpy — the
reference ships pretrained PCA params). Queries apply it as a pure-SQL
fold with the params inlined as literals (:func:`whiten_component_col`,
DuckDB twin :func:`whiten_component_sql`); the Arrow-vectorized
pandas-UDF batch matmul (:func:`apply_pca_whitener`) is the tests'
reference for it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType

from podcast_audio_feature_extraction_spark.operators.similarity import _ordered_sample


def fit_pca_whitener_local(parquet_path: str, sample_rows: int = 10_000, clip: float = 2.0):
    """Fit mean + whitening matrix on the file's ordered sample (the
    ``_local`` fits' one sample, keyed on ``vec_id``; DuckDB+numpy, no
    Spark). The same file and arguments give bit-identical params on every
    call, so a Spark query and its DuckDB twin fitting from the same file
    inline the same literals."""
    x = _ordered_sample(parquet_path, sample_rows)
    mean = x.mean(axis=0)
    cov = np.cov(x - mean, rowvar=False, ddof=0)
    evals, evecs = np.linalg.eigh(cov)
    # descending eigenvalue order, epsilon-regularized whitening
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    w = evecs @ np.diag(1.0 / np.sqrt(evals + 1e-8)) @ evecs.T
    return {"mean": mean, "matrix": w, "clip": clip}


def whiten_component_col(vec_col_name: str, params: dict, j: int) -> Column:
    """Whitened component ``j`` as a PURE-SQL expression (mean + matrix
    row inlined as double literals): y_j = clip(fold_i (x_i - mean_i) *
    W[j,i]). The fold runs sequentially in ascending dimension order from
    a 0.0 init — bit-identical to the DuckDB twin's list_reduce (BLAS
    matmul order would not be). Stays in whole-stage codegen. This is the
    form queries run; the pandas-UDF batch matmul
    (:func:`apply_pca_whitener`) is its parity reference in the tests."""
    mean = params["mean"]
    w = params["matrix"][j]
    clip = float(params["clip"])
    means = ", ".join(f"{v:.17g}D" for v in mean)
    ws = ", ".join(f"{v:.17g}D" for v in w)
    y = (
        f"aggregate(sequence(0, {len(w) - 1}), cast(0.0 as double), (acc, i) -> "
        f"acc + (cast(element_at({vec_col_name}, i + 1) as double) - element_at(array({means}), i + 1))"
        f" * element_at(array({ws}), i + 1))"
    )
    return F.expr(f"least(greatest({y}, {-clip:.17g}D), {clip:.17g}D)")


def whiten_component_sql(vec_expr: str, params: dict, j: int) -> str:
    """DuckDB twin of :func:`whiten_component_col` (same literals, same
    ascending-dimension fold; 0.0 + e0 == e0 exactly, so the Spark 0-init
    fold and list_reduce's first-element init agree)."""
    from podcast_audio_feature_extraction_spark.functions.sqlfmt import dlit

    mean = params["mean"]
    w = params["matrix"][j]
    clip = float(params["clip"])
    means = ", ".join(dlit(v) for v in mean)
    ws = ", ".join(dlit(v) for v in w)
    y = (
        f"list_reduce(list_transform(range({len(w)}), i -> "
        f"(CAST({vec_expr}[i+1] AS DOUBLE) - ([{means}])[i+1]) * ([{ws}])[i+1]), (a, b) -> a + b)"
    )
    return f"least(greatest({y}, {dlit(-clip)}), {dlit(clip)})"


def apply_pca_whitener(df: DataFrame, params: dict) -> DataFrame:
    """Executor-side whitening of ``embedding`` into ``whitened``:
    broadcast params, batch matmul per Arrow batch, clip to [-clip, clip]
    (VGGishExtractor.py postprocess shape).
    No query runs it: it is the independent reference that
    :func:`whiten_component_col` is checked against (a BLAS matmul, not
    the sequential fold)."""
    spark = df.sparkSession
    b = spark.sparkContext.broadcast(
        {"mean": params["mean"].tolist(), "matrix": params["matrix"].tolist(), "clip": params["clip"]}
    )

    @F.pandas_udf(ArrayType(DoubleType()))
    def whiten(vecs: pd.Series) -> pd.Series:
        p = b.value
        mean = np.asarray(p["mean"])
        mat = np.asarray(p["matrix"])
        clip = p["clip"]
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        y = np.clip((x - mean) @ mat.T, -clip, clip)
        return pd.Series(list(y))

    return df.withColumn("whitened", whiten(F.col("embedding")))

