"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a sign-LSH-bucketed
variant as the scale path (axis-aligned hyperplanes on the leading dims:
crude but deterministic and SQL-portable; at 100 TB swap in random
hyperplanes broadcast as a literal matrix — the plan shape is identical).

All math is sequential left-fold over the array (F.aggregate /
list_reduce) in float64, so Spark and the DuckDB oracle produce
bit-identical doubles before rounding.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from podcast_audio_feature_extraction_spark.functions.sqlfmt import ROUND_DIGITS
from podcast_audio_feature_extraction_spark.functions.sqlfmt import dlit as _dlit

# the query vectors of every DuckDB twin (the Spark queries filter the same)
QUERY_PRED = "vec_id < 5"
# every seeded model artifact: k-means initial picks, random hyperplanes
SEED = 42
# rows of the ordered sample the ``_local`` fits draw
FIT_SAMPLE_ROWS = 20_000
# int8-style quantization: [QUANT_LO, QUANT_HI] onto QUANT_LEVELS codes
QUANT_LO, QUANT_HI, QUANT_LEVELS = -1.0, 1.0, 256


def dot_col(a: Column, b: Column) -> Column:
    prods = F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return F.round(dot_col(a, b) / (norm_col(a) * norm_col(b)), ROUND_DIGITS)


def _cosine_hoisted(q_vec: Column, c_vec: Column, q_norm: Column, c_norm: Column) -> Column:
    """cosine_col with the two norms read from pre-computed columns —
    BIT-IDENTICAL values (same expressions, same q*c product order), but
    each side's norm fold runs once per ROW instead of once per candidate
    PAIR (a corpus vector is a candidate for every query probing its
    bucket, so the per-pair form re-folds the same norm ~n_q times)."""
    return F.round(dot_col(q_vec, c_vec) / (q_norm * c_norm), ROUND_DIGITS)


def _cosine_topk(c: DataFrame, q: DataFrame, k: int, key: str | None) -> DataFrame:
    """The one cosine top-k tail: ``c`` (c_id, c_vec[, key]) and the small
    ``q`` (q_id, q_vec[, key]) each get their norm hoisted once per row,
    ``q`` is broadcast and equi-joined on ``key`` (cross-joined when None),
    self-matches drop, and each query keeps its ``k`` best by (cos desc,
    c_id asc) — a bounded per-query window. Returns (q_id, c_id, cos, rk)."""
    c = c.withColumn("__c_norm", norm_col(F.col("c_vec")))
    q = q.withColumn("__q_norm", norm_col(F.col("q_vec")))
    pairs = c.crossJoin(F.broadcast(q)) if key is None else c.join(F.broadcast(q), key)
    scored = pairs.filter(F.col("c_id") != F.col("q_id")).select(
        "q_id",
        "c_id",
        _cosine_hoisted(F.col("q_vec"), F.col("c_vec"), F.col("__q_norm"), F.col("__c_norm")).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector (broadcast the small query side;
    the corpus side streams — one pass, no shuffle until the per-query
    top-k, which TakeOrderedAndProject keeps tiny)."""
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return _cosine_topk(c, q, k, None)


def sign_bucket_col(vec_col_name: str, n_bits: int = 8) -> Column:
    """LSH bucket: sign bits of the first n_bits dimensions (SQL expr —
    shiftleft by a lambda variable isn't expressible via the Python API)."""
    return F.expr(
        f"aggregate(sequence(0, {n_bits - 1}), cast(0 as bigint), (acc, i) -> "
        f"acc + shiftleft(CASE WHEN element_at({vec_col_name}, i + 1) >= 0 "
        f"THEN cast(1 as bigint) ELSE cast(0 as bigint) END, i))"
    )


def random_planes(n_bits: int, dim: int):
    """Random-hyperplane matrix for proper cosine-LSH (the scale-grade
    alternative to axis-aligned sign buckets). A deterministic literal —
    broadcast into the Spark expression AND inlined into the DuckDB twin,
    so the bucketing is engine-independent."""
    import numpy as np

    rng = np.random.default_rng(SEED)
    return rng.standard_normal((n_bits, dim))


def plane_bucket_col(vec_col_name: str, planes) -> Column:
    """Bucket = sign bits of the vector's projection onto each hyperplane.
    Pure SQL expression (dot products against literal arrays) — stays in
    whole-stage codegen, no Python crossing."""
    bits = []
    for i, p in enumerate(planes):
        arr = ", ".join(f"{v:.17g}D" for v in p)
        dot = (
            f"aggregate(zip_with({vec_col_name}, array({arr}), (x, y) -> cast(x as double) * y), "
            f"cast(0.0 as double), (a, b) -> a + b)"
        )
        bits.append(f"shiftleft(CASE WHEN {dot} >= 0 THEN cast(1 as bigint) ELSE cast(0 as bigint) END, {i})")
    return F.expr(" + ".join(bits))


def plane_bucket_sql(vec_expr: str, planes, dim: int) -> str:
    """DuckDB twin of :func:`plane_bucket_col` (same literals, same fold
    order: ascending dimension index)."""
    bits = []
    for i, p in enumerate(planes):
        arr = ", ".join(f"{v:.17g}" for v in p)
        dot = (
            f"list_reduce(list_transform(range({dim}), j -> "
            f"CAST({vec_expr}[j+1] AS DOUBLE) * ([{arr}])[j+1]), (a, b) -> a + b)"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN (1::BIGINT << {i}) ELSE 0 END")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    planes=None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.
    Equi-join on bucket replaces the cross join — the 100 TB-scale path.

    ``planes`` (an (n_bits, dim) matrix from :func:`random_planes`) switches
    the bucketing from axis-aligned sign bits to proper random-hyperplane
    cosine-LSH; the plan shape is identical (the matrix is a literal)."""
    if planes is not None:
        bucket = plane_bucket_col("embedding", planes)
    else:
        bucket = sign_bucket_col("embedding", n_bits)
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), bucket.alias("bucket"))
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), bucket.alias("bucket"))
    return _cosine_topk(c, q, k, "bucket")


def _ordered_sample(parquet_path: str, sample_rows: int):
    """The one sample every ``_local`` fit draws: the first ``sample_rows``
    embeddings of a parquet file in ``vec_id`` order, read with DuckDB (no
    Spark) and stacked into an (n, d) float64 matrix. An ordered limit on
    a unique id is the same rows on every run, so a fit is a pure
    function of the file — which is how a Spark query and its DuckDB twin
    that fit from the same file inline the same literals."""
    import duckdb
    import numpy as np

    with duckdb.connect() as con:
        pdf = con.execute(
            f"SELECT vec_id, embedding FROM '{parquet_path}' ORDER BY vec_id LIMIT {sample_rows}"
        ).fetchdf()
    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])


def _kmeans_core(x, n_centroids: int, iters: int, seed: int):
    """Deterministic Lloyd k-means in float64: a seeded initial pick and a
    fixed number of rounds (the IVF quantizer and every PQ subspace
    codebook are fitted with it)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centroids = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            m = assign == c
            if m.any():
                centroids[c] = x[m].mean(axis=0)
    return centroids


def fit_ivf_centroids_local(
    parquet_path: str,
    n_centroids: int = 16,
    sample_rows: int = FIT_SAMPLE_ROWS,
    iters: int = 8,
):
    """The IVF coarse quantizer: k-means on the file's ordered sample
    (:func:`_ordered_sample`; DuckDB+numpy, no Spark). Fitting is
    O(sample), never O(corpus) — at 100 TB you fit on a 0.01% sample the
    same way. The same file and arguments give bit-identical centroids on
    every call, which is how the IVF query and its DuckDB twin share the
    quantizer as plain literals (assignment and probe are then ordinary
    SQL)."""
    x = _ordered_sample(parquet_path, sample_rows)
    return _kmeans_core(x, n_centroids, iters, SEED)


def _nearest_centroids_udf(centroids, nprobe: int):
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    cent = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 via the shared
        # _cent_dists (per-dim ascending accumulation — the twin's
        # sequential fold; NOT BLAS, which flips near-tied assignments
        # in the last ulp). Stable sort pins the lowest-centroid-id tie
        # rule the twin's ORDER BY d, cid uses.
        idx = np.argsort(_cent_dists(x, cent), axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in idx])

    return nearest



def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (one pass, broadcast centroid matrix); each query probes its
    ``nprobe`` nearest centroid buckets. The candidate join is an
    equi-join on centroid_id — the 100 TB path: candidates shrink by
    ~n_centroids/nprobe and the quantizer is a broadcast literal."""
    assign1 = _nearest_centroids_udf(centroids, 1)
    probe = _nearest_centroids_udf(centroids, nprobe)
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.element_at(assign1(F.col("embedding")), 1).alias("centroid_id"),
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(probe(F.col("embedding"))).alias("centroid_id"),
    )
    return _cosine_topk(c, q, k, "centroid_id")


def _sub_dists(xs, book):
    """(n, k) squared L2 distances of subvectors ``xs`` (n, sub) to a
    subspace codebook (k, sub), accumulated PER DIMENSION IN ASCENDING
    ORDER — not a BLAS/pairwise sum. The DuckDB twin folds
    ``list_reduce`` over dims sequentially, and a different summation
    order can flip near-tied code assignments in the last ulp (same rule
    as the IVF assignment UDF)."""
    import numpy as np

    d = np.zeros((xs.shape[0], book.shape[0]))
    for i in range(xs.shape[1]):
        diff = xs[:, i : i + 1] - book[None, :, i]
        d += diff * diff
    return d


def _fit_pq_books(x, m_sub: int, k_codes: int, iters: int, seed: int):
    import numpy as np

    d = x.shape[1]
    if d % m_sub:
        raise ValueError(f"embedding dim {d} not divisible by m_sub={m_sub}")
    sub = d // m_sub
    return np.stack(
        [
            _kmeans_core(np.ascontiguousarray(x[:, m * sub : (m + 1) * sub]), k_codes, iters, seed + m)
            for m in range(m_sub)
        ]
    )


def _cent_dists(x, cent):
    """(n, k) centroid distances in the ``-2*x.c + ||c||^2`` form with
    PER-DIM ASCENDING accumulation — the ONE definition of the coarse
    quantizer's distance arithmetic. Shared by the assignment UDF,
    residual fitting, and query-side probe selection so near-tied
    selections can never diverge in the last ulp between call sites (the
    DuckDB twin folds the same expression sequentially)."""
    import numpy as np

    n, k = len(x), cent.shape[0]
    dot = np.zeros((n, k))
    cc = np.zeros(k)
    for i in range(cent.shape[1]):
        dot += x[:, i : i + 1] * cent[None, :, i]
        cc += cent[:, i] * cent[:, i]
    return -2.0 * dot + cc[None, :]


def _residualize(x, centroids):
    """(x - nearest_centroid, assignment) with the SAME distance form and
    tie rule as :func:`_nearest_centroids_udf` (stable first-argmin =
    lowest centroid id) so fit-time assignments match encode-time and
    SQL-twin assignments."""
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    assign = np.argsort(_cent_dists(x, cent), axis=1, kind="stable")[:, 0]
    return x - cent[assign], assign


def fit_pq_codebooks_local(
    parquet_path: str,
    m_sub: int = 8,
    k_codes: int = 16,
    sample_rows: int = FIT_SAMPLE_ROWS,
    iters: int = 8,
):
    """Product-quantization codebooks (Jégou et al., IEEE TPAMI 2011 —
    public method): split the d-dim space into ``m_sub`` contiguous
    subspaces and fit an independent k-means codebook (``k_codes``
    centroids) per subspace on the file's ordered sample
    (:func:`_ordered_sample`; DuckDB+numpy, no Spark).

    Returns an (m_sub, k_codes, d/m_sub) numpy array. A 64-dim float64
    vector encodes to m_sub small ints — with 8x16 that is 8 nibbles vs
    512 bytes, the memory step that makes billion-vector ANN fit in RAM.
    The same file and arguments give bit-identical codebooks on every
    call, which is how the PQ query and its DuckDB twin share them as
    plain literals (encode + ADC scoring are then ordinary SQL)."""
    x = _ordered_sample(parquet_path, sample_rows)
    return _fit_pq_books(x, m_sub, k_codes, iters, SEED)


def fit_residual_pq_codebooks_local(
    parquet_path: str,
    centroids,
    m_sub: int = 8,
    k_codes: int = 16,
    iters: int = 8,
):
    """RESIDUAL PQ codebooks (the standard billion-scale IVF-PQ form,
    Jégou et al. 2011 §IV): codebooks are fitted on x - nearest_centroid
    instead of x, so the k_codes centroids per subspace model the
    within-cell distribution rather than the global one — sharper
    quantization at the same code budget. Same ordered sample and the same
    determinism as :func:`fit_pq_codebooks_local` (bit-identical literals
    for the SQL twin)."""
    x = _ordered_sample(parquet_path, FIT_SAMPLE_ROWS)
    r, _ = _residualize(x, centroids)
    return _fit_pq_books(r, m_sub, k_codes, iters, SEED)


def _pq_codes(x, books):
    """(n, m_sub) int32 PQ codes of the (n, d) float64 rows ``x``: per
    subspace, the index of the nearest codebook centroid — per-dim
    ascending accumulation (oracle fold parity); argmin takes the FIRST
    minimum = the lowest-code-id tie rule the twin's
    list_position(dl, list_min(dl)) uses."""
    import numpy as np

    m_sub, _, sub = books.shape
    if x.shape[1] != m_sub * sub:
        raise ValueError(
            f"pq_encode: vectors are {x.shape[1]}-dim but the codebooks were fit "
            f"for {m_sub * sub} dims ({m_sub} subspaces x {sub}) — silently "
            "truncating would corrupt every distance"
        )
    codes = np.empty((len(x), m_sub), dtype=np.int32)
    for m in range(m_sub):
        codes[:, m] = _sub_dists(x[:, m * sub : (m + 1) * sub], books[m]).argmin(axis=1)
    return codes


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """Attach the PQ code ``pq_code`` (array<int> of length m_sub) to every
    ``embedding``:
    per subspace, the index of the nearest codebook centroid. One
    Arrow-vectorized pass with the codebooks broadcast as a literal —
    this is the one-off encode job whose output IS the stored index.
    (IVF-PQ's residual codes come from :func:`ivf_pq_topk`'s fused
    assign+encode UDF.)"""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        codes = _pq_codes(np.stack([np.asarray(v, dtype=np.float64) for v in vecs]), books)
        return pd.Series([row.tolist() for row in codes])

    return emb.withColumn("pq_code", encode(F.col("embedding")))


def _assign_encode_udf(centroids, codebooks, residual: bool):
    """ONE Arrow crossing for the IVF-PQ corpus side: centroid assignment
    AND PQ encoding of the same vector batch in a single pandas UDF. The
    unfused form (assign1 UDF feeding pq_encode's UDF) ships every corpus
    vector across the JVM<->Python boundary twice because the second UDF
    depends on the first's output (two ArrowEvalPython nodes). Arithmetic
    is IDENTICAL: the same _cent_dists / _sub_dists helpers, the same
    stable-argmin tie rules, the same residual grouping."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)

    @F.pandas_udf(
        StructType(
            [
                StructField("centroid_id", IntegerType()),
                StructField("pq_code", ArrayType(IntegerType())),
            ]
        )
    )
    def assign_encode(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame(
                {"centroid_id": pd.Series([], dtype="int32"), "pq_code": pd.Series([], dtype=object)}
            )
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        assign = np.argsort(_cent_dists(x, cent), axis=1, kind="stable")[:, 0]
        # r_i = x_i - c_i FIRST, then (r_i - b_i)^2 — the SQL twin writes
        # ((emb - cvec) - bks) with the same grouping
        codes = _pq_codes(x - cent[assign] if residual else x, books)
        return pd.DataFrame(
            {"centroid_id": assign.astype("int32"), "pq_code": [row.tolist() for row in codes]}
        )

    return assign_encode


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: per
    query, a (m_sub x k_codes) lookup table of exact subspace distances to
    the RAW query vector is built once; each corpus code's approximate
    squared L2 distance is the sum of m_sub table lookups — no float
    vector is ever read at scan time.

    Scale shape: queries + their LUTs broadcast (tiny); the corpus scan
    reads only the code column (m_sub small ints/row); per-query top-k is
    a bounded window. Returns (q_id, c_id, adc_dist, rk) with rk <= k,
    ascending distance."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    books = np.asarray(codebooks, dtype=np.float64)
    m_sub, k_codes, sub = books.shape
    qpdf = queries.select("vec_id", "embedding").toPandas()
    if len(qpdf) == 0:
        raise ValueError("pq_topk: empty query set")
    q_ids = qpdf["vec_id"].tolist()
    qx = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["embedding"]])
    # (n_q, m_sub, k_codes) exact subspace distances: the ADC LUTs
    # (per-dim ascending accumulation — oracle fold parity)
    luts = np.stack(
        [_sub_dists(qx[:, m * sub : (m + 1) * sub], books[m]) for m in range(m_sub)],
        axis=1,
    )

    out_schema = StructType(
        [
            StructField("q_id", corpus_codes.schema["vec_id"].dataType),
            StructField("c_id", corpus_codes.schema["vec_id"].dataType),
            StructField("adc_dist", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["pq_code"]])
            # dist[q, row] = sum_m luts[q, m, codes[row, m]]
            dist = np.zeros((len(q_ids), len(codes)))
            for m in range(m_sub):
                dist += luts[:, m, :][:, codes[:, m]]
            for qi, q_id in enumerate(q_ids):
                yield pd.DataFrame(
                    {"q_id": q_id, "c_id": pdf["vec_id"].to_numpy(), "adc_dist": dist[qi]}
                )

    scored = (
        corpus_codes.select("vec_id", "pq_code")
        .mapInPandas(score, schema=out_schema)
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("adc_dist", F.round(F.col("adc_dist"), 9))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 10,
    nprobe: int = 2,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN composition — IVF centroid
    buckets PRUNE the candidate set (~n_centroids/nprobe reduction,
    equi-join on centroid_id), then PQ/ADC scores only the survivors from
    their m_sub-int codes (no float vector read at scan time).

    ``residual=True`` is the canonical Jégou et al. 2011 §IV form: codes
    encode x - centroid (so ``codebooks`` must come from
    :func:`fit_residual_pq_codebooks_local`), and each query builds one
    ADC LUT PER PROBED CELL from q - centroid — sharper quantization at
    the same code budget (recall gain test-pinned). The broadcast grows
    from n_q to n_q*nprobe LUTs — still tiny.

    Both model artifacts are bounded-sample driver fits broadcast as
    literals; the scan-side cost per candidate is m_sub table lookups.
    Returns (q_id, c_id, adc_dist, rk), ascending approximate L2.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m_sub, k_codes, sub = books.shape
    cent = np.asarray(centroids, dtype=np.float64)
    # fused assignment+encode: one Arrow crossing of the corpus vectors
    # instead of two dependent UDFs (see _assign_encode_udf).
    # asNondeterministic: extracting two fields from the struct result
    # otherwise makes the optimizer INLINE the UDF once per field — two
    # ArrowEvalPython nodes evaluating the same function (guide §4.4's
    # duplication; observed in the r6 plan). The function is in fact
    # deterministic; the flag only forbids the optimizer to duplicate or
    # reorder it.
    fused = _assign_encode_udf(cent, books, residual).asNondeterministic()
    corpus = emb.select(F.col("vec_id"), fused(F.col("embedding")).alias("__ae")).select(
        "vec_id",
        F.col("__ae.centroid_id").alias("centroid_id"),
        F.col("__ae.pq_code").alias("pq_code"),
    )

    qpdf = queries.select("vec_id", "embedding").toPandas()
    if len(qpdf) == 0:
        raise ValueError("ivf_pq_topk: empty query set")
    qx = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["embedding"]])
    # probe assignment computed driver-side in numpy from the SAME qpdf
    # snapshot the LUTs come from — a second Spark evaluation of `queries`
    # could return different rows for non-deterministic inputs and pair a
    # LUT with the wrong probe set (and costs an extra job + join).
    # _cent_dists = the SAME arithmetic as the assignment UDF and the SQL
    # twin's cdist, so near-tied probe selections cannot diverge.
    probes = np.argsort(_cent_dists(qx, cent), axis=1, kind="stable")[:, :nprobe]

    def _luts_for(xs):  # (n, m_sub, k_codes) exact subspace dists, vectorized
        return np.stack(
            [_sub_dists(xs[:, m * sub : (m + 1) * sub], books[m]) for m in range(m_sub)], axis=1
        )

    if residual:
        # one LUT per (query, probed cell), from the probe's residual —
        # flattened (n_q * nprobe) batch so _sub_dists stays vectorized
        res_x = np.concatenate(
            [qx - cent[probes[:, j]] for j in range(probes.shape[1])], axis=0
        )  # row i + j*n_q = query i's residual vs its j-th probe
        res_luts = _luts_for(res_x)
        luts_at = lambda i, j: res_luts[j * len(qx) + i]  # noqa: E731
    else:
        q_luts = _luts_for(qx)
        luts_at = lambda i, j: q_luts[i]  # noqa: E731
    lut_rows = [
        # .item() strips numpy scalar wrappers (createDataFrame rejects them)
        (
            qpdf["vec_id"].iloc[i].item() if hasattr(qpdf["vec_id"].iloc[i], "item") else qpdf["vec_id"].iloc[i],
            [float(v) for v in luts_at(i, j).ravel()],
            int(probes[i][j]),
        )
        for i in range(len(qpdf))
        for j in range(probes.shape[1])
    ]
    spark = emb.sparkSession
    q = spark.createDataFrame(
        lut_rows,
        schema=f"q_id {emb.schema['vec_id'].dataType.simpleString()}, lut array<double>, centroid_id int",
    )
    # ADC over the pruned candidates: dist = sum_m lut[m * k_codes + code[m]]
    code_sum = F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            F.sequence(F.lit(0), F.lit(m_sub - 1)),
            lambda code, m: F.element_at(F.col("lut"), (m * F.lit(k_codes) + code + F.lit(1)).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus.join(F.broadcast(q), "centroid_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), F.round(code_sum, 9).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def quantize_col(vec: Column) -> Column:
    """int8-style embedding quantization (storage path: 4-8x smaller
    feature tables, the float16-HDF5 analog of the reference's sinks).
    floor(x*scale + 0.5) keeps the rounding rule identical across engines
    (plain round() half-up vs half-even varies)."""
    scale = (QUANT_LEVELS - 1) / (QUANT_HI - QUANT_LO)
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.least(
            F.greatest(F.floor((x - F.lit(QUANT_LO)) * F.lit(scale) + F.lit(0.5)), F.lit(0)), F.lit(QUANT_LEVELS - 1)
        ).cast("int"),
    )


def dequantize_col(qvec: Column) -> Column:
    step = (QUANT_HI - QUANT_LO) / (QUANT_LEVELS - 1)
    return F.transform(qvec, lambda q: q.cast("double") * F.lit(step) + F.lit(QUANT_LO))


def quantize_roundtrip_sql(dim: int, src: str = "embeddings", extra_exprs: dict[str, str] | None = None) -> str:
    """DuckDB twin of the quantize->dequantize error query (scalar outputs:
    per-vector max abs error + mse). ``extra_exprs`` appends additional
    ``expr AS name`` columns (e.g. the PCA-whitened components)."""
    scale = (QUANT_LEVELS - 1) / (QUANT_HI - QUANT_LO)
    step = (QUANT_HI - QUANT_LO) / (QUANT_LEVELS - 1)
    q = (
        f"least(greatest(floor((CAST(embedding[i+1] AS DOUBLE) - {QUANT_LO}) * {scale} + 0.5), 0), "
        f"{QUANT_LEVELS - 1})"
    )
    err = f"abs(({q} * {step} + {QUANT_LO}) - CAST(embedding[i+1] AS DOUBLE))"
    errs = f"list_transform(range({dim}), i -> {err})"
    extra = "".join(
        f",\n               {expr} AS {name}" for name, expr in (extra_exprs or {}).items()
    )
    return f"""
        SELECT vec_id,
               round(list_max({errs}), 6) AS max_abs_err,
               round(list_sum(list_transform({errs}, e -> e * e)) / {dim}, 6) AS mse{extra}
        FROM {src}
    """


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup mode): (a, b, cos) with
    a < b and cos >= threshold.

    The DEFAULT (n_bits=4) is the scale-safe path: candidates restricted
    to sign-LSH bucket collisions (~2^n_bits-fold candidate drop; near-dups
    at cos>=0.95 collide in leading-sign buckets with high probability).
    Pass n_bits=0 EXPLICITLY for the exact all-pairs mode (quadratic
    crossJoin — CI-parity scale only; a 100 TB caller should never reach
    it by accident)."""
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    if n_bits > 0:
        a = a.withColumn("bucket", sign_bucket_col("v_a", n_bits))
        b = b.withColumn("bucket", sign_bucket_col("v_b", n_bits))
        cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn("cos", cosine_col(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dup_sql(dim: int, threshold: float = 0.95) -> str:
    cos = _cos_sql("a.embedding", "b.embedding", dim)
    return f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {cos} >= {threshold}
    """


def _bucket_sql(n_bits: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range({n_bits}), i -> "
        f"CASE WHEN embedding[i+1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)"
    )


def embedding_near_dup_lsh_sql(dim: int, threshold: float = 0.95, n_bits: int = 4) -> str:
    """DuckDB twin of :func:`embedding_near_dup_pairs` with ``n_bits > 0``
    — the bucketed (100 TB) mode: candidates restricted to sign-bucket
    collisions, an equi-join instead of the quadratic cross join."""
    cos = _cos_sql("a.embedding", "b.embedding", dim)
    return f"""
        WITH __b AS (SELECT vec_id, embedding, {_bucket_sql(n_bits)} AS bucket FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos
        FROM __b a JOIN __b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {cos} >= {threshold}
    """


def ivf_topk_sql(
    centroids,
    dim: int,
    k: int = 10,
    nprobe: int = 4,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`ivf_topk` with the fitted centroids embedded
    as LITERALS (full float64 round-trip via %.17g): given a fixed
    quantizer, assignment (argmin distance) and probing (nprobe nearest)
    are plain SQL. Distance uses the same -2*x.c + ||c||^2 form as the
    Spark-side pandas UDF, ties broken by lowest centroid id in both."""
    rows = ", ".join(
        "(" + str(ci) + ", [" + ", ".join(f"{v:.17g}" for v in c) + "]::DOUBLE[])"
        for ci, c in enumerate(centroids)
    )

    def dist(vec: str) -> str:
        dot_xc = (
            f"list_reduce(list_transform(range({dim}), i -> "
            f"CAST({vec}[i+1] AS DOUBLE) * cvec[i+1]), (p, q) -> p + q)"
        )
        cc = f"list_reduce(list_transform(range({dim}), i -> cvec[i+1] * cvec[i+1]), (p, q) -> p + q)"
        return f"(-2.0 * {dot_xc} + {cc})"

    cos = _cos_sql("q.q_vec", "c.c_vec", dim)
    return f"""
        , __cent AS (SELECT * FROM (VALUES {rows}) AS t(cid, cvec)),
        __ca AS (
            SELECT vec_id AS c_id, embedding AS c_vec, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY {dist("embedding")} ASC, cid ASC) AS rn
            FROM {src} CROSS JOIN __cent
        ),
        __c AS (SELECT c_id, c_vec, cid AS centroid_id FROM __ca WHERE rn = 1),
        __q2 AS (
            SELECT vec_id AS q_id, embedding AS q_vec, cid AS centroid_id
            FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.embedding")} ASC, c.cid ASC) AS rn
                FROM {src} e CROSS JOIN __cent c
                WHERE {QUERY_PRED.replace("vec_id", "e.vec_id")}
            ) WHERE rn <= {nprobe}
        ),
        __scored AS (
            SELECT q.q_id, c.c_id, {cos} AS cos
            FROM __c c JOIN __q2 q USING (centroid_id) WHERE c.c_id <> q.q_id
        )
        SELECT q_id, c_id, cos, rk FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS INT) AS rk
            FROM __scored
        ) WHERE rk <= {k}
    """


def pq_topk_sql(
    codebooks,
    dim: int,
    k: int = 10,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`pq_encode` + :func:`pq_topk` with the fitted
    codebooks embedded as a nested DOUBLE[][][] LITERAL (full float64
    round-trip via %.17g) — the ann_ivf recipe applied to PQ: given fixed
    codebooks, encode (per-subspace argmin) and ADC scoring (sum of
    per-subspace distances to the selected centroid) are plain SQL.

    Float-parity contract with the Spark side: every squared-distance sum
    is a SEQUENTIAL ascending-dimension fold (list_reduce == the per-dim
    numpy accumulation in ``_sub_dists``), code ties take the lowest code
    id (list_position-of-min == numpy first-argmin), adc_dist rounds to
    9 digits on both sides, top-k ties break by c_id ascending."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m_sub, k_codes, sub = books.shape
    if m_sub * sub != dim:
        raise ValueError(f"codebooks cover {m_sub * sub} dims, expected {dim}")
    lit = (
        "["
        + ", ".join(
            "[" + ", ".join("[" + ", ".join(_dlit(v) for v in books[m][j]) + "]" for j in range(k_codes)) + "]"
            for m in range(m_sub)
        )
        + "]"
    )

    def subdist(vec: str, m: str, j: str) -> str:
        term = f"(CAST({vec}[({m}) * {sub} + i + 1] AS DOUBLE) - bks[({m}) + 1][({j}) + 1][i + 1])"
        return f"list_reduce(list_transform(range({sub}), i -> {term} * {term}), (a, b) -> a + b)"

    # bind the per-subspace distance list via the single-element
    # list_transform trick (DuckDB lambdas have no let):
    code_expr = (
        f"list_transform(range({m_sub}), m -> "
        f"list_transform([list_transform(range({k_codes}), j -> {subdist('embedding', 'm', 'j')})], "
        f"dl -> CAST(list_position(dl, list_min(dl)) - 1 AS INT))[1])"
    )
    adc = (
        f"list_reduce(list_transform(range({m_sub}), m -> "
        f"{subdist('q.q_vec', 'm', 'c.codes[m + 1]')}), (a, b) -> a + b)"
    )
    return f"""
        , __bk AS (SELECT {lit} AS bks),
        __codes AS (
            SELECT vec_id AS c_id, {code_expr} AS codes
            FROM {src} CROSS JOIN __bk
        ),
        __q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM {src} WHERE {QUERY_PRED}),
        __scored AS (
            SELECT q.q_id, c.c_id, round({adc}, 9) AS adc_dist
            FROM __codes c CROSS JOIN __q q CROSS JOIN __bk
            WHERE c.c_id <> q.q_id
        )
        SELECT q_id, c_id, adc_dist, rk FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, c_id ASC) AS INT) AS rk
            FROM __scored
        ) WHERE rk <= {k}
    """


def ivf_pq_topk_sql(
    centroids,
    codebooks,
    dim: int,
    k: int = 10,
    nprobe: int = 2,
    src: str = "embeddings",
    residual: bool = False,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk` — the composed prune-then-ADC
    path with BOTH model artifacts embedded as literals (the ann_ivf /
    ann_pq recipes fused): corpus vectors are assigned to their nearest
    coarse centroid (same -2*x.c + ||c||^2 distance and lowest-id tie
    rule as the Spark UDF), PQ-encoded per subspace, and each query
    scores only the rows in its ``nprobe`` nearest centroid buckets.
    ``residual=True`` mirrors the residual form: every encode/ADC
    subvector is ``(x - cvec)`` with the assigned/probed cell's centroid
    — the subtraction grouping ``((x_i - c_i) - b_i)`` matches the numpy
    ``r = x - cent`` then ``r - book`` order bit-exactly.

    Float-parity contract matches :func:`pq_topk_sql`: every squared
    distance is a SEQUENTIAL ascending-index fold, the ADC total folds
    the per-subspace distances in ascending m (0.0-init on the Spark
    side == first-element-init here, exact for non-negative doubles),
    adc_dist rounds to 9 digits on both sides, ties break by lowest
    centroid / code id / c_id ascending."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m_sub, k_codes, sub = books.shape
    if m_sub * sub != dim:
        raise ValueError(f"codebooks cover {m_sub * sub} dims, expected {dim}")
    cent_rows = ", ".join(
        "(" + str(ci) + ", [" + ", ".join(f"{v:.17g}" for v in c) + "]::DOUBLE[])"
        for ci, c in enumerate(centroids)
    )
    book_lit = (
        "["
        + ", ".join(
            "[" + ", ".join("[" + ", ".join(_dlit(v) for v in books[m][j]) + "]" for j in range(k_codes)) + "]"
            for m in range(m_sub)
        )
        + "]"
    )

    def cdist(vec: str) -> str:
        dot_xc = (
            f"list_reduce(list_transform(range({dim}), i -> "
            f"CAST({vec}[i+1] AS DOUBLE) * cvec[i+1]), (p, q) -> p + q)"
        )
        cc = f"list_reduce(list_transform(range({dim}), i -> cvec[i+1] * cvec[i+1]), (p, q) -> p + q)"
        return f"(-2.0 * {dot_xc} + {cc})"

    def elem(vec: str, cvec: str | None):
        # scalar element expression factory: raw x_idx, or the residual
        # (x_idx - c_idx) when a centroid column is given
        if cvec is None:
            return lambda idx: f"CAST({vec}[{idx}] AS DOUBLE)"
        return lambda idx: f"(CAST({vec}[{idx}] AS DOUBLE) - {cvec}[{idx}])"

    def subdist(el, m: str, j: str) -> str:
        idx = f"({m}) * {sub} + i + 1"
        term = f"({el(idx)} - bks[({m}) + 1][({j}) + 1][i + 1])"
        return f"list_reduce(list_transform(range({sub}), i -> {term} * {term}), (a, b) -> a + b)"

    enc_el = elem("embedding", "cvec" if residual else None)
    adc_el = elem("q.q_vec", "q.cvec" if residual else None)
    code_expr = (
        f"list_transform(range({m_sub}), m -> "
        f"list_transform([list_transform(range({k_codes}), j -> {subdist(enc_el, 'm', 'j')})], "
        f"dl -> CAST(list_position(dl, list_min(dl)) - 1 AS INT))[1])"
    )
    adc = (
        f"list_reduce(list_transform(range({m_sub}), m -> "
        f"{subdist(adc_el, 'm', 'c.codes[m + 1]')}), (a, b) -> a + b)"
    )
    return f"""
        , __ipq_cent AS (SELECT * FROM (VALUES {cent_rows}) AS t(cid, cvec)),
        __ipq_bk AS (SELECT {book_lit} AS bks),
        __ipq_codes AS (
            SELECT c_id, centroid_id, {code_expr} AS codes
            FROM (
                SELECT vec_id AS c_id, embedding, cid AS centroid_id, cvec,
                       row_number() OVER (PARTITION BY vec_id ORDER BY {cdist("embedding")} ASC, cid ASC) AS rn
                FROM {src} CROSS JOIN __ipq_cent
            ) CROSS JOIN __ipq_bk
            WHERE rn = 1
        ),
        __ipq_q AS (
            SELECT vec_id AS q_id, embedding AS q_vec, cid AS centroid_id, cvec
            FROM (
                SELECT e.vec_id, e.embedding, c.cid, c.cvec,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY {cdist("e.embedding")} ASC, c.cid ASC) AS rn
                FROM {src} e CROSS JOIN __ipq_cent c
                WHERE {QUERY_PRED.replace("vec_id", "e.vec_id")}
            ) WHERE rn <= {nprobe}
        ),
        __ipq_scored AS (
            SELECT q.q_id, c.c_id, round({adc}, 9) AS adc_dist
            FROM __ipq_codes c JOIN __ipq_q q USING (centroid_id) CROSS JOIN __ipq_bk
            WHERE c.c_id <> q.q_id
        )
        SELECT q_id, c_id, adc_dist, rk FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, c_id ASC) AS INT) AS rk
            FROM __ipq_scored
        ) WHERE rk <= {k}
    """


def _cos_sql(a: str, b: str, dim: int) -> str:
    def dot(x, y):
        return (
            f"list_reduce(list_transform(range({dim}), i -> "
            f"CAST({x}[i+1] AS DOUBLE) * CAST({y}[i+1] AS DOUBLE)), (p, q) -> p + q)"
        )

    return f"round({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"


def brute_force_topk_sql(dim: int, k: int = 10, src: str = "embeddings") -> str:
    """DuckDB twin of :func:`brute_force_topk` (fragment, embed after WITH)."""
    return f"""
        , __q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM {src} WHERE {QUERY_PRED}),
        __scored AS (
            SELECT q.q_id, c.vec_id AS c_id, {_cos_sql("q.q_vec", "c.embedding", dim)} AS cos
            FROM {src} c CROSS JOIN __q q WHERE c.vec_id <> q.q_id
        )
        SELECT q_id, c_id, cos, rk FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS INT) AS rk
            FROM __scored
        ) WHERE rk <= {k}
    """


def _lsh_parts(dim: int, k: int, src: str, n_bits: int, planes, prefix: str = "") -> tuple[str, str]:
    """(CTE fragment without leading comma, final SELECT) for one LSH
    variant; ``prefix`` uniquifies CTE names so two variants can share a
    WITH clause (the tagged-union oracle)."""
    if planes is not None:
        bucket = plane_bucket_sql("embedding", planes, dim)
    else:
        bucket = (
            f"CAST(list_sum(list_transform(range({n_bits}), i -> "
            f"CASE WHEN embedding[i+1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)"
        )
    p = prefix
    ctes = f"""
        __{p}qb AS (SELECT vec_id AS q_id, embedding AS q_vec, {bucket} AS bucket FROM {src} WHERE {QUERY_PRED}),
        __{p}cb AS (SELECT vec_id AS c_id, embedding AS c_vec, {bucket} AS bucket FROM {src}),
        __{p}scored AS (
            SELECT q.q_id, c.c_id, {_cos_sql("q.q_vec", "c.c_vec", dim)} AS cos
            FROM __{p}cb c JOIN __{p}qb q USING (bucket) WHERE c.c_id <> q.q_id
        )"""
    sel = f"""
        SELECT q_id, c_id, cos, rk FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS INT) AS rk
            FROM __{p}scored
        ) WHERE rk <= {k}
    """
    return ctes, sel


def lsh_topk_sql(dim: int, k: int = 10, src: str = "embeddings", n_bits: int = 8) -> str:
    """DuckDB twin of :func:`lsh_topk` in its axis-aligned sign-bit mode."""
    ctes, sel = _lsh_parts(dim, k, src, n_bits, None)
    return ", " + ctes + " " + sel


def lsh_topk_union_sql(
    dim: int,
    k: int = 10,
    src: str = "embeddings",
    n_bits: int = 8,
    planes=None,
) -> str:
    """Tagged-union twin of BOTH sign-LSH modes in one result frame:
    mode='axis' (leading-dim sign bits) UNION ALL mode='rand' (random
    hyperplanes) — the one-driver-slot form of the ann_lsh family."""
    a_ctes, a_sel = _lsh_parts(dim, k, src, n_bits, None, prefix="ax_")
    r_ctes, r_sel = _lsh_parts(dim, k, src, n_bits, planes, prefix="rd_")
    return (
        f", {a_ctes}, {r_ctes} "
        f"SELECT 'axis' AS mode, * FROM ({a_sel}) "
        f"UNION ALL SELECT 'rand' AS mode, * FROM ({r_sel})"
    )
