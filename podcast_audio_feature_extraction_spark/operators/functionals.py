"""Sliding-window functionals (SURVEY.md §2.4 A1, §2.5 W1/W2).

Analog of the reference's eGeMAPS functionals — aggregations of low-level
descriptors over 0.96 s windows hopped 0.48 s
(/root/reference/data/custom_FrameModeFunctionals.conf.inc:8-11,
/root/reference/src/features/OpenSmileExtractor.py:21-27) and the 120 s /
60 s-step segment windows (/root/reference/src/search/index.py:79-81).
The functional set follows the eGeMAPS breadth (88 functionals, CLEF §4.1):
mean, population stddev, min/max, percentiles (p20/median/p80), the linear
slope over the window, and the stddev-normalized mean (coefficient of
variation) — the families named in the eGeMAPS spec and visible in the
reference's metric names (``*_stddevNorm``, ``slopeUV500-1500_amean``,
/root/reference/src/search/metrics.py:36-54).

One kernel computes every windowed functional: :func:`functional_grid`
(any descriptor list x any subset of ``GRID_STATS``);
:func:`window_functionals` is its one-descriptor view with fixed output
names. Window assignment is the explicit shift-expand: each row is
replicated once per hop offset and lands in the length/hop fixed-origin
windows covering its ts — exactly what ``F.window(ts, length, hop)``
compiles to (Expand -> Filter -> Aggregate), but with the window start
materialized as a real per-row attribute so per-row window-relative
expressions (the slope's time axis) are expressible. One shuffle of the
raw expanded rows on (conv_id, win_start), then one aggregation where
they land — no self-join, no explode beyond the length/hop duplication
factor.

Parity notes: population stddev (numpy ddof=0); `percentile(col, q)` is
exact linear interpolation (DuckDB twin: quantile_cont); the slope's time
axis is window-relative seconds in [0, length) so the covariance math
never touches epoch-scale magnitudes (cross-engine stable at 6 decimals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from podcast_audio_feature_extraction_spark.functions.sqlfmt import ROUND_DIGITS
from podcast_audio_feature_extraction_spark.functions.time import ts_micros
from podcast_audio_feature_extraction_spark.operators.segments import SEG_HOP, SEG_HOP_S, SEG_LENGTH, SEG_LENGTH_S


def _dur_s(spec: str) -> int:
    """Parse '120 seconds' / '2 minutes' to whole seconds."""
    num, unit = spec.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60}[unit]
    return int(num) * mult


GRID_STATS = (
    "mean", "std", "min", "max", "median", "p20", "p80", "cv", "slope", "range",
    "skew", "kurt", "prange",
)
_GRID_PCTS = {"p20": 0.2, "median": 0.5, "p80": 0.8}


def _exact_pct_col(sorted_col, q):
    """Exact linear-interpolation percentile read from a pre-sorted value
    array column, bit-identical to Spark's ``F.percentile`` (and therefore
    to the DuckDB twin's ``quantile_cont``): position q*(n-1), blend
    ``lower*(1-frac) + higher*frac``, and the value returned DIRECTLY when
    both neighbors are equal (Spark's counts-based implementation lands on
    one unique key there; re-blending equal values perturbs the last ulp:
    0.1*(1-f) + 0.1*f != 0.1 exactly). ``q`` may be a numeric literal or a
    Column (e.g. a higher-order-function lambda variable)."""
    arr = F.col(sorted_col) if isinstance(sorted_col, str) else sorted_col
    qc = F.lit(float(q)) if isinstance(q, (int, float)) else q
    n = F.size(arr)
    pos = qc * (n - F.lit(1)).cast("double")
    lo = F.floor(pos).cast("int")
    frac = pos - lo.cast("double")
    lov = F.get(arr, lo)  # 0-based; null when the array is empty
    hiv = F.get(arr, F.least(lo + F.lit(1), n - F.lit(1)))
    return F.when(
        n > 0, F.when(lov == hiv, lov).otherwise(lov * (F.lit(1.0) - frac) + hiv * frac)
    )


# NOTE (r6 measurement): two alternative percentile-readout packagings
# were built and A/B'd at the full 88-column grid, interleaved in one
# session, and BOTH lost to the plain per-point trees above:
# (a) transform(array(q...), q -> interpolate) — one small expression per
#     descriptor; it removes the 64 KB whole-stage-codegen failure the
#     per-point trees trigger at 88 columns (janino "Code grows beyond
#     64 KB" -> interpreted fallback), but higher-order functions are
#     CodegenFallback, and their per-element interpreted evaluation cost
#     more than the fallback it avoided (8.0-8.5 s vs 5.8-6.8 s);
# (b) ONE collect_list(struct(8 descriptors)) buffer sliced per
#     descriptor at read time — cheaper aggregation state, but the big
#     struct array is re-copied through every post-aggregation
#     projection and the slicing transforms are again CodegenFallback
#     (another +0.5-0.9 s on top of (a)).
# The surviving optimization is the raw-row pre-shuffle below; the
# readout stays in the round-start form on measured evidence.


def functional_grid(
    df: DataFrame,
    val_cols: list[str],
    stats: tuple[str, ...] = ("mean", "std", "min", "max", "median", "p20", "p80", "cv"),
    length: str = SEG_LENGTH,
    hop: str = SEG_HOP,
    round_digits: int | None = ROUND_DIGITS,
    approx_pct_accuracy: int | None = None,
) -> DataFrame:
    """The FULL configurable functional grid — the 88-column eGeMAPS table
    shape (reference data/custom_FrameModeFunctionals.conf.inc: frameSize
    0.96s/step 0.48s windows x a functional set per low-level descriptor;
    CLEF §4.1): any subset of ``GRID_STATS`` over any list of descriptor
    columns, ALL in one groupBy pass.

    Scale shape: descriptors and functionals scale the AGGREGATE
    EXPRESSION list, never the shuffle count — the plan stays one
    Exchange (hash on conv_id, map-side partial agg) regardless of grid
    size. All requested exact percentiles of one descriptor are served by
    a single sorted-array buffer (``sort_array(collect_list)`` + read-time
    interpolation, bit-identical to F.percentile — see
    :func:`_exact_pct_col`); each separate percentile aggregate would
    buffer the window's values independently (~3x cost) and even the
    fused ``percentile(v, array(...))`` pays a value->count hash map that
    the plain sorted array beats by ~30% (measured, interleaved). Output
    columns are ``{col}_{stat}`` in (col-major) spec order.

    ``round_digits`` rounds the float aggregates so cross-engine
    comparisons (Spark partial-agg vs single-node oracle) are stable in
    the last ulp; pass None for raw doubles.

    ``approx_pct_accuracy``: switch the percentile family to
    ``approx_percentile`` with that accuracy (e.g. 1000 => error
    <= 1/1000 of rank). Exact percentiles buffer every window value per
    descriptor and are the grid's dominant cost (measured 2.35 s of
    2.96 s at sf0.1); the sketch is constant-state and the 100 TB choice
    when last-ulp percentile parity isn't required. Exact (None) is the
    default for oracle/reference parity.
    """
    unknown = set(stats) - set(GRID_STATS)
    if unknown:
        raise ValueError(f"unknown grid stats: {sorted(unknown)}; supported: {GRID_STATS}")
    length_s, hop_s = _dur_s(length), _dur_s(hop)
    if length_s % hop_s:
        raise ValueError("window length must be a multiple of hop")
    n_shifts = length_s // hop_s

    def _r(c):
        return F.round(c, round_digits) if round_digits is not None else c

    us = ts_micros(F.col("ts"))
    # same construction as the DuckDB twins: floor to the hop grid in EXACT
    # integer micros, shift back 0..n_shifts-1 hops
    base_s = ((us - F.pmod(us, F.lit(hop_s * 1_000_000))) / F.lit(1_000_000)).cast("long")
    expanded = (
        df.select(
            F.col("conv_id"),
            *[F.col(c).cast("double").alias(c) for c in val_cols],
            us.alias("__us"),
            base_s.alias("__base_s"),
            F.explode(F.array(*[F.lit(i * hop_s) for i in range(n_shifts)])).alias("__shift_s"),
        )
        .select("*", (F.col("__base_s") - F.col("__shift_s")).alias("__ws_s"))
        .filter(
            (F.col("__us") >= F.col("__ws_s") * F.lit(1_000_000))
            & (F.col("__us") < (F.col("__ws_s") + F.lit(length_s)) * F.lit(1_000_000))
        )
        # slope x axis: seconds within the window, integer micros subtracted
        # FIRST (epoch-scale double subtraction loses ~1e-7 s)
        .withColumn("__x", (F.col("__us") - F.col("__ws_s") * F.lit(1_000_000)) / F.lit(1e6))
    )

    # Shuffle the RAW expanded rows to the group key before aggregating.
    # (conv, window) cardinality is within ~2x of the row count for
    # conversational data (mean inter-turn gap >> hop), so map-side
    # partial aggregation reduces nothing while its per-group buffer (115
    # partial slots incl. 8 array buffers on the 88-col grid) is far wider
    # than the raw row; shuffling the raw rows instead and aggregating
    # once where they land measurably halves the shuffle. The explicit
    # hash partitioning satisfies the aggregation's required distribution,
    # so the Exchange moves below the aggregation pair and no
    # buffer-carrying Exchange is ever planned.
    expanded = expanded.repartition("conv_id", "__ws_s")

    pcts_wanted = [s for s in stats if s in _GRID_PCTS]
    # prange (the eGeMAPS pctlrange0-2 analog) reads p20/p80 from the same
    # fused percentile buffer, pulling them in if not separately requested
    if "prange" in stats:
        pcts_wanted += [s for s in ("p20", "p80") if s not in pcts_wanted]
    aggs = [F.count(F.lit(1)).alias("n")]
    post: dict[str, object] = {}
    x = F.col("__x")
    for c in val_cols:
        v = F.col(c)
        mean = F.avg(v)
        std = F.coalesce(F.stddev_pop(v), F.lit(0.0))
        # signed rounded aggregates carry `+ 0.0` (both dialects): DuckDB's
        # round yields IEEE -0.0 which string-canonicalizes as '-0'
        if "mean" in stats:
            aggs.append((_r(mean) + F.lit(0.0)).alias(f"{c}_mean"))
        if "std" in stats:
            aggs.append(_r(std).alias(f"{c}_std"))
        if "min" in stats:
            aggs.append(F.min(v).alias(f"{c}_min"))
        if "max" in stats:
            aggs.append(F.max(v).alias(f"{c}_max"))
        if pcts_wanted:
            if approx_pct_accuracy is None:
                # exact mode: ONE sorted-array buffer per descriptor
                # (sort_array(collect_list)) + interpolation at read time —
                # measured ~30% faster than F.percentile's per-group
                # value->count OpenHashMap at the same memory class
                # (primitive array append + one terminal sort beats hash
                # upserts on mostly-unique doubles). The interpolation
                # reproduces Spark's Percentile.getPercentile BIT-EXACTLY
                # (lower*(1-frac) + higher*frac, and lower returned
                # DIRECTLY when lower==higher — the naive lov+(hiv-lov)*frac
                # and even the blend form diverge in the last ulp on
                # duplicates), so DuckDB quantile_cont parity is unchanged;
                # pinned by test_exact_pct_matches_builtin_percentile.
                # (See the r6 measurement note beside _exact_pct_col for
                # the two rejected readout repackagings.)
                aggs.append(F.sort_array(F.collect_list(v)).alias(f"__{c}_sorted"))
                pctv = {s: _exact_pct_col(f"__{c}_sorted", _GRID_PCTS[s]) for s in pcts_wanted}
                for s in pcts_wanted:
                    if s in stats:
                        post[f"{c}_{s}"] = _r(pctv[s]) + F.lit(0.0)
                if "prange" in stats:
                    # mathematically >= 0 but FP can yield -1e-17 -> round -> -0.0
                    post[f"{c}_prange"] = _r(pctv["p80"] - pctv["p20"]) + F.lit(0.0)
            else:
                qarr = F.array(*[F.lit(_GRID_PCTS[s]) for s in pcts_wanted])
                aggs.append(
                    F.approx_percentile(v, qarr, F.lit(approx_pct_accuracy)).alias(f"__{c}_pcts")
                )
                for i, s in enumerate(pcts_wanted):
                    if s in stats:
                        post[f"{c}_{s}"] = _r(F.col(f"__{c}_pcts")[i]) + F.lit(0.0)
                if "prange" in stats:
                    i20, i80 = pcts_wanted.index("p20"), pcts_wanted.index("p80")
                    post[f"{c}_prange"] = _r(
                        F.col(f"__{c}_pcts")[i80] - F.col(f"__{c}_pcts")[i20]
                    ) + F.lit(0.0)
        if "cv" in stats:
            aggs.append((_r(F.when(mean != 0, std / mean).otherwise(F.lit(0.0))) + F.lit(0.0)).alias(f"{c}_cv"))
        if "slope" in stats:
            aggs.append(
                (
                    _r(F.when(F.var_pop(x) > 0, F.covar_pop(x, v) / F.var_pop(x)).otherwise(F.lit(0.0)))
                    + F.lit(0.0)
                ).alias(f"{c}_slope")
            )
        if "range" in stats:
            aggs.append(_r(F.max(v) - F.min(v)).alias(f"{c}_range"))
        if "skew" in stats or "kurt" in stats:
            # POPULATION skewness/kurtosis from raw moments — Spark's
            # built-in skewness/kurtosis and DuckDB's use different bias
            # corrections, so both dialects compute the identical
            # m_k = E[x^k] arithmetic instead (portable to the last ulp
            # up to summation order, absorbed by round 6)
            m1, m2r, m3r, m4r = (F.avg(v), F.avg(v * v), F.avg(v * v * v), F.avg(v * v * v * v))
            var = m2r - m1 * m1
            if "skew" in stats:
                m3c = m3r - F.lit(3.0) * m1 * m2r + F.lit(2.0) * m1 * m1 * m1
                aggs.append(
                    (
                        _r(F.when(var > F.lit(1e-10) * m2r, m3c / F.pow(var, F.lit(1.5))).otherwise(F.lit(0.0)))
                        + F.lit(0.0)
                    ).alias(f"{c}_skew")
                )
            if "kurt" in stats:
                m4c = (
                    m4r
                    - F.lit(4.0) * m1 * m3r
                    + F.lit(6.0) * m1 * m1 * m2r
                    - F.lit(3.0) * m1 * m1 * m1 * m1
                )
                aggs.append(
                    (
                        _r(F.when(var > F.lit(1e-10) * m2r, m4c / (var * var) - F.lit(3.0)).otherwise(F.lit(0.0)))
                        + F.lit(0.0)
                    ).alias(f"{c}_kurt")
                )
    out = expanded.groupBy("conv_id", "__ws_s").agg(*aggs)
    if post:
        out = out.withColumns(post)
    return out.select(
        "conv_id",
        # cast to NTZ (session tz is pinned UTC): the stored parquet ts is
        # NTZ and the DuckDB twins' make_timestamp is tz-naive — a
        # tz-aware win_start would reach pandas as UTC-aware and mismatch
        # the oracle's naive values
        F.timestamp_seconds(F.col("__ws_s")).cast("timestamp_ntz").alias("win_start"),
        "n",
        *[f"{c}_{s}" for c in val_cols for s in stats],
    )


_WINDOW_STATS = ("mean", "std", "min", "max", "p20", "median", "p80", "slope", "cv")


def window_functionals(
    df: DataFrame,
    length: str = SEG_LENGTH,
    hop: str = SEG_HOP,
    round_digits: int | None = ROUND_DIGITS,
) -> DataFrame:
    """Per (conv_id, sliding window) functional aggregates of ``val``:
    the one-descriptor :func:`functional_grid` with a ``win_end`` column."""
    length_s = _dur_s(length)
    grid = functional_grid(df, ["val"], _WINDOW_STATS, length, hop, round_digits)
    return grid.select(
        "conv_id",
        "win_start",
        (F.col("win_start") + F.expr(f"INTERVAL {length_s} SECONDS")).alias("win_end"),
        "n",
        *[f"val_{s}" for s in _WINDOW_STATS],
    )


def functional_grid_sql(
    val_cols: list[str],
    stats: tuple[str, ...] = ("mean", "std", "min", "max", "median", "p20", "p80", "cv"),
    src: str = "transcript",
) -> str:
    """DuckDB twin of :func:`functional_grid` over the segment windows,
    generated from the SAME (val_cols x stats) spec so the two dialects
    cannot drift."""
    shifts = ", ".join(f"({i * SEG_HOP_S})" for i in range(SEG_LENGTH_S // SEG_HOP_S))
    cols = []
    for c in val_cols:
        for s in stats:
            r = f"round({{}}, {ROUND_DIGITS})"
            if s == "mean":
                cols.append(r.format(f"avg({c})") + f" + 0.0 AS {c}_mean")
            elif s == "std":
                cols.append(r.format(f"COALESCE(stddev_pop({c}), 0.0)") + f" AS {c}_std")
            elif s == "min":
                cols.append(f"min({c}) AS {c}_min")
            elif s == "max":
                cols.append(f"max({c}) AS {c}_max")
            elif s in _GRID_PCTS:
                cols.append(r.format(f"quantile_cont({c}, {_GRID_PCTS[s]})") + f" + 0.0 AS {c}_{s}")
            elif s == "cv":
                cols.append(
                    f"round(CASE WHEN avg({c}) <> 0 THEN COALESCE(stddev_pop({c}), 0.0) / avg({c}) "
                    f"ELSE 0.0 END, {ROUND_DIGITS}) + 0.0 AS {c}_cv"
                )
            elif s == "slope":
                cols.append(
                    f"round(CASE WHEN var_pop(x) > 0 THEN covar_pop(x, {c}) / var_pop(x) "
                    f"ELSE 0.0 END, {ROUND_DIGITS}) + 0.0 AS {c}_slope"
                )
            elif s == "range":
                cols.append(r.format(f"max({c}) - min({c})") + f" AS {c}_range")
            elif s == "prange":
                cols.append(
                    r.format(f"quantile_cont({c}, 0.8) - quantile_cont({c}, 0.2)")
                    + f" + 0.0 AS {c}_prange"
                )
            elif s in ("skew", "kurt"):
                m1, m2r = f"avg({c})", f"avg({c}*{c})"
                m3r, m4r = f"avg({c}*{c}*{c})", f"avg({c}*{c}*{c}*{c})"
                var = f"({m2r} - {m1}*{m1})"
                if s == "skew":
                    m3c = f"({m3r} - 3.0*{m1}*{m2r} + 2.0*{m1}*{m1}*{m1})"
                    cols.append(
                        f"round(CASE WHEN {var} > 1e-10 * {m2r} THEN {m3c} / pow({var}, 1.5) "
                        f"ELSE 0.0 END, {ROUND_DIGITS}) + 0.0 AS {c}_skew"
                    )
                else:
                    m4c = (
                        f"({m4r} - 4.0*{m1}*{m3r} + 6.0*{m1}*{m1}*{m2r}"
                        f" - 3.0*{m1}*{m1}*{m1}*{m1})"
                    )
                    cols.append(
                        f"round(CASE WHEN {var} > 1e-10 * {m2r} THEN {m4c} / ({var}*{var}) - 3.0 "
                        f"ELSE 0.0 END, {ROUND_DIGITS}) + 0.0 AS {c}_kurt"
                    )
    body = ",\n               ".join(cols)
    return f"""
        SELECT conv_id,
               make_timestamp(ws_s * 1000000) AS win_start,
               count(*) AS n,
               {body}
        FROM (
            SELECT t0.*, (epoch_us(ts) // ({SEG_HOP_S} * 1000000)) * {SEG_HOP_S} - off.o AS ws_s,
                   (epoch_us(ts) - ((epoch_us(ts) // ({SEG_HOP_S} * 1000000)) * {SEG_HOP_S} - off.o) * 1000000) / 1e6 AS x
            FROM {src} t0 CROSS JOIN (VALUES {shifts}) AS off(o)
        )
        WHERE epoch_us(ts) >= ws_s * 1000000
          AND epoch_us(ts) <  (ws_s + {SEG_LENGTH_S}) * 1000000
        GROUP BY conv_id, ws_s
    """


def robust_scale(df: DataFrame) -> DataFrame:
    """Per-conversation robust scaling of ``val`` into ``val_scaled``:
    (val - median) / IQR — the outlier-proof normalization the eGeMAPS
    '*_stddevNorm' family approximates, computed per conversation so a
    loud entity cannot dominate the corpus scale.

    ONE whole-partition window pass (percentile over the entity frame):
    single shuffle on the entity key, no join back. Zero-IQR entities
    (constant val) scale to 0.0. `round + 0.0` normalizes IEEE -0.0 for
    the cross-engine gate."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id")
    v = F.col("val").cast("double")
    pct = F.percentile(v, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).over(w)
    df = df.withColumn("__pct", pct)
    iqr = F.col("__pct")[2] - F.col("__pct")[0]
    scaled = F.when(iqr > 0, (v - F.col("__pct")[1]) / iqr).otherwise(F.lit(0.0))
    return df.withColumn("val_scaled", F.round(scaled, ROUND_DIGITS) + F.lit(0.0)).drop("__pct")


def robust_scale_sql(src: str = "transcript") -> str:
    """DuckDB twin of :func:`robust_scale` (fragment: full SELECT)."""
    return f"""
        SELECT * EXCLUDE (__p25, __p50, __p75),
               round(CASE WHEN (__p75 - __p25) > 0
                          THEN (val - __p50) / (__p75 - __p25)
                          ELSE 0.0 END, {ROUND_DIGITS}) + 0.0 AS val_scaled
        FROM (
            SELECT t.*,
                   quantile_cont(val, 0.25) OVER (PARTITION BY conv_id) AS __p25,
                   quantile_cont(val, 0.50) OVER (PARTITION BY conv_id) AS __p50,
                   quantile_cont(val, 0.75) OVER (PARTITION BY conv_id) AS __p75
            FROM {src} t
        )
    """


def window_functionals_sql() -> str:
    """DuckDB twin over the segment windows. Spark's shift-expand assigns
    each row to the length/hop fixed-origin windows covering its ts; for
    length=2*hop that is exactly the two shifted tumbling buckets below."""
    shifts = ", ".join(f"({i * SEG_HOP_S})" for i in range(SEG_LENGTH_S // SEG_HOP_S))
    # inline subquery (not a CTE) so the fragment can be embedded after a
    # WITH clause; make_timestamp builds TIMESTAMP (ntz) from micros with
    # no session-timezone dependence
    return f"""
        SELECT conv_id,
               win_start,
               win_start + INTERVAL {SEG_LENGTH_S} SECOND AS win_end,
               count(*) AS n,
               round(avg(val), {ROUND_DIGITS}) AS val_mean,
               round(COALESCE(stddev_pop(val), 0.0), {ROUND_DIGITS}) AS val_std,
               min(val) AS val_min,
               max(val) AS val_max,
               round(quantile_cont(val, 0.2), {ROUND_DIGITS}) AS val_p20,
               round(quantile_cont(val, 0.5), {ROUND_DIGITS}) AS val_median,
               round(quantile_cont(val, 0.8), {ROUND_DIGITS}) AS val_p80,
               round(CASE WHEN var_pop(x) > 0 THEN covar_pop(x, val) / var_pop(x)
                          ELSE 0.0 END, {ROUND_DIGITS}) + 0.0 AS val_slope,
               round(CASE WHEN avg(val) <> 0
                          THEN COALESCE(stddev_pop(val), 0.0) / avg(val)
                          ELSE 0.0 END, {ROUND_DIGITS}) + 0.0 AS val_cv
        FROM (
            SELECT t.*,
                   make_timestamp(ws_s * 1000000) AS win_start,
                   (epoch_us(ts) - ws_s * 1000000) / 1e6 AS x
            FROM (
                SELECT t0.*, (epoch_us(ts) // ({SEG_HOP_S} * 1000000)) * {SEG_HOP_S} - off.o AS ws_s
                FROM transcript t0 CROSS JOIN (VALUES {shifts}) AS off(o)
            ) t
        )
        WHERE epoch_us(ts) >= epoch_us(win_start)
          AND epoch_us(ts) <  epoch_us(win_start) + {SEG_LENGTH_S} * 1000000
        GROUP BY conv_id, win_start
    """
