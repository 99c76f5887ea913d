"""Point-in-time / as-of join (SURVEY.md §2.3 J4, §4 physical strategy 1).

For each left row at (key, ts) attach the latest right row with
right.ts <= ts (or < ts) for the same key — the zero-temporal-leakage
backfill merge: no feature at (conv_id, ts) may ever read a later ts.
Analog of the reference's precompute-then-lookup
(/root/reference/src/search/search.py:311-353).

Spark has no native DataFrame as-of join; two plan-expressible strategies:

1. **union-trick** (default): tag sides, unionByName, then
   ``last(value, ignorenulls=True) OVER (PARTITION BY key ORDER BY ts, side)``
   and keep left rows. ONE shuffle + one sort — the same data motion as a
   sort-merge join, with AQE skew handling applicable. Best general choice.

2. **compact two-phase** (:func:`asof_join_compact`): union-trick over the
   narrow keys only, then a hash join resolving the winning right-row id to
   its wide values — the choice when feature vectors dominate sort traffic.

Tie semantics: ``inclusive=True`` means a right row AT ts is visible
(`<=`, matches ``pd.merge_asof(allow_exact_matches=True)`` and DuckDB
``ASOF JOIN ... ON l.ts >= r.ts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _as_list(x) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _validate_tie_cols(df: DataFrame, tie_cols: list[str]) -> None:
    """Tie columns participate in the window ordering via cast('long');
    a non-integral column would cast to NULL for every row and silently
    destroy tie-break determinism — fail loudly instead."""
    from pyspark.sql import types as T

    for c in tie_cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            raise TypeError(
                f"as-of tie column {c!r} has non-integral type {dt.simpleString()}; "
                "tie columns must be integer-ordered (e.g. turn_idx)"
            )


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] = "conv_id",
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    right_tie_cols: list[str] | None = None,
    inclusive: bool = True,
    left_tie_cols: list[str] | None = None,
    tolerance_s: float | None = None,
) -> DataFrame:
    """As-of join via the union trick (strategy 1).

    ``tolerance_s``: matches older than this many seconds are nulled out
    (pd.merge_asof ``tolerance`` semantics) — a stale feature is worse
    than no feature for point-in-time training data.

    Two tie regimes at equal ts:

    - ts-only (default): ``right_tie_cols`` orders right rows among
      themselves and the *last* one wins for every left row at that ts.
    - paired (``left_tie_cols`` given, same length): the effective time key
      is the lexicographic (ts, tie...) on BOTH sides — per-turn
      point-in-time semantics: a right row at the same ts but a later
      tie (e.g. turn_idx) is "later" and never read. This is the regime the
      feature backfill uses so a turn at a duplicated timestamp cannot
      read its sibling's feature (BASELINE zero-leakage invariant at
      (conv_id, turn_idx, ts) granularity).
    """
    keys = _as_list(on)
    value_cols = value_cols or [c for c in right.columns if c not in keys + [ts_col]]
    right_tie_cols = right_tie_cols or []
    paired = left_tie_cols is not None
    if paired and len(left_tie_cols) != len(right_tie_cols):
        raise ValueError("left_tie_cols and right_tie_cols must pair up")
    _validate_tie_cols(right, right_tie_cols)
    if paired:
        _validate_tie_cols(left, left_tie_cols)

    # side: right rows must sort before (inclusive) / after (exclusive)
    # left rows at an equal effective time key so `last(..., ignorenulls)`
    # sees exactly the legal right rows.
    r_side, l_side = (0, 1) if inclusive else (1, 0)
    # ALL carried values (and the freshness ts) travel as ONE struct per
    # right row, so every column comes from the SAME newest matching right
    # row. Carrying columns independently (round-1 design) silently filled
    # a NULL value on the newest right row from a stale older row.
    payload = [F.col(c).alias(c) for c in value_cols]
    if tolerance_s is not None:
        payload.append(F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__rts"))
    tagged_r = right.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(r_side).alias("__side"),
        *[F.col(c).cast("long").alias(f"__tie{i}") for i, c in enumerate(right_tie_cols)],
        F.struct(*payload).alias("__rp"),
    )
    left_tie_exprs = (
        [F.col(c).cast("long").alias(f"__tie{i}") for i, c in enumerate(left_tie_cols)]
        if paired
        else [F.lit(None).cast("long").alias(f"__tie{i}") for i in range(len(right_tie_cols))]
    )
    tagged_l = left.select("*", F.col(ts_col).alias("__ts"), F.lit(l_side).alias("__side"), *left_tie_exprs)
    unioned = tagged_l.unionByName(tagged_r, allowMissingColumns=True)

    ties = [F.col(f"__tie{i}") for i in range(len(right_tie_cols))]
    if paired:
        # lexicographic (ts, tie..., side): tie participates in the time key
        order = [F.col("__ts"), *ties, F.col("__side")]
    else:
        order = [F.col("__ts"), F.col("__side"), *ties]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned = unioned.withColumn("__rp", F.last(F.col("__rp"), ignorenulls=True).over(w))

    out = unioned.filter(F.col("__side") == l_side)
    if tolerance_s is not None:
        fresh = (
            F.unix_micros(F.col("__ts").cast("timestamp")) - F.col("__rp.__rts")
        ) <= F.lit(int(tolerance_s * 1_000_000))
        out = out.withColumn("__rp", F.when(fresh, F.col("__rp")))
    for c in value_cols:
        out = out.withColumn(c, F.col(f"__rp.{c}"))
    drop = ["__ts", "__side", "__rp"] + [f"__tie{i}" for i in range(len(right_tie_cols))]
    return out.drop(*drop)


def asof_join_compact(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] = "conv_id",
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    right_key_cols: list[str] | None = None,
    inclusive: bool = True,
    left_tie_cols: list[str] | None = None,
    tolerance_s: float | None = None,
    validate_unique: bool = False,
) -> DataFrame:
    """Two-phase as-of for WIDE right rows (strategy 2, generalized from
    plans/backfill.py): phase 1 runs the union-trick over only the keys +
    ts + ``right_key_cols`` (a unique right-row identifier, e.g. turn_idx),
    so the sort never moves the wide value columns; phase 2 resolves the
    winning right key to its values with a hash join that moves each wide
    row exactly once and never sorts it. The right plan when value columns
    (feature vectors, embeddings) dominate sort memory traffic.

    ``right_key_cols`` must uniquely identify right rows within a key
    group; they also serve as the tie order at duplicate timestamps.
    Violating that invariant silently FANS OUT left rows in the phase-2
    hash join — pass ``validate_unique=True`` to pay one aggregate over
    the right side and fail loudly instead (recommended whenever the right
    table isn't produced by a dedup/groupBy you control).

    ``tolerance_s`` carries through phase 1 (the narrow union already
    nulls out stale matches, so their key columns join to nothing and the
    wide values come back NULL — identical semantics to the union
    strategy at no extra cost).
    """
    keys = _as_list(on)
    if not right_key_cols:
        raise ValueError("asof_join_compact requires right_key_cols (a unique right-row id)")
    value_cols = value_cols or [
        c for c in right.columns if c not in keys + [ts_col] + list(right_key_cols)
    ]
    if validate_unique:
        dup = (
            right.groupBy(*keys, *right_key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"asof_join_compact: right rows are not unique per ({keys} + {list(right_key_cols)}) — "
                "the phase-2 resolving join would duplicate left rows; dedup the right side "
                "or choose key columns that identify one row"
            )
    narrow = right.select(*keys, ts_col, *right_key_cols)
    matched = asof_join_union(
        left,
        narrow,
        on=on,
        ts_col=ts_col,
        value_cols=list(right_key_cols),
        right_tie_cols=list(right_key_cols),
        inclusive=inclusive,
        left_tie_cols=left_tie_cols,
        tolerance_s=tolerance_s,
    )
    wide = right.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        *[F.col(k).alias(f"__r_{k}") for k in right_key_cols],
        *value_cols,
    )
    cond = None
    for k in list(keys) + list(right_key_cols):
        c = matched[k] == wide[f"__r_{k}"]
        cond = c if cond is None else (cond & c)
    return matched.join(wide, cond, "left").drop(
        *[f"__r_{k}" for k in list(keys) + list(right_key_cols)]
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] = "conv_id",
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    inclusive: bool = True,
    strategy: str = "union",
    right_tie_cols: list[str] | None = None,
    left_tie_cols: list[str] | None = None,
    tolerance_s: float | None = None,
) -> DataFrame:
    """Dispatch between the physical as-of strategies."""
    if strategy == "union":
        return asof_join_union(
            left, right, on, ts_col, value_cols, right_tie_cols, inclusive, left_tie_cols, tolerance_s
        )
    if strategy == "compact":
        return asof_join_compact(
            left, right, on, ts_col, value_cols,
            right_key_cols=right_tie_cols, inclusive=inclusive, left_tie_cols=left_tie_cols,
            tolerance_s=tolerance_s,
        )
    raise ValueError(f"unknown as-of strategy: {strategy!r}")
