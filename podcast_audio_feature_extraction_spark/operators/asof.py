"""Point-in-time / as-of join (SURVEY.md §2.3 J4, §4 physical strategy 1).

For each left row at (key, ts) attach the latest right row with
right.ts <= ts (or < ts) for the same key — the zero-temporal-leakage
backfill merge: no feature at (conv_id, ts) may ever read a later ts.
Analog of the reference's precompute-then-lookup
(/root/reference/src/search/search.py:311-353).

Spark has no native DataFrame as-of join; the engine expresses it with the
union trick: tag sides, unionByName, then
``last(value, ignorenulls=True) OVER (PARTITION BY key ORDER BY ts, side)``
and keep left rows. ONE shuffle + one sort — the same data motion as a
sort-merge join, with AQE skew handling applicable.

Tie semantics: ``inclusive=True`` means a right row AT ts is visible
(`<=`, matches ``pd.merge_asof(allow_exact_matches=True)`` and DuckDB
``ASOF JOIN ... ON l.ts >= r.ts``).

NULL ts (DuckDB ASOF semantics, where ``l.ts >= NULL`` is never true): a
right row with a NULL ts matches no left row, and a left row with a NULL
ts gets NULL values.
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


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] = "conv_id",
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    inclusive: bool = True,
    right_tie_cols: list[str] | None = None,
    left_tie_cols: list[str] | None = None,
    tolerance_s: float | None = None,
) -> DataFrame:
    """Attach to each left row the ``value_cols`` of the latest right row
    at or before (``inclusive``) / strictly before its ts, per key.

    The value columns land on the left row under their own names, so a
    left column with the same name would be overwritten: that raises
    ``ValueError`` instead.

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
    collide = sorted(set(left.columns) & set(value_cols))
    if collide:
        raise ValueError(
            f"as-of value columns {collide} are also left columns and would overwrite them; "
            "rename them on one side first"
        )
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
    # a NULL-ts right row matches nothing; a NULL-ts left row sorts first
    # in its key (ascending NULLS FIRST), ahead of every remaining right
    # row, so it reads NULL values
    tagged_r = right.filter(F.col(ts_col).isNotNull()).select(
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
    # backticks keep a left column name literal ("a.b" is no struct field)
    kept = [F.col("`" + c.replace("`", "``") + "`") for c in left.columns]
    return out.select(*kept, *[F.col("__rp")[c].alias(c) for c in value_cols])
