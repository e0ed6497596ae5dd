"""Temporal operators Spark lacks natively: as-of join and gap
sessionization.

Neither exists in the reference (OGR SQL has no date arithmetic at all,
ogr/ogr_swq.h:90-92) — these are the time-series companions a web-crawl
pipeline needs (join each page/event to the latest dimension snapshot at
or before its timestamp; segment user activity into sessions).

- :func:`asof_join` — backward as-of: for each left row, the single
  right row with the greatest right ``ts`` ≤ left ``ts`` per key. Expressed
  as union + window carry-forward: both sides interleave sorted by
  (key, ts); ``last(right cols, ignorenulls)`` over the ordered window
  propagates the most recent right values onto left rows. ONE shuffle
  (by key), no range-join explosion — the standard distributed as-of.
- :func:`sessionize` — events split into sessions when the gap to the
  previous event of the same ``user_id`` exceeds ``gap``: lag +
  cumulative sum windows, exactly compilable by DuckDB for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
) -> DataFrame:
    """Backward as-of join on the ``ts`` column of both sides; output =
    left columns + right's other columns (NULL when no right row
    at-or-before). Ties on equal timestamps take the right row (≤
    semantics), matching DuckDB ``ASOF JOIN``."""
    value_cols = [c for c in right.columns if c not in (key, "ts")]
    l = left.withColumn("__side", F.lit(1))
    # all value columns travel as ONE struct so the carried values always
    # come from the same (latest) right row — per-column last(ignorenulls)
    # would back-fill a NULL field from an older snapshot, mixing rows
    r = right.select(
        F.col(key), F.col("ts"),
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__v"),
    ).withColumn("__side", F.lit(0))
    unioned = l.unionByName(r, allowMissingColumns=True)
    # right rows (side 0) sort before left rows at the same timestamp →
    # carry-forward includes same-instant right values (≤ semantics)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select("*", F.last("__v", ignorenulls=True).over(w).alias("__c"))
    out = carried.filter(F.col("__side") == 1)
    for c in value_cols:
        out = out.withColumn(c, F.col("__c").getField(c))
    return out.drop("__side", "__v", "__c")


def sessionize(
    events: DataFrame,
    tiebreak: str | None = None,
) -> DataFrame:
    """Add ``session_id`` (0-based per ``user_id``, ordered by ``ts``): a
    new session starts when the gap to the previous event exceeds 30
    minutes. Pass a unique ``tiebreak`` column when timestamps can
    repeat within a key (keeps the window order — and thus session ids —
    deterministic)."""
    order = [F.col("ts").asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy("user_id").orderBy(*order)
    prev = F.lag(F.col("ts")).over(w)
    # NTZ timestamps cannot cast straight to long; go via TIMESTAMP
    secs = F.col("ts").cast("timestamp").cast("long")
    prev_secs = prev.cast("timestamp").cast("long")
    new_sess = F.when(
        prev.isNull() | (secs - prev_secs > 1800), 1
    ).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - 1,
    )
