"""As-of join + sessionize vs Python oracles."""
import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators.temporal import asof_join, sessionize


def _ts(s):
    return dt.datetime(2025, 1, 1) + dt.timedelta(seconds=s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(10)), (2, "a", _ts(25)), (3, "a", _ts(5)), (4, "b", _ts(50)), (5, "c", _ts(99))],
        "lid INT, k STRING, ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [("a", _ts(8), 100), ("a", _ts(20), 200), ("b", _ts(50), 300), ("b", _ts(60), 400)],
        "k STRING, ts TIMESTAMP, val INT",
    )
    got = {r.lid: r.val for r in asof_join(left, right, key="k").collect()}
    assert got == {
        1: 100,   # 10 ≥ 8
        2: 200,   # 25 ≥ 20
        3: None,  # 5 before any right row
        4: 300,   # equality counts (≤ semantics)
        5: None,  # key with no right rows
    }


def test_sessionize_gaps(spark):
    rows = [
        (1, 7, _ts(0)), (2, 7, _ts(100)), (3, 7, _ts(5000)),  # gap > 1800 → new session
        (4, 7, _ts(5100)), (5, 8, _ts(0)),
    ]
    ev = spark.createDataFrame(rows, "event_id INT, user_id INT, ts TIMESTAMP")
    got = {r.event_id: r.session_id for r in sessionize(ev, tiebreak="event_id").collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def test_asof_join_null_in_matched_row_not_backfilled(spark):
    """A NULL value column in the matched (latest) right row must stay
    NULL — not be back-filled from an older right snapshot (ADVICE r1)."""
    import pandas as pd
    from gdal_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": pd.to_datetime(["2024-01-10"])})
    )
    right = spark.createDataFrame(
        [
            (1, "2024-01-01", "old", 100),
            (1, "2024-01-05", None, 200),
        ],
        "k INT, ts STRING, name STRING, qty INT",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = asof_join(left, right, key="k").collect()[0]
    assert row.qty == 200
    assert row.name is None  # latest snapshot's NULL preserved
