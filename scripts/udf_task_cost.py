#!/usr/bin/env python
"""Fixed per-task cost of an engine pandas UDF.

Times a ``noop`` write of ``spark.range(30_000, numPartitions=n)`` on a
``local[3]`` session for n = 1, 3, 6 and 12 partitions, once as is and
once through a trivial pandas UDF filter whose closure refers to the
engine (so Python workers import ``gdal_spark``, as they do for the PIP
refine). Each figure is the median of ``REPEATS`` writes after one
untimed write. The UDF's rows are trivial, so the gap between the two
series, growing with n, is what each Python task costs by itself.

    python3 scripts/udf_task_cost.py

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import BooleanType  # noqa: E402

from gdal_spark import tiling  # noqa: E402
from gdal_spark.session import get_spark  # noqa: E402

ROWS = 30_000
PARTITIONS = (1, 3, 6, 12)
REPEATS = 5


@F.pandas_udf(BooleanType())
def _keep(x: pd.Series) -> pd.Series:
    return x < tiling.WORLD_SPAN


def _seconds(df) -> float:
    def write():
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    write()
    return statistics.median(write() for _ in range(REPEATS))


def main() -> None:
    spark = get_spark("udf_task_cost", master="local[3]", shuffle_partitions=3)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        plain, udf = [], []
        for n in PARTITIONS:
            df = spark.range(0, ROWS, 1, n)
            plain.append(round(_seconds(df), 3))
            udf.append(round(_seconds(df.filter(_keep(F.col("id")))), 3))
    finally:
        spark.stop()
    print(json.dumps({"rows": ROWS, "master": "local[3]", "partitions": PARTITIONS, "udf_s": udf, "plain_s": plain}))


if __name__ == "__main__":
    main()
