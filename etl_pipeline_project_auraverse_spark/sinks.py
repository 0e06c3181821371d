"""Sinks (K1–K4, reference ``backend/etl_pipeline.py:311-316`` and
``backend/server.js:52-91``).

K1 preserves the reference's single-CSV-file contract: Spark writes a
parquet-style directory, so the part file is renamed to the declared
destination path. ``coalesce(1)`` is the price of that contract — a
deliberate single-file bottleneck, flagged here: every pipeline run
writes its output through :func:`write_csv_single`.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_csv_single(df: DataFrame, destination: str) -> int:
    """K1: one CSV file at ``destination`` (etl_pipeline.py:311-316).

    Returns the row count (the reference prints it on save, A7).
    """
    out_dir = os.path.dirname(destination) or "."
    os.makedirs(out_dir, exist_ok=True)
    tmp = destination + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    if os.path.exists(destination):
        os.remove(destination)  # O5: stale-output delete (server.js:40-41)
    shutil.move(part, destination)
    shutil.rmtree(tmp, ignore_errors=True)
    # csv-parse rather than count raw lines: quoted values extracted from
    # JSON/YAML blocks can contain embedded newlines, which would inflate
    # a physical line count
    with open(destination, newline="", encoding="utf-8") as f:
        n_rows = sum(1 for _ in csv.reader(f)) - 1
    return max(n_rows, 0)


# One HTTP response is never allowed to pull an unbounded table onto the
# driver: a /run-etl against a huge upload would otherwise OOM the server
# with a single request. The reference returns the whole table
# (server.js:52-70); below the cap behavior is identical.
TABLE_ROW_CAP = 10_000
