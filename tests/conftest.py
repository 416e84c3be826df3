"""Shared fixtures: one SparkSession per test session + the oracle-parity
comparator that mirrors the driver's DuckDB check (strictly: exact values
after sorting columns by name and rows by content — if this passes, any
order-insensitive value-hash passes too)."""

from __future__ import annotations

import math
import os
import uuid
from collections.abc import Callable

import duckdb
import pytest

from single_cell_experiments_spark.catalog import TABLES
from single_cell_experiments_spark.session import get_spark

SF_DIR = os.environ.get("SCE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sce-tests", cpus=int(os.environ.get("SCE_TEST_CPUS", "8")))
    yield s
    s.stop()


def count_jobs(spark, run: Callable[[], object]) -> int:
    """Spark jobs ``run()`` starts, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v):
    """Canonicalize a cell so equal values compare equal across engines."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):  # datetime / date
        return v.isoformat()
    if isinstance(v, bool):
        return f"b:{v}"
    return f"{type(v).__name__ if isinstance(v, (list, dict)) else ''}{v}"


def canon_frame(pdf):
    """pandas DataFrame -> (sorted column names, sorted canonical rows)."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is pd.NaT:
                v = None
            elif isinstance(v, np.generic):
                v = v.item()
            elif isinstance(v, pd.Timestamp):
                v = v.to_pydatetime()
            elif v is not None and not isinstance(v, (str, bytes, list, dict)):
                try:
                    if pd.isna(v):
                        v = None
                except (TypeError, ValueError):
                    pass
            row.append(_canon_cell(v))
        rows.append(tuple(row))
    rows.sort()
    return cols, rows


def assert_frames_match(spark_df, ddb_rel, name=""):
    spdf = spark_df.toPandas()
    opdf = ddb_rel.df()
    scols, srows = canon_frame(spdf)
    ocols, orows = canon_frame(opdf)
    assert scols == ocols, f"{name}: column mismatch spark={scols} oracle={ocols}"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
    ][:5]
    assert not mismatches, f"{name}: value mismatches (first 5): {mismatches}"
