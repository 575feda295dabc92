"""Shared helpers for physical-plan assertions.

A plan-shape check about scans (``Scan parquet``, ``PushedFilters``,
``ReadSchema``) passes vacuously when the inspected plan has no real
file scan left: a ``localCheckpoint`` cut or a memoized session frame
renders as ``Scan ExistingRDD``.  ``require_scans`` makes such a check
fail loudly instead, and ``plan_through_cuts`` renders the plan a
builder would have without its checkpoint cuts, so a property of the
scans behind them can still be asserted.
"""

from __future__ import annotations

import re

from polybot_data_etl_spark.plans import materialize

_REAL_SCAN = re.compile(r"^\(\d+\) Scan parquet|FileScan ", re.M)


def plan_text(df) -> str:
    """The formatted physical plan of ``df``."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def require_scans(plan: str) -> int:
    """The number of real file scans in ``plan``; fails when it has none."""
    n = len(_REAL_SCAN.findall(plan))
    assert n, (
        "the inspected plan has no real parquet scan, so a scan"
        f" assertion on it would pass vacuously:\n{plan[:2000]}"
    )
    return n


def plan_through_cuts(build) -> str:
    """The plan of ``build()`` with every ``localCheckpoint`` an identity.

    Memoized session frames are dropped before and after, so the build
    sees no frame cut earlier and leaves none of its uncut frames in the
    shared memo.  ``pyspark.sql.DataFrame`` is not the concrete class in
    PySpark 4, so the patch goes on the classic implementation.
    """
    from pyspark.sql.classic.dataframe import DataFrame

    real = DataFrame.localCheckpoint
    materialize.clear()
    DataFrame.localCheckpoint = lambda self, *args, **kwargs: self
    try:
        return plan_text(build())
    finally:
        DataFrame.localCheckpoint = real
        materialize.clear()
