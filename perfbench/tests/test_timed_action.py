"""The timed action computes every output column.

``text_fingerprint`` is a projection-only row: under ``.count()`` Catalyst
prunes the fingerprint expression away and times almost nothing.  The
benchmark's sinks must not let that happen.  Needs a local Spark session
(about a minute).
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import client as C  # noqa: E402
import oracle  # noqa: E402
import workloads as W  # noqa: E402

ROW = "text_fingerprint"


@pytest.fixture(scope="module")
def spark_and_data():
    from sql_query_engine_spark import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    data_dir = os.path.join(W.DATA, "sf0.01")
    spark = get_spark("perfbench-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield spark, data_dir


def _fingerprint(spark, data_dir):
    from sql_query_engine_spark import queries

    return queries()[ROW](spark, data_dir)


def test_collect_sink_plan_outputs_every_column(spark_and_data):
    spark, data_dir = spark_and_data
    df = _fingerprint(spark, data_dir)
    cols, rows = C.collect_sink(df)
    executed = df._jdf.queryExecution().executedPlan()
    assert list(executed.schema().fieldNames()) == df.columns == cols
    assert rows and all(len(r) == len(df.columns) for r in rows)
    # the contrast the sink exists for: a count() plan drops the columns
    counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    last = df.columns[-1]
    assert f"{last}#" in df._jdf.queryExecution().optimizedPlan().toString()
    assert f"{last}#" not in counted


def test_parquet_sink_writes_every_column(spark_and_data, tmp_path):
    spark, data_dir = spark_and_data
    df = _fingerprint(spark, data_dir)
    out = str(tmp_path / "out")
    assert C.parquet_sink(df, out) is None
    cols, rows = oracle.read_parquet_dir(out)
    assert cols == df.columns
    assert oracle.compare(cols, rows, *C.collect_sink(df)) is None
