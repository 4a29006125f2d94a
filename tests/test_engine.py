"""Engine facade: all four entry points agree on the same logical query."""

from __future__ import annotations

import pytest

from sql_query_engine_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_DIR)


def test_entry_points_agree(engine):
    """SQL, RA text, and the DataFrame API must produce the same result
    for the reference's flagship query shape."""
    via_sql = engine.sql(
        """SELECT DISTINCT c_custkey FROM customer, nation
           WHERE c_nationkey = n_nationkey"""
    )
    via_ra = engine.ra(
        r"\project_{c_custkey}"
        r"(\select_{customer.c_nationkey = nation.n_nationkey}"
        r"(customer \cross nation));"
    )
    via_df = (
        engine.table("customer")
        .join(
            engine.table("nation"),
            engine.table("customer")["c_nationkey"]
            == engine.table("nation")["n_nationkey"],
        )
        .select("c_custkey")
        .distinct()
    )
    a = {r.c_custkey for r in via_sql.collect()}
    b = {r.c_custkey for r in via_ra.collect()}
    c = {r.c_custkey for r in via_df.collect()}
    assert a == b == c
    assert len(a) > 0


def test_named_query_entry(engine):
    df = engine.query("ref_project_distinct")
    assert df.columns == ["c_mktsegment"]
    assert df.count() > 0
    assert "agg_pricing_summary" in engine.query_names()


def test_explain_surface(engine):
    plan = engine.explain(engine.sql("SELECT c_custkey FROM customer WHERE c_custkey = 1"))
    assert "PushedFilters" in plan


def test_local_df_rejects_nulls(spark):
    """local_df's NULL guard raises ValueError, so ``python -O`` cannot
    strip it the way it strips an ``assert``."""
    from sql_query_engine_spark.session import local_df

    with pytest.raises(ValueError, match="NULL-free"):
        local_df(spark, [(1, "a"), (2, None)], "k long, v string")


def test_malformed_spark_graft_conf_raises(monkeypatch):
    """A SPARK_GRAFT_CONF item without ``=`` is rejected by name, not
    silently dropped; empty items (a trailing ``;``) stay allowed."""
    from sql_query_engine_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CONF",
                       "spark.sql.adaptive.enabled;")
    with pytest.raises(ValueError, match="'spark.sql.adaptive.enabled'"):
        get_spark("malformed-conf")


def test_non_integer_spark_graft_cpus_raises(monkeypatch):
    """A non-integer SPARK_GRAFT_CPUS is rejected, not ignored in
    favour of the machine's core count."""
    from sql_query_engine_spark.session import default_parallelism

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_parallelism()
