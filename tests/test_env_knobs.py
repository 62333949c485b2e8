"""SPARK_GRAFT_* env knobs are validated where they are read: a
malformed value fails with a ValueError that names the variable,
before any session or pipeline is touched."""

from __future__ import annotations

import pytest

from etl_pipelines_spark import session
from etl_pipelines_spark.plans import build_warehouse_pipeline

FLOOR = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


@pytest.mark.parametrize("bad", ["six", "0", "-2", "1.5", ""])
def test_malformed_dag_pool_names_the_variable(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_DAG_POOL", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DAG_POOL"):
        build_warehouse_pipeline()
    monkeypatch.setenv("SPARK_GRAFT_DAG_POOL", "3")
    assert build_warehouse_pipeline().max_parallel == 3
    monkeypatch.delenv("SPARK_GRAFT_DAG_POOL")
    assert build_warehouse_pipeline().max_parallel == 6


@pytest.mark.parametrize("bad", ["64 kilobytes", "1.5m", "-1", "m", ""])
def test_malformed_aqe_floor_names_the_variable(spark, monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_AQE_FLOOR", bad)
    before = spark.conf.get(FLOOR)
    with pytest.raises(ValueError, match="SPARK_GRAFT_AQE_FLOOR"):
        session.configure(spark)
    with pytest.raises(ValueError, match="SPARK_GRAFT_AQE_FLOOR"):
        session.get_spark("tests")
    # the check runs before any conf is set on the live session
    assert spark.conf.get(FLOOR) == before
    monkeypatch.setenv("SPARK_GRAFT_AQE_FLOOR", "1M")
    assert session._engine_conf()[FLOOR] == "1M"
    monkeypatch.delenv("SPARK_GRAFT_AQE_FLOOR")
    assert session._engine_conf()[FLOOR] == "64k"


@pytest.mark.parametrize("bad", ["eight", "0", "-4", "2.5", ""])
def test_malformed_cpus_names_the_variable(spark, monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.configure(spark)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark("tests")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session._engine_conf()["spark.sql.shuffle.partitions"] == "6"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session._engine_conf()["spark.sql.shuffle.partitions"] == "32"
