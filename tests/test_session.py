"""Session configuration: the environment is read when a session starts,
not when the package is imported."""

from __future__ import annotations

from mlops_pipelines_featurestore_gcp_spark import session


def test_env_is_read_at_session_start_not_import(monkeypatch):
    # the package is long imported by now; a later env change must still win
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    confs = session._session_confs({})
    assert confs["spark.sql.shuffle.partitions"] == "3"
    assert confs["spark.driver.memory"] == "2g"
    # explicit overrides still beat the environment
    confs = session._session_confs({"spark.sql.shuffle.partitions": 5})
    assert confs["spark.sql.shuffle.partitions"] == "5"


def test_driver_memory_default_is_sized_from_host_and_capped(monkeypatch):
    import os

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = session._session_confs({})["spark.driver.memory"]
    assert mem.endswith("g")
    gib = int(mem[:-1])
    host_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    assert 1 <= gib <= 24
    assert gib <= max(1, host_gib / 2)


def test_test_session_uses_the_configured_parallelism(spark):
    # conftest sets SPARK_GRAFT_CPUS (unless the caller did) before the
    # session starts; the shuffle width must follow it
    import os

    assert spark.sparkContext.getConf().get("spark.sql.shuffle.partitions") == os.environ["SPARK_GRAFT_CPUS"]
