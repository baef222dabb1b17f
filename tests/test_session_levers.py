"""The session's environment levers: SPARK_GRAFT_EXTRA_CONF is the one
test lever of the invariance sweeps (AQE off, a 1024-partition
cluster-shape rehearsal, codegen off), and SPARK_GRAFT_DRIVER_MEM the
deployment override of the driver heap. Production defaults must stay
AQE-on, shuffle-partitions=cores and a heap the machine can back.
Pure-Python — no Spark."""
import os

import pytest


@pytest.fixture()
def clean_env(monkeypatch):
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(k, raising=False)
    yield monkeypatch


def test_defaults_are_production(clean_env):
    from mongodb_mysql_cdc_spark import session as s

    conf = dict(s._runtime_conf())  # the last pair for a key wins, as in Spark
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.shuffle.partitions"] == str(os.cpu_count() or 8)
    assert s.default_parallelism() == (os.cpu_count() or 8)


def test_extra_conf_lever(clean_env):
    from mongodb_mysql_cdc_spark import session as s

    assert s._extra_conf() == []
    clean_env.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        "spark.sql.codegen.wholeStage=false; spark.sql.parquet.enableVectorizedReader=false",
    )
    assert s._extra_conf() == [
        ("spark.sql.codegen.wholeStage", "false"),
        ("spark.sql.parquet.enableVectorizedReader", "false"),
    ]


def test_levers_take_effect(clean_env):
    from mongodb_mysql_cdc_spark import session as s

    cores = s.default_parallelism()
    clean_env.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        "spark.sql.adaptive.enabled=false;spark.sql.shuffle.partitions=1024",
    )
    conf = dict(s._runtime_conf())
    assert conf["spark.sql.adaptive.enabled"] == "false"
    assert conf["spark.sql.shuffle.partitions"] == "1024"
    # the shuffle override must not touch executor-thread count
    assert s.default_parallelism() == cores


def test_driver_memory_fits_the_machine(clean_env):
    from mongodb_mysql_cdc_spark import session as s

    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    default = s.driver_memory()
    assert default.endswith("g"), default
    assert 1 <= int(default[:-1]) * 2**30 <= phys, (default, phys)
    clean_env.setenv("SPARK_GRAFT_DRIVER_MEM", "3000m")
    assert s.driver_memory() == "3000m"
