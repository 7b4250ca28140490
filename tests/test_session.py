"""Session defaults sized to the host they run on."""

import pytest

from osmflat_rs_spark import session


@pytest.mark.parametrize(
    "ram_gb, want",
    [(None, "8g"), (4, "8g"), (15, "8g"), (20, "10g"), (31, "15g"), (32, "16g"), (128, "16g")],
)
def test_default_driver_memory_half_ram_clamped(monkeypatch, ram_gb, want):
    """Half of physical RAM, floored at 8g, capped at 16g; unknown RAM
    takes the floor."""
    monkeypatch.setattr(session, "_phys_ram_gb", lambda: ram_gb)
    assert session._default_driver_memory() == want


def test_default_offheap_shares_the_ram_probe(monkeypatch):
    monkeypatch.setattr(session, "_phys_ram_gb", lambda: 64)
    assert session._default_offheap() == "8g"
    monkeypatch.setattr(session, "_phys_ram_gb", lambda: None)
    assert session._default_offheap() == "2g"



@pytest.mark.parametrize("env_cpus, want", [(None, 3), ("2", 2)])
def test_default_master_fits_host(monkeypatch, env_cpus, want):
    """Without SPARK_GRAFT_CPUS the session takes every host core
    (``os.cpu_count()``), not a fixed 32; the env var still wins."""

    class _Built(Exception):
        pass

    class _Builder:
        conf: dict = {}

        def master(self, m):
            self.conf["master"] = m
            return self

        def appName(self, _name):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            raise _Built

    class _Session:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    if env_cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env_cpus)
    with pytest.raises(_Built):
        session.get_spark("probe")
    assert _Builder.conf["master"] == f"local[{want}]"
    assert _Builder.conf["spark.sql.shuffle.partitions"] == str(want)


def test_driver_table_spread_decision(spark):
    """``_t`` spreads a map-side table whose scan yields fewer splits than
    cores by one round-robin exchange to ``defaultParallelism``; a
    shuffle-first table and a ``spread=False`` caller get none."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    n = spark.sparkContext.defaultParallelism

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    spread = plan(e._t(spark, sf, "events"))
    assert f"Exchange RoundRobinPartitioning({n}), REPARTITION_BY_NUM" in spread, spread
    assert "Exchange" not in plan(e._t(spark, sf, "lineitem"))
    assert "Exchange" not in plan(e._t(spark, sf, "events", spread=False))
