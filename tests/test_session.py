"""The session factory's execution profiles (session.py): a local
master gets one shuffle partition per core and AQE off, any other
master keeps the cluster profile, and explicit settings win."""

import os

import pytest
from pyspark.sql import functions as F

from big_data_hdfs_ray_vs_spark_spark import session
from big_data_hdfs_ray_vs_spark_spark.session import session_conf
from big_data_hdfs_ray_vs_spark_spark.sources.layout import physical_plan

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"

# The cluster profile, pinned: a change to any of these is a change to
# how a cluster deploy plans its shuffles.
CLUSTER_PROFILE = {
    AQE: "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    PARTS: "32",
}


def test_local_n_master_gets_n_partitions_and_no_aqe():
    conf = session_conf("local[4]")
    assert (conf[PARTS], conf[AQE]) == ("4", "false")
    assert session_conf("local[3,2]")[PARTS] == "3"


@pytest.mark.parametrize("master", ["local[*]", "local", "local[*,2]"])
def test_local_star_master_counts_the_cpu_affinity(master):
    conf = session_conf(master)
    assert conf[PARTS] == str(len(os.sched_getaffinity(0)))
    assert conf[AQE] == "false"


@pytest.mark.parametrize(
    "master", ["spark://h:7077", "yarn", "k8s://https://h:6443", "local-cluster[2,1,1024]"]
)
def test_cluster_master_keeps_the_cluster_profile(master):
    conf = session_conf(master)
    assert {k: conf[k] for k in CLUSTER_PROFILE} == CLUSTER_PROFILE


def test_explicit_settings_override_both_profiles():
    conf = session_conf("local[4]", shuffle_partitions=7, extra_conf={AQE: "true"})
    assert (conf[PARTS], conf[AQE]) == ("7", "true")
    conf = session_conf("local[4]", shuffle_partitions=7, extra_conf={PARTS: "9"})
    assert conf[PARTS] == "9"
    conf = session_conf("yarn", shuffle_partitions=8, extra_conf={AQE: "false"})
    assert (conf[PARTS], conf[AQE]) == ("8", "false")


def test_default_master_uses_the_host_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._default_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._default_master() == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "yarn")
    assert session._default_master() == "yarn"


def test_session_fixture_runs_the_local_profile(spark):
    assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(PARTS) == "4"
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    plan = physical_plan(df)
    assert "AdaptiveSparkPlan" not in plan and "Exchange (" in plan
    assert df.rdd.getNumPartitions() == 4
