import pytest
from pyspark import SparkContext

from big_data_hdfs_ray_vs_spark_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def iterate_rounds(monkeypatch):
    """The round count of every ``iterate_until`` call the test makes,
    in call order (a spy on each module's binding of the driver)."""
    from big_data_hdfs_ray_vs_spark_spark.plans import bpe, graph, iterate

    rounds: list[int] = []
    driver = iterate.iterate_until

    def spy(*args, **kwargs):
        state, n = driver(*args, **kwargs)
        rounds.append(n)
        return state, n

    for module in (iterate, graph, bpe):
        monkeypatch.setattr(module, "iterate_until", spy)
    return rounds


def pytest_runtest_setup(item):
    # Once the session's JVM has died (e.g. taken by the OOM killer),
    # every later Spark test would fail with ConnectionRefused: stop the
    # run with one message instead.
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is not None:
        pytest.exit(
            f"the Spark JVM exited with code {proc.returncode} before "
            f"{item.nodeid}; stopping the run (check dmesg for the OOM "
            "killer and SPARK_GRAFT_DRIVER_MEM)",
            returncode=1,
        )
