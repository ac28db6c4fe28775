"""Per-layer collection: traced units see only their own work."""

from collections import defaultdict
from types import SimpleNamespace

import pytest

import workloads
from layers import SparkProbe, Tracer


class _CountingProbe:
    def __init__(self):
        self.skips = 0

    def skip_executions(self):
        self.skips += 1


@pytest.mark.parametrize("seed, first_traced", [(1, True), (2, False)])
def test_units_alternate_and_start_by_seed_parity(seed, first_traced):
    env = SimpleNamespace(seconds=0, trace=True, seed=seed, probe=_CountingProbe())
    got = [traced for _, traced in workloads._units(env, 4)]
    assert got == [first_traced, not first_traced] * 2
    assert env.probe.skips == 2


def test_untraced_units_are_all_untraced():
    env = SimpleNamespace(seconds=0, trace=False, seed=1, probe=None)
    assert [traced for _, traced in workloads._units(env, 3)] == [False] * 3


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark")))
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def _python_join(spark, _table_dir):
    left = spark.range(2000).repartition(2).mapInPandas(lambda it: it, schema="id long")
    return left.join(spark.range(500), "id")


def test_traced_unit_excludes_the_untraced_operations_before_it(spark, tmp_path):
    env = workloads.Env(
        spark=spark,
        registry={"q": SimpleNamespace(fn=_python_join)},
        table_dir=None,
        work_dir=str(tmp_path),
        seed=0,
        seconds=0,
        trace=True,
        cores=2,
        tracer=Tracer(True),
        probe=SparkProbe(spark),
    )
    alone = defaultdict(float)
    env.probe.skip_executions()
    workloads._run_query(env, "q", True, alone)
    assert alone["join_rows"] == 500
    assert alone["spark.python.bytes_sent"] > 0

    layers = defaultdict(float)
    ops = 0
    for i, traced in workloads._units(env, 2):  # seed 0: untraced, then traced
        env.tracer.op = i
        for _ in range(1 if traced else 2):
            _, error = workloads._run_query(env, "q", traced, layers)
            assert error is None
            ops += 1
    assert ops == 3
    assert layers["join_rows"] == alone["join_rows"]
    assert layers["spark.python.bytes_sent"] == alone["spark.python.bytes_sent"]
    assert layers["spark.scheduler.jobs"] == alone["spark.scheduler.jobs"]
