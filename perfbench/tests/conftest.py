import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]


@pytest.fixture(scope="session")
def spark():
    from dynamodb_pitr_restore_cdc_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def spark_ctx(spark, tmp_path):
    """A benchmark run context over its own work dir, tracing off."""
    from checks import Checker
    from harness import Ctx
    from spans import Tracer

    work = tmp_path / "work"
    work.mkdir()
    checker = Checker(str(tmp_path), threads=2)
    yield Ctx(spark=spark, work=str(work), seed=1, seconds=1.0,
              tracer=Tracer(spark, enabled=False), checker=checker)
    checker.close()
