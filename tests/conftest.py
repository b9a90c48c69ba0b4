import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from symtseries_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
# data-coupled oracle literals (ANN centroids/planes/probes) must be derived
# from the SAME sf the parity tests query
os.environ.setdefault("SYMT_ORACLE_SF", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("symtseries-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def parallel_shape(monkeypatch):
    """A context manager under which no input fits one task
    (``plans.fits_one_task`` is False), so decode, gapfill and m4 build
    their large-input, parallel plans; the size bound is restored after."""
    from symtseries_spark import plans

    @contextlib.contextmanager
    def parallel():
        with monkeypatch.context() as m:
            m.setattr(plans, "ONE_TASK_MAX_BYTES", -1)
            yield

    return parallel


@pytest.fixture
def both_shapes(spark, tmp_path, parallel_shape):
    """``run(df, check)``: write ``df`` to parquet and read it back, so its
    size estimate is real (a ``createDataFrame`` input estimates
    ``defaultSizeInBytes`` and reaches only the parallel shape), then call
    ``check(read_back)`` in the one-task shape and under parallel_shape."""
    from symtseries_spark.plans import fits_one_task

    def run(df, check):
        path = str(tmp_path / "both_shapes")
        df.write.parquet(path)
        back = spark.read.parquet(path)
        assert fits_one_task(back)
        check(back)
        with parallel_shape():
            assert not fits_one_task(back)
            check(back)

    return run
