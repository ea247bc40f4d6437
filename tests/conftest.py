from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, "/root/repo")

from cancer_survival_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[8], tests only (bench.py keeps the driver's
    # local[$SPARK_GRAFT_CPUS] contract): the suite's frames are tiny,
    # so 32 task slots per stage is pure scheduling overhead — local[8]
    # measured 14% faster on the densest test file (r11, the
    # OPTIMIZATION_r11.md test-suite section). Tests that reason about
    # partition counts read defaultParallelism dynamically.
    # The workers start with pyworker/sitecustomize.py: it stops every
    # pandas-UDF task from re-reading pyspark.zip's directory 16 times
    # on Python < 3.12, which halved the CPU of the UDF-heavy tests
    # (4 vCPUs: 726 -> 368 CPU-s on 12 of them).
    workers = os.path.join(os.path.dirname(__file__), "pyworker")
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        master="local[8]",
        extra_conf={"spark.executorEnv.PYTHONPATH": workers},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def distributed(monkeypatch):
    """``with distributed():`` runs its body with the driver-collect cap
    at 0, so every fit takes its distributed path — the one switch the
    driver == distributed tests use."""
    from cancer_survival_etl_spark.operators import driverfit

    @contextmanager
    def force():
        with monkeypatch.context() as m:
            m.setattr(driverfit, "MAX_DRIVER_CELLS", 0)
            yield

    return force
