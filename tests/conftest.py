from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small
# session.py's 16g default heap is sized for 32-slot scans; the suite's
# inputs are small, and a 16g heap on a 16 GB host grows until the
# kernel kills the JVM part-way through the run.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dataflow_flex_templates_spark.session import get_spark

    s = get_spark("tests", cores=int(os.environ["SPARK_GRAFT_CPUS"]))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _drain_streams():
    """No streaming query may leak across tests: a lingering query from
    one test can race another test's checkpoint/temp state (the
    round-1 test_kill_and_resume full-suite flake)."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    for q in s.streams.active:
        try:
            q.stop()
            q.awaitTermination(30)
        except Exception:
            pass
