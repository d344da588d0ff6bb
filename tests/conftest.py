import os
import sys

import pytest

# make the repo importable regardless of pytest invocation dir
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("symtseries-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SYMTSERIES_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """Counts (``.n``) the driver->JVM Py4J round trips the test's own
    thread makes. Calls from other threads, such as the py4j finalizer
    releasing collected objects, are not counted."""
    import threading
    from types import SimpleNamespace

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls, me = SimpleNamespace(n=0), threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            calls.n += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return calls
