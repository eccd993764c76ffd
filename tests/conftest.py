import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("traject_spark-tests")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def py4j_calls(spark):
    """``calls(fn)`` -> (Py4J round trips made by ``fn()``, its result):
    every JVM call from the driver goes through the gateway client's
    ``send_command``, which is counted while ``fn`` runs. Only this
    thread's calls count, and not object-release commands (``m``):
    Python's garbage collector sends those for objects earlier code
    dropped, whenever it happens to run, and other threads (a streaming
    callback, a server) may call too — either would make the count
    depend on test order."""
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client

    def calls(fn):
        sent = client.send_command
        me = threading.get_ident()
        n = 0

        def counting(command, *args, **kwargs):
            nonlocal n
            if threading.get_ident() == me and not command.startswith("m\n"):
                n += 1
            return sent(command, *args, **kwargs)

        gc.collect()
        client.send_command = counting
        try:
            out = fn()
        finally:
            del client.send_command
        return n, out

    return calls
