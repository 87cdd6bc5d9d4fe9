import pytest


@pytest.fixture(scope="session")
def spark():
    from readabilityimproved_spark.plans.session import build_session

    spark = build_session(
        app_name="tests", master="local[4]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


@pytest.fixture
def batch_fn():
    """``batch_fn(operator, **kw)``: the per-batch function an operator
    hands to ``mapInPandas``, captured through a stand-in DataFrame
    (string ``doc_id``) so it can run in-process without Spark."""
    from pyspark.sql.types import StringType, StructField, StructType

    class Capture:
        schema = StructType([StructField("doc_id", StringType())])

        def mapInPandas(self, fn, schema):
            self.fn = fn
            return self

    return lambda operator, **kw: operator(Capture(), **kw).fn
