import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # one worker thread per core the host grants (SPARK_GRAFT_CPUS);
    # more threads than cores oversubscribe the pandas-UDF workers
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = get_spark(master=f"local[{cpus}]", app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    from opentelemetry_collector_contrib_spark.datagen import gen_pages_pdf
    return gen_pages_pdf(3000)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf)
    df.cache().count()
    return df
