import pytest

from semhash_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="semhash_spark_tests", cores=4, shuffle_partitions=8,
                  driver_memory="8g")
    yield s


@pytest.fixture
def tiny_batches(spark):
    """7-row Arrow batches, so kernels cross batch and chunk boundaries."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    yield
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


# fruit fixtures ported from the reference tests/conftest.py:11-51
@pytest.fixture
def train_texts() -> list[str]:
    return [
        "apple", "banana", "cherry", "strawberry", "blueberry", "raspberry",
        "blackberry", "peach", "plum", "grape", "mango", "papaya", "pineapple",
        "watermelon", "orange", "lemon", "lime", "tangerine",
        "car",  # outlier
        "bicycle",  # outlier
    ]


@pytest.fixture
def test_texts() -> list[str]:
    return [
        "apple", "banana", "kiwi", "fig", "apricot", "grapefruit",
        "pomegranate",
        "motorcycle",  # outlier
        "plane",  # outlier
    ]
