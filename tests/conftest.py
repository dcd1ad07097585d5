import pytest


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from ocr_spark.session import get_spark

    # managed tables (saveAsTable) go to a temp dir, not ./spark-warehouse
    warehouse = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield s
    s.stop()
