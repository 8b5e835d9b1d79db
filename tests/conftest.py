import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from convert_spark.session import get_session

    s = get_session(cores=8, app_name="convert_spark_tests", shuffle_partitions=8)
    yield s


def persistent_rdd_ids(spark) -> set[int]:
    """Ids in the SparkContext's persistent-RDD registry (cached and
    checkpointed RDDs alike) — the storage-leak probe of the lifecycle
    tests."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
