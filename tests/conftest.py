import os
import sys

import pytest

# the package of this checkout, not another copy on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session", autouse=True)
def _hypothesis_home(tmp_path_factory):
    """Hypothesis keeps its example database and unicode cache under a
    tmp home instead of ./.hypothesis in the checkout."""
    try:
        from hypothesis.configuration import set_hypothesis_home_dir
    except ImportError:
        return
    set_hypothesis_home_dir(str(tmp_path_factory.mktemp("hypothesis")))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pliers_spark.session import get_spark

    # a tmp warehouse: tables a query roots under spark.sql.warehouse.dir
    # never land in the checkout
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark("pliers-spark-tests", cpus=4, shuffle_partitions=4,
                  extra_conf={"spark.sql.warehouse.dir": warehouse})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    from pliers_spark.synthgen import write_pages

    p = tmp_path_factory.mktemp("pages") / "pages.parquet"
    return write_pages(str(p), n_urls=120, max_snapshots=6, seed=42)


@pytest.fixture(scope="session")
def pages(spark, pages_path):
    return spark.read.parquet(pages_path)
