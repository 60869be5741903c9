import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smile_spark import get_spark

SF_DIR = os.environ.get("SMILE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="smile-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def forget_memo(family: str) -> None:
    """Simulate a fresh session for one persisted-artifact family
    (``sources/bucketed.py``): drop its per-process memo entries and
    keep the warehouse, the catalog and the sidecars, so the next call
    takes the adopt / fold / rebuild decision again."""
    from smile_spark.sources import bucketed as BK

    for key in [k for k in BK._ARTIFACT_READY if k[0] == family]:
        BK._ARTIFACT_READY.discard(key)


def memoized(family: str, sf_dir: str | None = None) -> bool:
    """True iff ``family`` holds a memo entry in this process (for
    ``sf_dir``'s artifacts, when given)."""
    from smile_spark.sources import bucketed as BK

    suffix = BK.bucket_table_name("", sf_dir) if sf_dir else ""
    return any(
        k[0] == family and k[2].endswith(suffix)
        for k in BK._ARTIFACT_READY
    )
