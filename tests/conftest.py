from __future__ import annotations

import shutil
import tempfile

import pytest

from easylink_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a caller's own JVM options turn the class-data-sharing archive off, so
    # the suite neither reads nor builds the user's archive cache
    # (tests/test_session_cds.py covers the archive in temp caches)
    s = get_spark("easylink_spark_tests", cores=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.defaultJavaOptions": "-Xshare:auto"})
    yield s
    s.stop()


@pytest.fixture()
def tmp_ckpt():
    d = tempfile.mkdtemp(prefix="elspark_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
