import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def work():
    path = tempfile.mkdtemp(prefix="kgbench_selftest_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(work):
    """One session for the whole self-test, with the event log on, set up
    the way kgbench/run.py sets it up."""
    from kgbench import run

    os.environ.update(run.box_settings(work))
    from bioner_spark.session import get_spark

    session = get_spark(app_name="kgbench_selftest", extra_conf=run.spark_conf(work, True))
    session.sparkContext.setLogLevel("ERROR")
    yield session
    run.stop_spark(session)
