import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # etlbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # checkout root

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """One local session for the benchmark's own tests, with Spark's
    event log on (``spark.etlbench_event_dir``)."""
    import run

    work = str(tmp_path_factory.mktemp("etlbench"))
    run._spark_env(work, traced=True)
    from ffi_export_etl_spark import session

    session._JAR_CACHE[:] = [None]
    s = session.get_spark(app_name="etlbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    session.tune(s)
    s.etlbench_event_dir = os.path.join(work, "eventlog")
    yield s
    run._stop_spark(s)
