import os

import pytest

# The suite's JVM lives for the whole run, and the nullfuzz gates start
# a second one next to a DuckDB oracle that peaks near 9.4 GB on the
# patho clone (x_doc_chunks). With the 24g default heap both JVMs grow
# until a 16 GB host's OOM killer takes one of the processes. The test
# data is at most sf0.01, so 2g is ample; set before the session module
# reads it, and inherited by the gates' subprocesses.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

from pac_data_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()
