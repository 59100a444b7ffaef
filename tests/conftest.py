import os
import sys

import pytest

# the reference library is the Tier-V oracle (read-only import, never copied)
sys.path.insert(0, "/root/reference")
# this checkout, wherever it lives
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


@pytest.fixture(scope="session")
def spark():
    """Shared session. The engine must be ANSI-NEUTRAL — identical behavior
    whatever the caller's session config — so the suite can run under either
    mode: ``SPARK_GRAFT_TEST_ANSI=true python -m pytest`` flips the session
    to Spark 4's default ANSI-on (round 1 shipped 19 ANSI-only crashes
    because tests only ever ran ANSI-off)."""
    from trafaret_spark.session import get_spark
    ansi = os.environ.get("SPARK_GRAFT_TEST_ANSI", "false")
    s = get_spark("trafaret_spark-tests", cores=4, shuffle_partitions=4,
                  **{"spark.sql.ansi.enabled": ansi})
    yield s
