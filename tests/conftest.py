from __future__ import annotations

import pytest

from hdp2_5_hive2_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="hdp2_5_hive2_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def full_plans(monkeypatch):
    """Disable reused-frame materialization (llm.text.plan_checkpoint) so a
    structural pin can see the whole un-materialized plan; the production
    default materializes reused frames (r13 optimization) which hides
    their upstream behind an RDD scan. Computation is identical."""
    from hdp2_5_hive2_spark.llm import text as _text
    monkeypatch.setattr(_text, "_MATERIALIZE_REUSED", False)
