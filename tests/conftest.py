from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Test-session-only tuning (must be set before the session builds): the
# suite runs hundreds of tiny-data jobs where per-task scheduling overhead
# dominates; 8 post-shuffle partitions instead of the core count cuts that
# overhead ~4x without touching the engine defaults the bench/driver use
# (results are partitioning-independent by design — the oracle checks
# guarantee it). tune_session() honors the same knob, so per-query
# re-tuning keeps it.
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

from air_traffic_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'")
    yield con
