from __future__ import annotations

import pytest

from searchengine_spark.corpus import ensure_transcripts
from searchengine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("searchengine-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a job group of its own and
    returns the ids of the Spark jobs it started — for pinning job
    budgets. Jobs from other threads (other job groups) are not counted."""
    import uuid

    sc = spark.sparkContext

    def run(fn) -> list[int]:
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def transcripts_sf0001_path() -> str:
    return ensure_transcripts(0.001)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_sf0001_path):
    return spark.read.parquet(transcripts_sf0001_path)


@pytest.fixture(scope="session")
def oracle_index(transcripts_sf0001_path):
    import pyarrow.parquet as pq

    from searchengine_spark.oracle import OracleIndex

    tbl = pq.read_table(transcripts_sf0001_path)
    docs = []
    for batch in tbl.to_pylist():
        batch["doc_id"] = f"{batch['conv_id']}:{batch['turn_idx']:04d}"
        docs.append(batch)
    return OracleIndex(docs)
