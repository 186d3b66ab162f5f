"""Result hand-off: search()/search_many() return their driver-held top-k
as an Arrow LocalRelation.  The local path runs no Spark job at all
(neither the call nor collecting its result), the distributed path only
its top-k and docid collects, and both keep the declared result schemas
exactly — names, types (``rank`` stays ``int``) and nullability."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql.types import StructType

from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import (
    BATCH_RESULT_SCHEMA,
    RESULT_SCHEMA,
    BM25Index,
)

CFG = EngineConfig(
    analyzer="sql",
    index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=8, encode_partitions=4),
)

_groups = itertools.count()


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("frames") / "idx")
    rows = [
        (f"d{i}", " ".join(["alpha", f"filler{i}"] + (["beta"] if i % 2 else [])))
        for i in range(24)
    ]
    corpus = spark.createDataFrame(rows, "doc_id string, content string")
    build_index(spark, corpus, d, fields={"body": "content"}, cfg=CFG)
    return BM25Index(spark, d)


def _jobs(spark, call):
    """(result rows, Spark jobs launched by ``call()`` plus its collect)."""
    sc = spark.sparkContext
    group = f"result-frames-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        rows = call().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_path_runs_no_spark_job(spark, idx):
    rows, jobs = _jobs(spark, lambda: idx.search("alpha beta", 5, "or", prefer_local=True))
    assert len(rows) == 5 and jobs == 0
    rows, jobs = _jobs(
        spark,
        lambda: idx.search_many({"a": "alpha beta", "b": "filler3"}, 5, "or", prefer_local=True),
    )
    assert {r.query_id for r in rows} == {"a", "b"} and jobs == 0
    rows, jobs = _jobs(spark, lambda: idx.search("zzznope", 5, "and", prefer_local=True))
    assert rows == [] and jobs == 0


def test_distributed_search_runs_at_most_three_jobs(spark, idx):
    rows, jobs = _jobs(spark, lambda: idx.search("alpha beta", 5, "or", prefer_local=False))
    assert len(rows) == 5 and 0 < jobs <= 3


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
def test_result_schemas_exact(spark, idx, local):
    single = StructType.fromDDL("doc_id string, score double, rank int")
    batch = StructType.fromDDL("query_id string, doc_id string, score double, rank int")
    assert (RESULT_SCHEMA, BATCH_RESULT_SCHEMA) == (single, batch)
    assert idx.empty_result().schema == single
    for q in ("alpha beta", "zzznope"):
        one = idx.search(q, 5, "and", prefer_local=local)
        many = idx.search_many({"q": q}, 5, "and", prefer_local=local)
        assert one.schema == single, q
        assert many.schema == batch, q
        for r in one.collect() + many.collect():
            assert isinstance(r.rank, int) and isinstance(r.score, float)
    assert idx.search_many({}, 5, "and", prefer_local=local).schema == batch

