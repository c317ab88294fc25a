"""The catalog's pinned Parquet schemas: a repeat ``load`` launches no
Spark job, and every input that changes what inference would return
(the file, the directory's entries, the schema confs) re-infers."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from recommendation_system_spark_ml_spark.sources.catalog import (
    TABLES, load, path_for, row_count)
from tests.conftest import SF_CHECK, SF_SMOKE


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _docs(path: str, **extra) -> None:
    pq.write_table(pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                             "text": ["a b", "c d"], **extra}), path)


def test_repeat_load_launches_no_job(spark, tmp_path):
    _docs(path_for(str(tmp_path), "documents"))
    before = _next_job_id(spark)
    load(spark, str(tmp_path), "documents")
    first = _next_job_id(spark)
    load(spark, str(tmp_path), "documents")
    assert first > before, "the first load should infer the schema"
    assert _next_job_id(spark) == first


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CHECK])
def test_pinned_schema_equals_inferred(spark, sf_dir):
    for t in TABLES:
        load(spark, sf_dir, t)  # make sure the schema is pinned
        assert (spark.read.parquet(path_for(sf_dir, t)).schema
                == load(spark, sf_dir, t).schema), t


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = path_for(str(tmp_path), "documents")
    _docs(path)
    assert load(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    _docs(path, lang=["en", "de"])
    got = load(spark, str(tmp_path), "documents")
    assert got.columns == ["doc_id", "text", "lang"]
    assert sorted(r.lang for r in got.collect()) == ["de", "en"]


def test_rewritten_spark_directory_is_reinferred(spark, tmp_path):
    path = path_for(str(tmp_path), "documents")
    spark.createDataFrame([(1, "a b")], "doc_id long, text string") \
        .write.mode("overwrite").parquet(path)
    assert load(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    spark.createDataFrame([(1, "a b", 0.5)], "doc_id long, text string, w double") \
        .write.mode("overwrite").parquet(path)
    got = load(spark, str(tmp_path), "documents")
    assert got.columns == ["doc_id", "text", "w"]
    assert got.first().w == 0.5


def test_nanos_as_long_is_part_of_the_key(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS) is read as a long and
    converted when nanosAsLong is on; with it off Spark rejects the
    column, so a schema pinned under the other value must not be used."""
    ts = np.array(["2024-01-01T00:00:00.123456789", "2024-01-02"],
                  dtype="datetime64[ns]")
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ts),
        "user_id": pa.array([7, 8], pa.int64()), "event_type": ["a", "b"],
        "value": [1.0, 2.0], "props": ["{}", "{}"]}),
        path_for(str(tmp_path), "events"))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        got = load(spark, str(tmp_path), "events")
        assert dict(got.dtypes)["ts"] == "timestamp"
        assert str(got.orderBy("event_id").first().ts.time()) == "00:00:00.123456"
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(key, old)


def test_self_join_of_two_loads_resolves(spark):
    a = load(spark, SF_SMOKE, "lineitem")
    b = load(spark, SF_SMOKE, "lineitem")
    got = (a.join(b, a.l_orderkey == b.l_orderkey)
           .select(a.l_orderkey, a.l_linenumber, b.l_linenumber.alias("r")))
    path = path_for(SF_SMOKE, "lineitem")
    c, d = spark.read.parquet(path), spark.read.parquet(path)
    want = (c.join(d, c.l_orderkey == d.l_orderkey)
            .select(c.l_orderkey, c.l_linenumber, d.l_linenumber.alias("r")))
    assert sorted(got.collect()) == sorted(want.collect())


def test_row_count_is_memoized_per_file(spark, tmp_path):
    path = path_for(str(tmp_path), "documents")
    _docs(path)
    assert row_count(spark, str(tmp_path), "documents") == 2
    before = _next_job_id(spark)
    assert row_count(spark, str(tmp_path), "documents") == 2
    assert _next_job_id(spark) == before
    pq.write_table(pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()),
                             "text": ["a", "b", "c"]}), path)
    assert row_count(spark, str(tmp_path), "documents") == 3
