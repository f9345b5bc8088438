"""Pipeline reads by declared schema, and the landed bronze day's plan.

``read_table`` scans with the schemas.py StructType instead of inferring
the Parquet schema (a footer-reading Spark job per read). These tests pin
that the declared schemas still describe what the jobs write, that the
read launches no job, and that a missing table still raises the
AnalysisException the first-run branch of run_daily_ingestion catches.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.errors import AnalysisException

from tests.conftest import make_day_json
from youtube_trending_data_pipeline_spark import schemas
from youtube_trending_data_pipeline_spark.pipeline import (
    PipelineConfig,
    run_daily_aggregates,
    run_daily_ingestion,
)
from youtube_trending_data_pipeline_spark.sources.fetchers import (
    DayFileFetcher,
    bronze_from_fetcher,
)
from youtube_trending_data_pipeline_spark.sources.tables import read_table

TABLES = [
    ("videos_dir", schemas.DAILY_TRENDING_VIDEOS),
    ("channels_dir", schemas.CHANNELS),
    ("insights_dir", schemas.DAILY_INSIGHTS),
]


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """Two days through run_daily_ingestion (with the fetcher, so the
    channels table is written too) and run_daily_aggregates."""
    root = tmp_path_factory.mktemp("lake")
    cfg = PipelineConfig(
        bronze_dir=str(root / "bronze"),
        videos_dir=str(root / "videos"),
        channels_dir=str(root / "channels"),
        insights_dir=str(root / "insights"),
    )
    src = root / "fetched.json"
    src.write_text(json.dumps(make_day_json()))
    for d in (dt.date(2025, 10, 6), dt.date(2025, 10, 7)):
        run_daily_ingestion(spark, cfg, d, fetcher=DayFileFetcher(str(src)))
        run_daily_aggregates(spark, cfg, d)
    return cfg


def _shape(schema):
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("attr,schema", TABLES, ids=[a for a, _ in TABLES])
def test_declared_schema_matches_parquet_inference(spark, lake, attr, schema):
    path = getattr(lake, attr)
    inferred = spark.read.parquet(path).schema
    assert _shape(read_table(spark, path, schema).schema) == _shape(inferred)


@pytest.mark.parametrize("attr,schema", TABLES, ids=[a for a, _ in TABLES])
def test_declared_schema_read_launches_no_job(spark, lake, attr, schema):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    read_table(spark, getattr(lake, attr), schema)
    assert set(tracker.getJobIdsForGroup()) == before


def test_declared_schema_read_of_missing_path_raises(spark, tmp_path):
    with pytest.raises(AnalysisException):
        read_table(spark, str(tmp_path / "absent"), schemas.CHANNELS)


def test_fetched_bronze_plans_as_json_file_scan(spark, tmp_path):
    """The fetched day reaches Spark as a scan of the landed JSON file,
    not as a pickled Python RDD of the payload rows."""
    src = tmp_path / "fetched.json"
    src.write_text(json.dumps(make_day_json()))
    bronze = bronze_from_fetcher(
        spark, DayFileFetcher(str(src)), ["QA", "US", "DE"],
        str(tmp_path / "bronze" / "2025-10-06.json"),
    )
    plan = bronze._jdf.queryExecution().executedPlan().toString()
    assert "FileScan json" in plan
    assert "Scan ExistingRDD" not in plan
    assert bronze.count() == 3
