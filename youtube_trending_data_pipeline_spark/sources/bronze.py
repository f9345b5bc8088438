"""Bronze layer: raw per-day JSON documents.

Reference shape (SURVEY.md §1.2): one JSON object per day mapping region
code -> a verbatim YouTube ``videoListResponse``
(dags/trending_daily_ingestion.py:76-91). The engine reads it with an
explicit schema — no inference pass over 100 TB of JSON — and immediately
demultiplexes to one row per (region, item): the reference's nested
``for region: for video:`` loops (ing:154-160) become two explodes that
Catalyst parallelizes per input split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from youtube_trending_data_pipeline_spark.schemas import VIDEO_LIST_RESPONSE


def read_bronze_day(
    spark: SparkSession,
    path: str,
    regions: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Read day-file(s) at ``path`` -> columns (region, response).

    The top-level object maps region -> response, so the file is read with
    every requested region as an optional struct field, then unpivoted with
    a generator expression. Absent regions produce no rows — the semantics
    of the reference's ``if region in today_json`` guard (ing:155, P7).

    ``regions`` defaults to the reference's DEFAULT_REGIONS (ing:29); at
    scale pass the full region list — the scan stays one pass regardless.

    ``strict=False`` (default) reads PERMISSIVE: a malformed day-file
    yields null region structs, which the demultiplex drops — ingestion
    survives one bad file out of thousands. ``strict=True`` uses FAILFAST
    for backfills where silent data loss is worse than an abort.
    """
    regions = regions or ["QA", "US", "DE"]
    schema = StructType([StructField(r, VIDEO_LIST_RESPONSE) for r in regions])
    raw = (
        spark.read.schema(schema)
        .option("multiLine", True)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        .json(path)
    )
    # region demultiplex (SURVEY §2 J4): map-of-structs -> rows, dropping
    # regions that are absent from the file.
    stacked = raw.select(
        F.explode(
            F.map_filter(
                F.create_map(
                    *[x for r in regions for x in (F.lit(r), F.col(r))]
                ),
                lambda _, v: v.isNotNull(),
            )
        ).alias("region", "response")
    )
    return stacked


def read_bronze_days(
    spark: SparkSession,
    path_glob: str,
    regions: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Bulk multi-day scan: like :func:`read_bronze_day` but ONE pass
    over a glob of day-files, each row carrying its own ``file_date``
    (parsed from the ``YYYY-MM-DD.json`` filename) — the backfill path.

    The reference can only backfill by looping its daily DAG run-by-run
    (one Airflow dagrun per date, dags/trending_daily_ingestion.py:218);
    here a multi-year backfill is a single Spark job: every day-file is
    one input task, so a 1000-executor cluster ingests N years with the
    same code and N-fold parallelism instead of N sequential runs.

    A ``.json`` file whose name does NOT carry a ``YYYY-MM-DD`` date
    gets ``file_date = NULL`` — its rows are KEPT and land in the null
    date partition rather than being dropped silently, so a misnamed
    file is visible in the output instead of vanishing (the pipeline
    itself always writes date-named files; this only bites foreign
    files placed in the bronze directory).

    Output: (file_date, region, response).
    """
    regions = regions or ["QA", "US", "DE"]
    schema = StructType([StructField(r, VIDEO_LIST_RESPONSE) for r in regions])
    raw = (
        spark.read.schema(schema)
        .option("multiLine", True)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        .json(path_glob)
        .withColumn(
            "file_date",
            F.to_date(
                F.regexp_extract(
                    F.input_file_name(), r"(\d{4}-\d{2}-\d{2})\.json", 1
                )
            ),
        )
    )
    return raw.select(
        "file_date",
        F.explode(
            F.map_filter(
                F.create_map(
                    *[x for r in regions for x in (F.lit(r), F.col(r))]
                ),
                lambda _, v: v.isNotNull(),
            )
        ).alias("region", "response"),
    )


def region_items(bronze: DataFrame) -> DataFrame:
    """(region, response) -> one row per (region, item) (J4 second explode)."""
    return bronze.select(
        "region", F.explode("response.items").alias("item")
    )


def write_bronze_day(
    bronze: DataFrame, path: str, regions: list[str] | None = None
) -> None:
    """Persist the raw day (S3 sink parity: ing:83-91) as JSON under ``path``.

    Written in the reference's day-file shape — ONE JSON object mapping
    region code -> response (assets/2025-10-06.json) — so the sink's
    output is readable by :func:`read_bronze_day`: (region, response)
    rows pivot to one wide row whose columns are the region codes.
    Passing ``regions`` skips the tiny distinct-scan pivot inference.

    This sink is for bronze frames already built in Spark, and ``path``
    becomes a Spark output directory holding one part-file. Fetched days
    do not come through here: sources.fetchers.bronze_from_fetcher lands
    them as one plain file at the day path."""
    if regions is None:
        regions = sorted(
            r["region"] for r in bronze.select("region").distinct().collect()
        )
    if not regions:  # nothing fetched today: persist an empty day object
        bronze.sparkSession.createDataFrame([()], StructType([])).coalesce(
            1
        ).write.mode("overwrite").json(path)
        return
    day = (
        bronze.groupBy()
        .pivot("region", regions)
        .agg(F.first("response"))
        .coalesce(1)
    )
    day.write.mode("overwrite").json(path)
