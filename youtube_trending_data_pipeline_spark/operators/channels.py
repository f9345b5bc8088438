"""Channel-dimension maintenance (SURVEY §2 J1, P2, C5).

Reference behavior: pull all channel ids into a Python set, then for every
video whose channel is unseen, synchronously fetch + single-row insert
(dags/trending_daily_ingestion.py:135-138, 161-164) — two network round
trips *per new channel*. The Spark formulation is one broadcast anti-join
plus one batch append; intra-batch duplicates collapse with ``distinct``
(the reference's ``channels_set.add`` memoization, ing:164).

Scale note: the video side is the big fan-in table; the known-channels id
projection is small (single column) and is explicitly broadcast so the
anti-join never shuffles the 100 TB side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_channel_ids(videos: DataFrame, channels: DataFrame) -> DataFrame:
    """Distinct channel_ids present in ``videos`` but absent from ``channels``."""
    return (
        videos.select("channel_id")
        .distinct()
        .join(
            F.broadcast(channels.select(F.col("id").alias("channel_id"))),
            on="channel_id",
            how="left_anti",
        )
    )


def apply_channel_defaults(fetched: DataFrame) -> DataFrame:
    """The reference's missing-field defaults (P2/F11, ing:99-107) as a
    pure projection: country -> "Unkown" (sic, ing:101), made_for_kids ->
    false, counts -> 0, keywords -> ""."""
    return fetched.select(
        "id",
        "channel_name",
        F.coalesce("country", F.lit("Unkown")).alias("country"),  # sic, ing:101
        "creation_date",
        F.coalesce("made_for_kids", F.lit(False)).alias("made_for_kids"),
        F.coalesce("subscribers_count", F.lit(0)).alias("subscribers_count"),
        F.coalesce("views_count", F.lit(0)).alias("views_count"),
        F.coalesce("videos_count", F.lit(0)).alias("videos_count"),
        F.coalesce("keywords", F.lit("")).alias("keywords"),
    )


def new_channels(ids: DataFrame, fetched: DataFrame) -> DataFrame:
    """Rows of ``fetched`` channel metadata restricted to the genuinely-new
    ``ids`` (the :func:`new_channel_ids` frame), with the reference's
    missing-field defaults applied (P2, ing:99-107). Taking the id frame
    instead of recomputing the anti-join lets the caller materialize it
    once for the emptiness check, the fetch and this filter."""
    return apply_channel_defaults(
        fetched.join(ids, fetched.id == ids.channel_id, "left_semi")
    ).dropDuplicates(["id"])
