"""A replay fetcher that logs every channel id the program asks it for.

The traced ``daily_week`` run ingests through :class:`LoggingFetcher`, so
``sources.fetchers.channels_fetched`` counts the ids the ingestion job
really requests, not the ones the generator expects it to request.
``fetch_channels`` runs in Spark's Python workers, which unpickle the
fetcher by importing this module: ``run.py`` puts its directory on
``PYTHONPATH`` before the JVM starts.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from youtube_trending_data_pipeline_spark.sources.fetchers import DayFileFetcher


class LoggingFetcher(DayFileFetcher):
    """``DayFileFetcher`` that appends each requested channel id, one per
    line, to ``log_path`` before answering."""

    def __init__(self, day_file: str, log_path: str):
        super().__init__(day_file)
        self.log_path = log_path

    def fetch_channels(self, channel_ids: Sequence[str]) -> list[dict]:
        with open(self.log_path, "a") as fh:
            fh.write("".join(f"{cid}\n" for cid in channel_ids))
        return super().fetch_channels(channel_ids)


def requested(log_path: str) -> list[str]:
    """The ids logged at ``log_path``, in request order; none if no file."""
    if not os.path.exists(log_path):
        return []
    with open(log_path) as fh:
        return fh.read().split()
