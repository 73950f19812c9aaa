"""Streaming-shaped entry point (SURVEY.md §2 O-2, O-28)."""

from hiispider_spark.streaming.continuous import crawl_stream  # noqa: F401
