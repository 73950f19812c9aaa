"""Sources & storage: Iceberg-like versioned-parquet catalog and the
deterministic crawl-corpus synthesizer (SURVEY.md §7 M0)."""

from hiispider_spark.sources.catalog import IcebergLike  # noqa: F401
from hiispider_spark.sources.synth import (  # noqa: F401
    EPOCH0,
    SynthConfig,
    synth_pages,
    synth_robots,
    synth_seeds,
)
from hiispider_spark.sources.sitemap import parse_sitemaps  # noqa: F401
