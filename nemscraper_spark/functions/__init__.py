from nemscraper_spark.functions.columns import (
    clean_str,
    date_from_filename,
    epoch_ms,
    time_bucket,
)

__all__ = [
    "clean_str",
    "date_from_filename",
    "epoch_ms",
    "time_bucket",
]
