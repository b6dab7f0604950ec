from token_etl_spark.functions.keys import (
    add_collection_prefix,
    strip_collection_prefix,
    transfer_key,
    composite_key,
)
from token_etl_spark.functions.timeops import (
    HOUR,
    DAY,
    unix_seconds,
    bucket,
    hour_bucket,
    day_bucket,
    changelog,
    changelog_entries,
)

__all__ = [
    "add_collection_prefix",
    "strip_collection_prefix",
    "transfer_key",
    "composite_key",
    "HOUR",
    "DAY",
    "unix_seconds",
    "bucket",
    "hour_bucket",
    "day_bucket",
    "changelog",
    "changelog_entries",
]
