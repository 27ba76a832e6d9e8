from end_to_end_etl_pipeline_spark.sinks.manifest import BucketedSCD2, ManifestCatalog
from end_to_end_etl_pipeline_spark.sinks.writers import (
    write_append,
    write_csv,
    write_jsonl_sharded,
    write_orc,
    write_overwrite,
    write_sorted,
)

__all__ = [
    "BucketedSCD2",
    "ManifestCatalog",
    "write_append",
    "write_csv",
    "write_jsonl_sharded",
    "write_orc",
    "write_overwrite",
    "write_sorted",
]
