from end_to_end_etl_pipeline_spark.sinks.manifest import BucketedSCD2, ManifestCatalog
from end_to_end_etl_pipeline_spark.sinks.writers import write_csv, write_orc

__all__ = [
    "BucketedSCD2",
    "ManifestCatalog",
    "write_csv",
    "write_orc",
]
