from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog
from end_to_end_etl_pipeline_spark.sinks.writers import write_csv, write_orc

__all__ = [
    "ManifestCatalog",
    "write_csv",
    "write_orc",
]
