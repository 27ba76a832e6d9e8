from end_to_end_etl_pipeline_spark.sources.readers import (
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_text_lines,
    with_file_metadata,
    with_path_key,
)

__all__ = [
    "read_csv",
    "read_json",
    "read_orc",
    "read_parquet",
    "read_text_lines",
    "with_file_metadata",
    "with_path_key",
]
