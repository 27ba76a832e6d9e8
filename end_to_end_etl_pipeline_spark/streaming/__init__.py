from end_to_end_etl_pipeline_spark.streaming.jobs import (
    foreach_batch_agg_maintenance,
    foreach_batch_ann_ingest,
    foreach_batch_scd2,
    sessionize,
    stream_stream_join,
)

__all__ = [
    "foreach_batch_agg_maintenance",
    "foreach_batch_ann_ingest",
    "foreach_batch_scd2",
    "sessionize",
    "stream_stream_join",
]
