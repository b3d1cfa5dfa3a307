from combblas_spark.streaming.incremental import (  # noqa: F401
    IncrementalCC,
)
