"""pippin_spark — a PySpark-native dataflow-pipeline engine.

A from-scratch reimplementation of the capability surface of the
``n0rdy/pippin`` Go library (fluent concurrent pipeline API: sources →
map/flatMap/filter transforms → terminal aggregations, sync + async,
with status tracking, interruption, timeouts and manual start), built
idiomatically on Spark DataFrames: the logical plan IS the stage graph,
Catalyst/Tungsten replace the reference's goroutine-per-element
execution (reference architecture: pipeline/pipeline.go:30-40,
stages/stage.go:50-61, transform/transform.go:237-340).

Beyond reference parity, the engine adds the relational operators and
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) that a 100 TB training-data pipeline needs — all
expressed Spark-first (native column expressions > pandas UDFs > RDDs).
"""

import sys

from pyspark import cloudpickle

from pippin_spark.config import PipelineConfig, StageConfig
from pippin_spark.errors import (
    PippinError,
    PipelineInterruptedError,
    PipelineTimeoutError,
    ManualStartError,
)
from pippin_spark.futures import PippinFuture
from pippin_spark.pipeline import Pipeline, Stage, GroupedStage
from pippin_spark.session import get_spark
from pippin_spark.statuses import Status

# UDFs ship every function and class of this package by value, so Python
# workers never import pippin_spark: they run it under any session, from
# any working directory, with or without PYTHONPATH
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = [
    "Pipeline",
    "Stage",
    "GroupedStage",
    "PipelineConfig",
    "StageConfig",
    "Status",
    "PippinFuture",
    "PippinError",
    "PipelineInterruptedError",
    "PipelineTimeoutError",
    "ManualStartError",
    "get_spark",
]

__version__ = "0.1.0"
