"""img2dataset_spark — a PySpark-native analytics/ETL engine with the
query and data-processing capabilities of rom1504/img2dataset.

The reference (at /root/reference, v1.47.0) is a fixed-topology Python
pipeline: scan url table -> shard -> fetch -> validate/transform -> sharded
sinks + stats.  This engine re-expresses that plan — and every operator in
it — as idiomatic PySpark DataFrame operations so each piece is also usable
(and testable) as a standalone relational operator, and adds the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal columns) the reference does not have.

Public API:
    download(...)          -- reference-compatible entry point (main.py:73)
    PipelineConfig         -- the ~40-knob config ("the query")
    load(...)              -- 11-format input reader (reader.py:55-120)
    build_pipeline(...)    -- config -> lazy DataFrame plan

Importing the package also stops Python workers from re-reading Spark's
own archives on every task (see spark_archives).
"""

import img2dataset_spark.spark_archives  # noqa: F401  (first: installs the override)
from img2dataset_spark.config import PipelineConfig
from img2dataset_spark.sources.reader import load
from img2dataset_spark.plans.pipeline import build_pipeline, download

__version__ = "0.1.0"

__all__ = ["PipelineConfig", "load", "build_pipeline", "download", "__version__"]
