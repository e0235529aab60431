"""python_plugins_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the ``data-integrations/python-plugins`` reference
(a CDAP ``PythonEvaluator`` transform plugin,
``src/main/java/io/cdap/plugin/python/transform/PythonEvaluator.java``)
as an idiomatic Spark DataFrame engine:

- :mod:`python_plugins_spark.operators.transform` — the record-level
  Python transform with multi-port emit (emit / emitError / emitAlert),
  declared output schemas, runtime arguments, metrics, logging and
  lookups, vectorized over Arrow batches via ``mapInArrow``.
- :mod:`python_plugins_spark.operators.relational` — named relational
  operators (filter/project/join/agg/window/topk/setops/...) as thin
  Catalyst-native wrappers.
- :mod:`python_plugins_spark.operators.dedup`,
  :mod:`python_plugins_spark.operators.similarity`,
  :mod:`python_plugins_spark.operators.text`,
  :mod:`python_plugins_spark.operators.multimodal` — LLM-training-data
  pipeline operators (dedup families, ANN search, text analysis,
  multimodal binary columns) designed for 100 TB scale.
- :mod:`python_plugins_spark.streaming` — the same transform surface
  over Structured Streaming plus watermark/window/session helpers.
"""

import os

#: Scratch directory of this checkout, ``<checkout>/.scratch`` (git-ignored):
#: fixtures, tables and indexes that queries and tests write.
#: Derived from the package's own location, so two checkouts never share it.
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

from python_plugins_spark.session import ensure_worker_hook, get_spark, stop_spark

# Worker start-up hook AT IMPORT TIME, not only in get_spark(): an
# externally-built SparkSession (the driver's correctness gate builds
# its own) launches its JVM whenever getOrCreate first runs — which is
# after this package is imported but possibly never through get_spark.
# Python workers inherit the JVM's env, so PYTHONPATH must carry the
# hook dir before that launch. Harmless if the JVM already exists.
ensure_worker_hook()
from python_plugins_spark.schema import cdap_schema_to_spark, spark_schema_to_cdap
from python_plugins_spark.operators.transform import (
    PythonTransformError,
    TransformResult,
    python_transform,
)

__all__ = [
    "get_spark",
    "stop_spark",
    "cdap_schema_to_spark",
    "spark_schema_to_cdap",
    "python_transform",
    "PythonTransformError",
    "TransformResult",
]

__version__ = "0.1.0"
