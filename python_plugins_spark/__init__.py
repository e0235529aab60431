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

# Worker-shim bootstrap AT IMPORT TIME, not only in get_spark(): an
# externally-built SparkSession (the driver's correctness gate builds
# its own) launches its JVM whenever getOrCreate first runs — which is
# after this package is imported but possibly never through get_spark.
# Python workers inherit the JVM's env, so PYTHONPATH must carry the
# sitecustomize dir (vendored-protobuf shim for transformWithState)
# before that launch. Idempotent; harmless if the JVM already exists.
import os as _os

_shim_dir = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)), "vendor", "pythonpath")
_pp = _os.environ.get("PYTHONPATH", "")
if _shim_dir not in _pp.split(":"):
    _os.environ["PYTHONPATH"] = f"{_shim_dir}:{_pp}" if _pp else _shim_dir
del _os, _shim_dir, _pp

from python_plugins_spark.session import get_spark, stop_spark
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
