"""map_reduce485_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference MapReduce framework (sohammehendale/map_reduce485, surveyed in
SURVEY.md), re-expressed Spark-first:

- **Layer A** (`map_reduce485_spark.mapreduce`): a MapReduce-compatible core
  with the exact semantic contract of the reference — line-oriented text data
  model, tab-separated keys, executable mappers/reducers over stdin/stdout,
  hash-partitioned shuffle with (key, value)-sorted reduce input, part-file
  output with overwrite semantics.  Scheduling, shuffle transport, sorting,
  merging, fault tolerance and cluster membership (reference
  ``manager/__main__.py`` + ``worker/__main__.py``) are delegated to Spark.

- **Layer B** (`map_reduce485_spark.operators`, `.queries`, `.streaming`):
  a DataFrame-native operator surface — typed scans, select/filter/join/
  aggregate/window/sort/set-ops, scalar function surface, plus the
  LLM-data-pipeline operators (deduplication, similarity search, text
  analysis, multimodal columns) designed for 100 TB scale.

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

import importlib

# Resolved on first use (PEP 562), so importing the package does not import
# pyspark: the engine's worker entry (`daemon.py`) runs inside it and must
# trim sys.path before pyspark is imported.
_EXPORTS = {
    "get_spark": "map_reduce485_spark.session",
    "TABLES": "map_reduce485_spark.catalog",
    "load_tables": "map_reduce485_spark.catalog",
    "register_views": "map_reduce485_spark.catalog",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value
