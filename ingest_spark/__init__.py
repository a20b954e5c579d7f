"""ingest_spark — a PySpark-native analytics/ingestion engine.

A from-scratch re-expression of the capabilities of the reference
streaming-ingestion pipeline (SDU-SE-Big-Data-E24/ingest, studied at
/root/reference) as idiomatic Spark DataFrame / SQL / Structured
Streaming code, extended with the LLM-data-pipeline operator family
(dedup, similarity search, multimodal columns, text analysis) and
designed for 100 TB scale.

Layout:
    session    — SparkSession factory with scale-oriented defaults
    catalog    — test-table loading
    state_tables — crash-safe batch-maintained tables (segment manifest)
    schemas/   — Avro-contract <-> StructType tooling + the 4 contracts
    functions/ — column-level helpers (hashing, vectors, text)
    operators/ — DataFrame -> DataFrame operators (dedup, flatten, ...)
    sources/   — batch/micro-batch source wrappers (REST, JSONSTAT, JDBC)
    streaming/ — Structured Streaming pipelines (ingest->clean->dedup->sink)
"""

__version__ = "0.1.0"

from ingest_spark.session import get_spark  # noqa: F401


def _register_self_pickle_by_value() -> None:
    """Serialize this package's functions BY VALUE into task closures.

    The driver contract allows importing the engine from an arbitrary
    cwd via sys.path; executor Python workers inherit neither that
    sys.path edit nor (necessarily) a cwd containing the package, so a
    mapInPandas/UDF closure that references ingest_spark module
    functions would die with ModuleNotFoundError on the worker.
    Registering the package with cloudpickle ships the referenced
    functions inside the closure instead (covers all submodules via
    cloudpickle's parent-package check). Closure bytes grow by a few
    KB per task — irrelevant next to Arrow batch traffic."""
    try:
        import sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # never block driver-side-only use of the package
        pass


_register_self_pickle_by_value()
