"""mr_py_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query surface of
``donaldpminer/mr.py`` (a lightweight pure-Python MapReduce engine; see
SURVEY.md §0 — the reference checkout was empty this session, so the
surface is reconstructed from the MapReduce pattern catalog the
reference implements, per SURVEY.md §2), extended with the
LLM-data-pipeline operators the driver mandates (dedup, similarity
search, multimodal columns, text analysis) and designed for
100 TB-scale execution on a real cluster.

Layout:
    session.py     - SparkSession factory + per-session conf hardening
    sources/       - table catalog over the driver parquet fixtures
    operators/     - the SURVEY.md §2 operator inventory, one module per slice
    functions/     - reusable column-expression helpers (JVM-side first)
    mr_compat.py   - mapper/reducer veneer (reference API parity, A1-A9)
    streaming/     - Structured Streaming surface (C6-C9)
    registry.py    - query/oracle registry consumed by __spark_entry__.py
    _zipimport.py  - stat-gated zip import cache for Python workers
"""

from mr_py_spark import _zipimport  # noqa: F401  (first: workers run this file)
from mr_py_spark.registry import REGISTRY, register

__all__ = ["REGISTRY", "register"]
__version__ = "0.1.0"
