"""candia_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of fburic/candia (reference at /root/reference).

The reference is a batch dataflow pipeline over mass-spectrometry scan data
(long point tables -> interval assignment -> 2-D windowed partitioning ->
dense 3-way tensors -> non-negative PARAFAC -> model selection -> export).
This package re-expresses every stage Spark-first:

- ``candia_spark.operators`` — general relational / window / grouped-kernel
  operators (interval joins, lead/lag window adjustment, greedy ppm
  partitioning, deterministic indexing, NN-PARAFAC, dedup, similarity).
- ``candia_spark.functions`` — scalar/column helper functions (exact decimal
  aggregates, text analysis, fingerprints).
- ``candia_spark.sources`` — readers/sinks (typed CSV scans, the mzML
  parser, ordered single-writer spectra sinks).
- ``candia_spark.plans`` — named end-to-end queries with DuckDB oracle SQL
  (the driver correctness surface).
- ``candia_spark.pipeline`` — the 10 CANDIA stages composed from operators.
"""

from candia_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
