"""erigon_extract_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL (jlokier/erigon-extract): Ethereum state
history extraction, transpose to address-major order, first-block re-keying,
as-of state queries — plus large-scale training-data pipeline operators
(exact-hash dedup, text analysis).

Design notes
------------
Everything is declared through the DataFrame/SQL API so Catalyst handles
predicate pushdown, column pruning, join selection and AQE re-planning.
Pandas UDFs (Arrow-vectorized) are used only where built-ins genuinely
cannot express the semantics (binary blob decoding, u256 arithmetic,
keccak-free fingerprints).

Scale posture: operators assume a multi-executor cluster. Joins against
small dimensions are broadcast; big sorts use range repartitioning (so the
reference's single-threaded k-way merge, erigon_extract.c:2732-2733,
parallelizes); skew is left to AQE plus optional salting helpers.
"""

__version__ = "0.1.0"

from erigon_extract_spark.session import get_spark  # noqa: F401
