"""PySpark-native analytics engine with the query surface of
apache/datasketches-postgresql, rebuilt Spark-first.

Layers
------
- ``sketches``   : pure-numpy mergeable sketch kernels (theta/KLL/FI/AOD) —
  the algorithmic core, no Spark dependency, unit-testable in isolation.
- ``functions``  : the reference's scalar-function surface as vectorized
  pandas (Arrow) UDFs over BinaryType sketch columns, plus bridges to
  Spark-native HLL (``hll_sketch_agg`` family, Apache DataSketches-compatible).
- ``operators``  : the reference's aggregate surface (sfunc/combinefunc/
  finalfunc protocol, see /root/reference/src/theta_sketch_pg_functions.c:64-334)
  as explicit two-phase DataFrame aggregation: per-partition partial sketch
  via ``mapInPandas`` -> shuffle of tiny serialized states -> final merge via
  ``groupBy().applyInPandas``.
- ``dedup``      : the web-scale near-duplicate pipeline (extraction,
  shingling, MinHash/LSH, SimHash verification, exact-substring containment
  via CDC candidates and a winnowed L-gram verifier, connected-components
  clustering, lineage metrics, checkpoint/resume).
- ``textops``    : training-data-pipeline operators (exact dedup, n-gram
  Jaccard, embedding near-dup / ANN, language-ID, quality scoring, token
  counting, fingerprinting).
- ``sources``    : IO layer (Iceberg-first with Parquet-checkpoint fallback)
  and the deterministic synthetic webtext corpus generator.
- ``streaming``  : Structured Streaming variants (watermarked streaming dedup).
"""

from ._worker import setup_worker as _setup_worker

# Warm-heap tuning and lazy zipimport invalidation: no-ops unless this
# process IS a Spark Python worker — see _worker.py.
_setup_worker()

__version__ = "0.1.0"
