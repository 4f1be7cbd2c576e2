"""vstream-spark: a PySpark-native engine with the query and data-processing
capabilities of ZJU-DAILY/VStream (streaming top-k vector search over mutable
vector collections with TTL freshness), rebuilt Spark-first.

Layout:
  session       SparkSession factory tuned for the engine
  config        engine configuration objects (mirrors reference Parameters.java surface)
  queries       the declared query registry (REGISTRY) and its oracles
  functions/    scalar/array expression library (distances, text analysis, hashing)
  index/        per-partition vector indexes (numpy HNSW, IVF, PQ)
  operators/    DataFrame-composable operators (kNN, merge, dedup, similarity join)
  partitioners/ exchange operators (LSH, space-filling curves, k-means, simple)
  sources/      readers (fvecs/bvecs decode, stream replay, testdata fixtures)
  storage/      segment store (LSM analog), manifest and segment search
  streaming/    Structured Streaming pipelines and in-state vector search
  plans/        plan inspection helpers
"""

from vstream_spark.config import PartitionerConf, VectorIndexConf
from vstream_spark.session import get_spark

__all__ = [
    "PartitionerConf",
    "VectorIndexConf",
    "get_spark",
]
__version__ = "0.1.0"
