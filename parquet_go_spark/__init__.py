"""parquet_go_spark — a PySpark-native per-column lightweight-compression
engine with the encoding-layer capabilities of fraugster/parquet-go,
re-expressed Spark-first: vectorized numpy kernels inside Arrow-batched
``mapInPandas``, per-chunk codec auto-selection, salted repartitioning,
and a resumable per-partition manifest.
"""

from parquet_go_spark import _zipcache

# every process that runs engine code imports the package first: Spark
# workers on their first UDF unpickle, forking daemons, --py-files drivers
_zipcache.install()

__version__ = "0.1.0"
