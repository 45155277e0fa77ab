"""geotile — PySpark-native spatial-join + tiling engine.

Brand-new engine with the query capabilities of freeeyes/geohash
(reference at /root/reference, C++), re-expressed Spark-first:
DataFrame/SQL plans, vectorized numpy kernels behind Arrow-batched
pandas UDFs, partition-pruned cell joins, and an Iceberg-style
manifest layer for resumable pipelines.
"""

# Import no pyspark here: the Python workers start as
# ``python -m geotile._daemon``, which imports this package while Spark's
# pyspark.zip is still on ``sys.path``.
__version__ = "0.1.0"
