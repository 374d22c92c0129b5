"""Generated code stays resident across repeated queries.

Spark caches compiled whole-stage and expression classes JVM-wide,
bounded by ``spark.sql.codegen.cache.maxEntries``. At Spark's default
of 100 entries, one pass of these six queries (about 155 distinct
classes) evicts its own classes before they are reused, so every
repeat recompiles all of them. get_session sizes the cache to the
engine's working set (session.CODEGEN_CACHE_ENTRIES), so a repeat
compiles nothing.
"""

from pyspark.sql import SparkSession

from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
    all_queries,
)

# The llm-notebook benchmark workload: dedup, vector search, text and
# the notebook's MLlib and write paths.
QUERIES = (
    "minhash_lsh",
    "ivf_probe",
    "text_quality",
    "string_indexer",
    "csv_ingest",
    "merge_upsert",
)


def _compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (one per codegen cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark: SparkSession, sf_dir: str) -> int:
    qs = all_queries()
    before = _compiles(spark)
    for name in QUERIES:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_repeated_queries_compile_nothing(spark, sf_dir):
    first = _run_pass(spark, sf_dir)
    second = _run_pass(spark, sf_dir)
    # The first pass compiles whatever earlier tests left uncompiled;
    # the repeat must find every class resident. Measured on sf0.001:
    # 153 then 0 compiles; with the default 100-entry cache, 159 then 126.
    assert second == 0, (first, second)
