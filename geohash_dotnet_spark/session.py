"""Recommended SparkSession configuration for this engine.

The JVM-native geohash encode is a deliberately wide expression tree
(grid-index fix-ups + 5 bit-extracts per character). It is rendered as
Spark SQL text and parsed by the JVM in one call per stage
(functions/native.py), but the tree, and so the generated code, is as
wide as if built one Column at a time. Under Spark's
default whole-stage-codegen settings a precision-12 encode embedded in
an aggregate can exceed the JVM's 64 KB method limit, making codegen
fail (noisy ERROR log) and fall back to interpreted evaluation.
``spark.sql.codegen.methodSplitThreshold=128`` keeps the generated code
inside codegen by splitting methods earlier — measurably faster and
silent. The Arrow and AQE flags are the standard fast paths the
operators assume.

Usage::

    from geohash_dotnet_spark.session import apply_recommended
    spark = apply_recommended(SparkSession.builder.master("local[*]")) \
        .getOrCreate()
"""

from __future__ import annotations


def recommended_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    conf = {
        # keep the wide geohash/quality expressions inside whole-stage
        # codegen (split generated methods before the 64 KB JVM limit)
        "spark.sql.codegen.methodSplitThreshold": "128",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.enabled": "true",
        # timestamp windows/literals agree with tz-naive oracles
        "spark.sql.session.timeZone": "UTC",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return conf


def apply_recommended(builder, shuffle_partitions: int | None = None):
    """Apply the recommended configs to a SparkSession.Builder."""
    for k, v in recommended_conf(shuffle_partitions).items():
        builder = builder.config(k, v)
    return builder
