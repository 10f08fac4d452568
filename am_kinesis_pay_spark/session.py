"""SparkSession factory tuned for the test harness and for scale.

Local harness: ``local[$SPARK_GRAFT_CPUS]`` single JVM. The configs
below are the ones that also matter on a 1000-executor cluster:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
UTC session timezone (oracle parity + cross-cluster determinism),
Arrow for the Pandas-UDF slow path, and one state partition per core
for stateful streaming.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from am_kinesis_pay_spark.compat import ensure_protobuf

# Must run before the JVM spawns: TWS Python workers inherit
# PYTHONPATH + the protobuf version-check flag through the env
# (see compat.py). No-op when protobuf is pip-installed or absent.
ensure_protobuf()

# Partition count of stateful streaming operators in new queries
# (falls back to spark.sql.shuffle.partitions when unset).
STATE_PARTITIONS_CONF = "spark.sql.streaming.internal.stateStore.partitions"


def get_session(app_name: str = "am_kinesis_pay_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Batch shuffles use 32 partitions and AQE coalesces the excess
        # at runtime. Stateful streaming runs with AQE off, so it gets
        # its own count below (one state partition per core).
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-coalesce CACHED plan output too (default false is
        # pure plan-stability conservatism): iterative entries persist
        # hash-repartitioned frames (e.g. the classifier's featurized
        # X) so every round reuses the partitioning without an
        # exchange; with this off, the cache freezes the pre-AQE
        # partition COUNT and every downstream stage pays one task per
        # frozen partition regardless of data size. Scale-neutral: the
        # hash partitioning itself is preserved, only the post-AQE
        # partition count adapts — measured r12: text_classifier_train
        # 551->82 tasks / -20% wall at sf0.1, no plan regressed at
        # either 8 or 32 cores (OPTIMIZATION_r12.md §AQE).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as LONG and convert in tables.load().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.1's async checkpoint-file checksum writer can park
        # RocksDB commit tasks forever when many state partitions
        # finish at once in a single local JVM (seen with the TWS
        # queries when they ran 32 state partitions on a few cores:
        # tasks stuck in ChecksumCancellableFSDataOutputStream.close
        # awaiting a checksum future; not re-checked at one partition
        # per core). It guards DFS checkpoint integrity, which
        # local-dir checkpoints don't need; keep default on clusters.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    )
    # Scale-dependent settings stay parameterised (optimization-round
    # contract): SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overlays arbitrary
    # confs for A/B experiments and cluster profiles without touching
    # the local defaults the driver's bench measures.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in extra.split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Stateful streaming operators (applyInPandasWithState, TWS,
    # streaming aggregation/dedup) run with AQE off, so they would keep
    # all 32 shuffle partitions, and every micro-batch pays a fixed
    # Python-runner + state-store cost per partition, even an empty
    # one. One state partition per core (total executor cores on a
    # cluster) removes that floor; batch plans keep 32 + AQE. A query
    # restarted from a checkpoint keeps the count recorded in its
    # offsets log. An explicit value (SPARK_GRAFT_EXTRA_CONF) wins.
    if spark.conf.get(STATE_PARTITIONS_CONF, None) is None:
        spark.conf.set(
            STATE_PARTITIONS_CONF, str(spark.sparkContext.defaultParallelism)
        )
    return spark
