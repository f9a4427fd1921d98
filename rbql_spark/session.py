"""Recommended SparkSession configuration for rbql_spark workloads.

``build_session`` encodes the settings the engine is designed around, with
the 100 TB-scale rationale inline.  Local testing and cluster deployment
share the same knobs — only the numbers change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .tuning import wide_partition_num


def build_session(app_name: str = 'rbql-spark',
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  max_partition_bytes: str = '128m',
                  driver_memory: str | None = None) -> SparkSession:
    """Session with the engine's recommended scale configuration.

    Knob rationale (100 TB design points):

    - ``spark.sql.adaptive.enabled`` + skew-join: runtime re-planning
      coalesces small shuffle partitions and splits hot ones — the first
      line of defense for skewed GROUP BY/JOIN keys (ops/skew.salted_join
      is the explicit fallback).
    - ``spark.sql.shuffle.partitions``: target ~128–256 MB per post-shuffle
      partition.  At 100 TB shuffled that is O(500k) partitions — set it
      high and let AQE coalesce, never the reverse.
    - ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` +
      ``advisoryPartitionSizeInBytes``: every batch shuffle starts at
      ``tuning.wide_partition_num`` of the base count (the measured
      decade rule; the width's A/B rationale is there) and AQE coalesces
      down to the 64 MB advisory.  Streaming stateful shuffles are not
      AQE re-planned — the drain helpers scope the base count from the
      source's input bytes instead (rbql_spark.tuning).
    - ``spark.sql.files.maxPartitionBytes``: scan-side split size; 128 MB
      keeps a 1000-executor cluster busy on 100 TB (~800k tasks) without
      task-launch overhead dominating.
    - Arrow execution: every Python-boundary operator in this engine
      (pyeval fallback, vectorized minhash, multimodal decode) is
      Arrow-batched; row-at-a-time Python is never on the hot path.
    - ``spark.sql.execution.arrow.maxRecordsPerBatch``: bounds Python worker
      memory per batch for wide text rows.
    """
    cpus = os.cpu_count() or 4
    if master is None:
        master = 'local[{}]'.format(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = cpus if master.startswith('local') else 2000
    b = (SparkSession.builder
         .master(master)
         .appName(app_name)
         .config('spark.sql.adaptive.enabled', 'true')
         .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
         .config('spark.sql.adaptive.skewJoin.enabled', 'true')
         .config('spark.sql.adaptive.coalescePartitions.initialPartitionNum',
                 str(wide_partition_num(shuffle_partitions)))
         .config('spark.sql.adaptive.advisoryPartitionSizeInBytes', '64m')
         .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
         .config('spark.sql.files.maxPartitionBytes', max_partition_bytes)
         .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
         .config('spark.sql.execution.arrow.maxRecordsPerBatch', '10000')
         .config('spark.serializer', 'org.apache.spark.serializer.KryoSerializer'))
    if driver_memory:
        b = b.config('spark.driver.memory', driver_memory)
    return b.getOrCreate()
