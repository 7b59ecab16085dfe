"""SparkSession factory.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a real
  cluster set it ~2-3x total cores and let AQE coalesce.
- Streaming state: on a local master every stateful operator of a new
  query gets ONE state partition
  (``spark.sql.streaming.internal.stateStore.partitions``), whatever
  ``shuffle_partitions`` is. One JVM and one disk hold every partition
  there, so each extra partition only adds one state-store commit per
  operator and micro-batch — the fixed per-batch cost that dominated the
  keyed stream (state commit p50 405 ms with 4 partitions, 58 ms with 1,
  on 4 vCPU). The reference job keeps its keyed and windowed state at
  parallelism 1 too. Batch shuffles keep ``shuffle_partitions``. On a
  cluster the state follows ``spark.sql.shuffle.partitions``.
- A query's checkpoint fixes its state partition count (the offset log
  records it as ``spark.sql.shuffle.partitions``): a query restarted from
  a checkpoint keeps the count it was started with. To change it, start
  the query on a new checkpoint.
- UTC session timezone so epoch math matches any SQL oracle bit-for-bit.
- Arrow enabled for the (few) pandas-UDF operators — vectorized transfer.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

STATE_PARTITIONS_CONF = "spark.sql.streaming.internal.stateStore.partitions"

_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _configured_master() -> str | None:
    """The master set outside ``get_spark``: the running SparkContext's, or,
    when ``spark-submit`` started this process (its JVM is already up and
    holds the submitted conf), that conf's ``spark.master``. None when
    ``get_spark`` will launch the JVM itself."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        return sc.master
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        return SparkConf().get("spark.master", None)
    return None


def _master_conf(master: str | None, configured: str | None, cpus: str) -> dict[str, str]:
    """The master-dependent builder conf: ``spark.master`` only when the
    caller names one or none is configured (then ``local[cpus]``), and one
    state partition per stateful operator when the master is local."""
    if master is None and configured is None:
        master = f"local[{cpus}]"
    conf = {} if master is None else {"spark.master": master}
    if _LOCAL_MASTER.fullmatch(master or configured):
        conf[STATE_PARTITIONS_CONF] = "1"
    return conf


def get_spark(
    app_name: str = "flink-stream-processing-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to the one already configured (``spark-submit
    --master``, or a running SparkContext), else to
    ``local[$SPARK_GRAFT_CPUS]`` (env, default 32). ``shuffle_partitions``
    defaults to the same core count; on a local master streaming state
    uses one partition regardless (module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .config(map=_master_conf(master, _configured_master(), cpus))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver testdata uses TIMESTAMP(NANOS) parquet, which Spark rejects;
        # read as epoch-nanos long and convert in sources.batch.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
