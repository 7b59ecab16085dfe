"""``get_spark``'s master choice and its one-state-partition rule, checked
on the suite's running JVM without starting a second one."""

from __future__ import annotations

import pytest
from pyspark import SparkContext

from flink_stream_processing_spark.session import (
    STATE_PARTITIONS_CONF,
    _configured_master,
    _master_conf,
)

ONE = {STATE_PARTITIONS_CONF: "1"}


def test_no_master_anywhere_defaults_to_local_cores_with_one_state_partition():
    assert _master_conf(None, None, "4") == {"spark.master": "local[4]", **ONE}


@pytest.mark.parametrize(
    "submitted", ["yarn", "spark://host:7077", "k8s://https://host:6443", "local-cluster[2,1,1024]"]
)
def test_submitted_cluster_master_is_kept_and_state_follows_shuffle_partitions(submitted):
    """A cluster master from ``spark-submit --master`` is not overridden,
    and no state-partition conf is set: state follows
    ``spark.sql.shuffle.partitions`` there."""
    assert _master_conf(None, submitted, "4") == {}


@pytest.mark.parametrize("submitted", ["local", "local[1]", "local[*]", "local[4,2]"])
def test_submitted_local_master_is_kept_with_one_state_partition(submitted):
    assert _master_conf(None, submitted, "4") == ONE


def test_explicit_master_wins_over_the_configured_one():
    assert _master_conf("local[2]", "yarn", "4") == {"spark.master": "local[2]", **ONE}
    assert _master_conf("yarn", "local[8]", "4") == {"spark.master": "yarn"}


def test_configured_master_reads_the_running_context_or_the_submitted_conf(spark, monkeypatch):
    assert _configured_master() == spark.sparkContext.master == "local[8]"
    # no context yet, and Python started the JVM itself: nothing configured
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert _configured_master() is None
    # spark-submit started this process: its JVM is up and holds the master
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")
    assert _configured_master() == "local[8]"


def test_get_spark_session_has_one_state_partition(spark):
    assert spark.conf.get(STATE_PARTITIONS_CONF) == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
