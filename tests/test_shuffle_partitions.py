"""The initial shuffle partition count follows the session's worker threads.

``get_spark`` gives a ``local[k]`` session ``2*k`` partitions instead of a
fixed 32: the exchanges AQE cannot coalesce (a pinned repartition, a local
checkpoint, a persisted relation) keep the initial count, and 32 of them
on 2 threads spent more CPU on tasks than on the work. The rule is tested
as a pure function, so no second JVM is started beside the suite's.
"""

from __future__ import annotations

import os

import pytest

from hive3_replication_spark.session import (
    CLUSTER_SHUFFLE_PARTITIONS,
    shuffle_partitions_for,
)


@pytest.fixture(autouse=True)
def _no_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_SHUFFLE_PARTITIONS", raising=False)


@pytest.mark.parametrize(
    "master, cores, want",
    [
        ("local[2]", 16, 4),
        ("local[*]", 6, 12),
        ("local[*]", 1, 2),
        ("local[4,2]", 16, 8),
        ("local[*, 3]", 5, 10),
        ("local", 16, 2),
    ],
)
def test_local_master_gets_two_partitions_per_thread(master, cores, want):
    assert shuffle_partitions_for(master, cores) == want


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://api:6443",
               "local-cluster[2,1,1024]"]
)
def test_cluster_master_keeps_the_fixed_count(master):
    assert shuffle_partitions_for(master, 4) == CLUSTER_SHUFFLE_PARTITIONS == 32


def test_explicit_argument_wins(monkeypatch):
    assert shuffle_partitions_for("local[2]", 4, requested=37) == 37
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "5")
    assert shuffle_partitions_for("yarn", 4, requested=37) == 37


def test_env_var_wins_over_the_rule(monkeypatch):
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "5")
    assert shuffle_partitions_for("local[2]", 4) == 5
    assert shuffle_partitions_for("yarn", 4) == 5


@pytest.mark.skipif(
    bool(os.environ.get("H3R_PLAIN_SESSION")),
    reason="a session built outside get_spark keeps Spark's default",
)
def test_suite_session_carries_its_explicit_count(spark):
    # conftest builds local[4] through get_spark with shuffle_partitions=8
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
