"""Deployment profiles (r16, VERDICT-r15 #5): the production scale
settings live in code, the local default stays comparable with the
numbers recorded in OPTIMIZATION_r15/r16.md."""

import pytest

from hillview_spark.session import PROFILES, get_spark


def test_local_profile_adds_nothing():
    # local runs must use the exact same session confs as every
    # recorded measurement — "local" is required to be a no-op
    assert PROFILES["local"] == {}


def test_production_profile_pins_documented_values():
    p = PROFILES["production"]
    # measured r15 (OPTIMIZATION_r15.md): the 100-TB coalescing
    # policy — and the reason it must NOT leak into local defaults
    assert (
        p["spark.sql.adaptive.coalescePartitions.parallelismFirst"]
        == "false"
    )
    assert p["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "256m"
    assert p["spark.sql.files.maxPartitionBytes"] == "512m"
    assert p["spark.sql.parquet.compression.codec"] == "zstd"
    assert p["spark.sql.execution.arrow.maxRecordsPerBatch"] == "10000"


def test_unknown_profile_fails_loudly(monkeypatch):
    with pytest.raises(ValueError, match="unknown deployment profile"):
        get_spark(profile="staging")
    # the env var path takes the same gate
    monkeypatch.setenv("SPARK_GRAFT_PROFILE", "nonsense")
    with pytest.raises(ValueError, match="unknown deployment profile"):
        get_spark()
