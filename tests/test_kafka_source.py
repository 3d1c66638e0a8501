"""Kafka source config surface (VERDICT r5 item 7) — broker-free.

The sandbox has neither a Kafka broker nor the spark-sql-kafka connector
jar, so these tests pin the three things that ARE testable here and
break deployments when wrong: the exact reader option dict, the
record->line/ts projection (on a batch frame with the Kafka schema), and
the profile/config validation that gates the source selection.
"""

from __future__ import annotations

import os

import pytest

from tower_parse_spark.plans.profile import ConfigurationError, DeviceProfile
from tower_parse_spark.streaming import sources as SRC
from tests.test_reference_configs import REF as REFERENCE

REGEX = [r"(?P<level>\d+) V=(?P<v>\S+)"]


def test_kafka_source_options_exact():
    opts = SRC.kafka_source_options("k1:9092,k2:9092", "tower-lines")
    assert opts == {
        "failOnDataLoss": "false",
        "kafka.bootstrap.servers": "k1:9092,k2:9092",
        "subscribe": "tower-lines",
        "startingOffsets": "latest",
    }
    # overrides layer on top of the defaults
    opts = SRC.kafka_source_options(
        "k1:9092", "t", starting_offsets="earliest",
        extra={"maxOffsetsPerTrigger": "100000"},
    )
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "100000"


def test_kafka_source_options_required():
    with pytest.raises(ValueError, match="bootstrap"):
        SRC.kafka_source_options("", "topic")
    with pytest.raises(ValueError, match="topic"):
        SRC.kafka_source_options("k1:9092", "")


def test_kafka_projection_yields_line_ts_contract(spark):
    """The value/timestamp projection on a Kafka-schema batch frame
    produces the engine's (line string, ts double) source contract —
    bytes decode UTF-8, broker timestamp becomes epoch seconds."""
    raw = spark.createDataFrame(
        [
            (b"01 RH= +050.000 %RH", "2026-01-02 03:04:05.5"),
            (b"02 RH= -010.500 %RH", "2026-01-02 03:04:06"),
        ],
        "value binary, timestamp string",
    ).selectExpr("value", "CAST(timestamp AS TIMESTAMP) AS timestamp")
    out = SRC.kafka_project(raw).collect()
    assert [r["line"] for r in out] == [
        "01 RH= +050.000 %RH",
        "02 RH= -010.500 %RH",
    ]
    assert [type(r["ts"]) for r in out] == [float, float]
    assert out[1]["ts"] - out[0]["ts"] == pytest.approx(0.5)


def test_profile_kafka_source_roundtrip(tmp_path):
    conf = tmp_path / "kafka.conf"
    conf.write_text(
        "[device]\n"
        "name = tower1\n"
        "source = kafka\n"
        "kafka_servers = broker-a:9092,broker-b:9092\n"
        "kafka_topic = tower-lines\n"
        "[parser]\n"
        "regex = (?P<level>\\d+) V=(?P<v>\\S+)\n"
        "pack_length = 100\n"
        "[logging]\n"
    )
    p = DeviceProfile.from_ini(str(conf))
    assert p.source == "kafka"
    assert p.kafka_servers == "broker-a:9092,broker-b:9092"
    assert p.kafka_topic == "tower-lines"


def test_profile_kafka_requires_servers_and_topic():
    with pytest.raises(ConfigurationError, match="kafka_servers"):
        DeviceProfile(name="x", regex=REGEX, source="kafka")
    with pytest.raises(ConfigurationError, match="source must be"):
        DeviceProfile(name="x", regex=REGEX, source="pulsar")
    with pytest.raises(ConfigurationError, match="spool_dir"):
        DeviceProfile(name="x", regex=REGEX, source="file")


@pytest.mark.skipif(
    not os.path.isdir(REFERENCE), reason="reference tree not available"
)
def test_reference_configs_keep_socket_default():
    """Reference .conf files carry no 'source' key — they must keep the
    socket source (additive option, zero behavior change)."""
    from tests.test_reference_configs import all_confs

    paths = all_confs()
    assert paths, "reference config list must not be empty"
    for path in paths:
        assert DeviceProfile.from_ini(path).source == "socket"


def test_build_source_file_and_rate(spark, tmp_path):
    """The dispatch covers the sandbox-runnable kinds end-to-end."""
    spool = tmp_path / "spool"
    spool.mkdir()
    p = DeviceProfile(
        name="x", regex=REGEX, source="file", spool_dir=str(spool)
    )
    df = SRC.build_source(spark, p)
    assert df.isStreaming and set(df.columns) == {"line", "ts"}
    p2 = DeviceProfile(name="x", regex=REGEX, source="rate")
    df2 = SRC.build_source(spark, p2)
    assert df2.isStreaming and set(df2.columns) == {"line", "ts"}
