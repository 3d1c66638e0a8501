"""Parity against the reference's REAL production configs.

Loads every .conf shipped with the reference through our from_ini loader,
validates the regex/group plan, and runs the debug profile end-to-end on
generator-format lines — proof that a user of the reference can point this
engine at their existing device configs unchanged.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tower_parse_spark.functions.extraction import extract_lines
from tower_parse_spark.plans.profile import DeviceProfile
from tower_parse_spark.streaming.sources import generator_batch

REF = "/root/reference"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference tree not available"
)


def all_confs():
    """Every reference .conf, or [] where the reference tree is absent
    (this runs at collection, before the skipif marker applies)."""
    if not os.path.isdir(REF):
        return []
    out = [
        os.path.join(REF, "extras", "debug.conf"),
        os.path.join(REF, "extras", "readport_gill.conf"),
    ]
    cfg_dir = os.path.join(REF, "configs")
    out += sorted(
        os.path.join(cfg_dir, f)
        for f in os.listdir(cfg_dir)
        if f.endswith(".conf")
    )
    return out


@pytest.mark.parametrize(
    "path", all_confs(), ids=[os.path.basename(p) for p in all_confs()]
)
def test_reference_conf_loads_and_plans(path):
    p = DeviceProfile.from_ini(path)
    assert p.variables  # regex validated, schema derived
    assert p.pack_length > 0
    if p.group is not None:
        assert p.group.var in p.variables


def test_debug_conf_parses_generator_lines(spark):
    """extras/debug.conf's regex against the fake_server message shape —
    the reference's own manual end-to-end test (README.md:70-71)."""
    prof = DeviceProfile.from_ini(os.path.join(REF, "extras", "debug.conf"))
    lines = generator_batch(spark, 200).select(
        "seq", F.col("ts"), F.col("line")
    )
    out = extract_lines(lines, prof, extra_cols=["seq"])
    rows = out.collect()
    assert len(rows) == 200  # every generated line parses
    by_seq = {r["seq"]: r for r in rows}
    assert by_seq[0]["level"] == 1 and by_seq[1]["level"] == 2
    assert by_seq[3]["id"] == 3.0
    # group key typed per config (level:int)
    assert dict(out.dtypes)["level"] == "int"


def test_gill_conf_parses_gill_frame(spark):
    """extras/readport_gill.conf against the real Gill frame from the
    reference's parser test (tests/test_parser.py:21), decoded from its
    STX/ETX-framed bytes upstream (SURVEY §7.4 binary path)."""
    prof = DeviceProfile.from_ini(
        os.path.join(REF, "extras", "readport_gill.conf")
    )
    frame = b"\x02Q,+000.079,-000.102,+000.095,M,+014.94,0000001,\x030F\r\n"
    df = spark.createDataFrame(
        [(1, 100.0, bytearray(frame))], "seq long, ts double, payload binary"
    )
    lines = df.withColumn("line", F.decode(F.col("payload"), "UTF-8"))
    row = extract_lines(lines, prof, extra_cols=["seq"]).collect()[0]
    assert (row["u"], row["v"], row["w"], row["temp"]) == (
        0.079, -0.102, 0.095, 14.94,
    )
    assert prof.timeout == 120.0 and prof.pack_length == 12000
