"""Shared fixtures: one local SparkSession for the whole test run.

Mirrors the reference's pytest layout (tests/test_parser.py etc.) but each
operator is exercised as a DataFrame transform over literal rows — unit
tests need no test data directory.
"""

from __future__ import annotations

import pytest

from tower_parse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus="4")
    yield s


@pytest.fixture()
def lines_df(spark):
    """A tiny raw-line table in the probe wire format
    ("<level> RH= <rh> %RH T= <temp> 'C ID=<id>", fake_server.py shape),
    with a sentinel row, a torn row, and a second-format row."""
    rows = [
        # (event_id, ts, line)
        (1, 100.0, "01 RH= +010.500 %RH T= -010.500 'C ID=0000001"),
        (2, 101.0, "02 RH= /// %RH T= +020.000 'C ID=0000002"),  # sentinel
        (3, 102.0, "01 RH= -005.250 %RH T= +005.250 'C ID=0000003"),
        (4, 103.0, "01 RH= +0"),  # torn packet (test_parser.py:33 analog)
        (5, 104.0, "02 RH= +001.000 %RH T= -001.000 'C ID=0000005"),
    ]
    return spark.createDataFrame(rows, "event_id long, ts double, line string")
