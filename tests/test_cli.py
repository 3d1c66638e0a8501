"""CLI arg handling (A25 parity: --config xor --echo, endpoint checks)."""

from __future__ import annotations

import pytest

from tower_parse_spark.__main__ import build_parser, parse_endpoint


def test_modes_mutually_exclusive():
    p = build_parser()
    with pytest.raises(SystemExit):
        p.parse_args(["--config", "x.conf", "--echo", "h:1"])
    with pytest.raises(SystemExit):
        p.parse_args([])  # one mode required


def test_endpoint_parsing():
    assert parse_endpoint("10.0.0.1:4001") == ("10.0.0.1", 4001)
    # bracketed IPv6, like the reference's urlparse path (readport.py:748)
    assert parse_endpoint("[::1]:4001") == ("::1", 4001)
    for bad in [
        "nohost",
        ":4001",
        "h:notaport",
        "h:99999",
        "localhost:4001",  # reference requires a literal IP, not a hostname
        "10.0.0.1",  # missing port
        "10.0.0.1:0",  # port 0 rejected (falsy, same as reference assert)
    ]:
        with pytest.raises(SystemExit):
            parse_endpoint(bad)


def test_query_mode_runs_and_lists(spark, capsys):
    """--query list prints every registry name; --query NAME shows rows
    on the provided session's JVM (main() fetches the active session)."""
    from tower_parse_spark.__main__ import main

    assert main(["--query", "list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "ann_ivfpq_topk" in out
    assert (
        main(
            ["--query", "q6_forecast_revenue",
             "--sf-dir", "/root/testdata/sf0.001", "--limit", "5"]
        )
        == 0
    )
    assert "revenue" in capsys.readouterr().out


def test_explain_mode_prints_plan(spark, capsys):
    from tower_parse_spark.__main__ import main

    assert main(
        ["--explain", "q6_forecast_revenue", "--sf-dir", "/root/testdata/sf0.001"]
    ) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out


def test_query_mode_unknown_name_exits():
    import pytest

    from tower_parse_spark.__main__ import main

    with pytest.raises(SystemExit, match="unknown query"):
        main(["--query", "nope_not_a_query"])
