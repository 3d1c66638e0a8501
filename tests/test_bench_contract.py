"""bench.py's output contract: one JSON line on stdout.

The reader of that line keeps only the last ~2 kB of stdout and parses
the final line, so the line must fit that tail with every headline query
in it. These tests run ``bench.main()`` on canned queries and a fake
clock; no Spark session is started.
"""

from __future__ import annotations

import json
import types

import bench

CONTRACT_KEYS = {"metric", "value", "unit", "queries", "sf"}


def _canned(durations):
    """A query callable whose n-th build takes durations[n] seconds (the
    last one repeats); it returns the duration for ``materialize``."""
    calls = []

    def query(spark, sf_dir):
        calls.append(sf_dir)
        return durations[min(len(calls), len(durations)) - 1]

    return query


def _run_main(monkeypatch, capsys, queries, sf_dir="/data/sf0.1"):
    # a fake clock: materializing a canned query advances it
    clock = types.SimpleNamespace(now=0.0)

    def materialize(seconds):
        clock.now += seconds

    fake_time = types.SimpleNamespace(monotonic=lambda: clock.now)
    monkeypatch.setattr(bench, "time", fake_time)
    monkeypatch.setattr(bench, "materialize", materialize)
    monkeypatch.setattr("tower_parse_spark.session.get_spark", lambda name: None)
    monkeypatch.setattr("__spark_entry__.queries", lambda: queries)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    assert bench.main() == 0
    return capsys.readouterr()


def test_full_headline_at_99_9s_fits_the_stdout_tail(monkeypatch, capsys):
    queries = {name: _canned([99.9]) for name in bench.HEADLINE}
    out = _run_main(monkeypatch, capsys, queries).out
    line = out.splitlines()[-1]
    assert len(line.encode()) <= 1900
    tail_line = out[-2000:].strip().splitlines()[-1]
    parsed = json.loads(tail_line)
    assert set(parsed) == CONTRACT_KEYS
    assert list(parsed["queries"]) == bench.HEADLINE
    assert len(parsed["queries"]) == 69


def test_one_line_best_of_two_and_a_raising_query_left_out(monkeypatch, capsys):
    def broken(spark, sf_dir):
        raise RuntimeError("canned failure")

    queries = {name: _canned([0.5]) for name in bench.HEADLINE}
    queries["q3_shipping_priority"] = _canned([3.0, 2.04])
    queries["dedup_exact"] = broken
    captured = _run_main(monkeypatch, capsys, queries)

    lines = captured.out.splitlines()
    assert len(lines) == 1
    parsed = json.loads(lines[0])
    assert set(parsed) == CONTRACT_KEYS
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["unit"] == "sec"
    assert "dedup_exact" not in parsed["queries"]
    assert len(parsed["queries"]) == len(bench.HEADLINE) - 1
    assert parsed["queries"]["q3_shipping_priority"] == 2.0
    assert parsed["value"] == round(sum(parsed["queries"].values()), 1)
    assert "dedup_exact" in captured.err
    assert "Traceback" in captured.err
    assert "canned failure" in captured.err


def test_sf_is_parsed_from_the_data_dir(monkeypatch, capsys):
    queries = {name: _canned([0.1]) for name in bench.HEADLINE}
    out = _run_main(monkeypatch, capsys, queries, sf_dir="/data/tpch/sf0.01")
    assert json.loads(out.out)["sf"] == 0.01
