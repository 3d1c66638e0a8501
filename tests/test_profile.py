"""Job-spec ("device profile") validation — the analyzer layer.

Mirrors the reference's tests/test_config.py matrix: regex compile errors,
unnamed groups, reserved ``time`` (and packer columns), group_by
parsing/type/membership, INI loading. All failures must raise
ConfigurationError at plan time, never at runtime (readport.py:587-620,
211-230 semantics).
"""

from __future__ import annotations

import pytest

from tower_parse_spark.plans.profile import (
    ConfigurationError,
    DeviceProfile,
    GroupSpec,
    validate_regex_branches,
)

OK = r"^(?P<level>\d+) RH= (?P<rh>\S+)$"


def test_variables_in_pattern_order():
    assert validate_regex_branches([OK]) == ["level", "rh"]


@pytest.mark.parametrize(
    "branches",
    [
        [],  # no branches
        [r"^(\d+)$"],  # unnamed group
        [r"^(?P<level>\d+) (\S+)$"],  # mixed named/unnamed
        [r"^no captures$"],  # zero captures
        [r"^(?P<time>\d+)$"],  # reserved name
        [r"^(?P<a>\d+)(?P<a"],  # invalid regex
        [OK, r"^(?P<level>\d+)$"],  # branch schema mismatch
        # the packer's columns: an ungrouped stream's _g key would
        # overwrite the variable, pack_id/pack_seq collide with the
        # columns every pack row gains
        pytest.param([r"^(?P<_g>\d+)$"], id="reserved-_g"),
        pytest.param([r"^(?P<pack_id>\d+)$"], id="reserved-pack_id"),
        pytest.param([r"^(?P<pack_seq>\d+)$"], id="reserved-pack_seq"),
    ],
)
def test_bad_regexes_rejected(branches):
    with pytest.raises(ConfigurationError):
        validate_regex_branches(branches)


@pytest.mark.parametrize("raw", ["level", "level:", ":int", "level:uint8"])
def test_bad_group_specs_rejected(raw):
    with pytest.raises(ConfigurationError):
        GroupSpec.parse(raw)


@pytest.mark.parametrize(
    "raw,var,type_name,spark_type",
    [
        ("level:int", "level", "int", "int"),
        ("rh:float", "rh", "float", "double"),
        ("name:str", "name", "str", "string"),
    ],
)
def test_group_spec_types(raw, var, type_name, spark_type):
    g = GroupSpec.parse(raw)
    assert (g.var, g.type_name, g.spark_type) == (var, type_name, spark_type)


def test_group_by_must_be_captured():
    with pytest.raises(ConfigurationError):
        DeviceProfile(name="x", regex=[OK], group=GroupSpec("missing", "int"))


def test_pack_length_positive():
    with pytest.raises(ConfigurationError):
        DeviceProfile(name="x", regex=[OK], pack_length=0)


def test_from_ini_reference_format(tmp_path):
    """Reference .conf layout: raw regex text with $ anchors and % literals
    (read with raw=True + bytes literal_eval, readport.py:552)."""
    conf = tmp_path / "device.conf"
    conf.write_text(
        """
[device]
name = probe
station = KRP
host = 10.0.0.1
port = 4004
timeout = 30

[parser]
regex = ^(?P<level>\\d+) RH= *(?P<rh>\\S+) %RH$
group_by = level:int
pack_length = 18
"""
    )
    p = DeviceProfile.from_ini(str(conf))
    assert p.variables == ("level", "rh")
    assert p.group == GroupSpec("level", "int")
    assert (p.pack_length, p.host, p.port, p.timeout) == (18, "10.0.0.1", 4004, 30.0)


def test_from_ini_escaped_literal_backslash(tmp_path):
    """A config regex with an escaped literal backslash BEFORE a word
    char ('[\\\\w]' on disk) must decode like the reference's bytes
    literal_eval (readport.py:552): the '\\\\' pair yields ONE
    backslash and the following 'w' stays a plain char. The r8 ADVICE
    scan doubled the pair's second backslash (lookahead re-read it as
    a new escape start), yielding backslash,backslash,w instead."""
    conf = tmp_path / "device.conf"
    conf.write_text(
        "[device]\n"
        "name = probe\n"
        "station = KRP\n"
        "host = 10.0.0.1\n"
        "port = 4004\n"
        "\n"
        "[parser]\n"
        "regex = ^(?P<level>[\\\\w]\\d+)$\n"
        "group_by = level:int\n"
        "pack_length = 4\n"
    )
    p = DeviceProfile.from_ini(str(conf))
    # decoded chars: ^(?P<level>[\w]\d+)$ — exactly what the
    # reference's eval(b'...') produces for the same on-disk bytes
    assert p.regex == ["^(?P<level>[\\w]\\d+)$"]
    assert p.variables == ("level",)


def test_from_ini_missing_file():
    with pytest.raises(ConfigurationError):
        DeviceProfile.from_ini("/nonexistent/x.conf")
