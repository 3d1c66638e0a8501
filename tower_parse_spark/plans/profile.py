"""Job-spec ("device profile") loading and plan-time validation.

Parity with the reference's config layer (SURVEY.md §2.A13/A25):

- the INI file with sections ``[device] [parser] [logging]`` is the
  reference's entire query language (readport.py:536-584); we load the same
  format with stdlib ConfigParser + ExtendedInterpolation and turn it into
  a typed :class:`DeviceProfile` the plan builder consumes;
- plan-time validation mirrors readport.py:587-620 and 211-230: regex must
  compile, every capture group must be named, ``time`` is reserved (and
  so are the packer's own columns ``_g``, ``pack_id`` and ``pack_seq``),
  ``group_by`` must name a captured variable and use a type in
  {int, float, str} with the ``var:type`` spelling.

Divergences (deliberate, documented): we accept a *list* of regex branches
where the reference needs the third-party ``regex`` module to reuse a group
name across ``|`` alternatives (readport.py:12-16, 602-608) — the engine
compiles branch unions to per-column COALESCE at plan time instead
(SURVEY.md §2.A9), so stdlib ``re`` validation per branch suffices.
"""

from __future__ import annotations

import ast
import configparser
import re
from dataclasses import dataclass, field


class ConfigurationError(Exception):
    """Invalid job spec — matches the reference's fail-at-load behavior
    (readport.py:226-230)."""


RESERVED_TIME = "time"
#: the constant pack key of a profile without ``group_by``
#: (``streaming.pipeline.group_column``)
SINGLE_GROUP = "_g"
#: the columns the packer adds to every row: a captured variable of the
#: same name would be overwritten or collide (``streaming.packs``)
PACKER_COLUMNS = (SINGLE_GROUP, "pack_id", "pack_seq")

#: group_by cast registry — int | float | str only (readport.py:169).
GROUP_TYPES = {"int": "int", "float": "double", "str": "string"}


@dataclass(frozen=True)
class GroupSpec:
    """Optional partition key: ``group_by = <variable>:<type>``
    (readport.py:181-202)."""

    var: str
    type_name: str  # 'int' | 'float' | 'str'

    @property
    def spark_type(self) -> str:
        return GROUP_TYPES[self.type_name]

    @classmethod
    def parse(cls, raw: str) -> "GroupSpec":
        parts = raw.rsplit(":", 1)
        if len(parts) != 2 or not parts[0] or not parts[1]:
            raise ConfigurationError(
                f"group_by must look like 'variable:type', got {raw!r}"
            )
        var, type_name = parts[0].strip(), parts[1].strip()
        if type_name not in GROUP_TYPES:
            raise ConfigurationError(
                f"group_by type must be one of {sorted(GROUP_TYPES)}, got {type_name!r}"
            )
        return cls(var, type_name)

    def validate(self, variables: set[str]) -> None:
        if self.var not in variables:
            raise ConfigurationError(
                f"group_by variable {self.var!r} is not a regex capture group "
                f"(have: {sorted(variables)})"
            )


def validate_regex_branches(branches: list[str]) -> list[str]:
    """Compile-and-check each branch; return the unified variable list.

    Mirrors ``validate_regex`` (readport.py:587-620): all groups must be
    named, ``time`` is reserved. The packer's own columns
    (:data:`PACKER_COLUMNS`) are reserved too. Additionally requires every
    branch of an alternation union to capture the same variable set, so
    the union has one schema (the property the reference gets from the
    ``regex`` module's same-name alternation groups,
    tests/test_parser.py:75-100).

    Returns variables in first-appearance order (deterministic schema).
    """
    if not branches:
        raise ConfigurationError("at least one regex branch is required")
    ordered: list[str] = []
    first: set[str] | None = None
    for branch in branches:
        try:
            pattern = re.compile(branch)
        except re.error as exc:
            raise ConfigurationError(f"invalid regex {branch!r}: {exc}") from exc
        if pattern.groups != len(pattern.groupindex):
            raise ConfigurationError(
                f"all capture groups must be named in {branch!r}"
            )
        if not pattern.groupindex:
            raise ConfigurationError(f"regex {branch!r} captures no variables")
        names = set(pattern.groupindex)
        if RESERVED_TIME in names:
            raise ConfigurationError(
                f"'{RESERVED_TIME}' is a reserved variable name (readport.py:613-618)"
            )
        for name in PACKER_COLUMNS:
            if name in names:
                raise ConfigurationError(
                    f"'{name}' is a reserved variable name (a column the packer adds)"
                )
        if first is None:
            first = names
            ordered = sorted(pattern.groupindex, key=pattern.groupindex.get)
        elif names != first:
            raise ConfigurationError(
                f"alternation branches must capture the same variables: "
                f"{sorted(first)} vs {sorted(names)}"
            )
    return ordered


@dataclass(frozen=True)
class DeviceProfile:
    """The engine's logical job spec: everything the plan builder needs.

    Maps 1:1 onto the reference config (configs/readport_4001.conf et al):
    host/port (streaming source), regex branches (projection), group_by
    (partition key), pack_length (count window), station/name (sink layout).
    """

    name: str
    regex: list[str] = field(default_factory=list)
    group: GroupSpec | None = None
    pack_length: int = 1000
    host: str = "localhost"
    port: int = 0
    timeout: float | None = None
    station: str = "station"
    sentinel: str = "///"
    #: line-source kind (r6, VERDICT r5 item 7): socket (reference
    #: parity/dev), kafka (production — replayable offsets compose with
    #: the exactly-once pack sink), file (spooled logs), rate (synthetic)
    source: str = "socket"
    kafka_servers: str = ""
    kafka_topic: str = ""
    spool_dir: str = ""

    def __post_init__(self) -> None:
        variables = validate_regex_branches(self.regex)
        if self.group is not None:
            self.group.validate(set(variables))
        if self.pack_length <= 0:
            raise ConfigurationError("pack_length must be positive")
        if self.source not in {"socket", "kafka", "file", "rate"}:
            raise ConfigurationError(
                f"source must be socket|kafka|file|rate, got {self.source!r}"
            )
        if self.source == "kafka" and not (
            self.kafka_servers and self.kafka_topic
        ):
            raise ConfigurationError(
                "source=kafka requires kafka_servers and kafka_topic"
            )
        if self.source == "file" and not self.spool_dir:
            raise ConfigurationError("source=file requires spool_dir")
        object.__setattr__(self, "_variables", tuple(variables))

    @property
    def variables(self) -> tuple[str, ...]:
        """Capture-group names in deterministic (first-branch) order."""
        return self._variables  # type: ignore[attr-defined]

    @classmethod
    def from_ini(cls, path: str) -> "DeviceProfile":
        """Load a reference-format ``.conf`` (readport.py:536-584).

        The reference reads the regex option with ``raw=True`` (so ``$``
        anchors and ``%`` literals survive ExtendedInterpolation) and
        literal-evals it into a bytes pattern (readport.py:552); we do the
        same, then decode to str — Spark lines are UTF-8 strings, binary
        payloads are handled upstream as BinaryType + decode (SURVEY.md §7.4).
        """
        cp = configparser.ConfigParser(
            interpolation=configparser.ExtendedInterpolation()
        )
        read = cp.read(path)
        if not read:
            raise ConfigurationError(f"cannot read config file {path!r}")
        try:
            device = cp["device"]
            parser = cp["parser"]
            raw = cp.get("parser", "regex", raw=True)
            # literal-eval interprets \n/\t/\xhh like the reference's
            # eval does, but regex atoms like \d or \S are INVALID bytes
            # escapes — Python keeps them verbatim while emitting a
            # DeprecationWarning per compile. Pre-double exactly those
            # backslashes: byte-identical result, no warning, and the
            # behavior survives the planned py3.x hard error for
            # invalid escapes. Valid escape pairs are consumed
            # ATOMICALLY so the second backslash of an escaped '\\'
            # can never be re-read as the start of a new escape (a
            # lookahead-only scan turned '\\d' into backslash,
            # backslash, d where the reference's eval yields
            # backslash, d — r8 ADVICE).
            raw = re.sub(
                r"(\\[\\'\"abfnrtv0-7x\n])|\\",
                lambda m: m.group(1) or r"\\",
                raw,
            )
            raw_regex = ast.literal_eval("b'{}'".format(raw)).decode(
                "utf-8", errors="replace"
            )
            group_raw = parser.get("group_by", fallback=None)
            return cls(
                name=device.get("name", "device"),
                regex=[raw_regex],
                group=GroupSpec.parse(group_raw) if group_raw else None,
                pack_length=parser.getint("pack_length"),
                host=device.get("host", "localhost"),
                port=device.getint("port", fallback=0),
                timeout=device.getfloat("timeout", fallback=None),
                station=device.get("station", "station"),
                # source selection is an ADDITIVE option: reference
                # configs carry no 'source' key and keep socket behavior
                source=device.get("source", "socket"),
                kafka_servers=device.get("kafka_servers", ""),
                kafka_topic=device.get("kafka_topic", ""),
                spool_dir=device.get("spool_dir", ""),
            )
        except (KeyError, ValueError, SyntaxError) as exc:
            raise ConfigurationError(f"bad config {path!r}: {exc}") from exc
