"""The packer's worker-side zip directory fix, without Spark.

``make_packer`` nests ``share_zip_directories`` in the packer's closure so
cloudpickle ships it by value. These tests check that nothing in the
pickled packer names a ``tower_parse_spark`` module, and drive the helper
on a zip package built in a temp dir: after it is installed, an unchanged
archive is not re-read on ``importlib.invalidate_caches()`` and all its
zipimporters share one directory dict, while a rewritten archive is.
"""

from __future__ import annotations

import importlib
import pickletools
import sys
import zipfile
import zipimport

import pytest
from pyspark import cloudpickle

from tower_parse_spark.streaming.packs import make_packer

EAGER = sys.version_info < (3, 13) and not hasattr(
    zipimport.zipimporter, "_get_files"
)
eager_only = pytest.mark.skipif(
    not EAGER, reason="zipimport already re-reads lazily"
)

STRING_OPS = {
    "STRING", "BINSTRING", "SHORT_BINSTRING",
    "UNICODE", "BINUNICODE", "SHORT_BINUNICODE", "BINUNICODE8",
}


def pickled_globals(payload: bytes) -> list[tuple[str, str]]:
    """Every ``(module, name)`` a pickle looks up by reference, resolving
    the strings that ``STACK_GLOBAL`` takes from the stack or the memo."""
    memo: dict[int, object] = {}
    pushed: list[object] = []
    found = []
    for op, arg, _ in pickletools.genops(payload):
        if op.name == "GLOBAL":
            found.append(tuple(arg.split(" ", 1)))
            pushed.append(None)
        elif op.name == "STACK_GLOBAL":
            found.append((pushed[-2], pushed[-1]))
            pushed.append(None)
        elif op.name in STRING_OPS:
            pushed.append(arg)
        elif op.name in ("GET", "BINGET", "LONG_BINGET"):
            pushed.append(memo.get(arg))
        elif op.name == "MEMOIZE":
            memo[len(memo)] = pushed[-1]
        elif op.name in ("PUT", "BINPUT", "LONG_BINPUT"):
            memo[arg] = pushed[-1]
        else:
            pushed.append(None)
    return found


def share_zip_directories():
    packer = make_packer(4, ["time"], ["time", "x"])
    cells = dict(zip(packer.__code__.co_freevars, packer.__closure__))
    return cells["share_zip_directories"].cell_contents


def test_pickled_packer_names_no_package_module():
    found = pickled_globals(
        cloudpickle.dumps(make_packer(4, ["time"], ["time", "x"]))
    )
    assert found  # the walk sees cloudpickle's own by-reference lookups
    assert not [
        (mod, name) for mod, name in found
        if str(mod).split(".")[0] == "tower_parse_spark"
    ]


PACKAGE = {
    "zdirpkg/__init__.py": "",
    "zdirpkg/sub/__init__.py": "",
    "zdirpkg/sub/leaf/__init__.py": "",
    "zdirpkg/sub/leaf/mod.py": "VALUE = 1\n",
}


def write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in files.items():
            zf.writestr(name, source)


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """An imported three-level zip package on ``sys.path``; yields the
    archive path and a list that records each ``_read_directory`` of it.
    The original ``invalidate_caches`` is restored afterwards."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    archive = str(tmp_path / "zdirpkg.zip")
    write_zip(archive, PACKAGE)
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zdirpkg.sub.leaf.mod")

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zdirpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def importers(archive):
    return [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@eager_only
def test_unchanged_archive_is_read_once_and_shared(zip_package):
    archive, reads = zip_package
    assert len(importers(archive)) == 4  # root, zdirpkg, sub, leaf
    importlib.invalidate_caches()
    # the eager behaviour: one read and one private dict per importer
    assert len(reads) == 4
    assert len({id(f._files) for f in importers(archive)}) == 4

    share_zip_directories()()
    shared = zipimport._zip_directory_cache[archive]
    assert all(f._files is shared for f in importers(archive))
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert all(f._files is shared for f in importers(archive))


@eager_only
def test_rewritten_archive_is_read_again(zip_package):
    archive, reads = zip_package
    share_zip_directories()()
    write_zip(archive, {**PACKAGE, "zdirpkg/sub/leaf/fresh.py": "VALUE = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    shared = zipimport._zip_directory_cache[archive]
    assert all(f._files is shared for f in importers(archive))
    assert importlib.import_module("zdirpkg.sub.leaf.fresh").VALUE == 2


@eager_only
def test_second_install_is_a_no_op(zip_package):
    archive, reads = zip_package
    share_zip_directories()()
    installed = zipimport.zipimporter.invalidate_caches
    reads.clear()
    share_zip_directories()()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert reads == []


@pytest.mark.parametrize("shape", ["python_3_13", "lazy_zipimport"])
def test_gate_leaves_other_interpreters_alone(zip_package, monkeypatch, shape):
    archive, reads = zip_package
    if shape == "python_3_13":
        monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    else:
        monkeypatch.setattr(
            zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
        )
    before = zipimport.zipimporter.invalidate_caches
    share_zip_directories()()
    assert zipimport.zipimporter.invalidate_caches is before
    assert reads == []
