"""The Python worker module (``pyspark_prefork_worker``) and the packer's
closures.

The packer's closures must not name a ``tower_parse_spark`` module in
their pickle: a worker's cwd need not be the repo root. The worker
module's ``share_zip_directories`` is driven on a zip package built in a
temp dir: after it is installed, an unchanged archive is not re-read on
``importlib.invalidate_caches()`` and all its zipimporters share one
directory dict, while a rewritten archive is. Importing the module would
freeze this process's heap and patch its ``zipimport`` for the rest of
the run, so these tests compile that one function from the module's
source. The session's workers are checked from inside a UDF (forked by
``pyspark.daemon`` from a warm, frozen daemon), and the module run as
``python -m`` is checked against a local socket, as Spark runs it without
the daemon.
"""

from __future__ import annotations

import ast
import importlib
import json
import os
import pickletools
import socket
import struct
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import cloudpickle

from tower_parse_spark.session import PREFORK_DIR
from tower_parse_spark.streaming.packs import make_pack_writer, make_packer

WORKER_MODULE = "pyspark_prefork_worker"

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
    """The worker module's ``share_zip_directories``, compiled from its
    source without running the module's body."""
    path = os.path.join(PREFORK_DIR, f"{WORKER_MODULE}.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    [node] = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "share_zip_directories"
    ]
    namespace: dict = {}
    exec(compile(ast.Module([node], []), path, "exec"), namespace)
    return namespace["share_zip_directories"]


def package_globals(fn) -> list[tuple[str, str]]:
    found = pickled_globals(cloudpickle.dumps(fn))
    assert found  # the walk sees cloudpickle's own by-reference lookups
    return [
        (mod, name) for mod, name in found
        if str(mod).split(".")[0] == "tower_parse_spark"
    ]


def test_pickled_packer_names_no_package_module():
    assert not package_globals(make_packer(4, ["time"], ["time", "x"]))


def test_pickled_pack_writer_names_no_package_module():
    """The pack writer's closure (its file and partition-name helpers
    and the packer it wraps) ships by value too."""
    import pyarrow as pa

    schema = pa.schema([("time", pa.float64()), ("pack_seq", pa.int64())])
    writer = make_pack_writer(
        4, ["time"], ["time", "_g"], "_g", "/tmp/packs", schema
    )
    assert not package_globals(writer)


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


def test_session_workers_are_forked_warm(spark):
    """One pandas UDF reports, from inside its worker, that the daemon
    imported the worker module before forking: a frozen heap holding
    pandas and pyarrow's modules, the zip fix installed, and the daemon's
    command line; and that a pack-file write then imports nothing new
    from pandas or pyarrow."""

    def report(batches):
        import gc
        import sys
        import zipimport

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for _ in batches:
            pass
        # gc.get_objects() lists the collected generations only, so a
        # module missing from it sits in the frozen, permanent one
        tracked = {id(o) for o in gc.get_objects()}
        names = ("pandas", "pyarrow", "pyarrow.parquet")
        frozen = [
            n for n in names
            if n in sys.modules and id(sys.modules[n]) not in tracked
        ]
        del tracked
        cmdline = None
        if sys.platform.startswith("linux"):
            with open("/proc/self/cmdline", "rb") as fh:
                cmdline = fh.read().replace(b"\0", b" ").decode()
        before = set(sys.modules)
        table = pa.Table.from_pandas(
            pd.DataFrame({"x": [1.5, None], "s": ["a", "b"]}),
            preserve_index=False,
        )
        pq.write_table(table, pa.BufferOutputStream())
        imported = sorted(
            m for m in set(sys.modules) - before
            if m.split(".")[0] in ("pandas", "pyarrow")
        )
        yield pd.DataFrame({"report": [json.dumps({
            "freeze_count": gc.get_freeze_count(),
            "frozen": frozen,
            "eager": sys.version_info < (3, 13) and not hasattr(
                zipimport.zipimporter, "_get_files"
            ),
            "stat_checked": getattr(
                zipimport.zipimporter.invalidate_caches, "stat_checked", False
            ),
            "cmdline": cmdline,
            "imported": imported,
        })]})

    [row] = spark.range(1, numPartitions=1).mapInPandas(
        report, "report string"
    ).collect()
    got = json.loads(row.report)
    assert got["freeze_count"] > 0
    assert got["frozen"] == ["pandas", "pyarrow", "pyarrow.parquet"]
    assert got["stat_checked"] or not got["eager"]
    if got["cmdline"] is not None:
        assert f"pyspark.daemon {WORKER_MODULE}" in got["cmdline"]
    assert got["imported"] == []


def test_module_run_as_main_is_the_plain_worker(tmp_path):
    """``python -m pyspark_prefork_worker``, as Spark starts a worker
    without the daemon, connects back, authenticates and writes its pid:
    ``pyspark.worker`` ran as ``__main__``."""
    secret = "s3cret"
    with socket.create_server(("127.0.0.1", 0)) as server:
        server.settimeout(60)
        env = {
            **os.environ,
            "PYTHONPATH": os.pathsep.join(
                p for p in (PREFORK_DIR, os.environ.get("PYTHONPATH")) if p
            ),
            "PYTHON_WORKER_FACTORY_PORT": str(server.getsockname()[1]),
            "PYTHON_WORKER_FACTORY_SECRET": secret,
        }
        proc = subprocess.Popen(
            [sys.executable, "-m", WORKER_MODULE], env=env, cwd=tmp_path,
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        try:
            conn, _ = server.accept()
            with conn, conn.makefile("rwb") as f:
                (n,) = struct.unpack("!i", f.read(4))
                assert f.read(n).decode() == secret
                f.write(struct.pack("!i", 2) + b"ok")
                f.flush()
                (pid,) = struct.unpack("!i", f.read(4))
            assert pid == proc.pid
        finally:
            proc.kill()
            _, err = proc.communicate(timeout=60)
    assert b"found in sys.modules" not in err
