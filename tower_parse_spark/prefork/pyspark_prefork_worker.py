"""The Python worker module of the sessions ``session.get_spark`` builds
(``spark.python.worker.module``): pyspark's own ``pyspark.daemon`` imports
it once, before it forks any worker, so every worker starts warm.

Why pre-fork. The daemon forks one worker per concurrent Python task
(the packer's state partitions, pandas UDFs). A worker forked from a cold
daemon imports pandas and pyarrow into its own private memory on its first
task, and each worker holds its own copy. Imported here, they sit in the
daemon's pages, which every worker shares copy-on-write.

Why freeze. After every task the daemon's worker loop calls
``gc.collect()``. A collection writes to the header of every object it
visits, so a worker's first collection copies almost every page of the
heap it inherited, and the sharing is lost. ``gc.freeze()`` moves every
object alive at the end of this import into the permanent generation,
which no collection visits, so those pages stay shared.

Why the zip fix. Before each Python task, pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
On Python 3.11, each cached ``zipimporter`` then re-reads its archive's
whole directory at once: a worker that imports pyspark from
``pyspark.zip`` (~1.3k entries) holds ~18 of them, so every task spent
190-310 ms of CPU re-parsing the zip and the worker kept ~18 copies of its
directory (~0.6 MB each). A packer task's Python body itself is 20-60 ms.
Python 3.13 only drops the cache and re-reads lazily.
:func:`share_zip_directories` brings that behaviour to the eager
versions: an archive is re-read only when its ``(st_mtime_ns, st_size)``
changed, and every zipimporter of an archive shares the one directory
dict, so a task's ``invalidate_caches`` costs ~0.3 ms. It is installed
here, so every Python-UDF stage gets it, and before the freeze, so the
shared directories are among the frozen pages.

What is preloaded is what a packer task still imported after the fork,
found by diffing ``sys.modules`` across the tasks of a live perfbench
run: pandas, pyarrow, its filesystem and parquet modules,
``pyarrow.pandas_compat`` (loaded by ``Table.from_pandas`` on first use),
``pyarrow.vendored.version`` (by ``Array.to_pandas``) and
``pyspark.testing.utils`` (by ``GroupState.update``; it brings
``unittest``, ``difflib``, ``argparse`` and ``gettext``).

The module's shape follows pyspark's contract for a worker module:

- its name starts with ``pyspark``, or ``daemon.py`` ignores it and
  falls back to ``pyspark.worker``;
- it exposes ``main`` (``pyspark.worker.main``), which the daemon calls
  in each forked worker;
- run as ``python -m``, as Spark runs it when
  ``spark.python.use.daemon`` is false, it runs ``pyspark.worker`` as
  ``__main__``: one process per worker, so nothing to preload;
- it sits alone in its directory, which ``get_spark`` puts on
  ``spark.executorEnv.PYTHONPATH``, and imports nothing from
  ``tower_parse_spark``: a worker's cwd need not be the repo root.

Importing it changes the importing process for good (a frozen heap, a
patched ``zipimport``), so only Spark's daemon and workers should.
"""

import gc


def share_zip_directories() -> None:
    """Once per process: re-read a zip archive's directory on
    ``invalidate_caches`` only when the archive's stat changed, and point
    every zipimporter of the archive at the one dict in
    ``zipimport._zip_directory_cache``. It acts only where
    ``zipimporter.invalidate_caches`` is the eager kind: Python < 3.13
    with the private ``zipimport`` names it touches. Anywhere else it
    returns without changing anything."""
    import os
    import sys
    import zipimport

    cls = zipimport.zipimporter
    eager = cls.invalidate_caches
    if (
        sys.version_info >= (3, 13)
        or getattr(eager, "stat_checked", False)
        or not hasattr(zipimport, "_zip_directory_cache")
        or hasattr(cls, "_get_files")
    ):
        return
    cache = zipimport._zip_directory_cache
    stamps: dict = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            now = (st.st_mtime_ns, st.st_size)
        except OSError:
            now = None
        if now is None or stamps.get(self.archive) != now or (
            self.archive not in cache
        ):
            eager(self)
            stamps[self.archive] = now
        else:
            self._files = cache[self.archive]

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches
    # One read per archive now, so the instances that already hold a
    # private copy share the fresh dict from here on.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()


if __name__ == "__main__":
    import runpy

    share_zip_directories()
    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.fs  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
    import pyarrow.parquet  # noqa: F401
    import pyarrow.vendored.version  # noqa: F401
    import pyspark.testing.utils  # noqa: F401
    from pyspark.worker import main  # noqa: F401

    share_zip_directories()
    gc.collect()
    gc.freeze()
