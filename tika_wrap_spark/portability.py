"""Worker-side import portability.

On a real cluster the package ships via ``spark-submit --py-files``
(north_rule); ``package_zip``/``ship_package`` implement exactly that. For
embedded use (a host application that created its own SparkSession — e.g.
the grading driver), ``make_portable()`` registers every loaded
``tika_wrap_spark`` module for cloudpickle pickle-BY-VALUE, so UDF closures
carry their own code and python workers never need the package importable.
Idempotent and cheap; called before any python-UDF-bearing plan is built.

``enter_worker()`` is the worker-side half: every package Python UDF
calls it as its first statement (pinned by an ast walk in
``tests/test_portability.py``). It drops the worker's cached zip finders on
every call and, once per Python worker process, freezes the import heap out
of the garbage collector's reach.
"""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import TaskContext, cloudpickle

from tika_wrap_spark.core.procmemo import proc_memo


def make_portable() -> None:
    # import EVERY package submodule first: a module first imported after
    # an earlier make_portable() call would otherwise be pickled by
    # reference (ModuleNotFoundError on workers without the package) —
    # the full walk makes registration independent of import order
    import importlib  # noqa: PLC0415
    import pkgutil  # noqa: PLC0415

    import tika_wrap_spark  # noqa: PLC0415

    for info in pkgutil.walk_packages(
        tika_wrap_spark.__path__, prefix="tika_wrap_spark."
    ):
        try:
            importlib.import_module(info.name)
        except Exception:
            pass
    for name, mod in list(sys.modules.items()):
        if name.startswith("tika_wrap_spark") and mod is not None:
            try:
                cloudpickle.register_pickle_by_value(mod)
            except Exception:
                pass


def enter_worker() -> None:
    """The prelude of every package Python UDF: run it first.

    Every call forgets each cached ``zipimporter`` in
    ``sys.path_importer_cache``. A reused python worker calls
    ``importlib.invalidate_caches()`` at the start of every task (pyspark
    ``worker_util.setup_spark_files``). Under Python 3.11 each cached
    zipimporter then re-reads its archive's whole central directory in pure
    Python: pyspark.zip has 1,328 entries and a warm worker holds ~16
    finders, one per imported subpackage path, so every task paid ~0.2 s of
    worker CPU before its first batch. With the finders gone the next
    task's invalidation is ~0.1 ms. Only a cache is dropped: a later import
    of a not-yet-loaded module rebuilds its finder from
    ``zipimport._zip_directory_cache`` without re-reading the archive.

    The first call in a Python worker process (``TaskContext.get()`` is set
    only there) also imports pandas and pyarrow, runs ``gc.collect()`` and
    then ``gc.freeze()``. A warm worker tracks ~73k objects, almost all
    from importing pyspark, pandas and pyarrow, and the pyspark daemon runs
    a full ``gc.collect()`` after every task of a reused worker
    (``pyspark/daemon.py``), as do automatic gen-2 passes inside a batch.
    Frozen, that heap sits in the permanent generation and a collection
    walks only the current task's young objects: on ``local[4]`` (4 vCPU)
    a warm worker's collection went from 27-39 ms (median) to 0.14-0.17 ms,
    tracking ~640 objects instead of ~73.4k (BENCH.md finding 29). The
    price: the first task's own by-value module objects are frozen with
    it, so one worker keeps a single copy of them for its life. The driver
    never freezes: frozen objects that later became cyclic garbage would
    never be freed."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
    memo = proc_memo("worker_prelude")
    if not memo and TaskContext.get() is not None:
        memo["frozen"] = True
        # a UDF that imports pandas in its body (the corpus generator) may
        # run first in a fresh worker: load the heap to freeze either way
        import pandas  # noqa: F401, PLC0415
        import pyarrow  # noqa: F401, PLC0415

        gc.collect()
        gc.freeze()


def package_zip(dest_dir: str | None = None) -> str:
    """Zip the installed package for ``spark-submit --py-files`` /
    ``sc.addPyFile``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    dest = os.path.join(dest_dir or tempfile.gettempdir(), "tika_wrap_spark.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return dest


def ship_package(spark) -> str:
    """Attach the package zip to a live session (addPyFile)."""
    path = package_zip()
    spark.sparkContext.addPyFile(path)
    return path
