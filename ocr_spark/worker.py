"""Python-worker side of every Python stage (mapInArrow, mapInPandas,
applyInPandas, pandas_udf): each function handed to one is decorated with
:func:`python_stage`."""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport


def drop_zip_importers() -> None:
    """Delete every zipimporter from ``sys.path_importer_cache``.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task, and on CPython 3.11/3.12 that re-reads the central directory of
    each cached zipimporter: pyspark.zip and its subpackages, py4j, and the
    spark-core jar that sits on the worker's ``sys.path`` (~0.2 s of CPU a
    task). The cache is only a cache: the path hooks rebuild an entry the
    next time an import needs it, so a reused worker pays the re-reads in
    its first task only.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def python_stage(fn):
    """Run :func:`drop_zip_importers` at the head of ``fn``'s body (on first
    iteration for a generator function) and again when it ends, so that
    modules the body imports leave no zipimporter for the next task. The
    wrapper keeps ``fn``'s signature, which PySpark reads to pick the
    pandas UDF type and the grouped-map arity."""
    if inspect.isgeneratorfunction(fn):

        def stage(*args, **kwargs):
            drop_zip_importers()
            try:
                yield from fn(*args, **kwargs)
            finally:
                drop_zip_importers()

    else:

        def stage(*args, **kwargs):
            drop_zip_importers()
            try:
                return fn(*args, **kwargs)
            finally:
                drop_zip_importers()

    stage = functools.wraps(fn)(stage)
    stage.__signature__ = inspect.signature(fn)
    return stage
