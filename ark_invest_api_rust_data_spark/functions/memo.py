"""Per-JVM memo for constant Column trees.

Every ``pyspark.sql.functions`` call is a py4j round trip to the
driver JVM (two reflection commands to resolve the function, one call),
so rebuilding a constant expression tree on every call costs hundreds
of round trips where the reference's in-process expressions cost
nothing. Unresolved Columns are immutable and carry no exprIds (each
use analyzes to fresh ones), so one copy can serve every DataFrame and
every thread. The memo is keyed on the live py4j gateway: a restarted
JVM gets its trees rebuilt instead of handles into a dead one.

Column lists are memoized as JVM ``Seq``s (:func:`jseq`) and handed to
the JVM DataFrame method directly: PySpark converts a Python list
argument element by element, a round trip each.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable, TypeVar

from py4j.java_gateway import JavaObject
from pyspark import SparkContext
from pyspark.sql import Column

T = TypeVar("T")

_lock = threading.RLock()  # re-entrant: one builder may call another
_gateway = None
_memo: dict = {}


def per_jvm(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``build(*args)`` (hashable args) for the life of the
    current py4j gateway."""

    @functools.wraps(build)
    def cached(*args):
        global _gateway
        with _lock:
            if SparkContext._gateway is not _gateway:
                _memo.clear()
                _gateway = SparkContext._gateway
            key = (build, args)
            if key not in _memo:
                _memo[key] = build(*args)
            return _memo[key]

    return cached


def clear() -> None:
    """Drop every memoized value; the next use rebuilds it."""
    with _lock:
        _memo.clear()


def jseq(items: list) -> JavaObject:
    """A JVM ``Seq`` of ``items``, Columns or strings."""
    jvm = SparkContext._active_spark_context._jvm
    return jvm.PythonUtils.toSeq([c._jc if isinstance(c, Column) else c for c in items])
