"""Column expressions built once per JVM, and constant lookup maps.

Every function, literal and method call that builds a ``Column`` is a py4j
round trip (plus reflection lookups, and one more to free the JVM object
later), so an operator that rebuilds its expressions on every call pays the
driver milliseconds per query before any row moves. A ``Column`` is an
unresolved expression tree: it names columns but is bound to no plan and no
session, so one built once serves every DataFrame of that JVM.

``per_jvm`` memoizes a builder of Columns on its (hashable) arguments for
the life of the py4j gateway; a new gateway (a restarted JVM) starts an
empty memo, since the old Columns' JVM objects are gone with it. A builder
must return something its callers do not mutate (a Column, a tuple).

``literal_map`` is a small lookup table as a constant of the plan: a map
access inside the scan's codegen stage instead of a broadcast join, which
costs a broadcast job per query and a join per row.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

R = TypeVar("R")

# re-entrant: a builder may call another memoized builder
_lock = threading.RLock()
_built: dict = {}
_gateway = None


def per_jvm(build: Callable[..., R]) -> Callable[..., R]:
    """``build(*args)`` once per JVM and argument tuple; the memo holds one
    entry per distinct argument tuple seen, for the life of the JVM."""

    @functools.wraps(build)
    def cached(*args):
        global _gateway
        key = (build, args)
        with _lock:
            if SparkContext._gateway is not _gateway:
                _built.clear()
                _gateway = SparkContext._gateway
            if key not in _built:
                _built[key] = build(*args)
            return _built[key]

    return cached


def literal_map(keys: list[str], values: list, value_type: T.DataType) -> Column:
    """The constant map ``keys[i] → values[i]`` (distinct keys; a value may
    be None). Built from two literal arrays, which Catalyst analyses several
    times faster than a ``create_map`` of as many literal pairs."""
    return F.map_from_arrays(F.lit(list(keys)), F.lit(list(values)).cast(T.ArrayType(value_type)))
