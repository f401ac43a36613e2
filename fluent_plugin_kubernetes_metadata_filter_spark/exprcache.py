"""Column expressions built once per driver JVM.

A classic PySpark ``Column`` is a Py4J handle to an expression tree in
the driver JVM, so every ``F.*`` call, ``alias`` or operator costs a
Python -> JVM round trip. The enrichment plan is a few hundred such
calls; built on every pass it took thousands of round trips and most of
a second before any Spark job started. ``JvmMemo``, used as a decorator,
memoizes a builder of expressions on its (hashable) arguments, typically
a frozen ``PipelineConfig``. Every caller shares the built value, so
callers never mutate it.

Lifetime: an expression tree holds no SparkContext or SparkSession, so a
cached Column stays valid across ``SparkSession.stop()`` and a new
session in the same JVM. It does NOT survive the JVM: the memo is keyed
on the live Py4J gateway (``SparkContext._gateway``, which PySpark
replaces only when it launches a new JVM) and drops everything it holds
when the gateway changes. Entries are bounded by the distinct argument
tuples a process uses (a handful of configs).
"""

from __future__ import annotations

import functools
import threading
from typing import Callable, Generic, Hashable, TypeVar

from pyspark import SparkContext

T = TypeVar("T")


class JvmMemo(Generic[T]):
    """``build(*key)`` memoized per JVM gateway (one gateway at a time)."""

    def __init__(self, build: Callable[..., T]):
        functools.update_wrapper(self, build)
        self._build = build
        # foreachBatch callbacks build plans on Py4J's callback thread
        self._lock = threading.Lock()
        self._gateway: object = None
        self._values: dict[tuple, T] = {}

    def __call__(self, *key: Hashable) -> T:
        return self.get(SparkContext._gateway, *key)

    def get(self, gateway: object, *key: Hashable) -> T:
        """The value for ``key`` built against ``gateway``; a gateway other
        than the last one seen starts an empty memo."""
        with self._lock:
            if gateway is not self._gateway:
                self._gateway, self._values = gateway, {}
            if key not in self._values:
                self._values[key] = self._build(*key)
            return self._values[key]

