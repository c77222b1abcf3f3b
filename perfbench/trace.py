"""Spans and counters recorded from outside the program.

:class:`Tracer` keeps spans (name, layer, start, end, parent, op) and
per-op counters in memory. :meth:`Tracer.install` wraps the public entry
points of each layer — the package functions named in :data:`LAYER_CALLS`
and the two PySpark methods every parquet resolve and every local
checkpoint goes through — so each call becomes a span of its layer. The
wrapper replaces the function in every loaded module that holds it (the
package imports many of them by name); :meth:`Tracer.uninstall` puts the
originals back.
"""

from __future__ import annotations

import functools
import itertools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, attribute, span name, layer) of each wrapped package call
LAYER_CALLS = (
    ("data_etl_with_dbt_spark.sources.io", "read_parquet", "sources.read_parquet", "sources"),
    ("data_etl_with_dbt_spark.sources.io", "write_table", "sources.write_table", "sources"),
    ("data_etl_with_dbt_spark.sources.ingest", "ingest_csv", "sources.ingest_csv", "sources"),
    ("data_etl_with_dbt_spark.sources.versioned", "commit", "sources.versioned_commit", "sources"),
    ("data_etl_with_dbt_spark.sources.versioned", "read_version", "sources.versioned_read", "sources"),
    ("data_etl_with_dbt_spark.sources.versioned", "read_version_pruned", "sources.versioned_read", "sources"),
    ("data_etl_with_dbt_spark.materialize", "materialize", "materialize.materialize", "materialize"),
    ("data_etl_with_dbt_spark.plans.observe", "observed_write", "plans.observed_write", "plans"),
    ("data_etl_with_dbt_spark.plans.dq", "run_test", "plans.dq_check", "plans"),
)

#: PySpark methods wrapped on their class: every parquet resolve (the
#: engine's read_parquet and direct ``spark.read.parquet`` calls alike) and
#: every local checkpoint (the materialize seam and the direct calls)
SPARK_CALLS = (
    ("pyspark.sql.readwriter", "DataFrameReader", "parquet", "sources.parquet_resolve", "sources"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint", "materialize.checkpoint", "materialize"),
)


class Tracer:
    """Records nothing unless ``active``: the untraced run goes through the
    same calls with spans reduced to a no-op."""

    def __init__(self, active: bool = False):
        self.active = active
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.paths: dict[str, list] = defaultdict(list)
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        """Record one span. A span given ``op`` starts a new operation (a
        query, a build or a batch); nested spans inherit it."""
        if op is not None:
            self.op = op
        if not self.active:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": next(self._ids), "name": name, "layer": layer, "op": self.op,
             "parent": parent, "start": time.time(), "end": None}
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.spans.append(s)
            self.counts[self.op][name + ".calls"] += 1
            self.counts[self.op][name + ".s"] += s["end"] - s["start"]

    def _wrap(self, fn, name, layer, record_path=False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if record_path:
                # DataFrameReader.parquet(self, *paths)
                tracer.paths[tracer.op].append(tuple(str(p) for p in args[1:]))
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- patching --------------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, attr, name, layer in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            original = getattr(mod, attr)
            wrapper = self._wrap(original, name, layer)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "") or "").startswith("data_etl_with_dbt_spark") and getattr(
                    m, attr, None
                ) is original:
                    self._patched.append((m, attr, original))
                    setattr(m, attr, wrapper)
        for mod_name, cls_name, attr, name, layer in SPARK_CALLS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            original = cls.__dict__[attr]
            self._patched.append((cls, attr, original))
            setattr(cls, attr, self._wrap(original, name, layer, record_path=attr == "parquet"))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)
