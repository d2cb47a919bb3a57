"""Spans around the engine's public functions, installed from outside.

A traced run replaces each public function listed in ``WRAPPED`` by a wrapper
that records a span (name, start, end, parent span, operation id, Spark job
group) and counts its calls.  The spans stay in memory; ``run.py`` writes them
out with the record when the run ends.

The wrappers must be in place before ``registry.load_all()`` imports the query
modules: those modules bind ``from alertas_spark.sources.catalog import
load_table`` (and the memo and artifact helpers) at import time, so a later
patch would miss them.  :meth:`Tracer.missed_bindings` lists every module
attribute still bound to an original function after the run, and each
wrapper's call count is reported, so a missed binding shows as a zero count
instead of as a fast layer.
"""

from __future__ import annotations

import functools
import glob
import importlib
import itertools
import os
import threading
import time
from collections import Counter
from collections.abc import Callable

#: (module, attribute, span name) in installation order: a module is patched
#: before any module that binds its functions at import time is imported
WRAPPED = (
    ("alertas_spark.operators.memo", "session_artifact", "memo.session_artifact"),
    ("alertas_spark.operators.artifacts", "bounded_rows", "artifacts.bounded_rows"),
    ("alertas_spark.sources.catalog", "load_table", "sources.load_table"),
    ("alertas_spark.framework.context", "AlertContext.write_table", "context.write_table"),
    ("alertas_spark.framework.context", "AlertContext.view", "context.view"),
    ("alertas_spark.framework.context", "AlertContext.table", "context.table"),
    ("alertas_spark.framework.context", "AlertContext.drop_table", "context.drop_table"),
    ("alertas_spark.framework.engine", "run_alert", "engine.run_alert"),
    ("alertas_spark.framework.engine", "publish", "engine.publish"),
    ("alertas_spark.framework.engine", "generate_types_table", "engine.types_table"),
    ("alertas_spark.session", "get_spark", "session.get_spark"),
    ("alertas_spark.registry", "load_all", "registry.load_all"),
)

#: the alert builders, resolved by ``engine.registry()`` on every call
ALERTS_PACKAGE = "alertas_spark.alerts"


class Tracer:
    """Span recorder.  One per traced run; thread-safe."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.calls: Counter[str] = Counter()
        #: (operation, built) per memo.session_artifact call
        self.memo_calls: list[tuple[str | None, bool]] = []
        #: (operation, rows) per artifacts.bounded_rows call
        self.pulls: list[tuple[str | None, int]] = []
        #: (operation, rows) per staging table a publish call found
        self.staged: list[tuple[str | None, int]] = []
        self.op: str | None = None
        self._op_span: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._originals: dict[int, str] = {}
        self._sc = None

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _job_group(self) -> str | None:
        sc = self._sc
        if sc is None:
            return None
        try:
            return sc.getLocalProperty("spark.jobGroup.id")
        except Exception:  # a stopped context between session rebuilds
            return None

    def span(self, name: str):
        return _Span(self, name)

    def begin_op(self, op: str, name: str) -> "_Span":
        """Open the root span of one workload operation; spans opened on
        threads with no open span of their own (the alert pool, the memo
        overlap pool, foreachBatch callbacks) become its children."""
        self.op = op
        sp = _Span(self, name)
        sp.__enter__()
        self._op_span = sp.id
        return sp

    def end_op(self, sp: "_Span") -> None:
        sp.__exit__(None, None, None)
        self.op = None
        self._op_span = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def span_count(self) -> int:
        """Spans opened so far, including those cleared from ``spans``."""
        return next(self._ids) - 1

    # -- wrappers ---------------------------------------------------------
    def wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer._lock:
                tracer.calls[name] += 1
            with _Span(tracer, name):
                return fn(*args, **kwargs)

        self._originals[id(fn)] = name
        return wrapper

    def _wrap_bounded_rows(self, fn: Callable) -> Callable:
        """``artifacts.bounded_rows`` that also counts the rows it pulled."""
        tracer = self
        traced = self.wrap(fn, "artifacts.bounded_rows")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            rows = traced(*args, **kwargs)
            with tracer._lock:
                tracer.pulls.append((tracer.op, len(rows)))
            return rows

        return wrapper

    def _wrap_session_artifact(self, fn: Callable) -> Callable:
        tracer = self
        traced = self.wrap(fn, "memo.session_artifact")

        @functools.wraps(fn)
        def wrapper(spark, key, build):
            built = []

            def counted_build():
                built.append(True)
                return build()
            result = traced(spark, key, counted_build)
            with tracer._lock:
                tracer.memo_calls.append((tracer.op, bool(built)))
            return result

        return wrapper

    def _wrap_publish(self, fn: Callable) -> Callable:
        """``engine.publish`` that first reads the row counts of the family's
        staging tables from their parquet footers (no Spark job), so the rows
        staged are counted at the boundary where publication consumes them."""
        tracer = self
        traced = self.wrap(fn, "engine.publish")

        @functools.wraps(fn)
        def wrapper(ctx, family_table, sigla_tables=()):
            rows = sum(parquet_rows(ctx.catalog.path("alertas", name))
                       for name in (f"temp_{family_table}", *sigla_tables))
            with tracer._lock:
                tracer.staged.append((tracer.op, rows))
            return traced(ctx, family_table, sigla_tables)

        return wrapper

    def install(self) -> None:
        """Patch every function in ``WRAPPED`` and the alert builders, in the
        defining module and in every already-loaded module that re-exports it
        (``alertas_spark.sources`` re-exports ``load_table``)."""
        import sys

        special = {"memo.session_artifact": self._wrap_session_artifact,
                   "artifacts.bounded_rows": self._wrap_bounded_rows,
                   "engine.publish": self._wrap_publish}
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner, _, fn_name = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            fn = getattr(target, fn_name)
            wrapped = special[name](fn) if name in special else self.wrap(fn, name)
            setattr(target, fn_name, wrapped)
            if not owner:
                for other in list(sys.modules.values()):
                    if (getattr(other, "__name__", "").startswith("alertas_spark")
                            and getattr(other, fn_name, None) is fn):
                        setattr(other, fn_name, wrapped)
        alerts = importlib.import_module(ALERTS_PACKAGE)
        for attr in alerts.__all__:
            setattr(alerts, attr, self.wrap(getattr(alerts, attr), "alerts.build"))

    def missed_bindings(self) -> dict[str, list[str]]:
        """Loaded engine modules whose global still names an original."""
        import sys

        missed: dict[str, list[str]] = {}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("alertas_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                name = self._originals.get(id(val))
                if name is not None and callable(val) and not attr.startswith("_"):
                    if getattr(val, "__module__", "") == mod_name:
                        continue  # the defining module's own def
                    missed.setdefault(name, []).append(f"{mod_name}.{attr}")
        return missed


def parquet_rows(table_dir: str) -> int:
    """Rows of a parquet table directory, from its file footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(table_dir, "*.parquet")))


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.id = next(tracer._ids)

    def __enter__(self):
        st = self.tracer._stack()
        self.parent = st[-1] if st else self.tracer._op_span
        st.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        st = self.tracer._stack()
        if st and st[-1] == self.id:
            st.pop()
        rec = {"id": self.id, "name": self.name, "parent": self.parent,
               "start": self.start, "end": end, "op": self.tracer.op,
               "group": self.tracer._job_group(),
               "thread": threading.current_thread().name}
        with self.tracer._lock:
            self.tracer.spans.append(rec)


def span_cost(spark, spans: int = 2000) -> float:
    """Seconds one span adds around a call, measured on this session: the
    clock reads, the bookkeeping and the job-group lookup through py4j."""
    tracer = Tracer()
    tracer.bind(spark)

    def nop():
        return None

    wrapped = tracer.wrap(nop, "nop")
    t0 = time.perf_counter()
    for _ in range(spans):
        nop()
    direct = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(spans):
        wrapped()
    return max(0.0, (time.perf_counter() - t0 - direct) / spans)
