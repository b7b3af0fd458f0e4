"""Spans and counters recorded from outside the package.

A traced run wraps public functions of each layer (see ``install``) so
every call records a span: name, start, end, parent and the id of the
operation it belongs to. Spans stay in memory and are summarised when
the run ends. A layer's self time is its spans' duration minus the part
covered by their child spans.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import tempfile
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# span name prefixes: the layers whose self time is reported
LAYERS = (
    "sources", "builder", "catalyst", "exec", "streaming",
    "dialect", "engine", "merge_sql", "flight", "exchange", "client",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, float, float, int]] = []
        self.counts: Counter[str] = Counter()
        self.op = 0  # id of the operation the client is running
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client_span: int | None = None  # innermost open main-thread span

    def begin_op(self) -> None:
        self.op += 1

    def count(self, key: str, n: float = 1) -> None:
        """Add to a counter; work outside the timed operations is not counted."""
        if self.op:
            self.counts[key] += n

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        # a span opened on a server thread is a child of the client call
        # that is open on the main thread (the one caller)
        parent = st[-1] if st else self._client_span
        main = threading.current_thread() is threading.main_thread()
        st.append(sid)
        if main:
            self._client_span = sid
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            if main:
                self._client_span = st[-1] if st else None
            with self._lock:
                self.spans.append((sid, parent, name, t0, t1, self.op))

    def wrap(self, name: str, fn, drain: bool = False):
        """``fn`` inside a span; with ``drain`` the returned iterator (or
        ``(schema, iterator)`` pair) is consumed inside the span too."""

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
                if drain:
                    if isinstance(out, tuple):
                        return out[0], iter(list(out[1]))
                    return iter(list(out))
                return out

        return traced

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer over the timed operations: duration minus
        child-covered time."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, parent, _n, t0, t1, _op in self.spans:
            if parent is not None:
                kids[parent].append((t0, t1))
        out: dict[str, float] = defaultdict(float)
        for sid, _p, name, t0, t1, op in self.spans:
            if not op:
                continue
            covered, end = 0.0, t0
            for c0, c1 in sorted(kids.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[name.split(".")[0]] += (t1 - t0) - covered
        return dict(out)

    def total(self, name: str, whole_run: bool = False) -> float:
        """Seconds in spans called ``name``, within the timed operations
        unless ``whole_run`` (set-up work belongs to session and sources)."""
        return sum(t1 - t0 for _s, _p, n, t0, t1, op in self.spans
                   if n == name and (op or whole_run))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1, op in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                    "start": t0, "end": t1, "op": op}) + "\n")


def patch(tracer: Tracer, module, attr: str, name: str) -> None:
    """Wrap ``module.attr`` and every package module's imported alias of it."""
    orig = getattr(module, attr)
    traced = tracer.wrap(name, orig)
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("mallard_spark") and (
            getattr(mod, attr, None) is orig
        ):
            setattr(mod, attr, traced)
    setattr(module, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries shared by every workload."""
    from pyspark.sql import SparkSession

    import mallard_spark.dialect as dialect
    import mallard_spark.engine as engine
    import mallard_spark.exchange as exchange
    import mallard_spark.functions.exec as fexec
    import mallard_spark.merge_sql as merge_sql
    import mallard_spark.sources.readers as readers
    from mallard_spark.client import DataOperations
    from mallard_spark.registry import load_all

    load_all()  # import every operator module so aliases are patched
    patch(tracer, readers, "load_table", "sources.load_table")
    patch(tracer, fexec, "materialize", "builder.materialize")
    patch(tracer, merge_sql, "execute_merge", "merge_sql.execute_merge")

    orig_tv = dialect.translate_variants

    def translate_variants(*a, **kw):
        with tracer.span("dialect.translate"):
            variants = orig_tv(*a, **kw)
        tracer.count("dialect.variants_offered", len(variants))
        return variants

    dialect.translate_variants = translate_variants

    orig_sql = SparkSession.sql

    def spark_sql(self, *a, **kw):
        with tracer.span("catalyst.analysis"):
            tracer.count("dialect.analysis_attempts")
            out = orig_sql(self, *a, **kw)
        tracer.count("dialect.analysis_accepted")
        return out

    SparkSession.sql = spark_sql

    # the engine's staging directories show which path it chose: a
    # parquet stage for a large GET answer or a spilled PUT/EXCHANGE input
    orig_mkdtemp = tempfile.mkdtemp

    def mkdtemp(*a, **kw):
        tracer.count(f"mkdtemp.{kw.get('prefix', '')}")
        return orig_mkdtemp(*a, **kw)

    tempfile.mkdtemp = mkdtemp
    patch(tracer, engine, "ingest_stream_to_df", "engine.ingest")

    orig_stream = engine.stream_df_arrow

    def stream_df_arrow(*a, **kw):
        with tracer.span("engine.stream"):
            schema, it = orig_stream(*a, **kw)
            return schema, iter(list(it))

    engine.stream_df_arrow = stream_df_arrow

    E = engine.MallardEngine
    for verb in ("sql", "ddl", "dml", "put"):
        setattr(E, verb, tracer.wrap(f"engine.{verb}", getattr(E, verb)))
    E.stream_arrow = tracer.wrap("engine.stream_arrow", E.stream_arrow, drain=True)

    X = exchange.AddProcessedExchanger
    X.transform_arrow = tracer.wrap("exchange.transform", X.transform_arrow, drain=True)

    def client(meth: str):
        orig = getattr(DataOperations, meth)

        @functools.wraps(orig)
        def traced(self, *a):
            with tracer.span(f"client.{meth}"):
                out = orig(self, *a)
            if meth in ("create_table", "exchange_data"):  # payload sent
                tracer.count("flight.bytes_in", a[-1].nbytes)
            if hasattr(out, "nbytes"):  # table answered
                tracer.count("flight.bytes_out", out.nbytes)
            return out

        setattr(DataOperations, meth, traced)

    for meth in ("execute_query", "create_table", "transfer_table", "exchange_data",
                 "register_exchanger"):
        client(meth)


def traced_server_class(tracer: Tracer, spark):
    """A ``SparkFlightServer`` subclass that records a span per verb and
    tags Spark jobs with the current operation's job group. GET work is
    inside the span because ``MallardEngine.stream_arrow`` is wrapped to
    drain its batches."""
    from mallard_spark.flight import SparkFlightServer

    sc = spark.sparkContext

    def verb(name, method):
        def handler(self, context, *args):
            if tracer.op:
                sc.setJobGroup(f"op{tracer.op}", "perfbench", interruptOnCancel=False)
            else:  # set-up or an output check: not an operation's jobs
                sc.setLocalProperty("spark.jobGroup.id", None)
            with tracer.span(f"flight.{name}.server"):
                if name == "exchange":  # (descriptor, reader, writer)
                    args = (args[0], _TimedReader(args[1], tracer), args[2])
                return method(self, context, *args)

        return handler

    return type("TracedFlightServer", (SparkFlightServer,), {
        f"do_{name}": verb(name, getattr(SparkFlightServer, f"do_{name}"))
        for name in ("get", "put", "exchange", "action")
    })


class _TimedReader:
    """Exchange input proxy: reading the client stream is ``exchange.read``."""

    def __init__(self, reader, tracer: Tracer):
        self._r, self._t = reader, tracer
        self.schema = reader.schema

    def __iter__(self):
        it = iter(self._r)
        while True:
            with self._t.span("exchange.read"):
                chunk = next(it, None)
            if chunk is None:
                return
            yield chunk


def event_log_metrics(log_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """Sum task metrics of the jobs run under a job group (the timed
    operations) from Spark's event log; count jobs per job group."""
    m: dict[str, float] = defaultdict(float)
    jobs_by_group: Counter[str] = Counter()
    timed_stages: set[int] = set()
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group:
                        m["exec.jobs"] += 1
                        jobs_by_group[group] += 1
                        timed_stages.update(ev.get("Stage IDs", ()))
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in timed_stages:
                        m["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in timed_stages:
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["exec.tasks"] += 1
                    m["exec.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["exec.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["exec.shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    m["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["exec.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    m["exec.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return dict(m), dict(jobs_by_group)
