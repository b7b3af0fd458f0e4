"""Run context shared by the workloads: isolation, Spark, timing, output."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
ROOT = os.getcwd()  # the checkout; everything the run writes stays under it
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "data")
HERE = os.path.dirname(os.path.abspath(__file__))
NPROC = len(os.sched_getaffinity(0))


def isolate() -> str:
    """Point every temp/scratch location of Python, Spark and the JVM into
    a per-process directory under the checkout; return it."""
    if not os.path.isdir(os.path.join(ROOT, "mallard_spark")):
        sys.exit("perfbench: run from the root of a checkout holding mallard_spark/")
    tmp_root = os.path.join(WORK, "tmp")
    if os.path.isdir(tmp_root):  # left behind by runs that were killed
        for pid in os.listdir(tmp_root):
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(tmp_root, pid), ignore_errors=True)
    tmp = os.path.join(tmp_root, str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    # the package default heap (24g) is sized for big hosts
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    return tmp


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Run:
    """One benchmark process: Spark session, timed operations, checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.tmp = isolate()
        self.attempted = 0
        self.failed = 0
        self.samples: list[dict] = []  # every timed op, in order
        self.errors: list[str] = []
        self.record: dict = {"workload": workload, "seed": seed, "nproc": NPROC}
        self.setup_s: float | None = None
        self.data_s = 0.0  # finding or generating inputs, kept out of setup_s
        # latency samples when a request is more than one op (default: ops)
        self.requests: list[float] | None = None
        self.tracer = None
        if trace:
            from perfbench.trace import Tracer, install

            self.tracer = Tracer()
            install(self.tracer)

    # -- Spark -----------------------------------------------------------
    def start_spark(self):
        from mallard_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            # no perf-data file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if self.trace:
            self.event_dir = os.path.join(self.tmp, "events")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench_{self.workload}", master=f"local[{NPROC}]",
                          shuffle_partitions=NPROC, extra_conf=conf)
        self.record["session_start_s"] = time.perf_counter() - t0
        self.mark("session")
        # executors import the package from PYTHONPATH in local mode; this
        # skips the package zip the operators would otherwise write to /tmp
        spark.sparkContext._mallard_shipped = True
        self.spark = spark
        self._gateway = spark.sparkContext._gateway
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        import duckdb
        import pyarrow
        import pyspark

        self.record["versions"] = {"pyspark": pyspark.__version__,
                                   "pyarrow": pyarrow.__version__,
                                   "duckdb": duckdb.__version__}
        return spark

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and so its Python workers)."""
        spark, self.spark = getattr(self, "spark", None), None
        if spark is not None:
            gw = self._gateway
            spark.stop()
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)

    def job_group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, "perfbench", interruptOnCancel=False)

    def peak_rss_mb(self) -> float:
        py, jvm = _hwm_kb(os.getpid()) / 1024, _hwm_kb(self.jvm_pid) / 1024
        self.record["peak_rss_mb"] = {"python": py, "jvm": jvm}
        return py + jvm

    def probe(self, when: str) -> None:
        """Time the control probe (q1 at sf0.1) against the calm record."""
        from mallard_spark.registry import load_all

        from perfbench.data import ensure_tables

        sf = self.data(ensure_tables, DATA, 0.1)
        q1 = load_all()["q1_pricing_summary"].fn
        t0 = time.perf_counter()
        q1(self.spark, sf).write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
        with open(os.path.join(HERE, "calm.json")) as f:
            calm = json.load(f)[self.workload][when]
        self.record[f"probe_{when}"] = {"sec": sec, "calm_sec": calm, "ratio": sec / calm}

    # -- operations --------------------------------------------------------
    def mark(self, phase: str) -> None:
        """Record seconds since process start at the end of a phase."""
        self.record.setdefault("phases", {})[phase] = time.perf_counter() - T_START

    def end_measure(self) -> None:
        """Close the timed part: peak memory is read here, before the
        untimed checks can add to it."""
        self.peak_mb = self.peak_rss_mb()
        self.mark("measured")
        if self.tracer is not None:  # later spans and jobs are not operations
            self.tracer.op = 0
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def data(self, fn, *args):
        """``fn(*args)`` for the generated inputs. The first run in a
        checkout writes them (minutes for batch_sf01), later runs find
        them; either way the time is left out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.data_s += time.perf_counter() - t0

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self.data_s
        self.record["data_s"] = self.data_s
        self.mark("setup")

    def op(self, kind: str, fn, rows: int = 0, **info):
        """Run one timed operation; a raise counts as a failed op."""
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.begin_op()
            self.job_group(f"op{tr.op}")
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with tr.span(f"op.{kind}"):
                    out = fn()
            else:
                out = fn()
        except Exception as e:
            self.fail(f"{kind} {info}: {type(e).__name__}: {str(e)[:300]}")
            out = None
        sec = time.perf_counter() - t0
        self.samples.append({"kind": kind, "sec": sec, "rows": rows, "ok": out is not None, **info})
        return out

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print("perfbench: FAILED " + msg, file=sys.stderr)
        if sys.exc_info()[1] is not None:
            traceback.print_exc()

    def check(self, ok, what: str) -> None:
        """An untimed output check of the last op; ``ok()`` returning
        false or raising fails that op. A traced run leaves the check's
        spans, counters and Spark jobs out of the operation's."""
        tr = self.tracer
        op = tr.op if tr is not None else 0
        if tr is not None:
            tr.op = 0
        try:
            passed = bool(ok())
        except Exception as e:
            passed, what = False, f"{what}: {type(e).__name__}: {str(e)[:300]}"
        finally:
            if tr is not None:
                tr.op = op
        if not passed:
            self.samples[-1]["ok"] = False
            self.fail(f"check failed: {what}")

    # -- results -----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        secs = [s["sec"] for s in self.samples]
        latency = self.requests or secs
        self.record["op_p50_ms"] = statistics.median(latency) * 1e3
        # peak memory is a per-layer figure only: the JVM's resident set
        # is bimodal (2.4 or 3.1-3.6 GB in batch_sf01) between runs of
        # the same code, under G1's defaults and with its sizing pinned
        return {
            "setup_s": self.setup_s,
            "op_p90_ms": percentile(latency, 90) * 1e3,
            "ops_per_s": len(secs) / sum(secs),
        }

    def finish(self, per_layer=dict) -> None:
        """Stop Spark and its JVM, keep the run record, print the result.
        ``per_layer`` is called once the event log is complete."""
        e2e = self.end_to_end()
        self.stop()
        metrics = e2e
        if self.trace:
            from perfbench.trace import event_log_metrics

            self.exec_metrics, self.job_groups = event_log_metrics(self.event_dir)
            metrics = {f"traced.{k}": v for k, v in e2e.items()}
            metrics["traced.peak_rss_mb"] = self.peak_mb
            metrics.update(per_layer_metrics(self, per_layer()))
        units = _units()
        self.record.update(attempted=self.attempted, failed=self.failed,
                           errors=self.errors, samples=self.samples, metrics=metrics)
        runs = os.path.join(WORK, "runs")
        os.makedirs(runs, exist_ok=True)
        name = f"{self.workload}-seed{self.seed}-trace{int(self.trace)}-{os.getpid()}.json"
        with open(os.path.join(runs, name), "w") as f:
            json.dump(self.record, f, indent=1, default=str)
        if self.tracer is not None:
            self.tracer.dump(os.path.join(runs, name.replace(".json", ".spans.jsonl")))
        shutil.rmtree(self.tmp, ignore_errors=True)
        print(json.dumps({
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))


def route_counts(spans) -> list[str]:
    """The engine route each client operation took, from its spans."""
    names: dict[int, set[str]] = {}
    for _sid, _p, name, _t0, _t1, op in spans:
        if op:
            names.setdefault(op, set()).add(name)
    routes = []
    for seen in names.values():
        if "engine.ddl" in seen:
            routes.append("ddl")
        elif "engine.dml" in seen:
            routes.append("dml")
        elif "dialect.translate" in seen:
            routes.append("translated")
        elif "engine.sql" in seen:
            routes.append("vanilla")
    return routes


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def per_layer_metrics(run: Run, extra: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric named in BENCHMARK.json, 0 where the layer
    did no work in this workload."""
    from perfbench.trace import LAYERS

    tr = run.tracer
    c = tr.counts
    attempts = c["dialect.analysis_attempts"]
    m: dict[str, float] = {
        "session.start_s": run.record["session_start_s"],
        "sources.load_table_calls": sum(1 for s in tr.spans if s[2] == "sources.load_table"),
        "sources.load_table_s": tr.total("sources.load_table", whole_run=True),
        "catalyst.analysis_s": tr.total("catalyst.analysis"),
        "dialect.translate_s": tr.total("dialect.translate"),
        "dialect.variants_offered": c["dialect.variants_offered"],
        "dialect.analysis_attempts": attempts,
        "dialect.attempt_yield": c["dialect.analysis_accepted"] / attempts if attempts else 0.0,
        "engine.sql_s": tr.total("engine.sql"),
        "engine.dml_s": tr.total("engine.dml"),
        "engine.put_s": tr.total("engine.put"),
        "engine.stream_s": tr.total("engine.stream"),
        "engine.ingest_s": tr.total("engine.ingest"),
        "merge_sql.s": tr.total("merge_sql.execute_merge"),
        "exchange.read_s": tr.total("exchange.read"),
        "exchange.transform_s": tr.total("exchange.transform"),
        "trace.spans": len(tr.spans),
        "client.op_p50_ms": run.record["op_p50_ms"],
    }
    for k in ("flight.bytes_in", "flight.bytes_out"):
        m[k] = c[k]

    def calls(name: str) -> int:
        return sum(1 for sp in tr.spans if sp[2] == name and sp[5])

    staged, spilled = c["mkdtemp.mallard_stream_"], c["mkdtemp.mallard_put_"]
    m.update({
        "engine.stream.staged": staged,
        "engine.stream.toarrow": calls("engine.stream") - staged,
        "engine.ingest.memory": calls("engine.ingest") - spilled,
    })
    for verb in ("get", "put", "exchange"):
        m[f"flight.{verb}.server_s"] = tr.total(f"flight.{verb}.server")
    for meth in ("execute_query", "create_table", "transfer_table", "exchange_data"):
        m[f"flight.{meth}.client_s"] = tr.total(f"client.{meth}")
    for route in route_counts(tr.spans):
        m[f"engine.route.{route}"] = m.get(f"engine.route.{route}", 0) + 1
    selft = tr.self_times()
    for layer in LAYERS:
        m[f"self.{layer}_s"] = selft.get(layer, 0.0)
    m.update(run.exec_metrics)
    m.update(extra)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [p["name"] for p in json.load(f)["per_layer"]]
    return {k: m.get(k, 0.0) for k in names if not k.startswith("traced.")}
