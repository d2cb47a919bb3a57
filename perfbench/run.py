"""The repository benchmark: the nightly alert batch and the declared queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``perfbench/workloads.json``) as a closed loop with one
client on ``local[<nproc>]`` and prints, as the last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones in ``BENCHMARK.json``; with ``--trace 1``
wrappers around the engine's public functions (``perfbench/trace.py``) and
Spark's job and stage counters (``perfbench/sparkstats.py``) give the
per-layer ones.  The lines before it print every metric with its unit, and the
full record (samples, spans, per-operation counters, input identity) goes to
``perfbench/results/<workload>-s<seed>-t<trace>.json``.

Every run sets up once, cold, as a fresh nightly process does (PySpark
import, session build and JVM launch, ``registry.load_all`` importing the
query modules, fixture pre-read, warm-up query) and reports that time as
``setup_s``; the driver's repeated runs supply its median.  It then runs an
untimed correctness pass and measures for ``--seconds``: at least one
operation, and more while time remains.  Inputs are generated inside the
checkout on first use (``perfbench/datagen.py``, the MPRJ fixture generator);
the seed only orders the queries and picks the warm-up day of the batch.

End-to-end metrics (an "item" is an alert on ``nightly_alerts`` and a query
on the query workloads; a "batch" is one nightly run of all alerts, or one
cold pass over the query list):

- ``setup_s``: the cold set-up time;
- ``batch_s``: median batch wall time;
- ``query_p50_s``: median item time (alerts: ``engine.run_all``'s own timers);
- ``query_tail_s``: the highest percentile of item times that leaves ten
  samples beyond it, with its percentile and sample count (printed and
  recorded; short runs have too few samples for one);
- ``corpus_s``: sum over the frozen list of each item's median time;
- ``warm_corpus_s``: ``corpus_s`` with each memoizing query's session-warm
  repeat in place of its cold time (query workloads);
- ``failed_frac``: failed operations and failed checks over attempted;
- ``driver_rss_peak_mb``: peak RSS of the driver JVM plus this process.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import glob
import hashlib
import json
import os
import platform
import random
import resource
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")

sys.path.insert(0, ROOT)
from perfbench import stats  # noqa: E402  (needs ROOT on the path)
from perfbench.trace import parquet_rows  # noqa: E402

#: threads of the untimed query check pass
CHECK_THREADS = 3
#: the cheap declared query every set-up runs before any clock starts
WARMUP_QUERY = "filter_project"
#: the input schemas a nightly warehouse links to the fixtures
INPUT_SCHEMAS = ("exadata", "exadata_aux", "opengeo", "alertas_compras")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict:
    """Master, shuffle partitions, heap and scratch dirs for this host.

    The driver heap is a fifth of physical memory, capped at 3 GiB, so the
    Python workers and the page cache keep most of a small host; it is fully
    reserved at start (``-Xms``, see :func:`spark_conf`)."""
    cpus = _nproc()
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap = f"{max(1024, min(3072, total_mb // 5))}m"
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    # runs never overlap: drop what an interrupted run left behind
    for d in glob.glob(os.path.join(WORK, "warehouse-*")):
        shutil.rmtree(d, ignore_errors=True)
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: temp files in the
        # checkout, and no /tmp/hsperfdata_<user> file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = tmp
    return {"nproc": cpus, "master": f"local[{cpus}]", "shuffle_partitions": cpus,
            "driver_heap": heap, "host_memory_mb": total_mb}


def spark_conf() -> dict[str, str]:
    # a heap that starts at its final size: G1 otherwise grows it in steps
    # whose timing varies run to run, and so do peak RSS and GC pauses
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run readable through the REST API
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "10000",
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
    }


def _rss_peak_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (AttributeError, OSError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def _pre_read(dirs: list[str]) -> None:
    """Read every input byte once, so no timed scan waits on the disk."""
    for d in dirs:
        for base, _, files in os.walk(d, followlinks=True):
            for f in files:
                with open(os.path.join(base, f), "rb") as fh:
                    while fh.read(1 << 22):
                        pass


class Bench:
    def __init__(self, args, workload: dict, env: dict, tracer) -> None:
        self.args = args
        self.wl = workload
        self.env = env
        self.tracer = tracer
        self.rng = random.Random(args.seed)
        self.outcomes: list[str] = []
        self.problems: dict[str, str] = {}
        self.per_op: list[dict] = []
        self.counters = None
        self.spark = None
        #: wall seconds per run phase, for sizing runs
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    # -- set-up -------------------------------------------------------------
    def setup(self) -> float:
        """The cold set-up, in seconds.  Nothing before it has imported
        PySpark or started a JVM (a traced run has imported the wrapped
        modules)."""
        t0 = time.perf_counter()
        from alertas_spark import registry as registry_mod
        from alertas_spark import session

        self.spark = session.get_spark("perfbench", extra_conf=spark_conf())
        if self.tracer is not None:
            self.tracer.bind(self.spark)
        self.registry = registry_mod.load_all()
        _pre_read([self.data_dir, self.fixture_dir])
        self.registry[WARMUP_QUERY].builder(self.spark, self.data_dir) \
            .write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t0
        if self.tracer is not None:
            from perfbench.sparkstats import SparkCounters

            self.counters = SparkCounters(self.spark)
        return secs

    # -- operations -----------------------------------------------------------
    def op(self, op_id: str, name: str, fn):
        """Run one timed operation; returns (result, seconds, wall interval)."""
        if self.counters is not None:
            self.counters.skip()  # jobs since the last read belong to no operation
        sp = self.tracer.begin_op(op_id, name) if self.tracer else None
        w0, t0 = time.time(), time.perf_counter()
        try:
            result = fn()
        finally:
            secs = time.perf_counter() - t0
            wall = (w0, time.time())
            if sp is not None:
                self.tracer.end_op(sp)
        return result, secs, wall

    def read_counters(self, op_id: str, wall, timed: bool) -> None:
        if self.counters is not None:
            rec = self.counters.read(wall)
            rec.update({"op": op_id, "timed": timed})
            self.per_op.append(rec)

    def outcome(self, what: str, result: str) -> None:
        """Count one operation or check: ``"ok"`` or a problem description."""
        if result == "ok":
            self.outcomes.append("ok")
        else:
            self.fail(what, result)

    def checked(self, what: str, check, *args) -> None:
        """Count the outcomes of a check returning ``{name: result}``; a check
        that raises counts as one failure."""
        try:
            results = check(*args)
        except Exception as ex:
            self.fail(what, f"check error: {ex}"[:300])
            return
        for name, res in results.items():
            self.outcome(name, res)

    def fail(self, what: str, problem: str) -> None:
        self.outcomes.append("failed")
        self.problems[what] = problem
        print(f"# FAIL {what}: {problem}", file=sys.stderr)

    # -- nightly_alerts -------------------------------------------------------
    def run_nightly(self) -> dict:
        from perfbench import checks

        from alertas_spark.framework import engine
        from alertas_spark.framework.context import AlertContext
        from alertas_spark.testing.fixtures import AS_OF

        siglas = tuple(self.wl["alerts"])
        missing = [s for s in siglas if s not in engine.registry()]
        for s in missing:
            self.fail(f"alert:{s}", "not in the engine registry")
        siglas = tuple(s for s in siglas if s not in missing)
        families = sorted({engine.registry()[s].family_table for s in siglas})

        wh = tempfile.mkdtemp(prefix="warehouse-", dir=WORK)
        for schema in INPUT_SCHEMAS:
            os.symlink(os.path.join(self.fixture_dir, schema), os.path.join(wh, schema))
        os.mkdir(os.path.join(wh, "alertas"))

        # the seed picks the untimed first day, which creates the hist tables;
        # timed days start at AS_OF (checked against the oracles) and go on
        # while the run has time, so every later day takes the hist-merge path
        warmup_day = AS_OF.replace(day=self.rng.randint(1, AS_OF.day - 1))
        timed_days = (AS_OF + dt.timedelta(days=i) for i in range(31)
                      if (AS_OF + dt.timedelta(days=i)).month == AS_OF.month)
        snapshot_rows: dict[str, dict[str, int]] = {f: {} for f in families}
        batches, published, days = [], [], []
        alert_times: dict[str, list[float]] = {s: [] for s in siglas}

        def batch(ctx):
            timings = engine.run_all(ctx, siglas, quiet=True)
            engine.generate_types_table(ctx)
            return timings

        try:
            t_start = None
            for day in (warmup_day, *timed_days):
                timed = day != warmup_day
                ctx = AlertContext(spark=self.spark, warehouse=wh, as_of=day)
                op_id = f"day:{day:%Y%m%d}"
                if timed and t_start is None:
                    t_start = time.perf_counter()
                try:
                    with self.phase("timed" if timed else "warmup"):
                        timings, secs, wall = self.op(op_id, "nightly.batch",
                                                      lambda: batch(ctx))
                except Exception as ex:  # a failed batch ends the loop
                    self.fail(op_id, f"batch error: {ex}"[:300])
                    break
                self.read_counters(op_id, wall, timed)
                days.append(f"{day:%Y%m%d}")
                for fam in families:
                    snapshot_rows[fam][days[-1]] = parquet_rows(
                        ctx.catalog.path("alertas", fam))
                if timed:
                    self.outcome(op_id, "ok")
                    batches.append(secs)
                    published.append(sum(r[days[-1]] for r in snapshot_rows.values()))
                    for s in siglas:
                        alert_times[s].append(timings[f"alert {s}"])
                if day == AS_OF:
                    with self.phase("check"):
                        self.checked("snapshots", checks.nightly_snapshots, ctx, siglas)
                if timed and time.perf_counter() - t_start >= self.args.seconds:
                    break
            if days:
                with self.phase("check"):
                    self.checked("hist", checks.hist_blocks, ctx, families,
                                 snapshot_rows, AS_OF.strftime("%Y%m"))
        finally:
            shutil.rmtree(wh, ignore_errors=True)

        samples = [t for ts in alert_times.values() for t in ts]
        return {
            "batches": batches,
            "op_samples": samples,
            "per_item_median": {s: stats.median(ts) for s, ts in alert_times.items() if ts},
            "rows_published": published,
            "days": days, "warmup_day": f"{warmup_day:%Y%m%d}",
            "snapshot_rows": snapshot_rows,
            "items": list(siglas),
        }

    # -- query workloads -------------------------------------------------------
    def run_queries(self) -> dict:
        from alertas_spark.operators import artifacts, memo

        frozen = [n for n in self.wl["queries"] if n in self.registry]
        for n in self.wl["queries"]:
            if n not in self.registry:
                self.fail(f"query:{n}", "not in the registry")
        layer_of = {n: _layer(self.registry[n].builder.__module__) for n in frozen}

        with self.phase("check"):
            self.check_queries(frozen)
        names = list(frozen)
        self.rng.shuffle(names)

        cold: dict[str, list[float]] = {n: [] for n in names}
        warm: dict[str, float] = {}
        artifact_peak = 0
        builds0 = artifacts.build_count()
        t_start, passes = time.perf_counter(), 0
        while time.perf_counter() - t_start < self.args.seconds or not passes:
            with self.phase("timed"):
                for n in names:
                    memo.clear()
                    secs = self.run_query(n, f"cold:{passes}:{n}", layer_of[n])
                    if secs is None:
                        continue
                    cold[n].append(secs)
                    artifact_peak = max(artifact_peak, memo.artifact_count())
                    if passes == 0 and memo.artifact_count():
                        # the session-warm repeat: same query, artifacts kept
                        wsecs = self.run_query(n, f"warm:{n}", layer_of[n], timed=False)
                        if wsecs is not None:
                            warm[n] = wsecs
            passes += 1
        medians = {n: stats.median(ts) for n, ts in cold.items() if ts}
        return {
            "passes": passes,
            "batches": [sum(cold[n][p] for n in names if len(cold[n]) > p)
                        for p in range(passes)],
            "op_samples": [t for ts in cold.values() for t in ts],
            "per_item_median": medians,
            "warm": warm,
            "warm_corpus_s": sum(warm.get(n, medians.get(n, 0.0)) for n in names),
            "layer_of": layer_of,
            "artifact_peak": artifact_peak,
            "artifact_builds": artifacts.build_count() - builds0,
            "items": names,
        }

    def check_queries(self, names: list[str]) -> None:
        """The untimed check pass, which is also every query's first run in
        the session: the Spark outputs are collected on CHECK_THREADS threads
        (nothing is timed, and the first-run planning of different queries
        overlaps), and each is compared with its oracle as it arrives.  The
        queries start in list order, which ``workloads.json`` keeps longest
        first, so the slow ones do not trail."""
        from concurrent.futures import ThreadPoolExecutor, as_completed

        from pyspark.util import inheritable_thread_target

        from perfbench import checks

        from alertas_spark.operators import memo
        from alertas_spark.sources.catalog import TABLES

        def collect(name):
            return self.registry[name].builder(self.spark, self.data_dir).toPandas()

        memo.clear()
        oracle = checks.QueryOracle(self.data_dir, TABLES)
        try:
            with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
                futures = {pool.submit(inheritable_thread_target(lambda n=n: collect(n))): n
                           for n in names}
                for f in as_completed(futures):
                    n = futures[f]
                    try:
                        res = oracle.check(n, f.result(), self.registry[n].oracle)
                    except Exception as ex:
                        res = f"error: {ex}"[:300]
                    self.outcome(f"check:{n}", res)
        finally:
            oracle.close()
        memo.clear()

    def run_query(self, name: str, op_id: str, layer: str,
                  timed: bool = True) -> float | None:
        """One query under its own job group: the builder call, then the
        ``noop`` write that executes the plan, each in its layer's span."""
        q = self.registry[name]
        span = self.tracer.span if self.tracer else (lambda _: contextlib.nullcontext())
        self.spark.sparkContext.setJobGroup(f"q:{name}", op_id)

        def build_and_run():
            with span(f"{layer}.build"):
                df = q.builder(self.spark, self.data_dir)
            with span(f"{layer}.exec"):
                df.write.format("noop").mode("overwrite").save()

        try:
            _, secs, wall = self.op(op_id, "query", build_and_run)
        except Exception as ex:
            self.fail(op_id, f"error: {ex}"[:300])
            return None
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if timed:
            self.outcome(op_id, "ok")
        self.read_counters(op_id, wall, timed)
        return secs


def _layer(module: str) -> str:
    """The benchmark layer of a declared query, from its defining module."""
    if module.startswith("alertas_spark.operators."):
        return "operators"
    if module.startswith("alertas_spark.streaming."):
        return "streaming"
    return "plans"


def end_to_end(res: dict, setup: float, rss_mb: float) -> dict:
    tail = stats.tail(res["op_samples"])
    out = {
        "setup_s": (setup, "s"),
        "batch_s": (stats.median(res["batches"]), "s"),
        "query_p50_s": (stats.median(res["op_samples"]), "s"),
        "corpus_s": (sum(res["per_item_median"].values()), "s"),
        "driver_rss_peak_mb": (rss_mb, "MB"),
    }
    if tail is not None:
        out["query_tail_s"] = (tail["value"], "s")
    if "warm_corpus_s" in res:
        out["warm_corpus_s"] = (res["warm_corpus_s"], "s")
    return out, tail


def per_layer(bench: Bench, res: dict, setup_spans: list[dict]) -> dict:
    """Per-layer metrics from the spans and counters of the timed operations."""
    from perfbench import sparkstats

    tr = bench.tracer
    timed_ops = {op["op"] for op in bench.per_op if op["timed"]}
    spans = [s for s in tr.spans if s["op"] in timed_ops]
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, ()))

    def count(name):
        return len(by_name.get(name, ()))

    def wall_union(name):
        per_op: dict[str, list] = {}
        for s in by_name.get(name, ()):
            per_op.setdefault(s["op"], []).append((s["start"], s["end"]))
        return sum(stats.covered(iv) for iv in per_op.values())

    m: dict[str, tuple[float, str]] = {}
    for name in ("session.get_spark", "registry.load_all"):
        m[f"{name}_s"] = (sum(s["end"] - s["start"] for s in setup_spans
                              if s["name"] == name), "s")

    alert_s, compute_wall = total("engine.run_alert"), wall_union("engine.run_alert")
    m["engine.run_alert_s"] = (alert_s, "s")
    m["engine.run_alert_max_s"] = (max((s["end"] - s["start"] for s in
                                        by_name.get("engine.run_alert", ())), default=0.0), "s")
    m["engine.compute_wall_s"] = (compute_wall, "s")
    m["engine.overlap"] = (alert_s / compute_wall if compute_wall else 0.0, "ratio")
    m["engine.publish_s"] = (total("engine.publish"), "s")
    m["engine.publish_wall_s"] = (wall_union("engine.publish"), "s")
    m["engine.types_table_s"] = (total("engine.types_table"), "s")
    m["engine.rows_staged"] = (sum(n for op, n in tr.staged if op in timed_ops), "rows")
    m["engine.rows_published"] = (sum(res.get("rows_published", [])), "rows")
    m["context.write_table_n"] = (count("context.write_table"), "count")
    m["context.write_table_s"] = (total("context.write_table"), "s")
    m["context.view_s"] = (total("context.view"), "s")
    m["context.table_n"] = (count("context.table"), "count")
    m["context.drop_table_s"] = (total("context.drop_table"), "s")
    m["alerts.build_s"] = (total("alerts.build"), "s")

    build_tot = exec_tot = 0.0
    for layer in ("plans", "operators", "streaming"):
        b, e = total(f"{layer}.build"), total(f"{layer}.exec")
        build_tot, exec_tot = build_tot + b, exec_tot + e
        m[f"{layer}.build_s"] = (b, "s")
        m[f"{layer}.exec_s"] = (e, "s")
    m["query.build_share"] = (build_tot / (build_tot + exec_tot)
                              if build_tot + exec_tot else 0.0, "ratio")

    cold = [built for op, built in tr.memo_calls if op in timed_ops]
    warm = [built for op, built in tr.memo_calls if op and op.startswith("warm:")]
    m["memo.session_artifact_n"] = (len(cold), "count")
    m["memo.builds_n"] = (sum(cold), "count")
    m["memo.hit_ratio"] = (1.0 - sum(cold) / len(cold) if cold else 0.0, "ratio")
    m["memo.warm_hit_ratio"] = (1.0 - sum(warm) / len(warm) if warm else 0.0, "ratio")
    m["memo.artifact_count"] = (res.get("artifact_peak", 0), "count")
    m["artifacts.bounded_rows_n"] = (count("artifacts.bounded_rows"), "count")
    m["artifacts.bounded_rows_s"] = (total("artifacts.bounded_rows"), "s")
    m["artifacts.pulled_rows"] = (sum(n for op, n in tr.pulls if op in timed_ops), "rows")
    m["artifacts.build_count"] = (res.get("artifact_builds", 0), "count")
    m["sources.load_table_n"] = (count("sources.load_table"), "count")
    m["sources.load_table_s"] = (total("sources.load_table"), "s")

    spark_tot = sparkstats.summed([op for op in bench.per_op if op["timed"]],
                                  bench.env["nproc"])
    units = {"_s": "s", "_bytes": "bytes", "_records": "records"}
    for k, v in spark_tot.items():
        if k == "spark.wall_s":
            continue
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        m[k] = (v, "ratio" if k == "spark.slot_utilisation" else unit)
    return m


def span_summary(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total seconds and self seconds (duration minus
    the part its child spans cover)."""
    selfs = stats.self_times(spans)
    out: dict[str, dict] = {}
    for sp in spans:
        row = out.setdefault(sp["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        row["n"] += 1
        row["total_s"] += sp["end"] - sp["start"]
        row["self_s"] += selfs[sp["id"]]
    return out


def input_identity(data_dir: str, wl: dict) -> dict:
    from alertas_spark.operators.artifacts import dataset_fingerprint
    from alertas_spark.sources.catalog import TABLES
    from alertas_spark.testing import fixtures

    import pyspark

    content = {}
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            content[t] = hashlib.sha1(fh.read()).hexdigest()[:12]
    return {
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "fixtures_version": fixtures.VERSION,
        "dataset_fingerprints": {t: dataset_fingerprint(data_dir, t) for t in TABLES},
        "dataset_sha1": content,
        "frozen_list": wl.get("queries") or wl.get("alerts"),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "alertas_spark", "registry.py")):
        print("error: the alertas_spark package is not beside perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        print(f"error: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[args.workload]

    env = pin_environment()
    from perfbench import datagen
    from perfbench.trace import Tracer, span_cost

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()  # before registry.load_all imports the query modules

    from alertas_spark.testing import fixtures

    bench = Bench(args, wl, env, tracer)
    bench.data_dir = datagen.ensure(os.path.join(WORK, "data", "sf0.1"))
    # the MPRJ fixtures where the alert corpus keeps them (generated on the
    # first run in a checkout; registry.load_all would generate them too)
    bench.fixture_dir = fixtures.ensure_fixtures(os.path.join(ROOT, ".fixtures", "mprj"))

    try:
        with bench.phase("setup"):
            setup = bench.setup()
        setup_spans = list(tracer.spans) if tracer else []
        if tracer:
            tracer.spans.clear()
        res = bench.run_nightly() if wl["kind"] == "nightly" else bench.run_queries()
        rss = _rss_peak_mb(bench.spark)
        attempted, failed, frac = stats.failed_frac(bench.outcomes)
        if not res["batches"]:
            print("error: no operation completed", file=sys.stderr)
            return 1
        e2e, tail = end_to_end(res, setup, rss)
        e2e["failed_frac"] = (frac, "ratio")
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "environment": env,
            "inputs": input_identity(bench.data_dir, wl),
            "setup_s": setup, "tail": tail, "result": res,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "problems": bench.problems,
        }
        bench_metrics = benchmark_metrics(bool(args.trace))
        if tracer:
            layer = per_layer(bench, res, setup_spans)
            layer.update(trace_overhead(tracer, span_cost(bench.spark),
                                        prior_record(args, 0, record["inputs"]), e2e))
            record.update({
                "per_layer": {k: v for k, (v, _) in layer.items()},
                "wrapper_calls": dict(tracer.calls),
                "missed_bindings": tracer.missed_bindings(),
                "per_op_counters": bench.per_op,
                "span_summary": span_summary(tracer.spans),
                "spans": tracer.spans,
                "counter_repeat": compare_counts(
                    prior_record(args, 1, record["inputs"]), bench.per_op),
            })
            shown = layer
        else:
            shown = e2e
        record["run_wall_s"] = time.perf_counter() - t_run
        record["phases_s"] = bench.phases
        write_record(args, record)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)

    for k, (v, unit) in e2e.items():
        print(f"# {k} = {v:.6g} {unit}")
    if tail is not None:
        print(f"# query_tail_s is p{tail['percentile']:.1f} of {tail['n']} samples, "
              f"{tail['beyond']} beyond it")
    else:
        print(f"# query_tail_s: no percentile leaves {stats.TAIL_BEYOND} of "
              f"{len(res['op_samples'])} samples beyond it")
    if tracer:
        for k, (v, unit) in layer.items():
            print(f"# {k} = {v:.6g} {unit}")
        print(f"# wrapper calls: {dict(tracer.calls)}")
        print(f"# counter repeat: {record['counter_repeat']}")
    metrics = {k: {"value": shown[k][0], "unit": shown[k][1]} for k in bench_metrics}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, and the Python workers it
    started, to exit: closing the JVM's stdin makes the gateway shut down."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def benchmark_metrics(traced: bool) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def prior_record(args, trace: int, inputs: dict) -> dict | None:
    """The previous record of this workload and seed with ``--trace trace``,
    if it was made on the same inputs and run length."""
    path = os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{trace}.json")
    try:
        with open(path) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        return None
    same = rec.get("inputs") == inputs and rec.get("seconds") == args.seconds
    return rec if same else None


def trace_overhead(tracer, per_span_s: float, untraced: dict | None, e2e) -> dict:
    """The tracing cost: spans opened times the measured per-span cost
    (``trace.overhead_est_s``), and the traced batch time against the latest
    untraced record of the same workload, seed and inputs
    (``trace.overhead_frac``, when there is one; it includes run-to-run noise)."""
    out = {"trace.overhead_est_s": (tracer.span_count() * per_span_s, "s")}
    if untraced is not None:
        out["trace.overhead_frac"] = (
            e2e["batch_s"][0] / untraced["end_to_end"]["batch_s"] - 1.0, "ratio")
    return out


def compare_counts(traced_before: dict | None, per_op: list[dict]) -> dict:
    """Exact-count repeat check against the previous traced record of the
    same workload, seed and inputs: the ops both runs timed, counter by
    counter."""
    from perfbench.sparkstats import EXACT

    if traced_before is None:
        return {"compared_ops": 0, "differs": []}
    before = {op["op"]: op for op in traced_before["per_op_counters"]}
    common = [op for op in per_op if op["op"] in before]
    differs = sorted({k for op in common for k in EXACT if op[k] != before[op["op"]][k]})
    groups = {op["op"]: {g: (before[op["op"]]["job_groups"].get(g, 0), n)
                         for g, n in op["job_groups"].items()
                         if before[op["op"]]["job_groups"].get(g, 0) != n}
              for op in common if any(op[k] != before[op["op"]][k] for k in EXACT)}
    return {"compared_ops": len(common), "differs": differs,
            "jobs_by_group_before_after": groups}


def write_record(args, record: dict) -> None:
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path + ".tmp", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
