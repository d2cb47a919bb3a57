"""The cold-run protocol: one warmed session that times declared queries cold.

    python tools/probe.py q1 q2 ... [--passes N] [--sf DIR]

bench.py and tools/scale_probe.py take every timed number from here, so a
number means the same thing in all of them:

- every fixture byte is read once before any clock starts, and the observed
  rate is recorded (``cache_state``): a rate near RAM speed means the page
  cache was already warm, a disk-bound one that this read warmed it;
- the session is warmed once: the JVM, the alert corpus's cached base views
  (per-session infrastructure the 20 alert queries share), one untimed
  ``WARMUP_QUERY`` and one ``pandas_udf`` round-trip, so the first timed
  query absorbs no codegen, noop-sink or Arrow-worker start-up;
- a cold run clears the trained-artifact memo (which also unpersists the
  tracked operator caches), runs the query through the ``noop`` sink under
  its own job group ``q:<name>``, and reads Spark's counters for that run's
  jobs after the clock stops;
- a query's time is the min over cold passes, a machine-noise guard only.

Per-run counters (read by ``perfbench.sparkstats.SparkCounters``):

- ``spark.jobs``: jobs the run submitted;
- ``spark.stages``: EXECUTED stages of those jobs.  SKIPPED stages (a shuffle
  output an earlier job of the run already wrote) are excluded;
- ``spark.executor_cpu_s``, ``spark.shuffle_write_bytes`` and
  ``spark.shuffle_write_records``: summed over those stages;
- ``spark.job_covered_s``: union of the jobs' [submitted, completed]
  intervals within the wall clock; ``spark.driver_gap_s`` is the rest of the
  wall clock (planning, driver collects, py4j, AQE re-planning);
- ``memo.artifact_count``: session artifacts the run left memoized.

The CLI prints one stderr line per pass and, last, one JSON line
``{name: {"wall": s, <counters>}}`` holding each query's min-wall pass.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import INPUT_SCHEMAS, WARMUP_QUERY  # noqa: E402
from perfbench.sparkstats import SparkCounters  # noqa: E402

from alertas_spark.operators import memo  # noqa: E402

#: the SparkCounters kept per run
COUNTERS = ("spark.jobs", "spark.stages", "spark.executor_cpu_s",
            "spark.shuffle_write_bytes", "spark.shuffle_write_records",
            "spark.job_covered_s", "spark.driver_gap_s")


def pre_read(sf_dir: str) -> dict:
    """Read every fixture byte of ``sf_dir`` once; returns the cache state."""
    nbytes, t0 = 0, time.time()
    try:
        for pat in (os.path.join(sf_dir, "*.parquet"),
                    os.path.join(sf_dir, "*.parquet", "*.parquet")):
            for f in glob.glob(pat):
                if os.path.isfile(f):
                    with open(f, "rb") as fh:
                        # count actual chunk lengths: charging a full chunk
                        # for each file's last one inflates the rate enough
                        # to label a cold run over many small files "warm"
                        while chunk := fh.read(1 << 22):
                            nbytes += len(chunk)
    except OSError as ex:
        print(f"# fixture pre-read skipped: {ex}", file=sys.stderr)
        return {"prewarm_mb": 0.0, "prewarm_mb_per_s": None, "initial": "unknown"}
    rate = nbytes / max(time.time() - t0, 1e-9) / 1e6
    return {"prewarm_mb": round(nbytes / 1e6, 1),
            "prewarm_mb_per_s": round(rate, 1),
            "initial": "warm" if rate > 1500 else "cold"}


class Probe:
    """A warmed Spark session over one dataset, timing queries cold."""

    def __init__(self, app_name: str, sf_dir: str) -> None:
        from alertas_spark.registry import load_all
        from alertas_spark.session import get_spark

        self.sf_dir = sf_dir
        self.spark = get_spark(app_name)
        self.registry = load_all()
        self.cache_state = pre_read(sf_dir)
        try:
            self._warm_up()
        except Exception as ex:  # it slows the first timed runs, not others
            print(f"# warm-up incomplete: {ex}", file=sys.stderr)
        self.counters = SparkCounters(self.spark)

    def _warm_up(self) -> None:
        from pyspark.sql.functions import pandas_udf

        from alertas_spark.plans.alert_corpus import _ctx

        spark = self.spark
        spark.range(1000).selectExpr("sum(id)").collect()
        self.registry[WARMUP_QUERY].builder(spark, self.sf_dir) \
            .write.format("noop").mode("overwrite").save()
        memo.clear()
        # a lambda: `from __future__ import annotations` stringifies a def's
        # type hints, and pandas_udf cannot resolve a local alias in them
        echo = pandas_udf(lambda s: s, "long")
        spark.range(1000).select(echo("id")).write.format("noop") \
            .mode("overwrite").save()
        # without this the first alert query timed absorbs ~10 s of shared
        # base-view building
        _ctx(spark).view("documentos_ativos").count()

    def cold_run(self, name: str, sf_dir: str | None = None) -> dict:
        """:meth:`timed_run` with the memo cleared first, so the run pays its
        full standalone cost (training, codebooks, truth sets)."""
        memo.clear()
        return self.timed_run(name, sf_dir)

    def timed_run(self, name: str, sf_dir: str | None = None) -> dict:
        """One run of ``name`` through the ``noop`` sink with the memo as it
        is; returns ``{"wall": seconds, <counters>}``."""
        sc = self.spark.sparkContext
        self.counters.skip()  # untimed jobs since the last run are not this run's
        sc.setJobGroup(f"q:{name}", f"probe {name}")
        w0 = time.time()
        try:
            self.registry[name].builder(self.spark, sf_dir or self.sf_dir) \
                .write.format("noop").mode("overwrite").save()
        finally:
            w1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        got = self.counters.read((w0, w1))
        rec = {"wall": round(w1 - w0, 3)}
        rec.update((k, round(got[k], 3)) for k in COUNTERS)
        rec["memo.artifact_count"] = memo.artifact_count()
        return rec

    def min_over_passes(self, names, passes: int,
                        sf_dir: str | None = None) -> dict[str, dict]:
        """Each of ``names`` run cold ``passes`` times, pass by pass; returns
        each name's min-wall run.  A run that raises prints its error and
        marks the name failed (``{"wall": -1.0}``) for all passes."""
        best: dict[str, dict] = {}
        for p in range(passes):
            for name in names:
                try:
                    rec = self.cold_run(name, sf_dir)
                except Exception as ex:  # the other queries still get timed
                    print(f"# error {name}: {ex}", file=sys.stderr)
                    best[name] = {"wall": -1.0}
                    continue
                print(f"# pass {p} {name}: "
                      + " ".join(f"{k}={v}" for k, v in rec.items()),
                      file=sys.stderr)
                prev = best.get(name)
                if prev is None or 0 <= rec["wall"] < prev["wall"]:
                    best[name] = rec
        return best

    def alert_run(self, warehouse: str, sigla: str,
                  passes: int) -> tuple[float, int]:
        """(seconds, rows) of the fastest of ``passes`` cold counts of alert
        ``sigla``'s builder over ``warehouse``.  Each pass builds a fresh
        context, so the cached base views and the in-builder tempo cache are
        rebuilt and the detail sink rewritten (the alert's nightly cost)."""
        from alertas_spark.framework.context import AlertContext
        from alertas_spark.framework.engine import registry
        from alertas_spark.testing.fixtures import AS_OF

        runs = []
        for _ in range(passes):
            self.spark.catalog.clearCache()
            ctx = AlertContext(spark=self.spark, warehouse=warehouse, as_of=AS_OF)
            t0 = time.time()
            rows = registry()[sigla].builder(ctx).count()
            runs.append((round(time.time() - t0, 2), rows))
            self.spark.catalog.clearCache()
        return min(runs)

    def alert_batch(self, inputs_dir: str,
                    passes: int) -> tuple[float, dict[str, float]]:
        """The nightly batch (every active alert computed, staged and
        published by ``engine.run_all``), each pass cold over a fresh
        warehouse whose input schemas link to ``inputs_dir``.  Returns the
        min-time pass's (seconds, per-phase seconds)."""
        from alertas_spark.framework import engine
        from alertas_spark.framework.context import AlertContext
        from alertas_spark.testing.fixtures import AS_OF

        best: tuple[float, dict[str, float]] | None = None
        for _ in range(passes):
            wh = tempfile.mkdtemp(prefix="probe_wh_")
            try:
                for schema in INPUT_SCHEMAS:
                    os.symlink(os.path.join(inputs_dir, schema),
                               os.path.join(wh, schema))
                os.makedirs(os.path.join(wh, "alertas"))
                self.spark.catalog.clearCache()
                ctx = AlertContext(spark=self.spark, warehouse=wh, as_of=AS_OF)
                t0 = time.time()
                phases = engine.run_all(ctx, quiet=True)
                secs = round(time.time() - t0, 3)
            finally:
                self.spark.catalog.clearCache()
                shutil.rmtree(wh, ignore_errors=True)
            if best is None or secs < best[0]:
                best = (secs, phases)
        return best


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Time declared queries with the cold-run protocol.")
    ap.add_argument("names", nargs="+", help="declared query names")
    ap.add_argument("--passes", type=int, default=2)
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf_env, required=sf_env is None,
                    help="dataset directory (default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if args.passes < 1:
        ap.error("--passes must be at least 1")

    probe = Probe("alertas-probe", args.sf)
    unknown = sorted(set(args.names) - set(probe.registry))
    if unknown:
        ap.error(f"not declared queries: {unknown}")
    best = probe.min_over_passes(args.names, args.passes)
    memo.clear()
    print(json.dumps(best))


if __name__ == "__main__":
    main()
