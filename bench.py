"""Benchmark runner — the driver's per-round feedback loop.

Runs every declared query at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec", "queries": {...}, "sf": ...}

Every timing goes through ``tools/probe.py``, the one cold-run protocol
(fixture pre-read, session warm-up, memo cleared before each timed run, noop
sink, per-query job group).  Each query's Spark counters from its min-wall
cold pass (jobs, executed stages, executor CPU, shuffle bytes and records,
job-covered and driver-gap seconds) go to BENCH_LOCAL.json under
``counters``; the stdout line is the same record without them.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from alertas_spark.operators import artifacts, memo
    from alertas_spark.plans.alert_corpus import FIXTURE_DIR
    from tools.probe import Probe

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # The probe pre-touches every fixture byte and RECORDS the observed read
    # rate (r15 postmortem: four same-head runs spread 239.7-297.0 s and the
    # committed record was the cold-page-cache outlier, manufacturing 5x
    # phantom per-query regressions), then runs one untimed warm-up query
    # and one Arrow round-trip (r16 verdict item 1: the first timed query of
    # a session otherwise absorbs codegen, noop-sink and Arrow-worker warmup;
    # the r16 record's 10x multiprobe phantom was exactly that).
    probe = Probe("alertas-bench", sf_dir)
    spark = probe.spark

    # Prior committed record, read BEFORE this run overwrites it: the >3x
    # swing guard below re-times any apparent regression standalone instead
    # of committing a phantom (r16 verdict item 1c).
    prior_record: dict = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json")) as fh:
            prior_record = json.load(fh)
    except Exception:
        pass

    # Queries whose pre-r7 bench numbers were contaminated by Spark's
    # canonicalized-subplan cache: operator-internal .cache() calls (the ngram
    # verifier's shingle table, the MinHash signature table) warmed the SECOND
    # cold pass of the same query and ANY other query sharing the subplan.
    # From r7 memo.clear() unpersists tracked operator caches, so these
    # queries' timings are honestly cold and NOT comparable to r6-and-earlier
    # records (tools/bench_diff.py excludes them across the boundary).
    cache_cold_since_r7 = [
        "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_jaccard_prefix_filter",
        "dedup_components", "dedup_cluster_representative",
        "pipeline_clean_corpus", "pipeline_clean_corpus_v2",
    ]

    # Per-query time = min of two COLD passes: a single sample conflates the query
    # with whatever the machine was doing that second (observed 1.5-2x whole-corpus
    # swings between back-to-back runs), and the min is the steady-state cost the
    # plan actually has.  COLD means the session-scoped trained-artifact memo
    # (operators/memo.py) is cleared before every timed run, so each query pays its
    # full standalone cost — kmeans training, PQ codebooks, dashboard truth sets —
    # and min-of-2 stays purely a machine-noise guard, never a cache-warmth
    # artifact.  The corpus metric is the sum of per-query cold minima.
    counters = probe.min_over_passes(list(probe.registry), 2)
    timings = {name: rec.pop("wall") for name, rec in counters.items()}
    memoized = {name for name, rec in counters.items()
                if rec.get("memo.artifact_count")}

    # >3x swing guard (r16 verdict item 1c): a per-query regression beyond 3x
    # vs the prior committed record on IDENTICAL fixtures is, on this repo's
    # history, machine state — not code (r15: 5x phantoms from a dropped page
    # cache; r16: a 10x multiprobe phantom from session warmup under load).
    # Re-time each such query standalone (2 extra cold passes), fold the min
    # in, and ANNOTATE the record so the round diff shows the evidence
    # instead of the phantom.
    retimed: dict[str, dict] = {}
    try:
        same_fixtures = prior_record.get("fixtures") and all(
            prior_record["fixtures"].get(t) == artifacts.dataset_fingerprint(sf_dir, t)
            for t in prior_record["fixtures"])
        if same_fixtures:
            prior_q = prior_record.get("queries") or {}
            for name, t in sorted(timings.items()):
                old = prior_q.get(name)
                if old is None or old < 1.0 or t <= 3 * old:
                    continue
                try:
                    samples = [probe.cold_run(name)["wall"] for _p in range(2)]
                except Exception:
                    continue
                retimed[name] = {"in_loop": t, "standalone": samples,
                                 "prior": old}
                timings[name] = min(t, *samples)
    except Exception as ex:
        print(f"# bench swing guard skipped: {ex}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # Session-warm timings for the artifact-memoized queries, reported SEPARATELY
    # (never folded into the headline): in a real multi-query session the trained
    # quantizer/codebook is built once and shared, so this is the marginal cost of
    # re-running such a query with its artifacts live.  Each query's own prior run
    # warms its memo; no cross-query sharing is staged here.
    warm: dict[str, float] = {}
    for name in memoized:
        try:
            probe.cold_run(name)
            warm[name] = probe.timed_run(name)["wall"]
        except Exception as ex:
            warm[name] = -1.0
            print(f"# bench warm error {name}: {ex}", file=sys.stderr)
    memo.clear()

    # Third tier — queries_warm_persistent: the CROSS-SESSION cost.  A prior
    # session persisted the trained artifacts (IVF assignment table, PQ
    # codebook) into the versioned store (operators/artifacts.py); this tier
    # times each trained query in a simulated NEW session — session memo
    # cleared, only the on-disk store warm — i.e. what tomorrow's pipeline
    # run pays.  Queries whose paths persist nothing are skipped (their
    # cross-session cost IS the cold number).
    persistent: dict[str, float] = {}
    try:
        import shutil
        import tempfile

        art_dir = tempfile.mkdtemp(prefix="bench_artifacts_")
        try:
            # only the queries whose paths actually persist artifacts
            # (artifacts.PERSISTENT_QUERIES, accuracy pytest-pinned) — probing
            # every memoized query end-to-end just to learn via build_count
            # that it persists nothing doubled this tier's cost.  A declared
            # persistent query that did NOT memoize in the cold loop would be
            # silently dropped from the tier — surface it instead.
            dropped = artifacts.PERSISTENT_QUERIES - memoized
            if dropped:
                print(f"# bench persistent tier: declared-persistent queries "
                      f"missing from the memoized set (not timed): "
                      f"{sorted(dropped)}", file=sys.stderr)
            for name in sorted(memoized & artifacts.PERSISTENT_QUERIES):
                # per-query store root: artifacts persisted by an earlier
                # query in this loop must not mask a later query's own
                # populate step (shared roots make build_count stay flat)
                spark.conf.set(artifacts.CONF_KEY, os.path.join(art_dir, name))
                b0 = artifacts.build_count()
                try:
                    probe.cold_run(name)  # populates the store
                    if artifacts.build_count() == b0:
                        continue  # nothing persistent in this query's path
                    # min of 2, same machine-noise guard as the cold loop:
                    # this tier was a SINGLE sample through r10, and one GC
                    # pause in the end-of-bench session faked a 5.2->20.8s
                    # "regression" (r10 verdict #2; a controlled re-run of
                    # the identical protocol measured 5.0-6.1s).  Each cold
                    # run simulates a new session: memo cold, store warm.
                    for _p in range(2):
                        t = probe.cold_run(name)["wall"]
                        persistent[name] = min(persistent.get(name, t), t)
                except Exception as ex:
                    # a transient second-pass failure must not erase a valid
                    # first-pass sample already min()-ed into the dict
                    if name not in persistent:
                        persistent[name] = -1.0
                    print(f"# bench persistent error {name}: {ex}",
                          file=sys.stderr)
        finally:
            spark.conf.unset(artifacts.CONF_KEY)
            shutil.rmtree(art_dir, ignore_errors=True)
            memo.clear()
    except Exception as ex:
        print(f"# bench persistent tier skipped: {ex}", file=sys.stderr)

    # The nightly-batch e2e: all active alerts computed, staged and published
    # through the engine (incl. the S7-S11 publication sinks the per-query loop
    # never exercises) — mirrors the reference's Timer-phased generateAlertas
    # run.  Min of 2 full passes, same machine-noise guard as the per-query
    # loop: single samples of this ~20s e2e batch swung 16.6→32.7s on
    # unchanged code.
    alert_batch = -1.0
    try:
        alert_batch, _ = probe.alert_batch(FIXTURE_DIR, 2)
        # Same >3x swing guard as the per-query tier (r17 verdict item 4:
        # the batch number previously sat outside both the guard and the
        # movers annotation, so a 1.42x machine-state swing went
        # unflagged).  A >3x regression vs the prior committed record is
        # re-timed with one extra full pass and annotated under
        # 'retimed' exactly like a query.
        prior_batch = prior_record.get("alert_batch_wall_clock")
        if (prior_batch is not None and prior_batch >= 1.0
                and alert_batch > 3 * prior_batch):
            t, _ = probe.alert_batch(FIXTURE_DIR, 1)
            retimed["alert_batch_wall_clock"] = {
                "in_loop": alert_batch, "standalone": [t],
                "prior": prior_batch}
            alert_batch = min(alert_batch, t)
    except Exception as ex:
        print(f"# bench alert-batch skipped: {ex}", file=sys.stderr)
    # The recorder keeps the TAIL of this line: serialize queries ascending-by-time
    # (slowest — most informative — last) and the headline keys after them, so a
    # front truncation costs only the fastest per-query entries.  Full record also
    # goes to BENCH_LOCAL.json for round-over-round diffing (tools/bench_diff.py).
    # Fixture fingerprints: the driver regenerates /root/testdata between
    # rounds, and regenerated content shifts absolute per-query times (r8
    # postmortem: the six vector-family queries drifted +28-56% r7→r8 purely
    # from fixture regeneration — A/B at both code points on byte-identical
    # fixtures showed the r8 code FASTER on every one; SCALING.md).  Recording
    # the input identity lets bench_diff gate cross-round comparison on it.
    try:
        fixtures = {t: artifacts.dataset_fingerprint(sf_dir, t)
                    for t in ("region", "nation", "customer", "supplier",
                              "part", "orders", "lineitem", "events",
                              "documents", "embeddings")}
    except Exception:
        fixtures = {}
    record = {
        "cache_state": probe.cache_state,
        "retimed": retimed,  # >3x swings vs the prior record, re-timed standalone
        "queries": dict(sorted(timings.items(), key=lambda kv: kv[1])),
        "counters": dict(sorted(counters.items())),
        "fixtures": fixtures,
        "queries_warm_shared_artifacts": dict(sorted(warm.items())),
        "queries_warm_persistent": dict(sorted(persistent.items())),
        "cache_cold_since_r7": cache_cold_since_r7,
        "alert_batch_wall_clock": alert_batch,  # min of 2 cold passes; same
        # >3x swing guard + bench_min min-merge as the query tier (r18)
        "metric": "declared_query_corpus_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "protocol": ("one untimed WARMUP QUERY + one Arrow round-trip run "
                     "before any clock starts (r17: the first timed query of "
                     "a session no longer absorbs codegen/Arrow warmup), and "
                     "any per-query time exceeding 3x the prior committed "
                     "record on identical fixtures is re-timed standalone "
                     "and annotated under 'retimed' — never run bench "
                     "concurrently with pytest or scale probes.  "
                     "fixture bytes are PRE-TOUCHED before any timing and "
                     "the observed read rate recorded in cache_state — every "
                     "record is page-cache-warm by construction (r16; the "
                     "r15 committed record was a documented cold-cache "
                     "outlier).  When multiple same-head runs exist, commit "
                     "the per-query MIN merge (tools/bench_min.py), never a "
                     "single noisy run.  "
                     "per-query = min of 2 COLD passes (trained-artifact memo "
                     "cleared before every timed run, so min-of-2 is purely a "
                     "machine-noise guard); counters = the Spark counters of "
                     "each query's min-wall cold pass (tools/probe.py: "
                     "spark.stages counts executed stages, skipped ones "
                     "excluded); each alert-batch pass runs over a fresh "
                     "warehouse.  MEASURED whole-corpus noise band "
                     "on unchanged code + byte-identical fixtures: up to 1.25x "
                     "total wall-clock between runs under differing background "
                     "load (r11: builder-at-head 204.2s vs driver 164.2s, same "
                     "commit, same fingerprints) — so compare rounds by the "
                     "per-query GEOMEAN ratio over common queries, never by "
                     "the totals, and treat any single-query swing without a "
                     "code-level mover as load noise until it repeats across "
                     "two rounds (the r10->r11 postmortems both followed this "
                     "rule); "
                     "queries_warm_shared_artifacts = same query re-timed with "
                     "its session memo live (multi-query-session marginal cost), "
                     "disclosed separately and excluded from the headline; "
                     "queries_warm_persistent = trained query re-timed in a "
                     "simulated NEW session (memo cleared) against a "
                     "pre-populated persistent artifact store — the "
                     "cross-session cost (r9; min of 2 from r11 — the single "
                     "sample this tier took through r10 let one end-of-bench "
                     "GC pause fake a 4x dashboard regression); also excluded "
                     "from the headline "
                     "(simsearch_recall_dashboard's persistent-warm residue is "
                     "the five ANN tier plans themselves — ground truth is "
                     "artifact-served from r10 (brute-force scan 0.9s -> 0.12s "
                     "load), but tier plans recompute every session BY DESIGN: "
                     "they are the measured subject, and artifact-serving "
                     "their outputs would turn the dashboard into a cache "
                     "read); "
                     "streaming_* carry ~1-2s fixed micro-batch + state-store "
                     "machinery per run; fixture regeneration between rounds "
                     "shifts absolute times — per-query cross-round deltas are "
                     "comparable ONLY between records whose fixtures "
                     "fingerprints match (the r7->r8 vector-family drift was "
                     "exactly this: regenerated embeddings/documents, not "
                     "code); operator caches unpersisted "
                     "before every timed run (r7) — cache_cold_since_r7 lists "
                     "the queries whose earlier-round numbers were "
                     "subplan-cache warm and are not comparable"),
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json"), "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v for k, v in record.items() if k != "counters"}))


if __name__ == "__main__":
    main()
