"""tools/probe.py, the cold-run protocol, smoked end to end through its CLI.

A subprocess, because the counters are read from the Spark UI REST API and
the shared test session runs without the UI."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from __spark_entry__ import SF0001


def test_probe_cli_reports_cold_counters_per_query():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "probe.py"), "filter_project",
         "simsearch_topk_ivf_trained", "--sf", SF0001, "--passes", "2"],
        cwd=repo, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    best = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(best) == {"filter_project", "simsearch_topk_ivf_trained"}
    for rec in best.values():
        assert rec["wall"] >= 0
        for key in ("spark.jobs", "spark.stages", "spark.executor_cpu_s",
                    "spark.shuffle_write_bytes", "spark.shuffle_write_records",
                    "spark.job_covered_s", "spark.driver_gap_s"):
            assert key in rec, key
        assert rec["spark.jobs"] > 0
    # every pass is cold: a memo left warm would drop the training jobs from
    # the second pass
    jobs = re.findall(r"# pass (\d) simsearch_topk_ivf_trained: \S+ spark\.jobs=(\d+)",
                      out.stderr)
    assert [p for p, _ in jobs] == ["0", "1"], out.stderr[-3000:]
    assert jobs[0][1] == jobs[1][1]
