"""Span parenting of the traced run's recorder (``perfbench/trace.py``).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.trace import Tracer  # noqa: E402


def test_nested_spans_and_pool_threads_parent_to_the_operation():
    tr = Tracer()
    work = tr.wrap(lambda: None, "engine.run_alert")
    op = tr.begin_op("day:20240415", "nightly.batch")
    with tr.span("outer") as outer:
        work()
    threads = [threading.Thread(target=work) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    tr.end_op(op)

    by_name: dict[str, list[dict]] = {}
    for sp in tr.spans:
        by_name.setdefault(sp["name"], []).append(sp)
    assert by_name["outer"][0]["parent"] == op.id
    alerts = by_name["engine.run_alert"]
    assert len(alerts) == 5 and tr.calls["engine.run_alert"] == 5
    # the call on the operation's thread nests under its open span; calls on
    # pool threads, which have no open span, hang off the operation itself
    assert sorted(sp["parent"] for sp in alerts) == [op.id] * 4 + [outer.id]
    assert all(sp["op"] == "day:20240415" for sp in tr.spans)
    assert tr.op is None


def test_spans_outside_an_operation_have_no_op():
    tr = Tracer()
    with tr.span("check"):
        pass
    assert tr.spans[0]["op"] is None and tr.spans[0]["parent"] is None
