"""The benchmark's own tests.

    python3 -m pytest cdcbench/test_cdcbench.py -q

``test_tails_keep_one_file_per_batch`` runs the benchmark once per
workload (about two minutes on 4 cores); the other tests are fast.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checker  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _profile(workload: str, seed: int) -> dict:
    """Everything the seed must not change."""
    s = run.build_stream(workload, seed)
    evs = [e for part in (s.backlog, s.tail, s.warmup) for f in part
           for e in f]
    rules = checker.compile_rules(
        gen.ROUTE_RULES if workload == "route_fanout" else gen.UPSERT_RULES)
    keys = {checker.expected_key(e, rules) for e in evs if e["op"] != "x"}
    trunc = 0
    for e in evs:
        if e["op"] != "x" and workload == "upsert_churn":
            side = e["before"] if e["op"] == "d" else e["after"]
            trunc += sum(len(side[c]) >= n
                         for c, n in gen.UPSERT_TRUNC.items())
    return {
        "ops": Counter(e["op"] for e in evs),
        "files": [len(f) for part in (s.backlog, s.tail, s.warmup)
                  for f in part],
        "distinct_keys": len(keys),
        "truncation_hits": trunc,
        "bytes": sum(len(gen.render(e)) for e in evs),
    }


def test_seed_changes_which_rows_not_how_many():
    for workload in run.WORKLOADS:
        a, b = _profile(workload, 1), _profile(workload, 2)
        assert a.pop("bytes") == b.pop("bytes"), workload  # fixed widths
        assert a == b, workload
    x1 = gen.vectors(1, 2000, 64, 200, 0.03)
    x2 = gen.vectors(2, 2000, 64, 200, 0.03)
    assert x1[2] == x2[2]  # same planted positions and bases
    assert (x1[1] != x2[1]).any()  # different vectors
    assert (run.build_stream("route_fanout", 1).backlog[0][0]
            != run.build_stream("route_fanout", 2).backlog[0][0])


def test_checker_and_generator_import_no_engine_code():
    code = ("import sys; sys.path.insert(0, %r); import checker, gen; "
            "print(any(m.startswith('flink_cdc_msk_spark') "
            "for m in sys.modules))" % HERE)
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True, cwd=HERE)
    assert out.stdout.strip() == "False"


def test_checker_routing_reference_cases():
    rules = checker.compile_rules(gen.ROUTE_RULES)

    def key(db, table, op="u"):
        row = {"order_id": "1", "status": "s", "line_no": "7",
               "customer_id": "c", "region": "r", "payment_id": "p",
               "currency": "EUR", "seq": "9", "event_id": "e", "kind": "k"}
        ev = {"db": db, "table": table, "op": op,
              "before": row if op == "d" else None,
              "after": None if op == "d" else row}
        return checker.expected_key(ev, rules)

    assert key("Sales", "orders") == "Sales.orders.1"  # longest key wins
    assert key("Sales", "order_items", "d") == "Sales.order_items.1.7"
    assert key("sales_eu", "customers") == "sales_eu.customers.c.r"
    assert key("Sales", "customers") == "Sales.customers.c"
    assert key("billing_old", "payments") == "billing_old.payments.p.EUR"
    assert key("CRM", "payments") == "CRM.payments.p.EUR.9"
    assert key("CRM", "audit_log") == "CRM.audit_log.no_pk"
    assert key("CRM", "events") == "CRM.events.e.k"
    assert key("crm_v2", "events") == "crm_v2.events.e"
    assert checker.java_hashcode("hello") == 99162322
    assert checker.java_hashcode("polygenelubricants") == -(2**31)
    assert checker.truncate({"t": "x" * 16}, {"t": 16}) == {"t": "x" * 16}
    assert checker.truncate({"t": "x" * 17}, {"t": 16}) == {"t": "x" * 16}


def test_tails_keep_one_file_per_batch():
    """At this commit every tail file is its own micro-batch, so each
    latency sample is a below-saturation sample."""
    for workload, cfg in run.WORKLOADS.items():
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "7", "--seconds", "35", "--trace", "0"],
            check=True, capture_output=True, text=True, cwd=ROOT,
            timeout=180)
        context, result = [json.loads(ln) for ln in
                           out.stdout.strip().splitlines()[-2:]]
        assert result["correct"] and result["failed"] == 0, result
        assert context["tail_files"] == cfg["gen"]["tail_files"]
        assert context["context"]["files_per_batch_max"] == 1, context
