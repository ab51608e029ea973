"""Unit tests for the benchmark's own arithmetic; no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest

from catalog import fingerprint
from measure import (
    Span,
    Tracer,
    idle_core_s,
    latency_summary,
    parse_ui_metric,
    percentile,
    scan_rss_mb,
    self_times,
    tail_percentile,
    worker_tree,
)


# -- tail percentile -----------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [
        (1000, (99, 10)),  # nearest rank 990 leaves exactly ten above it
        (999, (98, 19)),  # p99 would leave only nine
        (100, (90, 10)),
        (40, (75, 10)),
        (20, (50, 10)),
        (19, (50, 9)),  # no percentile above the median leaves ten
        (1, (50, 0)),
    ],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_is_the_highest_such_percentile():
    for n in range(20, 600):
        pct, beyond = tail_percentile(n)
        assert beyond >= 10
        if pct < 99:
            higher = pct + 1
            rank = -(-higher * n // 100)  # ceil
            assert n - rank < 10, (n, pct)


def test_latency_summary_uses_the_rule():
    samples = [float(i) for i in range(1, 41)]
    s = latency_summary(samples)
    assert s["tail_percentile"] == 75 and s["tail"] == 30.0
    assert s["tail_samples_beyond"] == 10 and s["samples"] == 40
    assert s["p50"] == percentile(samples, 50) == 20.0


# -- spans ---------------------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("build", 1.0, 4.0, 0, 1),
        Span("exec", 5.0, 9.0, 0, 2),
        Span("read", 6.0, 7.0, 2, 3),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"op": 3.0, "build": 3.0, "exec": 3.0, "read": 1.0})


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        Span("run", 0.0, 10.0, None, 0),
        Span("model", 1.0, 5.0, 0, 1),  # three pool threads in parallel
        Span("model", 2.0, 6.0, 0, 2),
        Span("model", 8.0, 12.0, 0, 3),  # ends after its parent
    ]
    st = self_times(spans)
    assert st["run"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["model"] == pytest.approx(12.0)


def test_tracer_parents_pool_thread_spans_on_the_root():
    import threading

    tr = Tracer()
    with tr.span("op") as op:
        tr.root = op.sid
        with tr.span("child"):
            pass
        t = threading.Thread(target=lambda: tr.span("pooled").__enter__().__exit__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["child"].parent == op.sid
    assert by_name["pooled"].parent == op.sid
    assert by_name["op"].parent is None
    assert op.duration >= 0.0


def test_disabled_tracer_records_nothing_but_durations():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        pass
    assert tr.spans == [] and sp.sid is None and sp.duration >= 0.0


# -- idle cores ----------------------------------------------------------------


def test_idle_core_seconds():
    assert idle_core_s(4, 2.0, 5.0) == pytest.approx(3.0)
    assert idle_core_s(4, 2.0, 8.0) == 0.0
    assert idle_core_s(4, 1.0, 9.0) == 0.0  # clock skew never goes negative


# -- UI metric strings -----------------------------------------------------------


@pytest.mark.parametrize(
    "text, want",
    [
        ("0 ms", 0.0),
        ("4.2 MiB", 4.2 * 2**20),
        ("100,000", 100000.0),
        ("total (min, med, max (stageId: taskId))\n9.3 s (2.3 s, 2.3 s, 2.4 s (stage 2.0: task 6))",
         9.3),
        ("total (min, med, max (stageId: taskId))\n807.9 KiB (202.0 KiB, 202.0 KiB, 202.0 KiB)",
         807.9 * 1024),
        ("total (min, med, max (stageId: taskId))\n648 ms (150 ms, 164 ms, 171 ms)", 0.648),
        ("1.5 m", 90.0),
    ],
)
def test_parse_ui_metric(text, want):
    assert parse_ui_metric(text) == pytest.approx(want)


def test_parse_ui_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_ui_metric("3 parsecs")


# -- /proc walk ------------------------------------------------------------------


def test_worker_tree_takes_every_descendant():
    ppid = {1: 0, 10: 1, 11: 10, 12: 11, 13: 10, 20: 1, 21: 20}
    assert worker_tree(ppid, {10}) == {10, 11, 12, 13}
    assert worker_tree(ppid, set()) == set()


def _fake_proc(root, pid, ppid, argv, rss_kb, comm="python3"):
    d = os.path.join(root, str(pid))
    os.makedirs(d)
    with open(os.path.join(d, "cmdline"), "wb") as f:
        f.write(b"\x00".join(a.encode() for a in argv) + b"\x00")
    with open(os.path.join(d, "stat"), "w") as f:
        f.write(f"{pid} ({comm}) S {ppid} 0 0 0 -1 0 0 0 0 0 1 2 0 0 20 0 1 0\n")
    with open(os.path.join(d, "status"), "w") as f:
        f.write(f"Name:\t{comm}\nVmRSS:\t{rss_kb} kB\n")


def test_scan_rss_sums_jvm_and_worker_trees(tmp_path):
    root = str(tmp_path)
    _fake_proc(root, 100, 1, ["python3", "perfbench/run.py"], 50_000)
    _fake_proc(root, 200, 100, ["java", "-cp", "x", "spark.python.daemon.module="
                                "pyspark_zipfast_daemon"], 1_024_000, comm="java")
    _fake_proc(root, 300, 200, ["/usr/bin/python3", "-m", "pyspark_zipfast_daemon"], 40_960)
    # a forked worker whose comm holds a space and a paren
    _fake_proc(root, 301, 300, ["/usr/bin/python3", "-m", "pyspark_zipfast_daemon"], 20_480,
               comm="py (worker")
    _fake_proc(root, 302, 301, ["sh"], 1_024, comm="sh")  # a descendant that renamed itself
    _fake_proc(root, 400, 1, ["python3", "-m", "pyspark.daemon"], 10_240)  # another root
    os.makedirs(os.path.join(root, "self"))
    mb = scan_rss_mb(200, proc_root=root)
    assert mb == pytest.approx((1_024_000 + 40_960 + 20_480 + 1_024 + 10_240) / 1024)
    # the JVM names the daemon module in its argv but is no worker root
    assert scan_rss_mb(None, proc_root=root) == pytest.approx(
        (40_960 + 20_480 + 1_024 + 10_240) / 1024)


# -- fingerprints ----------------------------------------------------------------


def test_fingerprint_ignores_row_order_and_column_order_and_case():
    a = fingerprint(["B", "a"], [(2, "x"), (1, "y")])
    b = fingerprint(["a", "b"], [("y", 1), ("x", 2)])
    assert a == b and a["rows"] == 2


def test_fingerprint_equates_what_python_equates():
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    spark_row = [(1.0, decimal.Decimal("2.50"), True, bytearray(b"\x01"), ts, float("nan"))]
    duck_row = [(1, decimal.Decimal("2.5"), 1, b"\x01", ts, float("nan"))]
    cols = ["i", "d", "f", "b", "t", "n"]
    assert fingerprint(cols, spark_row) == fingerprint(cols, duck_row)
    assert fingerprint(cols, spark_row) != fingerprint(cols, [(1, decimal.Decimal("2.51"), 1,
                                                                b"\x01", ts, 0.0)])


# -- the declared metrics ----------------------------------------------------------


def test_benchmark_json_declares_what_the_runner_prints():
    import json

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        declared = json.load(f)
    assert {m["name"]: m["unit"] for m in declared["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in declared["workloads"]} == set(run.NOMINAL_PASS_S)


def test_medallion_compare_allows_only_a_rounding_flip():
    from medallion import compare

    t = "shipment_cost_summary"
    want = {t: [{"k": "a", "avg_insurance": 4.97, "raw": 1.0000000001}]}
    assert compare({t: [{"K": "a", "AVG_INSURANCE": 4.96, "raw": 1.0}]}, want) == []
    assert compare({t: [{"k": "a", "avg_insurance": 4.95, "raw": 1.0}]}, want) != []
    assert compare({t: [{"k": "a", "avg_insurance": 4.965, "raw": 1.0}]}, want) != []
    assert compare({t: [{"k": "b", "avg_insurance": 4.97, "raw": 1.0}]}, want) != []
    assert compare({t: []}, want) == [f"{t}: 0 rows, reference has 1"]


@pytest.mark.parametrize("table, column", [
    ("fact_shipments", "shipping_cost"),
    ("fact_shipments_stream", "shipping_cost"),
    ("seller_rto_performance", "total_shipping_cost"),
    ("seller_rto_performance", "avg_tat"),
    ("shipment_cost_summary", "carrier_cost"),
])
def test_medallion_compare_rejects_a_cent_outside_the_rounded_averages(table, column):
    from medallion import compare

    want = {table: [{"k": "a", column: 4.97}]}
    assert compare({table: [{"k": "a", column: 4.97}]}, want) == []
    assert compare({table: [{"k": "a", column: 4.96}]}, want) != []
