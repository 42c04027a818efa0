"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The workload split and the tracer's arithmetic run without Spark; the
last test traces one query in a local session and checks that the span
self times add up to the timed wall.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, covered, idle_seconds  # noqa: E402

#: traced self times must add up to the timed wall within this share
#: (the loop's own bookkeeping between spans is the only gap)
RECONCILE_TOLERANCE = 0.02


def test_every_bench_row_in_exactly_one_query_workload():
    from lakehouse_cdc_spark.plans import REGISTRY

    bench = {n for n, s in REGISTRY.items() if s.bench}
    olap, cur = set(workloads.OLAP_ROWS), set(workloads.CURATION_ROWS)
    assert len(olap) == len(workloads.OLAP_ROWS)
    assert len(cur) == len(workloads.CURATION_ROWS)
    assert not olap & cur
    assert olap | cur == bench


def test_every_listed_name_exists():
    from lakehouse_cdc_spark.plans import REGISTRY

    listed = set(workloads.OLAP_ROWS) | set(workloads.CURATION_ROWS)
    for names in workloads.PASSES.values():
        listed |= set(names)
    assert sorted(n for n in listed if n not in REGISTRY) == []
    assert set(workloads.PASSES["olap"]) <= set(workloads.OLAP_ROWS)
    assert set(workloads.PASSES["curation"]) <= set(workloads.CURATION_ROWS)
    assert workloads.WARMUP_QUERY in REGISTRY
    assert all(workloads.WARMUP_QUERY not in p for p in workloads.PASSES.values())


def test_self_time_subtracts_children_once():
    t = Tracer()
    root = t.add("query", 0.0, 10.0, trace="q")
    t.add("a", 1.0, 4.0, trace="q", parent=root)
    t.add("b", 3.0, 6.0, trace="q", parent=root)  # overlaps a
    assert t.self_time(root) == pytest.approx(5.0)
    assert covered(0.0, 10.0, [(1, 4), (3, 6), (8, 20)]) == pytest.approx(7.0)
    assert idle_seconds(0.0, 10.0, [(1, 4), (3, 6)]) == pytest.approx(5.0)


def test_span_nesting_reconciles_with_wall():
    t = Tracer()
    t0 = time.perf_counter()
    with t.span("query", trace="q1"):
        with t.span("plans.build"):
            with t.span("registry.table"):
                time.sleep(0.01)
            time.sleep(0.005)
        with t.span("engine.collect"):
            time.sleep(0.01)
    wall = time.perf_counter() - t0
    kids = t.children()
    total_self = sum(t.self_time(i, kids) for i in range(len(t.spans)))
    assert {s.trace for s in t.spans} == {"q1"}
    assert total_self == pytest.approx(t.spans[0].dur, abs=1e-9)
    assert t.spans[0].dur <= wall


def test_datagen_is_seeded(tmp_path):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    datagen.write_tables(str(a), 0.001, seed=7)
    datagen.write_tables(str(b), 0.001, seed=7)
    datagen.write_tables(str(c), 0.001, seed=8)
    for name in ("orders", "lineitem", "events", "documents", "embeddings"):
        fa = (a / f"{name}.parquet").read_bytes()
        assert fa == (b / f"{name}.parquet").read_bytes()
        assert fa != (c / f"{name}.parquet").read_bytes()
    log1, log2 = (datagen.ChangeLog(3, 100, 10, 20) for _ in range(2))
    assert log1.file(4)["seq"].tolist() == log2.file(4)["seq"].tolist()
    assert log1.file(4)["o_orderkey"].tolist() == log2.file(4)["o_orderkey"].tolist()


def test_last_write_wins_reference():
    snap = {"o_orderkey": [1, 2], "v": ["a", "b"], "operation": ["c", "c"],
            "seq": [0, 0]}
    f1 = {"o_orderkey": [1, 3, 2], "v": ["a2", "c", "b"], "operation": ["u", "c", "d"],
          "seq": [1, 2, 3]}
    f2 = {"o_orderkey": [3, 2], "v": ["c", "b3"], "operation": ["d", "u"], "seq": [4, 5]}
    assert datagen.last_write_wins([snap, f1, f2]) == {1: (1, "a2"), 2: (2, "b3")}


def test_change_log_mix_and_keys():
    log = datagen.ChangeLog(1, n_keys=1000, n_cust=10, rows_per_file=2500)
    files = [log.file(0), log.file(1)]
    ops = [op for f in files for op in f["operation"].tolist()]
    share = {op: ops.count(op) / len(ops) for op in "cud"}
    assert share == pytest.approx(datagen.OP_WEIGHTS, abs=0.03)
    # creates take fresh keys; updates and deletes only live ones
    live, created, changed_created = set(range(1000)), set(), 0
    for f in files:
        for k, op in zip(f["o_orderkey"].tolist(), f["operation"].tolist()):
            if op == "c":
                assert k >= 1000 and k not in created
                created.add(k)
                live.add(k)
            else:
                assert k in live
                changed_created += k in created
                if op == "d":
                    live.remove(k)
    assert changed_created > 0
    assert log.live_keys(2) == sorted(live)
    assert sorted(datagen.last_write_wins([log.snapshot] + files)) == sorted(live)
    seqs = [q for f in files for q in f["seq"].tolist()]
    assert seqs == sorted(seqs)


@pytest.mark.slow
def test_traced_query_reconciles_with_its_wall(tmp_path):
    """One traced query on a real session: the self times of its span
    tree add up to its wall time within RECONCILE_TOLERANCE."""
    from lakehouse_cdc_spark.session import get_spark
    from run import stop_spark

    data = str(tmp_path / "data")
    datagen.write_tables(data, 0.001, seed=1)
    os.environ.setdefault("PYTHONPATH", os.path.dirname(HERE))
    spark = get_spark("perfbench-test", cpus=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    tracer = Tracer()
    tracer.instrument_plans(spark)
    try:
        execs = workloads.run_queries(
            spark, data, ["q5_region_revenue"], 0.0, seed=1, tracer=tracer, passes=1)
    finally:
        tracer.restore()
        stop_spark(spark)
    assert [e.error for e in execs] == [None]
    wall = execs[0].latency
    kids = tracer.children()
    total_self = sum(tracer.self_time(i, kids) for i in range(len(tracer.spans)))
    names = {s.name for s in tracer.spans}
    assert {"query", "plans.build", "registry.table", "engine.collect"} <= names
    assert abs(total_self - wall) <= RECONCILE_TOLERANCE * wall
