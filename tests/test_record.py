"""The run record (data_quality_check_spark/record.py) is the one place a run
keeps state: no operator, pipeline or streaming module holds a module-level
mutable registry, and a count the record cannot read says why."""

from __future__ import annotations

import ast
import os

import pytest

from data_quality_check_spark import record
from data_quality_check_spark.record import NOT_DELIVERED, run_record

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data_quality_check_spark")
GUARDED = ("operators", "pipeline", "streaming")
MUTATORS = {"append", "extend", "insert", "pop", "popitem", "remove", "clear",
            "update", "setdefault", "add", "discard", "sort", "reverse"}


def _registries(tree: ast.Module) -> list[str]:
    """Module-level names that hold mutable shared state: a threading.local(),
    an empty list/dict/set, a list/dict/set literal the module mutates in
    place, or any module global a function rebinds through `global`."""
    literal = (ast.List, ast.Dict, ast.Set, ast.ListComp, ast.DictComp, ast.SetComp)
    found: list[str] = []
    literals: dict[str, None] = {}
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            v = node.value
            call = ast.unparse(v.func) if isinstance(v, ast.Call) else ""
            if call.endswith("local") or call in ("list", "dict", "set"):
                found += names
            elif isinstance(v, (ast.List, ast.Set)) and not v.elts:
                found += names
            elif isinstance(v, ast.Dict) and not v.keys:
                found += names
            elif isinstance(v, literal):
                literals.update(dict.fromkeys(names))
    for node in ast.walk(tree):
        if isinstance(node, ast.Global):
            found += node.names
        target = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                and node.func.attr in MUTATORS:
            target = node.func.value
        elif isinstance(node, ast.Subscript) and isinstance(node.ctx, (ast.Store, ast.Del)):
            target = node.value
        elif isinstance(node, ast.AugAssign):
            target = node.target
        if isinstance(target, ast.Name) and target.id in literals:
            found.append(target.id)
    return sorted(set(found))


def test_no_module_level_registry_in_operators_pipeline_streaming():
    """Per-run state lives in a RunRecord; a module-level registry shared by
    every thread of the process is what it replaced (dedup._PINNED,
    _PIN_SCOPES, CANDIDATE_OBS, run.STEP_TIMINGS). Read-only constant tables
    (column lists, keyword lists, weights) are fine."""
    hits = []
    for d in GUARDED:
        for root, _, files in os.walk(os.path.join(PKG, d)):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    with open(path) as fh:
                        tree = ast.parse(fh.read(), path)
                    hits += [f"{os.path.relpath(path, PKG)}: {n}" for n in _registries(tree)]
    assert not hits, hits


def test_guard_flags_each_registry_shape():
    src = """
import threading
A: list = []
B = {}
C = threading.local()
D = ["x"]
E = {"k": 1}
F = ("ro",)
G = ["ro"]
D.append("y")
def f():
    global H
    E["k"] = 2
"""
    assert _registries(ast.parse(src)) == ["A", "B", "C", "D", "E", "H"]


def test_unread_candidate_count_is_none_with_reason(spark):
    """An observation whose consuming action never ran is reported as None
    with a reason, instead of silently vanishing from the counts."""
    with run_record() as rec:
        rec.observe_candidates(spark.range(10), "never_run")
        ran = rec.observe_candidates(spark.range(7), "ran")
        ran.collect()
        assert rec.candidates() == {"never_run": None, "ran": 7}
        assert rec.candidate_reasons() == {"never_run": NOT_DELIVERED}


def test_steps_are_per_record(spark):
    """A record's steps are its own: a sibling record starts empty, and a
    nested record's steps pass to the enclosing one on exit."""
    with run_record() as a:
        with a.step("one"):
            pass
    with run_record() as b:
        with run_record() as nested:
            with nested.step("two"):
                pass
        with b.step("three"):
            pass
    assert [n for n, _ in a.steps] == ["one"]
    assert [n for n, _ in b.steps] == ["two", "three"]
    assert all(sec >= 0 for _, sec in a.steps + b.steps)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_fitting_frame_is_a_broadcast_local_relation(spark):
    """A table under the cap comes back as driver rows: a LocalTableScan with
    no cache behind it, the gate's pin already released, the same rows, and
    a join against it broadcasts."""
    from pyspark.sql import functions as F

    df = spark.range(200).select((F.col("id") % 7).alias("k")).distinct()
    with run_record() as rec:
        frame, fits = rec.local(df)
        assert fits and rec.pins == []
        plan = _plan(frame)
        assert "LocalTableScan" in plan and "InMemoryTableScan" not in plan, plan
        assert sorted(r.k for r in frame.collect()) == list(range(7))
        assert frame.schema == df.schema
        joined = spark.range(50).withColumnRenamed("id", "k").join(frame, "k")
        assert "BroadcastHashJoin" in _plan(joined)
        assert joined.count() == 7


def test_local_over_cap_frame_is_pinned_and_its_lineage_runs_once(spark, monkeypatch):
    """Past the cap the gate hands back the pinned frame, un-hinted. The
    bounded collect already filled the pin, so consumers read the cache: a
    Python UDF under an aggregate (the shape of every gated table) evaluates
    each row exactly once across the gate and two later actions."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(record, "BROADCAST_ROWS", 3)
    evals = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        evals.add(1)
        return x

    df = spark.range(0, 10, 1, 2).select(counted("id").alias("v")).distinct()
    with run_record() as rec:
        frame, fits = rec.local(df)
        assert not fits
        assert [p is frame for p in rec.pins] == [True]
        assert "InMemoryTableScan" in _plan(frame)
        assert sorted(r.v for r in frame.collect()) == list(range(10))
        assert frame.count() == 10
    assert evals.value == 10


@pytest.mark.parametrize("cap", [record.BROADCAST_ROWS, 3], ids=["fits", "over_cap"])
def test_connected_components_edge_lineage_runs_once_on_each_side_of_the_cap(
    spark, monkeypatch, cap
):
    """connected_components gates its edges with `bounded_collect`, the gate
    `local` uses: a Python UDF under the edge lineage evaluates each row once
    whether the edges fit (labeled on the driver, no pin left behind) or pass
    the cap (the Spark loop reads the pin the collect filled)."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.dedup import connected_components

    monkeypatch.setattr(record, "BROADCAST_ROWS", cap)
    evals = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        evals.add(1)
        return x

    edges = spark.range(0, 10, 1, 2).select(
        counted("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with run_record() as rec:
        labels = connected_components(edges)
        assert len(rec.pins) == (cap == 3)
        assert sorted(map(tuple, labels.collect())) == [(i, 0) for i in range(11)]
        assert labels.count() == 11
    assert evals.value == 10
