"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen, run, trace  # noqa: E402
from perfbench.workloads import Op, Workload  # noqa: E402


# -- spans and self time ------------------------------------------------------

def _busy(seconds: float) -> None:
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        pass


def test_self_times_sum_to_op_wall():
    """Per-op self times add up to the op's measured wall time: the spans
    miss at most the few microseconds around the root span.  The op lasts
    about 0.1 s, as short catalog ops do, so that a scheduler preemption
    in those microseconds on a loaded box stays inside the tolerance."""
    tr = trace.Tracer()
    tr.op = 7
    t0 = time.perf_counter()
    with tr.span("bench.op"):
        _busy(0.02)
        with tr.span("pipeline.extract"):
            with tr.span("sources.rest_fetch"):
                _busy(0.03)
            _busy(0.01)
            with tr.span("sinks.csv_write"):
                _busy(0.02)

        def callback():  # a foreachBatch sink runs on another thread
            with tr.span("sinks.ledger"):
                with tr.span("sinks.upsert"):
                    _busy(0.02)
                _busy(0.01)

        with tr.span("streaming.trigger"):
            th = threading.Thread(target=callback)
            th.start()
            th.join()
    wall = time.perf_counter() - t0
    spans = tr.op_spans(7)
    st = trace.self_times(spans)
    assert abs(sum(st.values()) - wall) < 0.05 * wall
    assert all(v >= 0 for v in st.values())
    by_name = {s.name: s for s in spans}
    # the callback thread's spans hang under the span that waits for it
    assert by_name["sinks.ledger"].parent == by_name["streaming.trigger"].id
    layers = trace.layer_self_times(spans)
    assert layers["sources"] >= 0.03 and layers["sinks"] >= 0.05
    assert layers["streaming"] < 0.02


def test_errors_counted_once_at_innermost_layer():
    tr = trace.Tracer()
    with pytest.raises(ValueError):
        with tr.span("pipeline.load"):
            with tr.span("sinks.upsert"):
                raise ValueError("boom")
    assert dict(tr.errors) == {"sinks": 1}


def test_union_length_and_metric_parsing():
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert trace.parse_metric("1.3 s") == pytest.approx(1.3)
    assert trace.parse_metric("717 ms") == pytest.approx(0.717)
    assert trace.parse_metric("155.9 KiB") == pytest.approx(155.9 * 1024)
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n2.0 s (1 ms, 5 ms, 1.9 s (stage 3.0: task 12))") == pytest.approx(2.0)
    assert trace.parse_metric("1,234") == 1234


def test_tail_is_the_p90_of_the_op_times():
    xs = [float(i) for i in range(1, 41)]
    # inclusive p90 of 1..40 lies at rank 0.9 * 39 = 35.1 from the bottom
    assert run.tail(xs) == pytest.approx(36.1)
    # at 30 ops it lies between the third and fourth slowest
    thirty = [float(i) for i in range(1, 31)]
    assert 27.0 < run.tail(thirty) < 28.0
    # one stalled op does not set it
    assert run.tail(thirty[:-1] + [300.0]) == pytest.approx(run.tail(thirty))


# -- generators ---------------------------------------------------------------

def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_catalog_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows_a = gen.write_catalog(5, 0.001, a)
    rows_b = gen.write_catalog(5, 0.001, b)
    rows_c = gen.write_catalog(6, 0.001, c)
    assert rows_a == rows_b == rows_c  # sizes never depend on the seed
    for t in gen.CATALOG_TABLES:
        name = f"{t}.parquet"
        assert _digest(os.path.join(a, name)) == _digest(os.path.join(b, name))
    assert _digest(os.path.join(a, "lineitem.parquet")) != _digest(os.path.join(c, "lineitem.parquet"))


def _roster_days(seed: int, days: int) -> list[bytes]:
    r = gen.LmsRoster(seed)
    out = [r.payload(d) for d in r.departments]
    for _ in range(days):
        for d in r.departments:
            r.advance(d)
            out.append(r.payload(d))
    return out


def test_roster_and_mutations_are_deterministic():
    assert _roster_days(3, 2) == _roster_days(3, 2)
    assert _roster_days(3, 2) != _roster_days(4, 2)
    r = gen.LmsRoster(3)
    assert sorted(len(r.users[d]) for d in r.departments) == sorted(gen.DEPARTMENT_SIZES)


def test_roster_carries_the_hostile_values():
    r = gen.LmsRoster(11)
    users = [u for d in r.users for u in r.users[d].values()]
    assert any("externalId" not in u for u in users)
    assert any(u["isLearner"] == "False" for u in users)
    assert any(u["languageId"] is None for u in users)
    assert any(u["dateHired"] and "T" in u["dateHired"] for u in users)
    assert any(None in u["customFields"].values() for u in users)
    rows = r.expected_all()
    iso = next(u for u in users if u["dateHired"] and "T" in u["dateHired"])
    assert rows[iso["id"]][gen.TARGET_COLUMNS.index("date_hired")] is None
    # every column of the reference's department_members table
    assert len(gen.TARGET_COLUMNS) == 38 and len(rows[iso["id"]]) == 38


def test_change_files_are_deterministic_and_key_distinct():
    def files(seed):
        s = gen.ChangeStream(seed, 300)
        return [s.next_file() for _ in range(4)], s.expected()

    (fa, ea), (fb, eb) = files(2), files(2)
    assert all(x.equals(y) for x, y in zip(fa, fb)) and ea == eb
    for f in fa:
        keys = f.column("lms_user_id").to_pylist()
        assert len(keys) == len(set(keys)) == 300
    # after the first file, half of each file re-touches earlier keys
    earlier = set().union(*(f.column("lms_user_id").to_pylist() for f in fa[:3]))
    assert len(set(fa[3].column("lms_user_id").to_pylist()) & earlier) == 150


# -- failures count against the ops attempted --------------------------------

class _Fake(Workload):
    """Five ops per pass: one raises, one returns a wrong answer."""

    name = "fake"

    def next_pass(self, n):
        return [Op(f"q{i}", arg=i) for i in range(5)]

    def run_op(self, spark, op):
        if op.arg == 1:
            raise RuntimeError("injected failure")
        return 41 if op.arg == 3 else 42

    def check_op(self, op, result):
        return None if result == 42 else f"wrong answer {result}"


def test_raising_and_wrong_ops_count_as_failed():
    loop = run.timed_passes(_Fake(0, "."), None, seconds=0)
    attempted, failed = run.count_failures(loop["ops"], None)
    assert (attempted, failed) == (5, 2)
    errors = {o["name"]: o["error"] for o in loop["ops"] if o["error"]}
    assert errors["q1"].startswith("raised RuntimeError")
    assert errors["q3"] == "wrong answer 41"
    # a wrong final table fails the run even when every op check passed
    assert run.count_failures([{"error": None}], "row 1 differs") == (1, 1)


def test_signature_tolerates_float_reduction_order():
    a = (10, 123456789, 0.1 + 0.2 + 0.3, 3)
    b = (10, 123456789, 0.3 + 0.2 + 0.1, 3)
    assert a != b and checks.same_signature(a, b)
    assert not checks.same_signature(a, (10, 123456788, 0.6, 3))
    assert not checks.same_signature(a, (10, 123456789, 0.61, 3))


def test_oracle_comparison_is_order_nan_and_zero_safe():
    spark_rows = [(1, float("nan")), (2, -0.0)]
    duck_rows = [(2, 0.0), (1, float("nan"))]
    assert checks.oracle_mismatch(spark_rows, ["k", "v"], duck_rows, ["k", "v"]) is None
    assert checks.oracle_mismatch(spark_rows, ["k", "v"], [(2, 0.0), (1, 1.0)], ["k", "v"])
    assert checks.oracle_mismatch(spark_rows, ["k", "v"], duck_rows[:1], ["k", "v"])
