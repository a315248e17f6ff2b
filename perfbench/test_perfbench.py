"""Self-tests of the benchmark; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import counters  # noqa: E402
import metrics  # noqa: E402
import stacgen  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_month_generator_is_byte_identical_for_a_seed(tmp_path):
    pool = stacgen.ensure_item_pool(str(tmp_path / "pool"), per_day=12)
    a = stacgen.generate_month(str(tmp_path / "a"), 7, 8, pool)
    b = stacgen.generate_month(str(tmp_path / "b"), 7, 8, pool)
    c = stacgen.generate_month(str(tmp_path / "c"), 8, 8, pool)
    assert _tree_digest(a["cmr_dir"]) == _tree_digest(b["cmr_dir"])
    assert _tree_digest(a["cmr_dir"]) != _tree_digest(c["cmr_dir"])
    assert a["items"] == a["granules"] - a["dead"]
    assert 30 <= a["dead"] <= 90  # 1-3 planted per day


def test_item_pool_is_byte_identical(tmp_path):
    p1 = stacgen.ensure_item_pool(str(tmp_path / "p1"), per_day=5)
    p2 = stacgen.ensure_item_pool(str(tmp_path / "p2"), per_day=5)
    strip = lambda p: json.dumps(json.load(open(os.path.join(p, "index.json")))).replace(p, "")  # noqa: E731
    assert strip(p1) == strip(p2)
    first = json.load(open(os.path.join(p1, "index.json")))["days"][0][0]
    with open(first[1]) as f1, open(first[1].replace(p1, p2)) as f2:
        assert f1.read() == f2.read()


def test_table_generator_is_deterministic():
    a = tables.build_tables(sf=0.001)
    b = tables.build_tables(sf=0.001)
    assert set(a) == set(tables.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name


def test_tail_rule():
    # too few samples for 10 beyond: the maximum
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert metrics.tail(list(range(10)))[1] == 100.0
    # otherwise the highest order statistic with exactly 10 samples above it
    xs = [float(i) for i in range(44)]
    value, pct, n = metrics.tail(xs)
    assert n == 44 and sum(x > value for x in xs) == 10
    assert value == 33.0 and pct == pytest.approx(100 * 34 / 44)
    value, pct, _ = metrics.tail([float(i) for i in range(22)])
    assert value == 11.0 and pct == pytest.approx(100 * 12 / 22)


class _Stub:
    """Just enough of a SparkSession/DataFrame for the timed loop."""

    def __getattr__(self, name):
        return lambda *a, **k: self

    @property
    def write(self):
        return self

    @property
    def catalog(self):
        return self


def test_a_raising_query_counts_as_failed_and_the_pass_goes_on():
    wl = workloads.QueryWorkload.__new__(workloads.QueryWorkload)
    workloads.Workload.__init__(wl, "/nonexistent", seed=3)
    wl.sf_dir = "/nonexistent"
    wl.names = ["q_ok_a", "q_boom", "q_ok_b"]

    class Spec:
        def __init__(self, fn):
            self.fn = fn

    def boom(spark, sf_dir):
        raise RuntimeError("forced")

    ok = lambda spark, sf_dir: _Stub()  # noqa: E731
    wl.registry = {"q_ok_a": Spec(ok), "q_boom": Spec(boom), "q_ok_b": Spec(ok)}
    samples = wl.timed_pass(_Stub(), 0)
    assert sorted(n for n, _ in samples) == sorted(wl.names)
    assert (wl.attempted, wl.failed) == (3, 1)
    assert not wl.mismatches


def test_failure_count_survives_concurrent_warm_up_threads():
    wl = workloads.Workload("/nonexistent", seed=0)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with workloads.cf.ThreadPoolExecutor(16) as pool:
            futures = [pool.submit(lambda: [wl.fail("x") for _ in range(200)])
                       for _ in range(16)]
            for f in futures:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert wl.failed == 16 * 200


def test_query_order_is_seeded():
    def order(seed, pass_idx):
        wl = workloads.QueryWorkload.__new__(workloads.QueryWorkload)
        workloads.Workload.__init__(wl, "/nonexistent", seed=seed)
        wl.names = [f"q{i}" for i in range(22)]
        return wl.order(pass_idx)

    assert order(1, 0) == order(1, 0)
    assert order(1, 0) != order(2, 0)
    assert sorted(order(1, 0)) == sorted(order(2, 1))


def test_self_times_add_up_to_the_wall_time():
    hooks = []
    tr = Tracer(on_exit=lambda s, p: hooks.append(s.name))
    with tr.span("query", op="q") as outer:
        with tr.span("queries.build"):
            with tr.span("queries.registry.t"):
                pass
        with tr.span("exec"):
            pass
    selfs = tr.self_times()
    total = sum(selfs.values()) + sum(s.hook_s for s in tr.spans)
    assert total == pytest.approx(outer.dur, abs=1e-6)
    assert hooks == ["queries.registry.t", "queries.build", "exec", "query"]
    assert [s.op for s in tr.spans] == ["q"] * 4


@pytest.mark.parametrize("text,value", [
    ("1,024", 1024.0),
    ("12.5 MiB", 12.5 * 2**20),
    ("total (min, med, max (stageId: taskId))\n1.2 s (0.1 s, 0.3 s, 0.5 s (stage 3.0: task 9))", 1.2),
    ("350 ms", 0.35),
])
def test_sql_metric_strings_parse(text, value):
    assert counters.parse_metric(text) == pytest.approx(value)
