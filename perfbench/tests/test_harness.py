"""Self-tests of the benchmark's own arithmetic: the result checksum, the
percentile rule, span self time, failure counting and the metric file.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness as H  # noqa: E402


# --------------------------------------------------------------------
# checksum
# --------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-selftest")
         .config("spark.sql.ansi.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
    yield s
    s.stop()


def _frame(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, x double")


ROWS = [(i, f"n{i % 7}", i * 0.25) for i in range(1000)]


def test_checksum_is_order_and_partition_insensitive(spark):
    a = H.checksum(_frame(spark, ROWS))
    b = H.checksum(_frame(spark, list(reversed(ROWS))).repartition(3))
    assert a == b
    assert a[0] == 1000


def test_checksum_sees_every_column(spark):
    base = H.checksum(_frame(spark, ROWS))
    for i, changed in enumerate([(999_999, "n5", 1.25), (5, "n6", 1.25), (5, "n5", 1.26)]):
        rows = list(ROWS)
        rows[5] = changed
        assert H.checksum(_frame(spark, rows)) != base, f"change {i} not seen"


def test_checksum_counts_duplicate_rows(spark):
    a = H.checksum(_frame(spark, ROWS))
    b = H.checksum(_frame(spark, ROWS + ROWS[:1]))
    assert b[0] == a[0] + 1 and b[1] != a[1]


def test_checksum_of_empty_frame(spark):
    assert H.checksum(_frame(spark, []).filter("id < 0")) == (0, 0)


def test_checksum_does_not_overflow_under_ansi(spark):
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    df = _frame(spark, ROWS)
    # a plain sum of 64-bit hashes overflows a long under ANSI mode ...
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        df.agg(F.sum(F.xxhash64(*df.columns))).collect()
    # ... the folded sum stays below 1000 * (2^31 - 1)
    rows, h = H.checksum(df)
    assert 0 <= h < rows * H.HASH_MOD


def test_checksum_frame_keeps_every_projection(spark):
    """``count()`` lets Catalyst drop projections nobody reads; the
    checksum aggregate reads every output column, so an expensive
    projection stays in the optimized plan."""
    df = _frame(spark, ROWS).selectExpr("id", "sha2(name, 256) AS h")
    counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    summed = H.checksum_frame(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "sha2" not in counted
    assert "sha2" in summed


def test_xxh64_reference_vectors():
    assert H.xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert H.xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert H.xxh64(b"abc", 0) == 0x44BC2CF5AD770999


def test_python_checksum_matches_spark(spark):
    """The oracle-side checksum reproduces Spark's for every type the
    registry queries return, NULLs, -0.0 and NaN included."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(n, t) for n, t in [
        ("l", T.LongType()), ("i", T.IntegerType()), ("d", T.DoubleType()),
        ("s", T.StringType()), ("ts", T.TimestampType()), ("day", T.DateType()),
        ("b", T.BooleanType()), ("dec", T.DecimalType(10, 2)), ("big", T.DecimalType(30, 4)),
        ("arr", T.ArrayType(T.DoubleType())), ("f", T.FloatType())]])
    rows = [
        (k * 7919 - 1000, k - 150, k * 0.37 - 11.0 if k % 13 else None,
         "x" * (k % 45) + "\u00fc" if k % 11 else None,
         dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=k * 123456789),
         dt.date(2000, 1, 1) + dt.timedelta(days=k), k % 2 == 0, Decimal(k * 13) / 100,
         Decimal(k) * Decimal("1234567.8901") - Decimal("99999999999.5"),
         [k * 0.5, -0.0, None] if k % 3 else [], float(k) / 3)
        for k in range(200)
    ]
    rows.append((0, 0, -0.0, "", dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
                 dt.date(1969, 1, 1), None, None, None, None, float("nan")))
    rows.append((None,) * len(schema.fields))
    df = spark.createDataFrame(rows, schema)
    assert H.py_checksum(rows, schema) == H.checksum(df)


def test_python_checksum_rejects_values_of_the_wrong_type():
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("n", T.LongType())])
    with pytest.raises(TypeError):
        H.py_checksum([(1.5,)], schema)


def test_stopwatch_counts_cpu_of_child_processes():
    import subprocess

    with H.Stopwatch() as sw:
        subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert sw.cpu > 0.05
    assert sw.wall >= sw.cpu * 0.5


# --------------------------------------------------------------------
# percentile rule
# --------------------------------------------------------------------
@pytest.mark.parametrize("n", [1, 10, 99])
def test_p90_needs_a_hundred_samples(n):
    assert H.p90([float(v) for v in range(n)]) is None


@pytest.mark.parametrize("n", [100, 101, 150, 1000])
def test_p90_has_at_least_ten_samples_above(n):
    values = [float(v) for v in range(n)]
    v = H.p90(values)
    assert sum(x > v for x in values) >= 10
    assert v == H.nearest_rank(values, 0.9)


def test_nearest_rank():
    v = [float(x) for x in range(1, 101)]
    assert H.nearest_rank(v, 0.9) == 90.0
    assert H.nearest_rank(v, 0.5) == 50.0
    assert H.nearest_rank([7.0], 0.99) == 7.0
    with pytest.raises(ValueError):
        H.nearest_rank([], 0.5)


# --------------------------------------------------------------------
# spans
# --------------------------------------------------------------------
def _span(i, name, a, b, parent=None, op="op1"):
    return H.Span(i, name, a, b, parent, op)


def test_covered_merges_overlaps_and_clips():
    assert H.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert H.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert H.covered([], 0, 10) == 0
    assert H.covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 0.0, 4.0, parent=0),
        _span(2, "exec", 5.0, 9.0, parent=0),
        _span(3, "sources.load_table", 1.0, 2.0, parent=1),
        _span(4, "sources.load_table", 1.5, 3.0, parent=1),  # overlaps its sibling
    ]
    st = H.self_times(spans)
    assert st[0] == pytest.approx(2.0)  # 10 - (4 + 4)
    assert st[1] == pytest.approx(2.0)  # 4 - union(1..3)
    assert st[2] == pytest.approx(4.0)
    assert st[3] == pytest.approx(1.0) and st[4] == pytest.approx(1.5)
    by_layer = H.layer_self_time(spans)
    assert by_layer["sources.load_table"] == pytest.approx(2.5)
    assert sum(by_layer.values()) == pytest.approx(10.5)  # overlap counted per span


def test_tracer_records_parents_and_operations():
    tr = H.Tracer()
    with tr.span("op", op="p1:q"):
        pass
    assert tr.spans == []  # disabled tracer records nothing
    tr.enabled = True
    with tr.span("op", op="p1:q"):
        with tr.span("build"):
            with tr.span("registry"):
                pass
    names = {s.name: s for s in tr.spans}
    assert names["build"].parent == names["op"].id
    assert names["registry"].parent == names["build"].id
    assert {s.op for s in tr.spans} == {"p1:q"}


def test_layer_proxy_spans_public_calls_only():
    import types

    groups = []

    class Recording(H.Tracer):
        def _set_group(self, group):
            groups.append(group)

    module = types.SimpleNamespace(
        synchronize=lambda a, b=1: a + b, CONSTANT=3, _private=lambda: 0)
    tr = Recording()
    proxy = H.LayerProxy(module, "sync", tr)
    assert proxy.synchronize(1) == 2 and tr.spans == []  # tracing off: no span, no group
    tr.enabled = True
    with tr.span("op", op="p2:q"):
        assert proxy.synchronize(1, b=5) == 6
        assert proxy.CONSTANT == 3 and proxy._private() == 0
    names = [s.name for s in tr.spans]
    assert names == ["sync.synchronize", "op"]
    assert tr.spans[0].op == "p2:q" and tr.spans[0].group.startswith("p2:q|sync.synchronize|")
    assert groups == [tr.spans[0].group, None]  # set, then restored


def test_reconcile_gap():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 0.0, 3.0, parent=0),
        _span(2, "plan", 3.0, 4.0, parent=0),
        _span(3, "exec", 4.0, 9.6, parent=0),
        _span(4, "registry", 0.0, 3.0, parent=1),  # not a phase of the op
    ]
    assert H.reconcile_gaps(spans) == [pytest.approx(0.04)]


# --------------------------------------------------------------------
# failure counting
# --------------------------------------------------------------------
def _rec(i, key, results=((1, 2),), error=None):
    return H.OpRecord(f"p1:{i}", key, results=list(results), error=error)


def test_count_failures():
    reference = {"a": [(1, 2)], "b": [(1, 2)], "c": [(1, 2)]}
    records = [
        _rec(0, "a"),                          # ok
        _rec(1, "a", error="ValueError: x"),   # raised
        _rec(2, "b"),                          # key failed the check
        _rec(3, "c", results=((1, 3),)),       # checksum changed
        _rec(4, "d"),                          # no checked reference
        _rec(5, "c"),                          # ok
    ]
    attempted, failed, reasons = H.count_failures(records, reference, failed_keys={"b"})
    assert (attempted, failed) == (6, 4)
    assert [r.split(":")[1] for r in reasons] == ["1", "2", "3", "4"]


def test_count_failures_counts_an_op_once():
    records = [_rec(0, "b", results=((9, 9),), error="boom")]
    assert H.count_failures(records, {"b": [(1, 2)]}, {"b"})[:2] == (1, 1)


def test_count_failures_all_ok():
    records = [_rec(i, "a") for i in range(3)]
    assert H.count_failures(records, {"a": [(1, 2)]}, set()) == (3, 0, [])


def test_pairs_connected_through_a_star_count_as_found():
    from workloads import _components

    c = _components({(8, 12), (8, 360), (1, 2), (2, 3), (5, 4)})
    assert c[12] == c[360] == 8  # a star around 8 connects 12 and 360
    assert c[3] == c[1] == 1 and c[5] == c[4] == 4
    assert c[1] != c[4]


# --------------------------------------------------------------------
# the metric file
# --------------------------------------------------------------------
def test_benchmark_json_contract():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert unit.match(m["unit"]) and m["better"] in ("higher", "lower")
