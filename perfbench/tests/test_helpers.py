"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime
import itertools
import sys
import zlib
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402
from oltp_model import TableModel, be_i64  # noqa: E402
from sparkstats import peak_overlap  # noqa: E402
from tracing import Span, Tracer, by_name, self_times  # noqa: E402

# --- percentile rule ----------------------------------------------------


def test_percentile_is_nearest_rank():
    assert stats.percentile([7.0], 50) == 7.0
    assert stats.percentile([5.0, 1.0, 4.0, 2.0, 3.0], 50) == 3.0
    assert stats.percentile([float(x) for x in range(1, 101)], 90) == 90.0
    assert stats.percentile([float(x) for x in range(1, 22)], 50) == 11.0   # 21 queries: the 11th
    assert stats.percentile([1.0, 2.0], 100) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_smooth_median_is_the_expected_bootstrap_median():
    xs = [5.0, 1.0, 40.0, 2.0]
    # every resample of 4 draws, equally likely; nearest-rank median of each
    want = sum(stats.percentile([xs[i] for i in idx], 50)
               for idx in itertools.product(range(4), repeat=4)) / 4 ** 4
    assert stats.smooth_median(xs) == pytest.approx(want, rel=1e-12)
    assert stats.smooth_median([7.0]) == 7.0
    assert stats.smooth_median([3.0] * 480) == pytest.approx(3.0, rel=1e-12)


def test_smooth_median_moves_little_when_neighbours_swap():
    # 21 operations with a gap at the median: the plain median jumps
    # across the gap when one operation crosses it, the smooth one does not
    a = [100.0 * i for i in range(1, 12)] + [1400.0 + 100.0 * i for i in range(10)]
    b = a[:10] + [1350.0] + a[11:]
    assert stats.percentile(b, 50) / stats.percentile(a, 50) > 1.2
    assert stats.smooth_median(b) / stats.smooth_median(a) < 1.05


def test_p90_needs_ten_samples_beyond_it():
    assert not stats.supports(99, 90)
    assert stats.supports(100, 90)
    assert stats.p_or_none(list(range(99)), 90) is None
    assert stats.p_or_none([float(x) for x in range(100)], 90) == 89.0
    assert stats.supports(20, 50) and not stats.supports(19, 50)


def test_tail_picks_highest_supported_percentile():
    assert stats.tail([1.0] * 19) is None
    assert stats.tail([1.0] * 20)[0] == 50.0
    assert stats.tail([1.0] * 40)[0] == 75.0
    assert stats.tail([1.0] * 100)[0] == 90.0
    assert stats.tail([1.0] * 200)[0] == 95.0
    assert stats.tail([1.0] * 1000)[0] == 99.0


# --- span self time -----------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, "op", 1, 0.0, 10.0),
        Span(1, 0, "a", 1, 1.0, 4.0),
        Span(2, 0, "b", 1, 3.0, 6.0),     # overlaps a: union 1..6 counted once
        Span(3, 2, "c", 1, 3.5, 4.5),     # grandchild: only b loses it
        Span(4, 0, "d", 1, 9.0, 12.0),    # runs past the parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[1] == pytest.approx(3.0) and st[3] == pytest.approx(1.0)
    agg = by_name(spans)
    assert agg["op"]["calls"] == 1 and agg["op"]["self_ms"] == pytest.approx(4000.0)


def test_tracer_links_parents_and_op_ids():
    tr = Tracer(enabled=True)
    tr.op = 7
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.op = None
    with tr.span("setup"):
        pass
    outer, inner, setup = tr.spans
    assert inner.parent == outer.id and outer.parent is None and setup.parent is None
    assert (outer.op, inner.op, setup.op) == (7, 7, None)
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_peak_overlap_counts_concurrent_intervals():
    assert peak_overlap([]) == 0
    assert peak_overlap([(0, 10), (2, 5), (4, 8), (9, 12)]) == 3
    assert peak_overlap([(0, 5), (5, 10)]) == 1  # touching intervals do not overlap


# --- result digest normalization ----------------------------------------


def test_norm_value_matches_parity_rules():
    assert stats.norm_value(float("nan")) is None
    assert stats.norm_value(1.23456789) == 1.234568
    assert repr(stats.norm_value(-1e-9)) == "0.0"          # -0.0 folds to 0.0
    assert stats.norm_value(123456789012.1234567) == stats.norm_value(123456789012.1234568)
    assert stats.norm_value(datetime.date(2024, 1, 2)) == "2024-01-02"
    assert stats.norm_value(bytearray(b"ab")) == b"ab"
    assert stats.norm_value([1.0000001, [2, None]]) == (1.0, (2, None))


def test_spark_round_rounds_the_shortest_decimal_half_up():
    # values Spark 4.1's F.round gives for these doubles
    assert stats.spark_round(224832.54499999998, 2) == 224832.54
    assert stats.spark_round(2.675, 2) == 2.68      # binary value is below the tie
    assert stats.spark_round(-0.125, 2) == -0.13    # half away from zero
    assert stats.spark_round(123456789.125, 2) == 123456789.13
    assert stats.spark_round(0.0049999999999999, 2) == 0.0
    assert stats.spark_round(224832.54499999998, 0) == 224833.0
    assert stats.spark_round(None, 2) is None


def test_with_spark_round_rewrites_two_argument_round_calls():
    sql = ("SELECT ROUND(sum(x), 2), round (avg(f(y, 1)),4), round(z * 100), "
           "round(round(g(w, ','), 3) / 7, 1), round_even(z, 1), around(w, 2) FROM t")
    assert stats.with_spark_round(sql) == (
        "SELECT spark_round(sum(x), 2), spark_round(avg(f(y, 1)),4), round(z * 100), "
        "spark_round(spark_round(g(w, ','), 3) / 7, 1), round_even(z, 1), around(w, 2) FROM t")


def test_norm_rows_is_order_and_column_order_insensitive():
    a = stats.norm_rows(["b", "a"], [(2, "x"), (1, "y")])
    b = stats.norm_rows(["a", "b"], [("y", 1), ("x", 2)])
    assert a == b == (("a", "b"), [("x", 2), ("y", 1)])
    assert stats.norm_rows(["a", "b"], [("y", 1), ("x", 3)]) != a
    assert stats.norm_rows(["a", "b"], [("y", 1)]) != a


def test_norm_pandas_handles_numpy_values():
    pd = pytest.importorskip("pandas")
    np = pytest.importorskip("numpy")
    pdf = pd.DataFrame({"k": np.array([2, 1], dtype="int64"), "v": [np.array([0.5, 1.5]), None]})
    cols, rows = stats.norm_pandas(pdf)
    assert cols == ("k", "v")
    assert rows == sorted([(2, (0.5, 1.5)), (1, None)], key=repr)


def test_cell_crc_matches_spark_rendering():
    # concat_ws(U+001F, row_key, cf, qualifier, cast(ts as string), hex(value))
    text = "r1\x1fa\x1fq0\x1f17\x1f0AFF"
    assert stats.cell_crc("r1", "a", "q0", 17, b"\x0a\xff") == zlib.crc32(text.encode())
    assert stats.cells_digest([("r", "a", "q", 1, b"x"), ("s", "a", "q", 2, b"y")]) == \
        stats.cells_digest([("s", "a", "q", 2, b"y"), ("r", "a", "q", 1, b"x")])


# --- OLTP expected-value model ------------------------------------------


def test_model_keeps_newest_versions_up_to_family_cap():
    m = TableModel({"d": 2, "s": 1})
    m.put("r", "d", "v", 10, b"a")
    m.put("r", "d", "v", 30, b"c")
    m.put("r", "d", "v", 20, b"b")
    assert m.row_map("r") == {"d": {"v": [(30, b"c"), (20, b"b")]}}
    m.put("r", "s", "x", 5, b"1")
    m.put("r", "s", "x", 6, b"2")
    assert m.newest("r", "s", "x") == b"2"
    assert m.cells("r") == [("r", "d", "v", 30, b"c"), ("r", "d", "v", 20, b"b"), ("r", "s", "x", 6, b"2")]


def test_model_counters_sum_big_endian_and_wrap():
    m = TableModel({})
    m.add("r", "c", "n", 5, 40)
    m.add("r", "c", "n", 9, 2)
    assert m.cells("r") == [("r", "c", "n", 9, be_i64(42))]
    m.add("w", "c", "n", 1, (1 << 63) - 1)
    m.add("w", "c", "n", 2, 1)
    assert m.cells("w")[0][4] == be_i64(-(1 << 63))


def test_model_check_and_put():
    m = TableModel({"s": 1})
    assert not m.check_and_put("r", "s", "x", b"init", 1, b"v")   # absent cell
    m.put("r", "s", "x", 1, b"init")
    assert not m.check_and_put("r", "s", "x", b"stale", 2, b"v")
    assert m.newest("r", "s", "x") == b"init"
    assert m.check_and_put("r", "s", "x", b"init", 3, b"v")
    assert m.newest("r", "s", "x") == b"v"


def test_model_reads_scan_and_multi_get():
    m = TableModel({"d": 1})
    for i, r in enumerate(["u1", "u2", "u3"]):
        m.put(r, "d", "v", i, r.encode())
    assert [c[0] for c in m.scan("u1", "u3")] == ["u1", "u2"]
    assert m.multi_get(["u3", "nope", "u3"]) == {"u3": [("u3", "d", "v", 2, b"u3")]}
    assert m.live_bytes() == 3 * (2 + 1 + 1 + 8 + 2)
