"""Golden tests for the current-view builder — the reference's
tablet_io_test.cc scan/version/overwrite cases transliterated to the
cell-DataFrame model, plus merge/tombstone semantics from
default_compact_strategy.cc / atomic_merge_strategy.cc.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tera_spark.functions.codecs import py_encode_be_i64, py_encode_le_i64, py_decode_be_i64, py_decode_le_i64
from tera_spark.model import CellOp
from tera_spark.operators.view import current_view, kv_view
from tera_spark.registry import TableSchema

NOW = 2_000_000_000_000_000  # fixed "now" (us) for determinism


def make_cells(spark, rows):
    """rows: (row_key, cf, qualifier, ts, op_name, value|None)"""
    data = [
        (r, c, q, ts, CellOp.CODES[opn], v if v is None or isinstance(v, (bytes, bytearray)) else str(v).encode(), i)
        for i, (r, c, q, ts, opn, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "row_key string, cf string, qualifier string, ts long, op int, value binary, seq long"
    )


def schema1(maxv=1, ttl=0):
    ts = TableSchema("t")
    ts.add_column_family("cf0", max_versions=maxv, ttl=ttl)
    ts.add_column_family("cf1", max_versions=2)
    return ts


def got(view):
    return sorted(
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value) if r.value is not None else None)
        for r in view.collect()
    )


def test_put_overwrite_maxversions1(spark):
    # tablet_io_test.cc OverWrite (:215): newest put wins at maxversions=1
    cells = make_cells(
        spark,
        [
            ("r1", "cf0", "q", 100, "PUT", b"old"),
            ("r1", "cf0", "q", 200, "PUT", b"new"),
            ("r2", "cf0", "q", 50, "PUT", b"only"),
        ],
    )
    assert got(current_view(cells, schema1(), now_us=NOW)) == [
        ("r1", "cf0", "q", 200, b"new"),
        ("r2", "cf0", "q", 50, b"only"),
    ]


def test_max_versions_trim(spark):
    # versions trimmed to schema max_versions (tablet_io.cc:1057-1061)
    rows = [("r", "cf1", "q", t, "PUT", f"v{t}") for t in (10, 20, 30, 40)]
    cells = make_cells(spark, rows)
    assert got(current_view(cells, schema1(), now_us=NOW)) == [
        ("r", "cf1", "q", 30, b"v30"),
        ("r", "cf1", "q", 40, b"v40"),
    ]


def test_delete_row_ts_bounded(spark):
    # DEL_ROW masks ts <= mark (default_compact_strategy.cc:  del_row_ts_ >= ts)
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "a", 100, "PUT", b"gone"),
            ("r", "cf1", "b", 150, "PUT", b"gone2"),
            ("r", "", "", 200, "DEL_ROW", None),
            ("r", "cf0", "a", 300, "PUT", b"alive"),  # newer than mark → survives
        ],
    )
    assert got(current_view(cells, schema1(), now_us=NOW)) == [("r", "cf0", "a", 300, b"alive")]


def test_delete_family_and_qualifiers(spark):
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "a", 100, "PUT", b"x"),
            ("r", "cf0", "b", 100, "PUT", b"y"),
            ("r", "cf1", "a", 100, "PUT", b"z"),
            ("r", "cf0", "", 150, "DEL_FAMILY", None),      # masks cf0 ts<=150
            ("r", "cf1", "a", 90, "PUT", b"older"),
            ("r", "cf1", "a", 95, "DEL_QUALIFIERS", None),  # masks cf1:a ts<=95
        ],
    )
    # cf1 maxversions=2: the ts=100 put survives (older one masked)
    assert got(current_view(cells, schema1(), now_us=NOW)) == [("r", "cf1", "a", 100, b"z")]


def test_put_then_delete_older_ts_does_not_mask(spark):
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "q", 200, "PUT", b"keep"),
            ("r", "", "", 100, "DEL_ROW", None),
        ],
    )
    assert got(current_view(cells, schema1(), now_us=NOW)) == [("r", "cf0", "q", 200, b"keep")]


def test_del_qualifier_single_version(spark):
    # DEL_QUALIFIER kills exactly the next-newest version; the deleted
    # version still counts toward max_versions (ScanDrop version_num_++)
    cells = make_cells(
        spark,
        [
            ("r", "cf1", "q", 30, "PUT", b"v30"),
            ("r", "cf1", "q", 30, "DEL_QUALIFIER", None),  # same-ts mark sorts first
            ("r", "cf1", "q", 20, "PUT", b"v20"),
            ("r", "cf1", "q", 10, "PUT", b"v10"),
        ],
    )
    # visible: v20 (version 2); v10 is version 3 > maxversions(2)
    assert got(current_view(cells, schema1(), now_us=NOW)) == [("r", "cf1", "q", 20, b"v20")]


def test_add_counter_merge_big_endian(spark):
    # ADD merges BE deltas onto the newest PUT base (atomic_merge_strategy.cc:36-41,63-67)
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "hits", 10, "PUT", py_encode_be_i64(100)),
            ("r", "cf0", "hits", 20, "ADD", py_encode_be_i64(5)),
            ("r", "cf0", "hits", 30, "ADD", py_encode_be_i64(-2)),
        ],
    )
    out = got(current_view(cells, schema1(), now_us=NOW))
    assert len(out) == 1
    r, c, q, ts, v = out[0]
    assert (ts, py_decode_be_i64(v)) == (30, 103)


def test_addint64_little_endian(spark):
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "n", 10, "PUT", py_encode_le_i64(7)),
            ("r", "cf0", "n", 20, "ADDINT64", py_encode_le_i64(3)),
        ],
    )
    out = got(current_view(cells, schema1(), now_us=NOW))
    assert py_decode_le_i64(out[0][4]) == 10 and out[0][3] == 20


def test_put_resets_merge_base(spark):
    # ADDs older than a PUT are dropped ("IsAtomicOP && has_put_")
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "q", 10, "ADD", py_encode_be_i64(100)),  # below PUT → dead
            ("r", "cf0", "q", 20, "PUT", py_encode_be_i64(1)),
            ("r", "cf0", "q", 30, "ADD", py_encode_be_i64(5)),
        ],
    )
    out = got(current_view(cells, schema1(), now_us=NOW))
    assert len(out) == 1
    assert (out[0][3], py_decode_be_i64(out[0][4])) == (30, 6)


def test_append_ts_ascending_concat(spark):
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "log", 10, "PUT", b"a"),
            ("r", "cf0", "log", 20, "APPEND", b"b"),
            ("r", "cf0", "log", 30, "APPEND", b"c"),
        ],
    )
    out = got(current_view(cells, schema1(), now_us=NOW))
    assert out == [("r", "cf0", "log", 30, b"abc")]


def test_put_ifabsent_oldest_wins(spark):
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "q", 10, "PUT_IFABSENT", b"first"),
            ("r", "cf0", "q", 20, "PUT_IFABSENT", b"second"),
        ],
    )
    assert got(current_view(cells, schema1(), now_us=NOW)) == [("r", "cf0", "q", 20, b"first")]


def test_put_ifabsent_after_existing_put_discarded(spark):
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "q", 10, "PUT", b"base"),
            ("r", "cf0", "q", 20, "PUT_IFABSENT", b"late"),
        ],
    )
    # merge folds base as the oldest → base sticks, at the newest ts
    assert got(current_view(cells, schema1(), now_us=NOW)) == [("r", "cf0", "q", 20, b"base")]


def test_same_ts_atomic_dedup(spark):
    # consecutive same-ts atomics are skipped (ts != last_ts_atomic)
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "q", 20, "ADD", py_encode_be_i64(5)),   # seq 0 (older write)
            ("r", "cf0", "q", 20, "ADD", py_encode_be_i64(7)),   # seq 1 — newest write wins init
        ],
    )
    out = got(current_view(cells, schema1(), now_us=NOW))
    # the newest write (seq order) initializes the merge; the same-ts
    # older delta is skipped (ts != last_ts_atomic guard)
    assert py_decode_be_i64(out[0][4]) == 7


def test_ttl_expiry(spark):
    ttl_s = 60
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "q", NOW - 120 * 1_000_000, "PUT", b"expired"),
            ("r", "cf0", "q2", NOW - 10 * 1_000_000, "PUT", b"fresh"),
        ],
    )
    out = got(current_view(cells, schema1(ttl=ttl_s), now_us=NOW))
    assert out == [("r", "cf0", "q2", NOW - 10 * 1_000_000, b"fresh")]


def test_illegal_cf_dropped(spark):
    cells = make_cells(spark, [("r", "nope", "q", 10, "PUT", b"x"), ("r", "cf0", "q", 10, "PUT", b"y")])
    assert got(current_view(cells, schema1(), now_us=NOW)) == [("r", "cf0", "q", 10, b"y")]


def test_snapshot_seq_read(spark):
    cells = make_cells(
        spark,
        [
            ("r", "cf0", "q", 10, "PUT", b"v1"),   # seq 0
            ("r", "cf0", "q", 20, "PUT", b"v2"),   # seq 1
        ],
    )
    assert got(current_view(cells, schema1(), now_us=NOW, snapshot_seq=0)) == [
        ("r", "cf0", "q", 10, b"v1")
    ]


def test_kv_view_ttl(spark):
    kv = spark.createDataFrame(
        [("a", b"1", None), ("b", b"2", 0), ("c", b"3", NOW - 1), ("d", b"4", NOW + 1)],
        "key string, value binary, expire_ts long",
    )
    keys = sorted(r.key for r in kv_view(kv, now_us=NOW).collect())
    assert keys == ["a", "b", "d"]


def test_multi_row_multi_cf_mixed(spark):
    # a denser scenario combining deletes + versions + counters across rows
    cells = make_cells(
        spark,
        [
            ("r1", "cf0", "a", 10, "PUT", b"r1a"),
            ("r1", "cf1", "a", 10, "PUT", b"old"),
            ("r1", "cf1", "a", 20, "PUT", b"mid"),
            ("r1", "cf1", "a", 30, "PUT", b"new"),
            ("r2", "", "", 100, "DEL_ROW", None),
            ("r2", "cf0", "x", 50, "PUT", b"dead"),
            ("r2", "cf0", "x", 150, "PUT", b"live"),
            ("r3", "cf0", "n", 5, "ADD", py_encode_be_i64(11)),
        ],
    )
    out = got(current_view(cells, schema1(), now_us=NOW))
    assert ("r1", "cf0", "a", 10, b"r1a") in out
    assert ("r1", "cf1", "a", 30, b"new") in out and ("r1", "cf1", "a", 20, b"mid") in out
    assert ("r1", "cf1", "a", 10, b"old") not in out
    assert ("r2", "cf0", "x", 150, b"live") in out
    assert not any(r[0] == "r2" and r[3] == 50 for r in out)
    r3 = [r for r in out if r[0] == "r3"]
    assert len(r3) == 1 and py_decode_be_i64(r3[0][4]) == 11


def test_changes_between_diff_semantics(spark):
    """Changefeed endpoints: INSERT (new key after seq0), UPDATE
    (value changed), DELETE (tombstoned after seq0); a re-put of the
    SAME value and an untouched key must emit nothing."""
    from tera_spark.operators.view import changes_between

    cells = make_cells(
        spark,
        [
            ("r1", "cf0", "a", 10, "PUT", b"v1"),       # seq 0: untouched
            ("r2", "cf0", "a", 10, "PUT", b"old"),      # seq 1
            ("r3", "cf0", "a", 10, "PUT", b"gone"),     # seq 2
            ("r5", "cf0", "a", 10, "PUT", b"same"),     # seq 3  <- seq_start
            ("r2", "cf0", "a", 20, "PUT", b"new"),      # seq 4: update
            ("r3", "", "", 20, "DEL_ROW", None),        # seq 5: delete
            ("r4", "cf0", "a", 20, "PUT", b"born"),     # seq 6: insert
            ("r5", "cf0", "a", 20, "PUT", b"same"),     # seq 7: no-op rewrite
        ],
    )
    d = changes_between(cells, schema1(), seq_start=3, now_us=NOW)
    out = {
        r.row_key: (r.change_type, r.old_value, r.new_value)
        for r in d.collect()
    }
    assert out == {
        "r2": ("UPDATE", b"old", b"new"),
        "r3": ("DELETE", b"gone", None),
        "r4": ("INSERT", None, b"born"),
    }


@pytest.mark.parametrize("seed", [7, 23])
def test_changes_between_reconstructs_new_view(spark, seed):
    """Changefeed soundness on random op-logs: old view patched with
    the diff (apply INSERT/UPDATE, drop DELETE) must equal the new
    view, for an arbitrary seq split."""
    import random

    from tera_spark.operators.view import changes_between, latest_view

    rng = random.Random(seed)
    ops = []
    for i in range(120):
        r = f"r{rng.randrange(8)}"
        kind = rng.choices(
            ["PUT", "DEL_ROW", "DEL_QUALIFIERS", "DEL_QUALIFIER"], [8, 1, 1, 1]
        )[0]
        cf = "cf0" if rng.random() < 0.7 else "cf1"
        qu = f"q{rng.randrange(3)}"
        ts = rng.randrange(1, 50)
        if kind == "PUT":
            ops.append((r, cf, qu, ts, "PUT", f"v{i}".encode()))
        elif kind == "DEL_ROW":
            ops.append((r, "", "", ts, "DEL_ROW", None))
        else:
            ops.append((r, cf, qu, ts, kind, None))
    cells = make_cells(spark, ops)
    cut = 60
    schema = schema1()

    old = {
        (r.row_key, r.cf, r.qualifier): bytes(r.value)
        for r in latest_view(cells, schema, snapshot_seq=cut, now_us=NOW).collect()
    }
    new = {
        (r.row_key, r.cf, r.qualifier): bytes(r.value)
        for r in latest_view(cells, schema, now_us=NOW).collect()
    }
    patched = dict(old)
    for d in changes_between(cells, schema, seq_start=cut, now_us=NOW).collect():
        k = (d.row_key, d.cf, d.qualifier)
        if d.change_type == "DELETE":
            patched.pop(k, None)
        else:
            patched[k] = bytes(d.new_value)
    assert patched == new


def test_collect_stream_excludes_row_family_delete_marks(spark):
    """Row/cf delete marks must not ride the collect aggregation: they
    are dropped from `entries` wholesale (their ts maxima reach the
    mask via the mark joins), so the fold prefilters them before the
    collect_list — the big exchange carries only survivable ops. Pin
    both the plan property (a NOT-IN(DEL_ROW, DEL_FAMILY) filter below
    the collect aggregate) and the semantics (masking unchanged, and a
    group holding only delete marks emits nothing)."""
    from tera_spark.plans import plan_str

    cells = make_cells(
        spark,
        [
            ("r1", "cf0", "q", 10, "PUT", "keep"),
            ("r1", "cf0", "q", 3, "PUT", "masked"),
            ("r1", "", "", 5, "DEL_ROW", None),      # masks ts<=5
            ("r2", "cf0", "", 7, "DEL_FAMILY", None),  # its group emits nothing
            ("r2", "cf0", "q2", 6, "PUT", "gone"),
            ("r3", "cf0", "q", 9, "DEL_QUALIFIERS", None),  # masks ts<=9
            ("r3", "cf0", "q", 12, "PUT", "kept2"),
            ("r3", "cf0", "q", 8, "PUT", "gone2"),
        ],
    )
    v = current_view(cells, schema1(maxv=2), now_us=NOW)
    plan = plan_str(v, "formatted").replace(" ", "")
    assert "NOTop" in plan and ("IN(1,2)" in plan or "INSET1,2" in plan), plan
    # DEL_QUALIFIERS structs ride only the _del_qu max, not the array:
    # the collected expression itself is CASE WHEN NOT(op = 3)
    assert re.search(
        rf"collect_list\(CASEWHEN\(?NOT\(?op#\d+={CellOp.DEL_QUALIFIERS}\)", plan
    ), plan
    assert got(v) == [
        ("r1", "cf0", "q", 10, b"keep"),
        ("r3", "cf0", "q", 12, b"kept2"),
    ]
