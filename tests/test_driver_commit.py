"""Driver-local group commit: a batch the driver holds is written with
pyarrow (Catalog.append of MutationBatch.to_arrow), not a Spark job.

Pins that the SDK write verbs and CheckAndApply start no Spark job,
that driver-written and Spark-written batches are the same op-log to
every reader (read_oplog, the seek path, maintenance), that the files
carry Spark's schema, compression and footer statistics, and that
`raw_max_seq` read from the footers equals the Spark aggregate.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tera_spark.catalog import Catalog, _footer_max_seq, _NO_STATS
from tera_spark.client import Client
from tera_spark.model import CELL_SCHEMA, CELL_TTL_SCHEMA, KV_OPLOG_SCHEMA
from tera_spark.operators.mutation import MutationBatch, check_and_apply
from tera_spark.operators.seek import Seeker
from tera_spark.registry import parse_schema_string

NOW = 1_700_000_000_000_000
SCHEMA = "{name} {{ d <maxversions=2>, c, s }}"


class _Ticks:
    """Deterministic timeoracle stand-in: strictly increasing ticks."""

    def __init__(self, start: int):
        self._next = start

    def get_timestamp(self, num: int = 1) -> int:
        self._next += num
        return self._next - num


def _batch(base_seq: int = 0, *, ttl: bool = False) -> MutationBatch:
    b = MutationBatch(base_seq=base_seq)
    b.put("r1", "d", "q", "v1", ts=1).put("r1", "d", "q", "v2", ts=2)
    b.add("r2", "c", "n", 5, ts=3).add("r2", "c", "n", 7)  # one auto ts
    b.put("r3", "s", "st", "open", ts=4, ttl_s=3600 if ttl else None)
    b.delete_column("r1", "d", "q", ts=1).delete_row("r4", ts=9)
    b.append("r5", "s", "log", "a", ts=1).put_if_absent("r5", "s", "pia", "x", ts=1)
    return b


def _rows(df) -> list[tuple]:
    rows = [tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in df.collect()]
    return sorted(rows, key=repr)  # repr: NULL values sort too


def _oplog_files(cat: Catalog, name: str) -> list:
    return sorted((cat.root / name / "oplog").glob("part-*.parquet"))


def _spark_jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _twin_tables(cat: Catalog, schema: str = SCHEMA):
    cat.create_table(schema.format(name="arrow"))
    cat.create_table(schema.format(name="frame"))


def _append_both(cat, spark, make_batch, *, oracle_start=None):
    """Commit one batch per table: driver-written and Spark-written;
    ``oracle_start`` stamps unset timestamps from a fresh oracle each."""
    for name in ("arrow", "frame"):
        b = make_batch()
        oracle = _Ticks(oracle_start) if oracle_start is not None else None
        cells = (
            b.to_arrow(now_us=NOW, ts_oracle=oracle)
            if name == "arrow"
            else b.to_df(spark, now_us=NOW, ts_oracle=oracle)
        )
        hi = b._base_seq + len(b) - 1 if len(b) else None
        cat.append(name, cells, commit_seq=hi, op_kinds=b.op_kinds if len(b) else None)


def _assert_same_reads(cat, keys, *, now_us=NOW + 1):
    assert _rows(cat.read_oplog("arrow")) == _rows(cat.read_oplog("frame"))
    a = Seeker(cat, "arrow").multi_get(keys, now_us=now_us)
    f = Seeker(cat, "frame").multi_get(keys, now_us=now_us)
    assert a == f
    assert _rows(cat.view("arrow", now_us=now_us)) == _rows(cat.view("frame", now_us=now_us))


# --- no Spark job on the SDK write path --------------------------------


def test_sdk_writes_and_cas_start_no_spark_job(spark, tmp_path):
    c = Client(spark, str(tmp_path / "c"))
    c.create_table(SCHEMA.format(name="t"))
    t = c.open_table("t")  # a fresh handle: its first write reads raw_max_seq
    before = _spark_jobs(spark)
    t.put("r", "s", "st", "open", ts=1)
    t.increment_column_value("r", "c", "n", 3, ts=2)
    assert t.check_and_apply("r", "s", "st", "open", MutationBatch().put("r", "s", "st", "shut", ts=3))
    assert not t.check_and_apply("r", "s", "st", "open", MutationBatch().put("r", "s", "st", "x", ts=4))
    assert _spark_jobs(spark) == before
    assert t.get("r", seek=True) == {
        "c": {"n": [(2, (3).to_bytes(8, "big"))]},
        "s": {"st": [(3, b"shut")]},
    }


def test_one_cell_commit_is_one_file(spark, tmp_path):
    c = Client(spark, str(tmp_path / "c"))
    c.create_table(SCHEMA.format(name="t"))
    n0 = len(_oplog_files(c.catalog, "t"))
    c.open_table("t").put("r", "d", "q", "v", ts=1)
    assert len(_oplog_files(c.catalog, "t")) == n0 + 1


# --- driver-written ≡ Spark-written -----------------------------------


def test_arrow_and_dataframe_batches_read_back_identically(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "c"))
    _twin_tables(cat)
    _append_both(cat, spark, lambda: _batch(0))
    _append_both(cat, spark, lambda: _batch(20, ttl=True))  # TTL: expire_ts column
    _append_both(cat, spark, lambda: MutationBatch(base_seq=40))  # empty
    keys = ["r1", "r2", "r3", "r4", "r5"]
    _assert_same_reads(cat, keys)
    # the TTL cell expires for both at the same instant
    _assert_same_reads(cat, keys, now_us=NOW + 3600 * 1_000_000 + 1)
    assert cat.raw_max_seq("arrow") == cat.raw_max_seq("frame") == 28
    assert cat.commit_watermark("arrow") == cat.commit_watermark("frame") == 28
    plan_a = cat.maintenance("arrow", now_us=NOW + 1)
    plan_f = cat.maintenance("frame", now_us=NOW + 1)
    assert plan_a == plan_f and plan_a["action"] == "major"
    _assert_same_reads(cat, keys)


def test_empty_arrow_batch_writes_nothing(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "c"))
    cat.create_table(SCHEMA.format(name="t"))
    files = _oplog_files(cat, "t")
    cat.append("t", MutationBatch(base_seq=5).to_arrow())
    assert _oplog_files(cat, "t") == files
    assert cat.commit_watermark("t") is None


def test_timeoracle_stamped_batches_read_back_identically(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "c"))
    _twin_tables(cat)

    def make():
        return MutationBatch(base_seq=0).put("r1", "d", "q", "a").put("r1", "d", "q", "b").add("r2", "c", "n", 1)

    _append_both(cat, spark, make, oracle_start=10_000)
    _assert_same_reads(cat, ["r1", "r2"])
    ts = sorted(r.ts for r in cat.read_oplog("arrow").collect())
    assert ts == [10_000, 10_001, 10_002]  # one unique tick per unset-ts cell


def test_hash_table_batches_read_back_identically(spark, tmp_path):
    from tera_spark.functions.keys import py_hash_prefix_key

    cat = Catalog(spark, str(tmp_path / "c"))
    _twin_tables(cat, "{name} <hash=on> {{ d <maxversions=2>, c, s }}")
    _append_both(cat, spark, lambda: _batch(0).translated(py_hash_prefix_key))
    keys = [py_hash_prefix_key(k) for k in ["r1", "r2", "r3", "r4", "r5"]]
    _assert_same_reads(cat, keys)
    c = Client(spark, str(cat.root))
    assert c.open_table("arrow").get("r1", seek=True) == c.open_table("frame").get("r1", seek=True)


def test_kv_batches_read_back_identically(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "c"))
    _twin_tables(cat, "{name}")  # no column families: a KV table
    cat.kv_put("arrow", "k1", "v1", ttl_s=60, now_us=NOW)
    cat.kv_put("arrow", "k2", "v2")
    cat.kv_delete("arrow", "k2")
    # the same three writes, Spark-written with the arrow table's seqs
    seqs = [r.seq for r in sorted(cat.read_oplog("arrow").collect(), key=lambda r: r.seq)]
    rows = [("k1", b"v1", NOW + 60_000_000, seqs[0]), ("k2", b"v2", None, seqs[1]), ("k2", None, None, seqs[2])]
    for row in rows:
        cat.append("frame", spark.createDataFrame([row], KV_OPLOG_SCHEMA), commit_seq=row[3])
    assert _rows(cat.read_oplog("arrow")) == _rows(cat.read_oplog("frame"))
    for now in (NOW + 1, NOW + 61_000_000):
        for k in ("k1", "k2"):
            assert Seeker(cat, "arrow").get_kv(k, now_us=now) == Seeker(cat, "frame").get_kv(k, now_us=now)
        assert _rows(cat.view("arrow", now_us=now)) == _rows(cat.view("frame", now_us=now))


# --- file format -------------------------------------------------------


@pytest.mark.parametrize("ttl", [False, True])
def test_driver_written_files_carry_spark_format(spark, tmp_path, ttl):
    cat = Catalog(spark, str(tmp_path / "c"))
    _twin_tables(cat)
    _append_both(cat, spark, lambda: _batch(0, ttl=ttl))
    struct = CELL_TTL_SCHEMA if ttl else CELL_SCHEMA

    def nonempty(name):
        return [f for f in _oplog_files(cat, name) if pq.read_metadata(f).num_rows]

    # the table's seed file is Spark-written and empty: skip it
    arrow_files, frame_files = nonempty("arrow"), nonempty("frame")
    assert len(arrow_files) == len(frame_files)
    ref = pq.read_metadata(frame_files[0])
    for f in arrow_files:
        md = pq.read_metadata(f)
        assert md.schema.equals(ref.schema)  # names, physical/logical types, repetition
        row_meta = md.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        assert json.loads(row_meta) == json.loads(struct.json())
        assert spark.read.parquet(str(f)).schema == spark.read.parquet(str(frame_files[0])).schema
        names = md.schema.names
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            assert {g.column(i).compression for i in range(g.num_columns)} == {"SNAPPY"}
            for col in ("row_key", "op", "seq"):
                st = g.column(names.index(col)).statistics
                assert st is not None and st.has_min_max, (f.name, col)
    # one file per contiguous slice: the defaultParallelism cut a Spark
    # write of a local list makes (9 cells over the session's cores)
    n = spark.sparkContext.defaultParallelism
    assert len(arrow_files) == min(n, 9)


# --- raw_max_seq from footers -------------------------------------------


def _spark_max_seq(spark, cat, name):
    return spark.read.parquet(cat.oplog_path(name)).agg({"seq": "max"}).collect()[0][0]


def test_raw_max_seq_from_footers_matches_aggregate(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "c"))
    cat.create_table(SCHEMA.format(name="t"))
    assert _footer_max_seq(cat.root / "t" / "oplog") is None  # empty seed file
    assert cat.raw_max_seq("t") == _spark_max_seq(spark, cat, "t") is None
    cat.append("t", _batch(3).to_df(spark, now_us=NOW))  # Spark-written
    assert cat.raw_max_seq("t") == _spark_max_seq(spark, cat, "t") == 11
    cat.append("t", _batch(40, ttl=True).to_arrow(now_us=NOW))  # driver-written, TTL
    assert cat.raw_max_seq("t") == _spark_max_seq(spark, cat, "t") == 48
    cat.append("t", MutationBatch(base_seq=90).to_df(spark))  # empty Spark file
    assert cat.raw_max_seq("t") == _spark_max_seq(spark, cat, "t") == 48


def test_raw_max_seq_falls_back_without_seq_statistics(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "c"))
    cat.create_table(SCHEMA.format(name="t"))
    cat.append("t", _batch(0).to_arrow(now_us=NOW))
    t = _batch(70).to_arrow(now_us=NOW)
    pq.write_table(t, cat.root / "t" / "oplog" / "part-nostats.parquet", write_statistics=False)
    assert _footer_max_seq(cat.root / "t" / "oplog") is _NO_STATS
    assert cat.raw_max_seq("t") == _spark_max_seq(spark, cat, "t") == 78


# --- the seek path sees schema changes ----------------------------------


def test_seek_get_and_cas_see_update_schema(spark, tmp_path):
    c = Client(spark, str(tmp_path / "c"))
    c.create_table("t { d <maxversions=1>, s }")
    t = c.open_table("t")
    old = NOW - 7_200 * 1_000_000  # two hours ago
    for i in range(3):
        t.put("r", "d", "q", f"v{i}", ts=old + i)
    t.put("r", "s", "st", "open", ts=old)
    assert t.get("r", seek=True, now_us=NOW)["d"]["q"] == [(old + 2, b"v2")]
    assert "s" in t.get("r", seek=True, now_us=NOW)  # builds the handle's Seeker
    c.catalog.update_schema(parse_schema_string("t { d <maxversions=3>, s <ttl=3600> }"))
    # the open handle folds with the new max_versions and TTL
    assert [v for _, v in t.get("r", seek=True, now_us=NOW)["d"]["q"]] == [b"v2", b"v1", b"v0"]
    assert "s" not in t.get("r", seek=True, now_us=NOW)
    # the status cell expired under the new TTL: CAS on it is refused
    assert not t.check_and_apply("r", "s", "st", "open", MutationBatch().put("r", "s", "st", "shut"))


# --- CAS compares the newest version ------------------------------------


def test_cas_compares_newest_version_on_multiversion_column(spark, tmp_path):
    c = Client(spark, str(tmp_path / "c"))
    c.create_table("t { d <maxversions=2> }")
    t = c.open_table("t")
    t.put("r", "d", "q", "old", ts=1)
    t.put("r", "d", "q", "new", ts=2)
    cat, schema = c.catalog, c.catalog.get_schema("t")
    # operator (Spark fold) path
    b = MutationBatch(base_seq=10).put("r", "d", "q", "x", ts=3)
    assert check_and_apply(cat.read_oplog("t"), schema, "r", "d", "q", "old", b) is None
    landed = check_and_apply(cat.read_oplog("t"), schema, "r", "d", "q", "new", b)
    assert landed is not None and [r.value for r in landed.collect()] == [b"x"]
    # seek path, driver commit: returns the rows as a pyarrow Table
    seeker = Seeker(cat, "t")
    assert check_and_apply(seeker, None, "r", "d", "q", "old", b) is None
    got = check_and_apply(seeker, None, "r", "d", "q", "new", b)
    assert isinstance(got, pa.Table) and got["value"].to_pylist() == [b"x"]
    # SDK verb
    assert not t.check_and_apply("r", "d", "q", "old", MutationBatch().put("r", "d", "q", "y", ts=3))
    assert t.check_and_apply("r", "d", "q", "new", MutationBatch().put("r", "d", "q", "y", ts=3))
    assert t.get("r", seek=True)["d"]["q"] == [(3, b"y"), (2, b"new")]


def test_to_arrow_schema_matches_spark_schema():
    from pyspark.sql.pandas.types import from_arrow_schema

    t = _batch(0).to_arrow(now_us=NOW)
    assert from_arrow_schema(t.schema) == CELL_SCHEMA
    assert [f.nullable for f in t.schema] == [f.nullable for f in CELL_SCHEMA.fields]
    t = _batch(0, ttl=True).to_arrow(now_us=NOW)
    assert from_arrow_schema(t.schema) == CELL_TTL_SCHEMA
    assert t["expire_ts"].to_pylist()[4] == NOW + 3600 * 1_000_000  # the TTL put
    assert t["seq"].to_pylist() == list(range(9))
    assert sorted(set(t["op"].to_pylist())) == _batch(0).op_kinds
