"""Mutation builders: the write path of the engine.

Mirrors the reference SDK's RowMutation / BatchMutation accumulation
(`include/tera/mutation.h:24-136`, `include/tera/batch_mutation.h`) as
a driver-side builder that flattens to op-log rows, and the server's
group-commit (`TabletWriter::Write`, src/io/tablet_writer.h:45-48) as
a single atomic Parquet append — all cells of a batch land in one
commit, preserving per-row atomicity (SURVEY.md §3.2).

``MutationBatch.to_arrow`` is the one place a batch becomes rows. The
SDK verbs, CAS commits and transactions hand that pyarrow Table to
``Catalog.append``, which writes it from the driver — a batch the
driver already holds is never shipped through a Spark job, as a tera
write is a WAL append on the tablet server, never a cluster job.
``to_df`` wraps the same rows as a DataFrame for Spark-side callers.
CheckAndApply reads its condition through the seek path
(operators/seek.Seeker) when given a Seeker, through the Spark fold
when given the op-log DataFrame.

Timestamps: caller-supplied or assigned at flush (server-assigned ts,
tera_key.h:33). Sequence numbers are assigned monotonically per batch
so later writes win ties, like LevelDB sequence numbers.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from tera_spark.functions.codecs import py_encode_be_i64, py_encode_le_i64
from tera_spark.model import CELL_SCHEMA, CellOp, arrow_schema


class MutationBatch:
    """Accumulates row mutations; commit them with Catalog.append of
    ``to_arrow`` (from the driver) or ``to_df`` (a Spark write)."""

    def __init__(self, base_seq: int = 0):
        self._rows: list[tuple] = []
        self._base_seq = base_seq

    # --- RowMutation ops (mutation.h:37-77) ---------------------------
    def put(
        self,
        row_key: str,
        cf: str,
        qualifier: str,
        value: bytes | str,
        ts: int | None = None,
        *,
        ttl_s: int | None = None,
    ):
        """Cell put; ``ttl_s`` is the per-cell TTL of
        `RowMutation::Put(value, int32 ttl)` (mutation.h:30-33) — the
        cell expires ttl_s seconds after commit, independent of the
        column family's TTL."""
        self._emit(row_key, cf, qualifier, ts, CellOp.PUT, _b(value), ttl_s=ttl_s)
        return self

    def put_int64(self, row_key: str, cf: str, qualifier: str, v: int, ts: int | None = None):
        """Put(int64) — counter-compatible big-endian (table.h:66-68)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.PUT, py_encode_be_i64(v))
        return self

    def put_le_int64(self, row_key: str, cf: str, qualifier: str, v: int, ts: int | None = None):
        """Native little-endian int64 put — the `putint64` family that
        merges with AddInt64 (teracli.md "Support Int64"; LE codec
        src/io/atomic_merge_strategy.cc:43)."""
        from tera_spark.functions.codecs import py_encode_le_i64

        self._emit(row_key, cf, qualifier, ts, CellOp.PUT, py_encode_le_i64(v))
        return self

    def add(self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None):
        """Atomic big-endian counter add (table.h:128-130)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.ADD, py_encode_be_i64(delta))
        return self

    def add_int64(self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None):
        """Atomic native-endian add (table.h:69-71)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.ADDINT64, py_encode_le_i64(delta))
        return self

    def append(self, row_key: str, cf: str, qualifier: str, value: bytes | str, ts: int | None = None):
        self._emit(row_key, cf, qualifier, ts, CellOp.APPEND, _b(value))
        return self

    def put_if_absent(self, row_key: str, cf: str, qualifier: str, value: bytes | str, ts: int | None = None):
        self._emit(row_key, cf, qualifier, ts, CellOp.PUT_IFABSENT, _b(value))
        return self

    def delete_row(self, row_key: str, ts: int | None = None):
        self._emit(row_key, "", "", ts, CellOp.DEL_ROW, None)
        return self

    def delete_family(self, row_key: str, cf: str, ts: int | None = None):
        self._emit(row_key, cf, "", ts, CellOp.DEL_FAMILY, None)
        return self

    def delete_column(self, row_key: str, cf: str, qualifier: str, ts: int | None = None):
        """DeleteColumns — all versions up to ts (mutation.h:58-60)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.DEL_QUALIFIERS, None)
        return self

    def delete_version(self, row_key: str, cf: str, qualifier: str, ts: int | None = None):
        """DeleteColumn — the single newest version ≤ ts."""
        self._emit(row_key, cf, qualifier, ts, CellOp.DEL_QUALIFIER, None)
        return self

    # --- commit -------------------------------------------------------
    def _emit(self, row_key, cf, qualifier, ts, op, value, *, ttl_s=None):
        self._rows.append((row_key, cf, qualifier, ts, op, value, ttl_s))

    def map_row_keys(self, fn) -> "MutationBatch":
        """Rewrite every accumulated row key (the hash-distribution
        hook: TableImpl prefixes user keys transparently,
        src/sdk/table_impl.cc:98 — client.Table applies the same
        rewrite at the SDK boundary for <hash=on> tables)."""
        self._rows = [(fn(r[0]),) + tuple(r[1:]) for r in self._rows]
        return self

    def translated(self, fn) -> "MutationBatch":
        """Non-destructive form of map_row_keys: returns a NEW batch
        with rewritten keys, leaving the caller's batch untouched so a
        failed CAS / write can be retried with the same object without
        double-prefixing the row keys."""
        out = MutationBatch(self._base_seq)
        out._rows = [(fn(r[0]),) + tuple(r[1:]) for r in self._rows]
        return out

    def to_arrow(self, *, now_us: int | None = None, ts_oracle=None) -> pa.Table:
        """The batch as op-log rows: a pyarrow Table whose schema is
        CELL_SCHEMA's (names, types, nullability), or CELL_TTL_SCHEMA's
        when any cell carries a per-cell TTL. ``ts_oracle``
        (functions.timeoracle.Timeoracle) assigns each unset-ts cell its
        own unique, strictly monotonic timestamp instead of one shared
        wall-clock microsecond — tera's timeoracle-stamped write path.
        Oracle ticks are 10000/ms (not µs); use one ts source
        consistently per table."""
        from tera_spark.model import CELL_TTL_SCHEMA

        now = now_us if now_us is not None else int(time.time() * 1_000_000)

        def auto_ts() -> int:
            return ts_oracle.get_timestamp() if ts_oracle is not None else now

        with_ttl = any(ttl is not None for *_, ttl in self._rows)
        # plain batches keep the 7-column layout; a batch with any
        # per-cell TTL writes the extended schema (mixed files in one
        # op-log read fine — see CELL_TTL_SCHEMA)
        schema = arrow_schema(CELL_TTL_SCHEMA if with_ttl else CELL_SCHEMA)
        rk, cf, qu, ts, op, val, ttl = [list(c) for c in zip(*self._rows)] or [[]] * 7
        cols = [
            rk, cf, qu, [t if t is not None else auto_ts() for t in ts], op, val,
            list(range(self._base_seq, self._base_seq + len(self._rows))),
        ]
        if with_ttl:
            cols.append([now + t * 1_000_000 if t is not None else None for t in ttl])
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )

    def to_df(
        self, spark: SparkSession, *, now_us: int | None = None, ts_oracle=None
    ) -> DataFrame:
        """``to_arrow``'s rows as a DataFrame, cut into the
        defaultParallelism partitions a local list would get, so a
        Spark write of it keeps the bulk-load file layout."""
        from tera_spark.model import CELL_TTL_SCHEMA

        t = self.to_arrow(now_us=now_us, ts_oracle=ts_oracle)
        parts = contiguous_slices(t, spark.sparkContext.defaultParallelism)
        t = pa.Table.from_batches([b for s in parts for b in s.to_batches()], schema=t.schema)
        return spark.createDataFrame(
            t, CELL_TTL_SCHEMA if "expire_ts" in t.column_names else CELL_SCHEMA
        )

    def __len__(self) -> int:
        return len(self._rows)

    @property
    def op_kinds(self) -> list[int]:
        """Distinct op codes in the batch (known without a Spark job);
        commit records carry them so the catalog can prove a table is
        PUT-only and route reads through the fast fold."""
        return sorted({r[4] for r in self._rows})

    @property
    def row_keys(self) -> list[str]:
        """Distinct row keys touched (no Spark job) — the write set the
        commit CAS uses for its row-disjointness fast path."""
        return sorted({r[0] for r in self._rows})


def check_and_apply(
    cells,
    schema,
    row_key: str,
    cf: str,
    qualifier: str,
    expected: bytes | str,
    batch: MutationBatch,
    *,
    now_us: int | None = None,
    ts_oracle=None,
):
    """CheckAndApply (table.h:140-142): return the batch's rows to
    append if the newest visible version of (row_key, cf, qualifier)
    equals ``expected``, else None. Single-writer snapshot isolation —
    the Spark-side analog of the reference's row-transaction conflict
    check.

    ``cells`` is either the op-log DataFrame — the condition is read by
    a Spark fold under ``schema`` and the rows come back as a
    DataFrame — or an operators.seek.Seeker over the table — read by a
    direct seek under the Seeker's own schema and returned as a pyarrow
    Table, with no Spark job (the reference reads the condition by a
    seek as well). Either form is what Catalog.append takes."""
    from tera_spark.operators.seek import Seeker

    columns = {cf: [qualifier]}
    seek = isinstance(cells, Seeker)
    if seek:
        cur = [c[4] for c in cells.get(row_key, columns=columns, max_versions=1, now_us=now_us)]
    else:
        from tera_spark.operators.scan import get

        cur = [
            r.value
            for r in get(
                cells, schema, row_key, columns=columns, max_versions=1, now_us=now_us
            ).collect()
        ]
    if not cur or bytes(cur[0]) != _b(expected):
        return None
    if seek:
        return batch.to_arrow(now_us=now_us, ts_oracle=ts_oracle)
    return batch.to_df(cells.sparkSession, now_us=now_us, ts_oracle=ts_oracle)


def contiguous_slices(table: pa.Table, n: int) -> list[pa.Table]:
    """The non-empty slices [i*rows//n, (i+1)*rows//n) of ``table`` —
    how createDataFrame cuts a local list into its defaultParallelism
    partitions. A batch committed from the driver is written one file
    per slice, so it keeps the file layout a Spark write would give."""
    bounds = [i * table.num_rows // n for i in range(n + 1)]
    return [table.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:]) if hi > lo]


def _b(v: bytes | str) -> bytes:
    return v if isinstance(v, bytes) else str(v).encode()
