"""Single-row transactions: snapshot-isolated read-modify-write.

Reference: ``Table::StartRowTransaction`` (include/tera/table.h:102-104,
SDK src/sdk/single_row_txn.cc) gives the caller a snapshot of one row;
at commit the server rejects the write if the row changed since the
snapshot (``TabletWriter::CheckSingleRowTxnConflict``,
src/io/tablet_writer.h:62-64).

Spark-native re-expression: the snapshot is the row's max op sequence
number at txn start; commit re-reads it and refuses the mutation batch
if any later op on the row exists. The check + append must be driven
by a single writer per table (Spark jobs are single-driver, and the
catalog's append is one atomic job) — the same serialization point the
reference gets from the tablet server's writer thread.

Cross-row/cross-table transactions: see ``GlobalTransaction`` below —
the Percolator capability (src/sdk/global_txn.cc) without the 2PC lock
protocol, which a single-committer engine doesn't need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.scan import get
from tera_spark.registry import TableSchema


class RowTxnConflict(Exception):
    """Row changed between txn start and commit."""


class SingleRowTransaction:
    def __init__(
        self,
        cells: DataFrame,
        schema: TableSchema | None,
        row_key: str,
        *,
        now_us: int | None = None,
    ):
        self._cells = cells
        self._schema = schema
        self._row_key = row_key
        self._now_us = now_us
        self._snapshot_seq = self._row_max_seq(cells)
        self.batch = MutationBatch(base_seq=(self._snapshot_seq or 0) + 1)

    def _row_max_seq(self, cells: DataFrame) -> int | None:
        row = (
            cells.filter(F.col("row_key") == self._row_key)
            .agg(F.max("seq").alias("mx"))
            .collect()
        )
        return row[0].mx if row and row[0].mx is not None else None

    # --- reads inside the txn (snapshot-bounded) ----------------------
    def read(self, cf: str, qualifier: str) -> bytes | None:
        rows = get(
            self._cells,
            self._schema,
            self._row_key,
            columns={cf: [qualifier]},
            now_us=self._now_us,
        ).collect()
        return bytes(rows[0].value) if rows and rows[0].value is not None else None

    # --- writes accumulate on self.batch ------------------------------
    def put(self, cf: str, qualifier: str, value, ts: int | None = None):
        self.batch.put(self._row_key, cf, qualifier, value, ts=ts)
        return self

    def delete_column(self, cf: str, qualifier: str, ts: int | None = None):
        self.batch.delete_column(self._row_key, cf, qualifier, ts=ts)
        return self

    def commit(self, current_cells: DataFrame | None = None) -> DataFrame:
        """Conflict-check against the table's current state and return
        the mutation DataFrame to append. Raises RowTxnConflict if the
        row gained ops since the snapshot."""
        latest = self._row_max_seq(
            current_cells if current_cells is not None else self._cells
        )
        if latest != self._snapshot_seq:
            raise RowTxnConflict(
                f"row {self._row_key!r}: seq {self._snapshot_seq} -> {latest}"
            )
        return self.batch.to_df(self._cells.sparkSession, now_us=self._now_us)


def start_row_transaction(
    cells: DataFrame, schema: TableSchema | None, row_key: str, **kw
) -> SingleRowTransaction:
    """Table::StartRowTransaction analog."""
    return SingleRowTransaction(cells, schema, row_key, **kw)


class GlobalTxnConflict(Exception):
    """A written row gained ops after the transaction's snapshot."""


class GlobalTransaction:
    """Cross-row, cross-table snapshot-isolated read-modify-write —
    the capability of tera's Percolator transactions
    (``Client::NewGlobalTransaction``, include/tera/client.h:98;
    src/sdk/global_txn.cc) without the 2-phase lock protocol.

    Percolator needs prewrite locks (`!L`), a write shadow column
    (`!W`), lock cleanup and roll-forward (global_txn.cc:337-720)
    because thousands of independent clients race on shared tablets.
    In this engine the committer is a Spark driver and a commit is one
    atomic append job per table, so optimistic validation suffices:

    * snapshot   — per touched table, the max op ``seq`` at first
      touch; all txn reads are bounded by it (``snapshot_seq`` in the
      view builder), giving a consistent cut across tables.
    * validate   — at commit, any op on a *written* row with
      ``seq > snapshot`` aborts (write-write conflict; same granularity
      as ``CheckSingleRowTxnConflict`` but across rows and tables).
    * apply      — one append per table with fresh tail seqs; per-table
      atomicity is the storage commit. A cross-table commit manifest
      (gating readers on a txn-complete marker) is the upgrade path if
      multi-table readers must never observe a torn commit mid-failure;
      with a single driver the window is a crashed job, and re-running
      the idempotent txn closes it.

    Timestamps: the reference stamps from a timeoracle
    (src/timeoracle/timeoracle.h:27-41); monotone op ``seq`` plays that
    role here.
    """

    def __init__(self, catalog, *, now_us: int | None = None):
        from tera_spark.operators.mutation import MutationBatch

        self._cat = catalog
        self._now_us = now_us
        self._snap: dict[str, int] = {}
        self._snap_gaps: dict[str, list[tuple[int, int]]] = {}
        self._batches: dict[str, "MutationBatch"] = {}
        self._write_rows: dict[str, set[str]] = {}

    # --- hash-distribution key translation ----------------------------
    def _hk(self, table: str, key: str) -> str:
        """Hash-distributed tables (<hash=on>) store murmur-prefixed
        keys; Table promises transparency at the SDK layer, so the txn
        path must apply the same translation (reads: hashed point
        range; writes: prefixed batch keys) or a global txn on a hash
        table reads nothing and writes keys scans can never see."""
        schema = self._cat.get_schema(table)
        if schema is not None and getattr(schema, "hash_distribution", False):
            from tera_spark.functions.keys import py_hash_prefix_key

            return py_hash_prefix_key(key)
        return key

    # --- snapshot machinery -------------------------------------------
    def _snapshot(self, table: str) -> int:
        if table not in self._snap:
            # windows in-flight (gap-masked) at snapshot time: their
            # ops sit BELOW our snapshot seq but were not visible to
            # our reads — if such a window commits before we validate,
            # a plain seq > snapshot check would miss it (lost update).
            # Remember them and treat any write-set op inside one as a
            # conflict at validation. Captured BEFORE the snapshot max
            # is computed: a gap whose record lands mid-snapshot is
            # then remembered (conservative — at worst a spurious
            # conflict), never missed.
            self._snap_gaps[table] = list(self._cat._masked_gaps(table))
            mx = self._cat.read_oplog(table).agg(F.max("seq")).first()[0]
            self._snap[table] = mx if mx is not None else 0
        return self._snap[table]

    def _batch(self, table: str):
        from tera_spark.operators.mutation import MutationBatch

        self._snapshot(table)  # pin the snapshot before the first write too
        if table not in self._batches:
            self._batches[table] = MutationBatch()
            self._write_rows[table] = set()
        return self._batches[table]

    # --- reads (snapshot-bounded, consistent across tables) -----------
    def read(self, table: str, row_key: str, cf: str, qualifier: str) -> bytes | None:
        from tera_spark.operators.scan import ScanDescriptor, scan

        row_key = self._hk(table, row_key)
        rows = scan(
            self._cat.read_oplog(table),
            self._cat.get_schema(table),
            ScanDescriptor(start=row_key, end=row_key + "\x00", columns={cf: [qualifier]}),
            now_us=self._now_us,
            snapshot_seq=self._snapshot(table),
        ).collect()
        # collect() order is not the fold order: on maxversions>1 cfs
        # several versions survive — the txn read means the NEWEST one
        rows.sort(key=lambda r: r.ts, reverse=True)
        return bytes(rows[0].value) if rows and rows[0].value is not None else None

    # --- writes -------------------------------------------------------
    def put(self, table: str, row_key: str, cf: str, qualifier: str, value, ts=None):
        row_key = self._hk(table, row_key)
        self._batch(table).put(row_key, cf, qualifier, value, ts=ts)
        self._write_rows[table].add(row_key)
        return self

    def delete_column(self, table: str, row_key: str, cf: str, qualifier: str, ts=None):
        row_key = self._hk(table, row_key)
        self._batch(table).delete_column(row_key, cf, qualifier, ts=ts)
        self._write_rows[table].add(row_key)
        return self

    def notify(self, table: str, row_key: str, cf: str, qualifier: str, ts: int = 0):
        """Transaction::Notify analog (include/tera/transaction.h:69-72):
        mark the observed column dirty in the same commit."""
        from tera_spark.streaming.observer import NOTIFY_CF

        row_key = self._hk(table, row_key)
        self._batch(table).put(row_key, NOTIFY_CF, f"{cf}+{qualifier}", b"1", ts=ts)
        self._write_rows[table].add(row_key)
        return self

    # --- commit -------------------------------------------------------
    def commit(self, *, cas: bool = False) -> dict[str, int]:
        """Validate then apply; returns cells appended per table.

        ``cas=True`` is the MULTI-WRITER mode — the full Percolator
        prewrite-validate-commit shape (global_txn.cc:578-720) mapped
        onto the catalog's row manifests: acquire a row-set manifest
        per touched table (the prewrite-lock step; an intersecting
        concurrent txn's manifest aborts us immediately — optimistic,
        deadlock-free), validate the write set against the snapshot
        UNDER those locks (no MANIFEST-AWARE committer — another cas
        txn or append_cas(rows=...) — can touch our rows between
        validation and apply; a plain/slot-path writer racing the same
        rows keeps only optimistic validation, as before), then commit
        each table through its reserved seq window. Disjoint-row transactions commit fully
        concurrently — no slot wait, no retry. Default (cas=False)
        keeps the single-driver plain-append path."""
        if cas:
            return self._commit_cas()
        self._validate()
        applied: dict[str, int] = {}
        for table, batch in self._batches.items():
            if not len(batch):
                continue
            # allocate through the reservation counter: above raw
            # history (the old visible-max allocation landed inside
            # recovery rollback windows after a torn-tail crash and
            # vanished) AND above any concurrent CAS writer's reserved
            # window (raw_max_seq alone cannot see a reserved-but-
            # unwritten window). The record's lo keeps a concurrent
            # lower in-flight window GAP-MASKED instead of un-masking
            # it when this record raises the watermark past it.
            holder = (self._cat.writer_id or self._cat._auto_writer_id) + "-plain"
            base, hi = self._cat._reserve_seq_window(table, len(batch), holder)
            batch._base_seq = base
            self._cat.append(
                table,
                batch.to_arrow(now_us=self._now_us),
                commit_seq=hi,
                commit_lo=base,
                op_kinds=batch.op_kinds,
            )
            applied[table] = len(batch)
        return applied

    def _validate(self) -> None:
        for table, rows in self._write_rows.items():
            if not rows:
                continue
            snap = self._snap[table]
            # conflict = any now-visible op on a write-set row that our
            # snapshot reads could not see: above the snapshot seq, OR
            # inside a window that was still gap-masked (in-flight) at
            # snapshot time and has since committed
            changed = F.col("seq") > snap
            for g_lo, g_hi in self._snap_gaps.get(table, []):
                changed = changed | (
                    (F.col("seq") >= g_lo) & (F.col("seq") <= g_hi)
                )
            conflicted = (
                self._cat.read_oplog(table)
                .filter(F.col("row_key").isin(sorted(rows)) & changed)
                .limit(1)
                .count()
            )
            if conflicted:
                raise GlobalTxnConflict(
                    f"table {table!r}: write-set row changed after seq {snap}"
                )

    def _commit_cas(self) -> dict[str, int]:
        import uuid

        txn_id = uuid.uuid4().hex[:16]
        holder = (
            self._cat.writer_id or self._cat._auto_writer_id
        ) + f"-txn{txn_id[:8]}"
        tokens: dict[str, dict] = {}
        marker = None
        try:
            # phase 1 — prewrite: one manifest per table, all-or-abort
            for table, batch in self._batches.items():
                if not len(batch):
                    continue
                tok = self._cat.begin_disjoint_commit(
                    table, len(batch), sorted(self._write_rows[table]), holder
                )
                if tok is None:
                    raise GlobalTxnConflict(
                        f"table {table!r}: write set locked by a concurrent "
                        "transaction"
                    )
                tokens[table] = tok
            # validate under the locks: committed state can no longer
            # gain ops on our rows before we apply
            self._validate()
            # phase 2a — stage every table's data: parquet lands but the
            # windows stay gap-masked (invisible) until their records
            for table, tok in tokens.items():
                self._cat.stage_disjoint_data(
                    tok, self._batches[table], now_us=self._now_us
                )
            # phase 2b — THE commit point (Percolator primary commit,
            # global_txn.cc:578-720): one atomic marker rename covering
            # every table's window. Crash before it -> recovery rolls
            # every staged window back (consistent abort); crash after
            # it -> recovery writes the missing records (consistent
            # commit, reference roll-forward global_txn.cc:337-501).
            # Single-table txns skip it: their record IS the point.
            if len(tokens) > 1:
                marker = self._cat.write_txn_marker(txn_id, tokens)
            # phase 3 — per-table commit records
            applied: dict[str, int] = {}
            for table, tok in list(tokens.items()):
                self._cat.record_disjoint_commit(tok)
                del tokens[table]
                applied[table] = len(self._batches[table])
            if marker is not None:
                marker.unlink(missing_ok=True)
            return applied
        finally:
            if marker is None:
                # before the commit point: consistent abort
                for tok in tokens.values():
                    self._cat.abort_disjoint_commit(tok)
            # after the commit point, still-held windows are NOT
            # aborted — recovery (any later writer, or any reader via
            # the heal path) rolls them forward from the marker

def new_global_transaction(catalog, **kw) -> GlobalTransaction:
    """Client::NewGlobalTransaction analog."""
    return GlobalTransaction(catalog, **kw)
