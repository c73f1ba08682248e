"""SDK-shaped facade: the reference's client ergonomics on Spark.

Mirrors the surface a tera user already knows — ``Client`` /
``Client.OpenTable`` (include/tera/client.h:36-40) and ``Table``'s
Put/Get/Scan/ApplyMutation/IncrementColumnValue/CheckAndApply
(include/tera/table.h:58-142; Python binding
src/sdk/python/TeraSdk.py Client, Table, RowMutation,
ScanDescriptor) — so reference call sites translate line for line.
Everything delegates to the catalog + operators; nothing here adds
semantics, only the SDK's shape:

- ``Table.get`` returns the RowReader::ToMap nesting
  (cf → qualifier → [(ts desc, value)]; include/tera/reader.h:52-55)
  as plain Python dicts — point reads are row-sized by construction.
- Writes auto-assign timestamps (server-assigned ts, tera_key.h:33)
  and carry a monotonically increasing sequence across commits
  (LevelDB sequence analog) so later writes win ties.
- Writes and CheckAndApply start no Spark job: a verb's batch is
  committed from the driver (MutationBatch.to_arrow → Catalog.append,
  the group-commit of tera's TabletWriter), and CheckAndApply reads
  its condition through the seek path (operators/seek.py), as tera
  reads it by a direct seek.
- ``Table.scan`` streams ordered visible cells through
  ``toLocalIterator`` — the client-side iteration model of
  ResultStream (include/tera/scan.h:26-67) without the session/RPC
  machinery Spark makes unnecessary (SURVEY.md §3.1).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tera_spark.catalog import Catalog
from tera_spark.operators.mutation import MutationBatch, check_and_apply
from tera_spark.operators.scan import ScanDescriptor, batch_get, get, scan
from tera_spark.operators.txn import SingleRowTransaction
from tera_spark.registry import TableSchema


class Client:
    """Client (include/tera/client.h): table lifecycle + OpenTable."""

    def __init__(self, spark: SparkSession, root: str):
        self.catalog = Catalog(spark, root)

    # lifecycle passthroughs, SDK names
    def create_table(
        self, schema: TableSchema | str, *, hash_num: int | None = None
    ) -> TableSchema:
        """``hash_num`` is the CreateTable(desc, hash_num) overload
        (src/sdk/client_impl.cc:160-168): pre-split a HASH table into
        hash_num equal slices of the 64-bit hash space via
        GenerateHashDelimiters; invalid on a non-hash table (kBadParam,
        same refusal)."""
        if hash_num is None:
            return self.catalog.create_table(schema)
        from tera_spark.functions.keys import hash_delimiters
        from tera_spark.registry import parse_schema_string

        parsed = parse_schema_string(schema) if isinstance(schema, str) else schema
        if not parsed.hash_distribution:
            raise ValueError("Create non-hash table with hash_num is invalid")
        return self.catalog.create_table(
            parsed, delimiters=hash_delimiters(hash_num)
        )

    def disable_table(self, name: str) -> None:
        self.catalog.disable_table(name)

    def enable_table(self, name: str) -> None:
        self.catalog.enable_table(name)

    def delete_table(self, name: str) -> None:
        self.catalog.drop_table(name)

    def list_tables(self) -> list[str]:
        return self.catalog.list_tables()

    def is_table_exist(self, name: str) -> bool:
        return self.catalog.is_table_exist(name)

    def new_global_transaction(self):
        """NewGlobalTransaction (client.h:98): cross-row/cross-table
        snapshot-isolated RMW (see operators/txn.py GlobalTransaction
        for why optimistic validation replaces Percolator's 2PC)."""
        from tera_spark.operators.txn import GlobalTransaction

        return GlobalTransaction(self.catalog)

    def open_table(self, name: str, *, timeoracle=None) -> "Table | KvTable":
        """``timeoracle`` (functions.timeoracle.Timeoracle) makes
        auto-assigned cell timestamps unique and strictly monotonic —
        the reference's timeoracle-stamped write path."""
        if not self.catalog.is_table_exist(name):
            raise ValueError(f"no such table: {name}")
        if self.catalog.get_schema(name).kv_mode:
            return KvTable(self.catalog, name)
        return Table(self.catalog, name, timeoracle=timeoracle)


class RowMutation:
    """TeraSdk.RowMutation-compatible builder bound to one row
    (src/sdk/python/TeraSdk.py:293-440) — method names kept CamelCase
    so reference call sites (`mu = t.NewRowMutation(row); mu.Put(cf,
    qu, v); t.ApplyMutation(mu)`) translate unchanged. Accumulates on
    a MutationBatch; nothing lands until Table.ApplyMutation.

    SetCallback/GetStatus/Destroy are the async-RPC machinery of the
    ctypes binding; commits here are synchronous (ApplyMutation
    returns after the storage append), so they are intentionally
    absent."""

    def __init__(self, row_key: str):
        self._row_key = row_key
        self._batch = MutationBatch()

    def Put(self, cf: str, qu: str, value) -> "RowMutation":
        self._batch.put(self._row_key, cf, qu, value)
        return self

    def PutWithTimestamp(self, cf: str, qu: str, timestamp: int, value) -> "RowMutation":
        self._batch.put(self._row_key, cf, qu, value, ts=timestamp)
        return self

    def PutInt64(self, cf: str, qu: str, value: int) -> "RowMutation":
        """Native-endian int64 put (merges with AddInt64, teracli
        'Support Int64')."""
        self._batch.put_le_int64(self._row_key, cf, qu, value)
        return self

    def PutKV(self, value, ttl: int) -> "RowMutation":
        raise TypeError("PutKV targets kv-mode tables: use KvTable.put(key, value, ttl_s=...)")

    def DeleteColumnAllVersions(self, cf: str, qu: str) -> "RowMutation":
        self._batch.delete_column(self._row_key, cf, qu)
        return self

    def DeleteColumnWithVersion(self, cf: str, qu: str, ts: int) -> "RowMutation":
        self._batch.delete_version(self._row_key, cf, qu, ts=ts)
        return self

    def DeleteFamily(self, cf: str) -> "RowMutation":
        self._batch.delete_family(self._row_key, cf)
        return self

    def DeleteRow(self) -> "RowMutation":
        self._batch.delete_row(self._row_key)
        return self

    # Deprecated in the reference; kept for call-site compatibility
    def DeleteColumn(self, cf: str, qu: str) -> "RowMutation":
        self._batch.delete_column(self._row_key, cf, qu)
        return self

    def RowKey(self) -> str:
        return self._row_key


class Table:
    """Table (include/tera/table.h): reads, writes, atomics, txn.

    Hash-distributed tables (``<hash=on>``; TableDescriptor hash mode,
    murmur-prefix rewrite src/sdk/table_impl.cc:98) are TRANSPARENT at
    this layer, as in the reference SDK: every write and point read
    translates user keys to prefixed form (driver-side xxhash64 twin,
    functions/keys.py, bit-equal to the JVM expression), and outputs
    strip the prefix back off. Scan range bounds re-apply on the USER
    key after the strip — storage order is hash order, so a user-key
    range cannot prune files and costs a full scan: the documented
    hash-table trade-off (the reference likewise scans hash tables in
    distribution order, table_impl.cc:1416-1418)."""

    def __init__(self, catalog: Catalog, name: str, *, timeoracle=None):
        self._cat = catalog
        self.name = name
        self._next_seq: int | None = None
        schema = catalog.get_schema(name)
        self._hashed = schema.hash_distribution
        # opt-in unique-monotonic auto timestamps (timeoracle.h analog).
        # Oracle ticks are (wall_ms - 2017 base) * 10000 — a LOGICAL
        # basis, not epoch microseconds — while cf-level TTL expiry and
        # ScanDescriptor ts_range interpret cell ts as epoch µs, so an
        # oracle-stamped cell would sit decades in the future and never
        # expire. Refuse the combination instead of silently mixing
        # bases (same rule for µs ts_range scans: one ts source per
        # table — see functions/timeoracle.py).
        if timeoracle is not None:
            self._refuse_oracle_ttl_mix(schema)
        self._oracle = timeoracle
        self._schema_memo: tuple | None = None  # (stat key, TableSchema)

    def _current_schema(self):
        """get_schema behind an mtime/size guard: the per-write
        oracle/ttl recheck must see a later update_schema, but must not
        pay a read+JSON-parse per mutation — schema.json is re-parsed
        only when its stat signature changes."""
        import os

        p = self._cat.root / self.name / "schema.json"
        try:
            st = os.stat(p)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if self._schema_memo is None or self._schema_memo[0] != key:
            self._schema_memo = (key, self._cat.get_schema(self.name))
        return self._schema_memo[1]

    def _refuse_oracle_ttl_mix(self, schema) -> None:
        if any(cf.ttl > 0 for cf in schema.column_families.values()):
            raise ValueError(
                f"table {self.name!r}: timeoracle timestamps (logical "
                "10000/ms ticks) are incompatible with cf-level ttl>0 "
                "(epoch-µs expiry) — use wall-clock timestamps or ttl=0"
            )

    # -- hash-distribution key translation ----------------------------
    def _hk(self, key: str) -> str:
        from tera_spark.functions.keys import py_hash_prefix_key

        return py_hash_prefix_key(key) if self._hashed else key

    def _strip(self, key: str) -> str:
        from tera_spark.functions.keys import py_strip_hash_prefix

        return py_strip_hash_prefix(key) if self._hashed else key

    def _strip_df(self, df: DataFrame) -> DataFrame:
        from tera_spark.functions.keys import with_plain_row_key

        return with_plain_row_key(df) if self._hashed else df

    def _hash_desc(self, desc: ScanDescriptor | None) -> ScanDescriptor | None:
        """On hash tables the stored order is hash order, so user-key
        range bounds can't prune storage (the reference routes its
        hashed start key and otherwise scans in distribution order,
        table_impl.cc:1416-1418). Bounds are lifted out of the pushed
        descriptor here and re-applied on the USER key after the
        prefix strips off (_user_range) — callers get exactly the
        range they asked for, at full-scan cost: the documented
        hash-table trade-off."""
        if not self._hashed or desc is None or (desc.start is None and desc.end is None):
            return desc
        import dataclasses

        # number_limit must be lifted too: applying it in hash-storage
        # order BEFORE the user-key range filter would drop rows that
        # are inside the requested range. _user_range re-applies it
        # after the range filter.
        return dataclasses.replace(desc, start=None, end=None, number_limit=None)

    def _user_range(self, df: DataFrame, desc: ScanDescriptor | None) -> DataFrame:
        if not self._hashed or desc is None:
            return df
        bounded = desc.start is not None or desc.end is not None
        if desc.start is not None:
            df = df.filter(F.col("row_key") >= desc.start)
        if desc.end is not None:
            df = df.filter(F.col("row_key") < desc.end)
        # re-apply the limit that _hash_desc lifted out of the pushed
        # descriptor (only lifted when bounds were present) — on top of
        # scan order, so a bounded+limited hash scan returns the FIRST
        # N cells in user-key order, not an arbitrary N (plans as
        # TakeOrderedAndProject: per-partition top-k, no global sort)
        if bounded and desc.number_limit is not None:
            df = df.orderBy("row_key", "cf", "qualifier", F.desc("ts")).limit(
                desc.number_limit
            )
        return df

    # -- sequence bookkeeping (LevelDB sequence analog) ---------------
    def _seq(self, n: int) -> int:
        if self._next_seq is None:
            # raw max, not the rollback-filtered view: a fresh seq must
            # sit above any rolled-back window or the write vanishes
            top = self._cat.raw_max_seq(self.name)
            self._next_seq = (top + 1) if top is not None else 0
        base = self._next_seq
        self._next_seq += n
        return base

    # -- writes (table.h:58-77, 128-142) ------------------------------
    def new_row_mutation(self, row_key: str) -> RowMutation:
        """TeraSdk Table.NewRowMutation: a per-row mutation builder."""
        return RowMutation(row_key)

    NewRowMutation = new_row_mutation  # TeraSdk spelling

    def apply_mutation(self, batch: MutationBatch | RowMutation) -> None:
        if isinstance(batch, RowMutation):
            batch = batch._batch
        if self._oracle is not None:
            # the construction-time guard can be bypassed by a later
            # update_schema adding cf ttl>0 to an open oracle-stamped
            # handle; re-check against the CURRENT schema on every
            # write (stat-guarded memo: sees any schema.json change
            # without per-mutation read+parse)
            self._refuse_oracle_ttl_mix(self._current_schema())
        if self._hashed:
            # translate into a COPY: retrying the same caller batch
            # must not double-prefix its row keys
            batch = batch.translated(self._hk)
        batch._base_seq = self._seq(len(batch))
        self._cat.append(
            self.name,
            batch.to_arrow(ts_oracle=self._oracle),
            commit_seq=batch._base_seq + len(batch) - 1,
            op_kinds=batch.op_kinds,
        )

    ApplyMutation = apply_mutation  # TeraSdk spelling

    def put(
        self,
        row_key: str,
        cf: str,
        qualifier: str,
        value,
        ts: int | None = None,
        *,
        ttl_s: int | None = None,
    ) -> None:
        """Cell put; ``ttl_s`` = per-cell TTL (Put(value, ttl),
        mutation.h:30-33)."""
        self.apply_mutation(
            MutationBatch().put(row_key, cf, qualifier, value, ts=ts, ttl_s=ttl_s)
        )

    def delete_row(self, row_key: str, ts: int | None = None) -> None:
        self.apply_mutation(MutationBatch().delete_row(row_key, ts=ts))

    def increment_column_value(
        self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None
    ) -> None:
        """IncrementColumnValue (table.h:128-130): big-endian Add."""
        self.apply_mutation(MutationBatch().add(row_key, cf, qualifier, delta, ts=ts))

    def add_int64(
        self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None
    ) -> None:
        self.apply_mutation(MutationBatch().add_int64(row_key, cf, qualifier, delta, ts=ts))

    def append(self, row_key: str, cf: str, qualifier: str, value, ts: int | None = None) -> None:
        self.apply_mutation(MutationBatch().append(row_key, cf, qualifier, value, ts=ts))

    def put_if_absent(
        self, row_key: str, cf: str, qualifier: str, value, ts: int | None = None
    ) -> None:
        self.apply_mutation(MutationBatch().put_if_absent(row_key, cf, qualifier, value, ts=ts))

    def check_and_apply(
        self, row_key: str, cf: str, qualifier: str, expected, batch: MutationBatch
    ) -> bool:
        """CheckAndApply (table.h:140-142). True iff the mutation landed.
        The condition is the column's newest visible version, read by
        the seek path; the batch commits from the driver — no Spark
        job either way."""
        if self._oracle is not None:
            self._refuse_oracle_ttl_mix(self._current_schema())  # as apply_mutation
        if self._hashed:
            # copy, not in-place: a failed CAS is retried with the same
            # batch object, which must keep its user-space keys
            batch = batch.translated(self._hk)
            row_key = self._hk(row_key)
        batch._base_seq = self._seq(len(batch))  # gap on failed CAS is harmless
        out = check_and_apply(
            self._seeker(), None, row_key, cf, qualifier, expected, batch,
            ts_oracle=self._oracle,
        )
        if out is None:
            return False
        self._cat.append(
            self.name,
            out,
            commit_seq=batch._base_seq + len(batch) - 1,
            op_kinds=batch.op_kinds,
        )
        return True

    # -- reads (table.h:85-98, reader.h) ------------------------------
    def get(
        self,
        row_key: str,
        *,
        columns: dict[str, list[str]] | None = None,
        max_versions: int | None = None,
        ts_range: tuple[int, int] | None = None,
        now_us: int | None = None,
        seek: bool = False,
    ) -> dict[str, dict[str, list[tuple[int, bytes]]]]:
        """Point read, nested RowReader::ToMap-style:
        {cf: {qualifier: [(ts, value) newest-first]}}.

        ``seek=True`` takes the LowLevelSeek-analog fast path
        (operators/seek.py): footer-routed pyarrow row-group reads +
        Python fold on the client — no Spark job, ~ms latency. Same
        result by property test (tests/test_seek.py)."""
        row_key = self._hk(row_key)
        if seek:
            cells = self._seeker().get(
                row_key,
                columns=columns,
                max_versions=max_versions,
                ts_range=ts_range,
                now_us=now_us,
            )
            out: dict[str, dict[str, list[tuple[int, bytes]]]] = {}
            for _, cf, qu, ts, value in cells:
                out.setdefault(cf, {}).setdefault(qu, []).append((ts, bytes(value)))
            return out
        rows = get(
            self._cat.read_oplog(self.name),
            self._cat.get_schema(self.name),
            row_key,
            columns=columns,
            max_versions=max_versions,
            ts_range=ts_range,
            now_us=now_us,
            **self._fold_hints(),
        ).collect()
        out: dict[str, dict[str, list[tuple[int, bytes]]]] = {}
        for r in rows:
            out.setdefault(r.cf, {}).setdefault(r.qualifier, []).append((r.ts, bytes(r.value)))
        for cfd in out.values():
            for versions in cfd.values():
                versions.sort(key=lambda tv: -tv[0])
        return out

    def _seeker(self):
        if getattr(self, "_seek_client", None) is None:
            from tera_spark.operators.seek import Seeker

            # the schema memo, not a copy: the handle lives on across
            # update_schema, and seek gets and CAS must fold with the
            # current max_versions/TTL/families
            self._seek_client = Seeker(self._cat, self.name, schema=self._current_schema)
        return self._seek_client

    def _fold_hints(self) -> dict:
        """Metadata-derived fast-fold hints for direct operator calls:
        commit records prove the op mix, so SDK reads of PUT-only /
        pure-counter tables take the cheap folds automatically."""
        return self._cat.fold_hints(self.name)

    def batch_get(self, row_keys: list[str], *, now_us: int | None = None) -> DataFrame:
        return self._strip_df(
            batch_get(
                self._cat.read_oplog(self.name),
                self._cat.get_schema(self.name),
                [self._hk(k) for k in row_keys],
                now_us=now_us,
                **self._fold_hints(),
            )
        )

    def multi_get(
        self, row_keys: list[str], *, now_us: int | None = None, mode: str = "auto"
    ) -> dict[str, list[tuple]]:
        """Batched point reads with path routing (the access-path
        choice the reference makes per-read, tablet_io.cc:1439-1451):

        - ``seek``: client-side footer-routed reads (operators/seek) —
          wins while the key count is small relative to the table's
          row-group count (each get touches ~1 row group).
        - ``join``: the Spark broadcast-semi-join scan path — wins
          once the batch would touch most row groups anyway (the batch
          degenerates to a full read, so do it as one distributed
          scan; see SCALE.md "OLTP verbs").
        - ``auto``: seek iff len(keys) < total row groups / 2.

        Returns row_key → [(row_key, cf, qualifier, ts, value)]."""
        if mode == "auto":
            groups = sum(len(self._seeker()._file_meta(f)) for f in self._seeker()._files())
            mode = "seek" if len(row_keys) < max(groups, 1) / 2 else "join"
        if mode == "seek":
            got = self._seeker().multi_get([self._hk(k) for k in row_keys], now_us=now_us)
            return {
                self._strip(k): [(self._strip(c[0]),) + tuple(c[1:]) for c in cells]
                for k, cells in got.items()
            }
        if mode != "join":
            raise ValueError(f"unknown mode: {mode!r}")
        out: dict[str, list[tuple]] = {}
        for r in self.batch_get(row_keys, now_us=now_us).collect():
            out.setdefault(r.row_key, []).append(
                (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
            )
        for cells in out.values():
            cells.sort(key=lambda c: (c[1], c[2], -c[3]))
        return out

    def scan(
        self,
        desc: ScanDescriptor | None = None,
        *,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> Iterator:
        """Ordered cell iteration (ResultStream). Yields Rows with
        (row_key, cf, qualifier, ts, value) in scan order: row_key,
        cf, qualifier asc, ts desc. ``snapshot_seq`` reads as of a
        write sequence (ScanDescriptor::SetSnapshot, scan.h:121)."""
        v = scan(
            self._cat.read_oplog(self.name),
            self._cat.get_schema(self.name),
            self._hash_desc(desc),
            now_us=now_us,
            snapshot_seq=snapshot_seq,
            **self._fold_hints(),
        )
        out = self._user_range(self._strip_df(v), desc)
        return out.orderBy("row_key", "cf", "qualifier", F.desc("ts")).toLocalIterator()

    def scan_df(
        self,
        desc: ScanDescriptor | None = None,
        *,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> DataFrame:
        """The analytics-native form: visible cells as a DataFrame."""
        return self._user_range(
            self._strip_df(
                scan(
                    self._cat.read_oplog(self.name),
                    self._cat.get_schema(self.name),
                    self._hash_desc(desc),
                    now_us=now_us,
                    snapshot_seq=snapshot_seq,
                    **self._fold_hints(),
                )
            ),
            desc,
        )

    # -- transactions (table.h:102-104) -------------------------------
    def create_index(self, cf: str, qualifier: str) -> str:
        """Materialize + register a secondary index over (cf, qualifier)
        (catalog.create_index); rebuildable by calling again."""
        return self._cat.create_index(self.name, cf, qualifier)

    def lookup_by_value(self, cf: str, qualifier: str, value) -> DataFrame:
        """Value lookup routed through the registered index when one
        exists (stale hits re-verified); folded-scan fallback otherwise."""
        return self._cat.lookup_by_value(self.name, cf, qualifier, value)

    def refresh_index(self, cf: str, qualifier: str) -> dict:
        """Incrementally refresh the (cf, qualifier) index from the
        table's changefeed — change-set-bounded maintenance
        (catalog.refresh_index)."""
        return self._cat.refresh_index(self.name, cf, qualifier)

    def start_row_transaction(self, row_key: str) -> SingleRowTransaction:
        return SingleRowTransaction(
            self._cat.read_oplog(self.name),
            self._cat.get_schema(self.name),
            self._hk(row_key),
        )

    def commit_row_transaction(self, txn: SingleRowTransaction) -> None:
        cells = txn.commit(self._cat.read_oplog(self.name))
        self._cat.append(self.name, cells)

    # -- admin sugar (table.h:131-133) --------------------------------
    def tablet_info(self) -> list[dict]:
        return self._cat.tablet_info(self.name)

    def start_end_keys(self) -> list[tuple[str, str]]:
        return [(t["start_key"], t["end_key"]) for t in self.tablet_info()]

    def diff(self, seq_start: int, seq_end: int | None = None) -> DataFrame:
        """Changefeed: INSERT/UPDATE/DELETE delta set between two write
        sequences (Catalog.diff / operators.view.changes_between)."""
        return self._cat.diff(self.name, seq_start, seq_end)


class KvTable:
    """KV-mode table (RawKey=GeneralKv/TTLKv): the reference serves KV
    tables through the same Table API with (key, value) puts
    (doc/en/teracli.md kv schema; TeraSdk Table.Put/Get 2-ary forms)."""

    def __init__(self, catalog: Catalog, name: str):
        self._cat = catalog
        self.name = name

    def put(self, key: str, value, *, ttl_s: int | None = None) -> None:
        self._cat.kv_put(self.name, key, value, ttl_s=ttl_s)

    def get(self, key: str, *, now_us: int | None = None, seek: bool = False) -> bytes | None:
        if seek:
            from tera_spark.operators.seek import Seeker

            if getattr(self, "_seek_client", None) is None:
                self._seek_client = Seeker(self._cat, self.name)
            v = self._seek_client.get_kv(key, now_us=now_us)
            return bytes(v) if v is not None else None
        from tera_spark.operators.view import kv_current_view

        rows = (
            kv_current_view(
                self._cat.read_oplog(self.name).filter(F.col("key") == key),
                now_us=now_us,
            )
            .collect()
        )
        return bytes(rows[0].value) if rows else None

    def delete(self, key: str) -> None:
        self._cat.kv_delete(self.name, key)

    def scan(
        self, start: str | None = None, end: str | None = None, *, now_us: int | None = None
    ) -> Iterator:
        from tera_spark.operators.view import kv_current_view

        df = self._cat.read_oplog(self.name)
        if start is not None:
            df = df.filter(F.col("key") >= start)
        if end is not None:
            df = df.filter(F.col("key") < end)
        return kv_current_view(df, now_us=now_us).orderBy("key").toLocalIterator()
