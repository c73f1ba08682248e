"""Catalog / DDL surface: create, drop, list, alter, snapshot.

Re-expresses the reference's admin operators (SURVEY.md §2.6 —
`Client::CreateTable/DisableTable/DropTable/ListTables/
UpdateTableSchema`, include/tera/client.h:40-69, and snapshots,
include/tera/table_descriptor.h:212-214) over a directory layout:

    <root>/<table>/schema.json       — TableSchema registry entry
    <root>/<table>/oplog/            — append-only op-log parquet
    <root>/<table>/snapshots/<id>/   — immutable compacted snapshots

Pre-split delimiters / hash-bucket counts from the reference's
CreateTable map to range/hash partition counts used when writing.
A snapshot is a compacted, range-sorted, immutable copy — the Spark
analog of GetSnapshot's seq-pinned reads (tablet_io.cc:698-706).
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from tera_spark.coordination import PosixLinkArbiter, SlotArbiter
from tera_spark.model import CELL_SCHEMA
from tera_spark.registry import TableSchema, parse_schema_string
from tera_spark.sources.tables import schema_codec, write_cell_table


_NO_STATS = object()


def _footer_max_seq(oplog: Path):
    """Max `seq` over the op-log's parquet footers (None for an empty
    log), or _NO_STATS when the footers cannot tell: a non-empty row
    group without `seq` min/max statistics, or a layout other than
    flat parquet files."""
    import pyarrow.parquet as pq

    if not oplog.is_dir():
        return _NO_STATS
    top = None
    for f in oplog.iterdir():
        if f.name.startswith((".", "_")):
            continue  # hidden to Spark's reader too (.crc, _SUCCESS)
        if f.is_dir() or f.suffix != ".parquet":
            return _NO_STATS
        md = pq.read_metadata(f)
        if md.num_rows == 0:
            continue
        if "seq" not in md.schema.names:
            return _NO_STATS
        col = md.schema.names.index("seq")
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            if g.num_rows == 0:
                continue
            st = g.column(col).statistics
            if st is None or not st.has_min_max:
                return _NO_STATS
            top = st.max if top is None else max(top, st.max)
    return top


class WriterFenced(Exception):
    """Another process holds the table's writer lease."""


class Catalog:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        access=None,
        user: str | None = None,
        writer_id: str | None = None,
        arbiter: SlotArbiter | None = None,
    ):
        """``access`` (tera_spark.access.AccessControl) + ``user`` turn
        on ACL/quota enforcement at this — the only — data boundary;
        left None, the catalog behaves as under the reference's
        kNoneAuthPolicy (everything authorized, nothing metered).
        ``writer_id`` names this process for writer-lease fencing
        (acquire_writer_lease); appends to a table with another
        holder's live lease raise WriterFenced. ``arbiter`` is the
        coordination backend every exclusive claim (lease, commit
        slot, allocator lock) routes through — default
        PosixLinkArbiter, which requires all writers to share one
        POSIX filesystem; see tera_spark/coordination.py for the
        contract and the object-store/ZooKeeper backend sketch."""
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.access = access
        self.user = user
        self.writer_id = writer_id
        self.arbiter: SlotArbiter = arbiter if arbiter is not None else PosixLinkArbiter()
        # auto writer identity when none is given: MUST be unique across
        # OS processes (id(self) is not — two CPython processes can
        # yield the same heap address, colliding reservation-manifest
        # paths and silently bypassing the row-disjointness check)
        import os as _os
        import uuid as _uuid

        self._auto_writer_id = f"w{_os.getpid()}-{_uuid.uuid4().hex[:8]}"
        self._tail_checked: set[str] = set()  # per-process WAL-recovery memo
        self._gap_memo: dict[str, tuple] = {}  # commit-gap cache (see _commit_gaps)

    def _authorize(self, action: str, table: str) -> None:
        if self.access is not None:
            self.access.authorize(self.user, action, table)

    def _consume(self, table: str, action: str, *, reqs: int = 1, bytes_: int = 0) -> None:
        if self.access is not None:
            self.access.consume_for(table, action, reqs=reqs, bytes_=bytes_)

    # --- DDL ----------------------------------------------------------
    def create_table(
        self, schema: TableSchema | str, *, delimiters: list[str] | None = None
    ) -> TableSchema:
        """``delimiters`` pre-splits the table (CreateTable(desc,
        delimiters), include/tera/client.h:40-46; teracli
        createbyfile's delimiter file): stored in the schema registry,
        honored by every layout job (snapshot/compact/optimize) so
        file boundaries align exactly to the declared split points."""
        if isinstance(schema, str):
            schema = parse_schema_string(schema)
        if delimiters is not None:
            schema.delimiters = sorted(delimiters)
        tdir = self.root / schema.name
        if tdir.exists():
            raise ValueError(f"table exists: {schema.name}")
        (tdir / "snapshots").mkdir(parents=True)
        self._write_schema(tdir, schema)
        # seed an empty op-log so readers never hit PATH_NOT_FOUND
        from tera_spark.model import KV_OPLOG_SCHEMA

        seed = KV_OPLOG_SCHEMA if schema.kv_mode else CELL_SCHEMA
        empty = self.spark.createDataFrame([], seed)
        empty.write.mode("overwrite").parquet(str(tdir / "oplog"))
        return schema

    def drop_table(self, name: str) -> None:
        """Reference rule: a table must be disabled before drop
        (doc/en/teracli.md Drop Table)."""
        self._authorize("admin", name)
        tdir = self.root / name
        if not tdir.exists():
            raise ValueError(f"no such table: {name}")
        if self.is_table_enabled(name):
            raise ValueError(f"table enabled, disable first: {name}")
        shutil.rmtree(tdir)

    # --- enable / disable (client.h:52-58) ----------------------------
    def disable_table(self, name: str) -> None:
        self._authorize("admin", name)
        if not self.is_table_exist(name):
            raise ValueError(f"no such table: {name}")
        (self.root / name / "DISABLED").touch()

    def enable_table(self, name: str) -> None:
        if not self.is_table_exist(name):
            raise ValueError(f"no such table: {name}")
        (self.root / name / "DISABLED").unlink(missing_ok=True)

    def is_table_enabled(self, name: str) -> bool:
        return not (self.root / name / "DISABLED").exists()

    def _check_enabled(self, name: str) -> None:
        if not self.is_table_enabled(name):
            raise ValueError(f"table disabled: {name}")

    def list_tables(self) -> list[str]:
        return sorted(p.name for p in self.root.iterdir() if (p / "schema.json").exists())

    def is_table_exist(self, name: str) -> bool:
        return (self.root / name / "schema.json").exists()

    def get_schema(self, name: str) -> TableSchema:
        return TableSchema.from_json((self.root / name / "schema.json").read_text())

    def update_schema(self, schema: TableSchema) -> None:
        """Online schema change (client.h:49-50): properties apply to
        the next read — the view builder consumes the registry lazily."""
        self._authorize("admin", schema.name)
        tdir = self.root / schema.name
        if not tdir.exists():
            raise ValueError(f"no such table: {schema.name}")
        # atomic replace: this is an ONLINE change — a concurrent reader
        # opening schema.json mid-write_text would parse a torn file
        self._write_schema(tdir, schema)

    @staticmethod
    def _write_schema(tdir, schema) -> None:
        import uuid

        tmp = tdir / f".schema.json.tmp-{uuid.uuid4().hex[:12]}"
        tmp.write_text(schema.to_json())
        tmp.replace(tdir / "schema.json")

    # --- data paths ---------------------------------------------------
    def oplog_path(self, name: str) -> str:
        return str(self.root / name / "oplog")

    def read_oplog(self, name: str) -> DataFrame:
        from pyspark.sql import functions as F

        from tera_spark.model import CELL_TTL_SCHEMA, KV_OPLOG_SCHEMA

        # table mode reads the TTL-extended layout: files written
        # without expire_ts null-fill, so both layouts coexist
        schema = KV_OPLOG_SCHEMA if self.get_schema(name).kv_mode else CELL_TTL_SCHEMA
        df = self.spark.read.schema(schema).parquet(self.oplog_path(name))
        for r in self._rollbacks(name):
            # RollbackDrop semantics (reference leveldb dbformat.h:156):
            # entries written inside a rolled-back seq window vanish
            df = df.filter(~((F.col("seq") > r["after"]) & (F.col("seq") <= r["upto"])))
        w = self.commit_watermark(name)
        if w is not None:
            # group-commit visibility: rows above the committed
            # watermark are a torn batch (crash between file write and
            # commit record) — never visible
            df = df.filter(F.col("seq") <= F.lit(w))
            # window-granular form of the same rule: a seq GAP below
            # the watermark is a concurrently-reserved window whose
            # record hasn't landed (in-flight or crashed) — masked
            # until its record appears (see _commit_gaps)
            for g_lo, g_hi in self._masked_gaps(name):
                df = df.filter(
                    ~((F.col("seq") >= g_lo) & (F.col("seq") <= g_hi))
                )
        return df

    def _rollbacks(self, name: str) -> list[dict]:
        p = self.root / name / "rollbacks.json"
        return json.loads(p.read_text()) if p.exists() else []

    def _add_rollback(self, name: str, after: int, upto: int) -> None:
        """Append a rollback window. Locked read-modify-write: two
        concurrent recoverers (a reader heal racing a writer's
        recovery) must not last-write-wins each other — a LOST rollback
        range would let a torn batch resurface once a later commit
        raises the watermark past it."""
        import uuid

        holder = (self.writer_id or self._auto_writer_id) + "-rb"
        lock = self.root / name / "rollbacks.lock"
        while not self._try_excl_claim(lock, holder, 60.0):
            time.sleep(0.002)
        try:
            ranges = self._rollbacks(name) + [{"after": after, "upto": upto}]
            p = self.root / name / "rollbacks.json"
            tmp = p.with_suffix(f".json.tmp-{uuid.uuid4().hex[:12]}")
            tmp.write_text(json.dumps(ranges))
            tmp.replace(p)
        finally:
            self._release_slot(lock, holder)

    def commit_watermark(self, name: str) -> int | None:
        """Highest committed write sequence — the group-commit
        durability point (tera: a batch is visible only once its WAL
        append returns, tablet_writer.cc). Readers mask rows above it,
        so a crash mid-append never exposes a torn batch. None = table
        has no commit records (legacy/direct-written layout): reads are
        unfiltered."""
        d = self.root / name / "commits"
        if not d.exists():
            return None
        marks = [int(p.stem) for p in d.glob("*.json")]
        return max(marks) if marks else None

    def _record_commit(
        self,
        name: str,
        hi: int,
        op_kinds: list[int] | None = None,
        lo: int | None = None,
    ) -> None:
        d = self.root / name / "commits"
        d.mkdir(exist_ok=True)
        # rolling op-kinds summary: fold the batch's kinds into
        # <table>/opkinds.json BEFORE the record lands, so reads are
        # one O(1) file open instead of re-parsing every commit record
        # (which grow one per batch until major compaction). The
        # summary-first ordering keeps crash states conservative: a
        # summary claiming kinds for a record that never committed is
        # a superset, and supersets only demote fast-fold routes.
        #
        # The read-union-write cycle runs under the table's opkinds
        # slot lock: the 16-writer contention smoke caught two DISJOINT
        # fast-path committers racing it — one crashed on the (then
        # shared) tmp name, and worse, last-write-wins could DROP a
        # kind (A records {PUT}, B records {ADD}, B's write erases A's
        # PUT) and mis-route a fast fold over a mixed log. Readers stay
        # lock-free: the summary is replace-atomic, and a batch's rows
        # only become visible after its record lands, which is after
        # its locked summary update.
        holder = self.writer_id or self._auto_writer_id
        lock = self.root / name / "opkinds.lock"
        while not self._try_excl_claim(lock, holder, 60.0):
            time.sleep(0.002)
        try:
            prev = self._op_kinds_union(name) if any(d.glob("*.json")) else set()
            new = (
                None
                if (op_kinds is None or prev is None)
                else prev | {int(k) for k in op_kinds}
            )
            self._write_op_kinds(name, new)
        finally:
            self._release_slot(lock, holder)
        import uuid

        p = d / f"{hi}.json"
        # unique tmp: two concurrent roll-forwards of the same marked
        # window write the SAME record — identical content, so the
        # double replace is harmless, but a shared tmp name made the
        # loser crash on FileNotFoundError mid-rename
        tmp = d / f"{hi}.json.tmp-{uuid.uuid4().hex[:12]}"
        rec: dict = {"seq": int(hi)}
        if lo is not None:
            # the window's low end — lets readers distinguish a GAP
            # (concurrent reserved window, record pending) from plain
            # contiguous history (legacy records omit it = contiguous)
            rec["lo"] = int(lo)
        if op_kinds is not None:
            # distinct CellOp codes in the batch — lets reads prove the
            # table PUT-only and take the fast fold (view.py put_only)
            rec["op_kinds"] = sorted(int(k) for k in op_kinds)
        tmp.write_text(json.dumps(rec))
        tmp.replace(p)  # atomic rename = the commit point

    def _write_op_kinds(self, name: str, kinds: set[int] | list[int] | None) -> None:
        import uuid

        p = self.root / name / "opkinds.json"
        # unique tmp per writer: a shared tmp name made two concurrent
        # committers race the rename (one crashed on FileNotFoundError)
        tmp = p.with_suffix(f".json.tmp-{uuid.uuid4().hex[:12]}")
        tmp.write_text(
            json.dumps({"kinds": sorted(int(k) for k in kinds) if kinds is not None else None})
        )
        tmp.replace(p)

    def _op_kinds_union(self, name: str) -> set[int] | None:
        """Union of op codes across all commit records, or None when
        unknown (no records, or any record lacks op_kinds — a legacy/
        unknown writer). Unknown disables every fast-fold route.

        Served from the rolling summary (<table>/opkinds.json,
        maintained by _record_commit) — one small file read per call.
        Tables from before the summary existed derive it once by
        scanning their records, then persist it (lazy migration)."""
        d = self.root / name / "commits"
        if not d.is_dir():
            return None
        s = self.root / name / "opkinds.json"
        if s.exists():
            kinds = json.loads(s.read_text()).get("kinds")
            return None if kinds is None else {int(k) for k in kinds}
        recs = sorted(d.glob("*.json"))
        if not recs:
            return None
        out: set[int] = set()
        for p in recs:
            try:
                rec = json.loads(p.read_text())
            except (OSError, json.JSONDecodeError):
                return None
            kinds = rec.get("op_kinds")
            if kinds is None:
                self._write_op_kinds(name, None)
                return None
            out.update(int(k) for k in kinds)
        self._write_op_kinds(name, out)
        return out

    def _put_only(self, name: str) -> bool:
        """True iff every commit record proves its batch held only PUT
        ops. Conservative: unknown history disqualifies; an empty
        table with records qualifies (the fold is vacuous)."""
        from tera_spark.model import CellOp

        kinds = self._op_kinds_union(name)
        return kinds is not None and kinds <= {CellOp.PUT}

    def fold_hints(self, name: str) -> dict:
        """Fast-fold kwargs for ``current_view``, derived from the
        table's commit records (the single derivation every consumer —
        view/snapshot/SDK/mview — routes through): PUT-only history →
        ``put_only``; pure-counter history → ``counter_only``; unknown
        or mixed → the general fold."""
        from tera_spark.model import CellOp

        kinds = self._op_kinds_union(name)
        if kinds is not None and kinds <= {CellOp.PUT}:
            return {"put_only": True}
        if kinds in ({CellOp.ADD}, {CellOp.ADDINT64}):
            return {"counter_only": next(iter(kinds))}
        deletes = {
            CellOp.DEL_ROW, CellOp.DEL_FAMILY,
            CellOp.DEL_QUALIFIERS, CellOp.DEL_QUALIFIER,
        }
        if kinds is not None and kinds <= deletes | {CellOp.PUT}:
            # puts + tombstones, no atomic merges: keep the mask
            # machinery but skip merge-run detection (19% measured)
            return {"no_atomics": True}
        return {}

    def append(
        self,
        name: str,
        cells: DataFrame | pa.Table,
        *,
        commit_seq: int | None = None,
        op_kinds: list[int] | None = None,
        commit_lo: int | None = None,
    ) -> None:
        """Group commit: parquet append, then an atomic commit record.
        The record (commits/<max_seq>.json, written via rename) is the
        visibility point — the WAL-append-returns moment of the
        reference's TabletWriter. ``cells`` is a DataFrame (written by
        a Spark job) or a pyarrow Table the driver already holds
        (MutationBatch.to_arrow — written from the driver, no Spark
        job, as tera's tablet server appends a write to its WAL).
        ``commit_seq`` is the batch's max seq when the caller knows it
        (MutationBatch does); otherwise it is computed from the rows —
        by pyarrow.compute for a Table, one small aggregation for a
        DataFrame.

        Crash recovery is the WAL discard-uncommitted-tail step: if
        raw data exists above the watermark at the next append (a
        previous writer died between file write and commit record),
        that seq window becomes a rollback range — permanently masked,
        never resurrected by the rising watermark. Single committing
        writer per table, as everywhere in this engine."""
        self._check_enabled(name)
        self._authorize("write", name)
        self._check_writer_lease(name)
        self._consume(name, "write")
        self._recover_tail(name)
        # snapshot the rollback census: a rollback that APPEARS while
        # this append runs (a reader/peer healed us as "dead" because
        # our lease or reservation ttl lapsed mid-commit) must fence
        # the commit record loudly — recording it would claim success
        # for rows the new rollback window permanently masks.
        rb0 = {(r["after"], r["upto"]) for r in self._rollbacks(name)}
        w0 = self.commit_watermark(name)
        self._staged_append(name, cells)
        if commit_seq is None:
            if isinstance(cells, pa.Table):
                import pyarrow.compute as pc

                top = pc.max(cells["seq"]).as_py()
                kinds = pc.unique(cells["op"]).to_pylist()
            else:
                import pyspark.sql.functions as _F

                top, kinds = cells.agg(
                    _F.max("seq"), _F.sort_array(_F.collect_set("op"))
                ).collect()[0]
            commit_seq = int(top) if top is not None else None
            if op_kinds is None:
                op_kinds = sorted(int(k) for k in kinds)
        if commit_seq is not None:
            # keep the reservation counter above every committed window,
            # whoever allocated it (plain appends included)
            self._bump_alloc(name, commit_seq, self.writer_id or self._auto_writer_id)
            if commit_lo is not None:
                # a reservation that outlived its ttl can have been
                # swept and rolled back by a peer's recovery while this
                # append ran; recording the commit would then claim
                # success for permanently-masked rows. Fail loudly —
                # the caller retries with a fresh window.
                for r in self._rollbacks(name):
                    # ANY overlap fences — a rollback that swallowed only
                    # part of the window still means silently-lost rows
                    if r["after"] < commit_seq and commit_lo <= r["upto"]:
                        raise WriterFenced(
                            f"table {name!r}: reserved window "
                            f"[{commit_lo},{commit_seq}] was rolled back "
                            "mid-commit (reservation ttl elapsed?)"
                        )
            else:
                # plain (reservation-less) append: same loud-fail if a
                # NEW rollback landed during the run (reader heal of an
                # expired lease classifies this writer as dead). The
                # batch occupies (w0, commit_seq] by the torn-tail
                # convention; pre-existing rollbacks are not ours.
                lo0 = (w0 if w0 is not None else -1) + 1
                for r in self._rollbacks(name):
                    if (r["after"], r["upto"]) in rb0:
                        continue
                    if r["after"] < commit_seq and lo0 <= r["upto"]:
                        raise WriterFenced(
                            f"table {name!r}: batch window "
                            f"({w0},{commit_seq}] was rolled back "
                            "mid-append (writer lease expired?)"
                        )
            self._record_commit(name, commit_seq, op_kinds, lo=commit_lo)

    def _staged_append(self, name: str, cells: DataFrame | pa.Table) -> None:
        """Append parquet files to the op-log via a PRIVATE staging dir
        + rename, instead of `mode("append")` straight into the log.
        Two concurrent committers (the CAS disjoint fast path runs
        appends in parallel from separate driver JVMs) would otherwise
        collide inside the shared FileOutputCommitter staging dir
        (`<oplog>/_temporary/0/` — one job's commit sweeps the other's
        in-flight task files; observed as task FileNotFound failures in
        scripts/scale_smoke_cas.py). Staging is per-append-unique, and
        the per-file renames are atomic; a crash mid-move leaves a
        partial batch that the watermark/gap mask already treats as
        torn, exactly like a crash mid-`mode("append")` did.

        A pyarrow Table is written from the driver with pyarrow (snappy,
        footer statistics — what Spark writes), one file per
        ``contiguous_slices`` slice, so a bulk load keeps the file
        layout a Spark write of it would have."""
        import uuid

        oplog = Path(self.oplog_path(name))
        oplog.mkdir(exist_ok=True)
        tag = uuid.uuid4().hex[:12]
        stage = self.root / name / f".stage-{tag}"
        if isinstance(cells, pa.Table):
            import pyarrow.parquet as pq

            from tera_spark.operators.mutation import contiguous_slices

            stage.mkdir()
            n = self.spark.sparkContext.defaultParallelism
            for i, part in enumerate(contiguous_slices(cells, n)):
                pq.write_table(part, stage / f"part-{i:05d}.snappy.parquet", compression="snappy")
        else:
            cells.write.parquet(str(stage))
        # keep the part- prefix: footer-routing, stats, replication and
        # compaction all discover op-log files via part-*.parquet (the
        # same convention compact_inplace's part-c<token> renames use)
        for f in stage.glob("*.parquet"):
            f.rename(oplog / f"part-b{tag}-{f.name.removeprefix('part-')}")
        shutil.rmtree(stage, ignore_errors=True)

    def _recover_tail(self, name: str) -> None:
        """WAL-discard-uncommitted-tail recovery, once per table per
        writer process: raw parquet above the watermark is a previous
        writer's torn batch — rolled back, EXCLUDING windows covered by
        a live reservation (a concurrent CAS committer whose record is
        still pending; its own commit will close the window). Runs
        BEFORE this writer reserves its own window, so the counter can
        be bumped above the torn range and a fresh reservation can
        never land inside (or shield) it."""
        if name in self._tail_checked:
            return
        self._tail_checked.add(name)
        # Percolator roll-FORWARD first: windows whose txn marker exists
        # are committed by decision — write their missing records before
        # any sweep/rollback below could classify them as dead gaps.
        self._roll_forward_marked(name)
        self._sweep_expired_reservations(name)
        self._sweep_stale_stage_dirs(name)
        self._retire_dead_gaps(name)  # aborted/dead windows below the mark
        w = self.commit_watermark(name)
        if w is None:
            return
        raw = self.raw_max_seq(name)
        if raw is None or raw <= w:
            return
        live = sorted(
            (int(r["lo"]), int(r["hi"]))
            for r in self._live_reservations(name)
            if "lo" in r and "hi" in r
        )
        start = w + 1
        for lo, hi in live:
            if lo > raw or hi < start:
                continue
            if lo > start:
                self._add_rollback(name, start - 1, lo - 1)
            start = max(start, hi + 1)
        if start <= raw:
            self._add_rollback(name, start - 1, raw)
        # reservations must never hand out seqs inside the torn range
        self._bump_alloc(name, raw, self.writer_id or self._auto_writer_id)

    def _sweep_stale_stage_dirs(self, name: str, *, ttl_s: float = 3600.0) -> None:
        """Remove `.stage-<uuid>` staging dirs a CRASHED writer left in
        the table dir (_staged_append stages there before renaming part
        files into the op-log). They are invisible to every read path —
        this is disk-dirt hygiene, not correctness — but a long-lived
        deployment would otherwise accumulate one per crash forever.
        Age-gated generously: a live writer's staging dir is at most
        one batch-write old; anything past ttl_s belongs to a writer
        that died mid-stage."""
        now = time.time()
        for d in (self.root / name).glob(".stage-*"):
            try:
                if now - d.stat().st_mtime > ttl_s:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                continue

    def _observes_dead_state(self, name: str) -> bool:
        """Cheap detector (two directory globs + one lease read, zero
        Spark jobs) of a crashed coordinator's leftovers: an EXPIRED
        seq-window reservation, an EXPIRED or torn commit-slot claim,
        or an EXPIRED writer lease. This is the reader-side trigger —
        live (or absent) coordination state returns False and readers
        touch nothing."""
        now = time.time()
        d = self.root / name / "casmeta"
        if d.exists():
            for p in d.glob("resv-*.json"):
                try:
                    rec = json.loads(p.read_text())
                except (OSError, json.JSONDecodeError):
                    continue  # manifests publish via tmp+replace: parse-fail is dirt
                if rec.get("expires", 0) <= now:
                    return True
        for p in self._claim_slot_bases(name):
            st = self._slot_state(p)
            if st is None:
                continue
            if st[1] is None or st[1].get("expires", 0) <= now:
                return True  # torn or expired claim = dead holder
        lease_st = self._slot_state(self.root / name / "writer.lease")
        if lease_st is not None and (
            lease_st[1] is None or lease_st[1].get("expires", 0) <= now
        ):
            return True
        return False

    def _claim_slot_bases(self, name: str) -> list:
        """Distinct claim-slot base paths in the commits dir (the plain
        claim file and/or any of its generation files may exist)."""
        return self.arbiter.list_slots(self.root / name / "commits", "claim-")

    def _reader_heal(self, name: str) -> bool:
        """Reader-driven lock cleanup / roll-forward (the reference
        lets ANY reader that meets a lock past its TTL clean up the
        dead transaction instead of waiting for the next writer —
        src/sdk/global_txn.cc:337-501 BackoffAndMaybeCleanupLock /
        CleanLock / RollForward). Here: a read that OBSERVES dead
        coordination state (expired reservation / claim / lease) runs
        the exact recovery the next writer would (_recover_tail: sweep
        expired reservations, retire dead commit gaps into rollback
        windows, roll back the torn tail, bump the allocator), plus
        clears expired claim files, so a crashed writer's garbage
        heals on a writer-less table.

        Safety gate = the observation itself: tables whose coordination
        state is all live (or that have none) are never touched, so an
        in-flight single-writer plain append (parquet landed, record
        pending, lease live) cannot be rolled back by a reader. A
        writer that outlives its lease/reservation ttl mid-commit is —
        by the ttl contract — indistinguishable from a dead one; the
        CAS path fails loudly on the overlap re-check, and plain
        append now re-checks rollbacks that appeared during its run
        (see append()) rather than recording silently-masked rows."""
        if not self._observes_dead_state(name):
            return False
        # expired claim files are slot dirt, not pending windows; slot
        # records are IMMUTABLE after creation (generation-slot design),
        # so a record read as expired/torn is expired/torn forever and
        # unlinking exactly the files we read is race-free — a taker's
        # concurrently-created higher generation is a different name and
        # is never touched
        for base in self._claim_slot_bases(name):
            self._clear_dead_claim(base)
        # an expired writer lease is already no-fence (_check_writer_lease
        # treats it as open access); clearing it is what makes this heal
        # CONVERGE — otherwise every subsequent read would re-observe the
        # dead lease and re-run recovery forever
        self._clear_dead_claim(self.root / name / "writer.lease")
        self._tail_checked.discard(name)  # force a fresh recovery pass
        self._recover_tail(name)
        return True

    def _clear_dead_claim(self, p) -> None:
        """Remove every generation of a claim slot whose record is
        expired or torn; a live claim is never removed (immutability —
        see coordination.PosixLinkArbiter.clear_dead)."""
        self.arbiter.clear_dead(p)

    def _retire_dead_gaps(self, name: str) -> None:
        """Convert commit gaps with no live reservation into rollback
        windows: the gap's committer is dead (swept/expired), and the
        rollback makes the mask permanent AND cheap (read paths skip
        rollback-subsumed gaps). A late committer racing this loses
        loudly — append() refuses to record a commit whose window
        overlaps a rollback — rather than silently losing its rows."""
        live = [
            (int(r["lo"]), int(r["hi"]))
            for r in self._live_reservations(name)
            if "lo" in r and "hi" in r
        ]
        for lo, hi in self._masked_gaps(name):
            if any(rlo <= hi and lo <= rhi for rlo, rhi in live):
                continue
            self._add_rollback(name, lo - 1, hi)

    def view(self, name: str, **kw) -> DataFrame:
        from tera_spark.operators.view import current_view, kv_current_view

        self._check_enabled(name)
        self._authorize("read", name)
        self._consume(name, "scan")
        self._reader_heal(name)  # reference global_txn.cc:337-501 analog
        schema = self.get_schema(name)
        if schema.kv_mode:
            return kv_current_view(self.read_oplog(name), **kw)
        if "put_only" not in kw and "counter_only" not in kw:
            # commit records prove the op mix; a PUT-only history takes
            # the max_by/sliced-sort fast fold, a pure-counter history
            # the stacked-agg SUM fold (view.py put_only/counter_only)
            kw.update(self.fold_hints(name))
        return current_view(self.read_oplog(name), schema, **kw)

    # --- KV mode (RawKey=GeneralKv/TTLKv) ----------------------------
    def kv_put(
        self,
        name: str,
        key: str,
        value: bytes | str,
        *,
        ttl_s: int | None = None,
        now_us: int | None = None,
    ) -> None:
        """KV put, optional per-key TTL (teracli `put-ttl`; expire-ts
        stored as a typed column, the Spark shape of the value-padded
        encoding in src/io/tablet_io.cc:1365-1369)."""
        now_us = now_us if now_us is not None else int(time.time() * 1_000_000)
        expire = now_us + ttl_s * 1_000_000 if ttl_s else None
        self._kv_append(name, key, value if isinstance(value, bytes) else value.encode(), expire)

    def kv_delete(self, name: str, key: str) -> None:
        self._kv_append(name, key, None, None)

    def _kv_append(self, name, key, value, expire) -> None:
        from tera_spark.model import KV_OPLOG_SCHEMA

        if not self.get_schema(name).kv_mode:
            raise ValueError(f"not a kv-mode table: {name}")
        from tera_spark.model import arrow_schema

        seq = time.time_ns()
        row = {"key": [key], "value": [value], "expire_ts": [expire], "seq": [seq]}
        self.append(
            name, pa.table(row, schema=arrow_schema(KV_OPLOG_SCHEMA)), commit_seq=seq
        )

    # --- snapshots / compaction --------------------------------------
    def snapshot(
        self, name: str, *, now_us: int | None = None, snapshot_seq: int | None = None
    ) -> str:
        """Materialize a compacted immutable snapshot; returns its id.
        ``snapshot_seq`` pins the fold to a write sequence (reads-as-of
        semantics, SnapshotIDToSeq tablet_io.cc:698-706) — the building
        block of cross-table consistent snapshot sets."""
        self._authorize("admin", name)
        from tera_spark.operators.compact import compact

        sid = time.strftime("%Y%m%d%H%M%S") + f"-{int(time.time_ns() % 1_000_000)}"
        out = self.root / name / "snapshots" / sid
        schema = self.get_schema(name)
        if schema.kv_mode:
            from pyspark.sql import functions as F

            from tera_spark.operators.view import kv_current_view

            kv_log = self.read_oplog(name)
            if snapshot_seq is not None:
                kv_log = kv_log.filter(F.col("seq") <= F.lit(snapshot_seq))
            folded = kv_current_view(kv_log, now_us=now_us).select(
                "key", "value", "expire_ts", F.lit(0).cast("long").alias("seq")
            )
            (
                folded.repartitionByRange(max(folded.rdd.getNumPartitions(), 1), "key")
                .sortWithinPartitions("key")
                .write.mode("overwrite")
                .parquet(str(out))
            )
            # seq-pin meta like the cell branch: rollback / snapshot-set
            # restore need it (kv reads honor rollback windows the same
            # way — read_oplog filters by seq before the kv fold)
            if snapshot_seq is not None:
                top = snapshot_seq
            else:
                mx = self.read_oplog(name).agg({"seq": "max"}).collect()[0][0]
                top = int(mx) if mx is not None else -1
            (self.root / name / "snapshots" / f"{sid}.json").write_text(
                json.dumps({"seq": top})
            )
            return sid
        oplog = self.read_oplog(name)
        # commit records prove the op mix — compaction of the dominant
        # shapes folds via the same fast paths reads use
        folded = compact(
            oplog, schema, now_us=now_us, snapshot_seq=snapshot_seq,
            **self.fold_hints(name),
        )
        write_cell_table(
            folded,
            str(out),
            delimiters=schema.delimiters or None,
            compression=schema_codec(schema),
        )
        if snapshot_seq is not None:
            top = snapshot_seq
        else:
            mx = oplog.agg({"seq": "max"}).collect()[0][0]
            top = int(mx) if mx is not None else -1
        (self.root / name / "snapshots" / f"{sid}.json").write_text(
            json.dumps({"seq": top})
        )
        return sid

    def read_snapshot(self, name: str, snapshot_id: str) -> DataFrame:
        return self.spark.read.parquet(str(self.root / name / "snapshots" / snapshot_id))

    # --- cross-table consistent snapshot sets -------------------------
    def snapshot_set(self, names: list[str], *, now_us: int | None = None) -> str:
        """Consistent snapshot across TABLES: capture every table's
        commit watermark first (the cut — one metadata read per table,
        no data touched), then materialize each table's snapshot
        pinned to its captured seq. A backup of N tables therefore
        reflects one point in the write history even though the folds
        run one after another — later commits can't leak into earlier
        folds. Manifest at <root>/_snapsets/<id>.json.

        Single-committer caveat (same as GlobalTransaction's): a
        multi-table commit racing the cut capture could land between
        two watermark reads; with one driving process there is no
        race, and the manifest records the exact cut for audit."""
        for n in names:
            self._check_enabled(n)
            self._authorize("admin", n)
        cuts = {n: self.commit_watermark(n) for n in names}
        manifest: dict = {"tables": {}}
        for n in names:
            sid = self.snapshot(n, now_us=now_us, snapshot_seq=cuts[n])
            manifest["tables"][n] = {"snapshot": sid, "seq": cuts[n]}
        d = self.root / "_snapsets"
        d.mkdir(exist_ok=True)
        set_id = time.strftime("%Y%m%d%H%M%S") + f"-{int(time.time_ns() % 1_000_000)}"
        tmp = d / f"{set_id}.json.tmp"
        tmp.write_text(json.dumps(manifest))
        tmp.replace(d / f"{set_id}.json")
        return set_id

    def read_snapshot_set(self, set_id: str) -> dict[str, DataFrame]:
        m = json.loads((self.root / "_snapsets" / f"{set_id}.json").read_text())
        return {
            n: self.read_snapshot(n, e["snapshot"]) for n, e in m["tables"].items()
        }

    def restore_snapshot_set(self, set_id: str) -> dict[str, int | None]:
        """Point-in-time restore: roll every table of the set back to
        its recorded cut (seq-window invalidation — metadata-only, the
        next major compaction drops the bytes). Cross-table state
        returns to one consistent instant; returns the cut per table."""
        m = json.loads((self.root / "_snapsets" / f"{set_id}.json").read_text())
        for n, e in m["tables"].items():  # rollback authorizes admin per table
            self.rollback(n, e["snapshot"])
        return {n: e["seq"] for n, e in m["tables"].items()}

    def list_snapshots(self, name: str) -> list[str]:
        d = self.root / name / "snapshots"
        return sorted(p.name for p in d.iterdir() if p.is_dir()) if d.exists() else []

    def raw_max_seq(self, name: str) -> int | None:
        """Max write seq in the op-log INCLUDING rolled-back windows —
        seq allocation must stay above them, or new writes would land
        inside an invalidated range and vanish. Read from the `seq`
        maxima in the parquet footers (no Spark job); when a non-empty
        row group lacks them, one small aggregation computes it."""
        top = _footer_max_seq(Path(self.oplog_path(name)))
        if top is _NO_STATS:
            top = (
                self.spark.read.parquet(self.oplog_path(name))
                .agg({"seq": "max"})
                .collect()[0][0]
            )
        return int(top) if top is not None else None

    def delete_snapshot(self, name: str, snapshot_id: str) -> None:
        """Drop one snapshot (reference: snapshot set management,
        include/tera/table_descriptor.h:212-214)."""
        self._authorize("admin", name)
        d = self.root / name / "snapshots" / snapshot_id
        if not d.exists():
            raise ValueError(f"no such snapshot: {name}/{snapshot_id}")
        shutil.rmtree(d)
        (self.root / name / "snapshots" / f"{snapshot_id}.json").unlink(missing_ok=True)

    def expire_snapshots(self, name: str, *, keep_last: int) -> list[str]:
        """Retention GC: drop all but the newest ``keep_last``
        snapshots (ids sort chronologically). The storage-cost control
        every snapshotting table needs — at 100 TB each retained
        snapshot is a full base copy, so retention is the knob that
        bounds the table's footprint to (1 + keep_last)×. Returns the
        ids removed."""
        self._authorize("admin", name)
        if keep_last < 0:
            raise ValueError("keep_last must be >= 0")
        sids = self.list_snapshots(name)
        drop = sids[: max(len(sids) - keep_last, 0)]
        for sid in drop:
            self.delete_snapshot(name, sid)
        return drop

    def register_sql_view(
        self, name: str, *, view_name: str | None = None, now_us: int | None = None
    ) -> DataFrame:
        """MySQL-frontend analog (sql/src/ha_tera.cc maps fixed SQL
        columns onto qualifiers): expose the table's current view as a
        Spark SQL temp view — kv tables as (key, value), cell tables
        pivoted to one string column per qualifier (newest version).
        The full SQL surface (joins/aggs/windows) then runs over it;
        dynamic qualifiers are why the view is generated per call
        (SURVEY §7 hard part e)."""
        from tera_spark.sources.ingest import export_rows

        schema = self.get_schema(name)
        v = self.view(name, now_us=now_us)
        if not schema.kv_mode and schema.hash_distribution:
            # SQL users address rows by USER key; strip the
            # distribution prefix before pivoting
            from tera_spark.functions.keys import with_plain_row_key

            v = with_plain_row_key(v)
        df = v if schema.kv_mode else export_rows(v)
        df.createOrReplaceTempView(view_name or name)
        return df

    def diff(
        self,
        name: str,
        seq_start: int,
        seq_end: int | None = None,
        *,
        now_us: int | None = None,
    ) -> DataFrame:
        """Changefeed: INSERT/UPDATE/DELETE delta set between two write
        sequences (see operators.view.changes_between). KV tables have
        no per-cell seq history — raise."""
        from tera_spark.operators.view import changes_between

        self._check_enabled(name)
        self._authorize("read", name)
        schema = self.get_schema(name)
        if schema.kv_mode:
            raise ValueError("diff is not supported for kv-mode tables")
        return changes_between(
            self.read_oplog(name),
            schema,
            seq_start=seq_start,
            seq_end=seq_end,
            now_us=now_us,
            **self.fold_hints(name),
        )

    def compact_inplace(self, name: str, *, now_us: int | None = None) -> None:
        """Fold the op-log (tera `compact`): snapshot, then swap it in
        as the new base op-log. Rolled-back seq windows are physically
        dropped by the fold (read_oplog filters them), so the rollback
        registry clears afterwards — the reference drops rolled-back
        entries during compaction the same way (RollbackDrop)."""
        self._authorize("admin", name)
        sid = self.snapshot(name, now_us=now_us)
        snap = self.root / name / "snapshots" / sid
        oplog = self.root / name / "oplog"
        bak = self.root / name / f"oplog.pre-{sid}"
        oplog.rename(bak)
        shutil.copytree(snap, oplog)
        shutil.rmtree(bak)
        (self.root / name / "rollbacks.json").unlink(missing_ok=True)
        # the compacted base is all-committed (the fold read only
        # committed rows) and restarts seq at 0 — stale high watermarks
        # would stop masking torn tails, so clear the records with it
        shutil.rmtree(self.root / name / "commits", ignore_errors=True)
        shutil.rmtree(self.root / name / "casmeta", ignore_errors=True)
        # ... and re-seed one record for the base: compact() emits
        # "all PUTs, seq=0", so major compaction UPGRADES the table to
        # the PUT-only fast fold (the reference likewise has no
        # delete/merge records in a freshly major-compacted SST) —
        # until the next non-PUT commit demotes it again
        from tera_spark.model import CellOp

        self._record_commit(name, 0, [CellOp.PUT])

    def rollback(self, name: str, snapshot_id: str) -> None:
        """Roll the table back to a snapshot: writes after the
        snapshot's recorded seq become invisible (seq-window
        invalidation, the reference's rollback model — leveldb fork
        dbformat.h RollbackDrop) without touching the files; the next
        major compaction drops them physically. New writes continue
        with fresh seqs above the old maximum.

        Interplay: batch readers (view/scan/diff) all route through
        read_oplog and see the rollback immediately; a continuously-
        maintained MaterializedCurrentView streams raw op-log files,
        so after a rollback rebuild it from scratch (drop its view dir
        + checkpoint) — the same rule tera applies to observers
        replaying from a rolled-back tablet."""
        self._authorize("admin", name)
        meta = self.root / name / "snapshots" / f"{snapshot_id}.json"
        if not meta.exists():
            raise ValueError(f"no seq-pinned snapshot: {name}/{snapshot_id}")
        snap_seq = json.loads(meta.read_text())["seq"]
        top = self.raw_max_seq(name)
        if top is None or top <= snap_seq:
            return
        # through the locked read-modify-write: a concurrent recovery's
        # _add_rollback must not be last-write-wins erased (and vice
        # versa) — a lost range would resurface rolled-back rows
        self._add_rollback(name, int(snap_seq), int(top))

    def compact_ranges(self, name: str, *, now_us: int | None = None) -> dict:
        """Selective (minor) compaction: fold only the row-key ranges
        that need it, leave clean files untouched. KV tables use full
        compaction (their fold is one aggregation; raise here).

        Tera triggers minor compaction per tablet when its op volume
        warrants it (`TabletIO::Compact`, src/io/tablet_io.cc:605-632);
        the full-log fold (`compact_inplace`) is the major compaction.
        At 100 TB rewriting the whole log to clean up one hot range is
        the difference between a bounded maintenance job and a
        full-table write — this is the bounded one.

        Planning is metadata-only (Parquet footers, no data read):
        files whose row_key [min,max] envelopes overlap form a group —
        the closure guarantees every op of every row in the group lives
        inside it, so folding a group in isolation is exactly the full
        fold restricted to those rows. A group is dirty if it has >1
        file (overlapping appends to the same range) or any non-PUT op
        (deletes / atomic merges; visible in the op column's footer
        min/max since PUT sits between the delete and atomic codes).
        Dirty groups are folded through the same `compact()` the
        equivalence tests pin and swapped in file-atomically.
        """
        self._authorize("admin", name)
        if self.get_schema(name).kv_mode:
            raise ValueError("kv-mode tables compact via compact_inplace")
        import uuid

        import pyarrow.parquet as pq

        from tera_spark.model import CellOp
        from tera_spark.operators.compact import compact

        self._check_enabled(name)
        oplog = self.root / name / "oplog"
        infos = []
        for f in sorted(oplog.glob("part-*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            if md.num_rows == 0:  # empty appends: collect as we plan
                f.unlink()
                continue
            lo = hi = op_lo = op_hi = None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    if col.statistics is None:
                        continue
                    st = col.statistics
                    if col.path_in_schema == "row_key":
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    elif col.path_in_schema == "op":
                        op_lo = st.min if op_lo is None else min(op_lo, st.min)
                        op_hi = st.max if op_hi is None else max(op_hi, st.max)
            if lo is not None:
                infos.append({"path": f, "lo": lo, "hi": hi, "op_lo": op_lo, "op_hi": op_hi})

        infos.sort(key=lambda i: (i["lo"], i["hi"]))
        groups: list[list[dict]] = []
        for info in infos:
            if groups and info["lo"] <= max(i["hi"] for i in groups[-1]):
                groups[-1].append(info)
            else:
                groups.append([info])

        folded_groups = files_folded = 0
        for grp in groups:
            dirty = len(grp) > 1 or any(
                i["op_lo"] != CellOp.PUT or i["op_hi"] != CellOp.PUT for i in grp
            )
            if not dirty:
                continue
            paths = [str(i["path"]) for i in grp]
            # footer-proved fold hint: the op min/max already read for
            # dirtiness planning also proves the group's op mix, so a
            # puts-only (or pure-counter) group folds via the fast path
            fold_kw: dict = {}
            ops = {(i["op_lo"], i["op_hi"]) for i in grp}
            if ops == {(CellOp.PUT, CellOp.PUT)}:
                fold_kw["put_only"] = True
            elif ops in ({(CellOp.ADD, CellOp.ADD)}, {(CellOp.ADDINT64, CellOp.ADDINT64)}):
                fold_kw["counter_only"] = next(iter(ops))[0]
            folded = compact(
                self.spark.read.parquet(*paths),
                self.get_schema(name),
                now_us=now_us,
                **fold_kw,
            )
            tmp = self.root / name / f"compact-tmp-{uuid.uuid4().hex}"
            write_cell_table(folded, str(tmp))
            for i in grp:
                i["path"].unlink()
            token = uuid.uuid4().hex[:8]
            for n, pf in enumerate(sorted(Path(tmp).glob("part-*.parquet"))):
                pf.rename(oplog / f"part-c{token}-{n:05d}.parquet")
            shutil.rmtree(tmp)
            folded_groups += 1
            files_folded += len(grp)
        if folded_groups:
            # refresh the op-kinds proof: folded groups are now all-PUT
            # cells (compact() output), so a pure-counter history no
            # longer holds — record PUT into the union (demoting such
            # tables to the general fold, the same re-seed
            # compact_inplace performs). Without this, fold_hints would
            # keep routing reads through _counter_only_fold over an
            # oplog that now contains PUT cells, and an add() at a ts
            # <= the compacted cell's ts would fold incorrectly.
            # PUT-only tables already carry PUT; unknown stays unknown.
            kinds = self._op_kinds_union(name)
            w = self.commit_watermark(name)
            if w is not None and kinds is not None and CellOp.PUT not in kinds:
                self._record_commit(name, w, sorted(kinds | {CellOp.PUT}))
        return {
            "groups": len(groups),
            "groups_folded": folded_groups,
            "files_folded": files_folded,
            "files_kept": len(infos) - files_folded,
        }

    # --- writer lease (tablet-lock analog) ----------------------------
    # The engine's correctness story assumes ONE committing writer per
    # table (group commit, WAL-tail recovery, optimistic txns). The
    # reference enforces its equivalent with ZooKeeper node locks: a
    # tablet server must hold its lock to serve writes, and the master
    # fences a dead server by deleting it. The lease file is that
    # fence: append() refuses while another holder's unexpired lease
    # is registered, so two driver processes can't interleave commits.
    # Tables with no lease file behave as before (open access).

    def acquire_writer_lease(self, name: str, holder: str, *, ttl_s: int = 300) -> dict:
        """Acquire (or renew) the table's writer lease for ``holder``.
        Fails if another holder's lease is still valid.

        Every path — fresh acquire, expired-lease takeover (anyone's,
        including our own lapsed lease), torn-record takeover, and
        LIVE SELF-RENEWAL — goes through the generation-slot claim
        (``_try_excl_claim``): the next generation name is published by
        an exclusive hard link, so two processes that both observe an
        expired lease can never both believe they hold the fence, and
        a renewal never rewrites a file in place (slot records stay
        immutable, which is what makes reader-side healing of expired
        leases safe). A holder whose lease already expired gets no
        renewal privilege — it re-races like everyone else, the
        standard lease contract."""
        now = time.time()
        cur = self._read_lease(name)
        if cur is not None and cur["holder"] != holder and cur["expires"] > now:
            raise WriterFenced(
                f"table {name!r} writer lease held by {cur['holder']!r} "
                f"for {cur['expires'] - now:.0f}s more"
            )
        if self._try_excl_claim(
            self.root / name / "writer.lease", holder, ttl_s, renew=True
        ):
            return {"holder": holder, "expires": now + ttl_s}
        raise WriterFenced(f"table {name!r} lease was just taken")

    def release_writer_lease(self, name: str, holder: str) -> None:
        self._release_slot(self.root / name / "writer.lease", holder)

    def _read_lease(self, name: str) -> dict | None:
        st = self._slot_state(self.root / name / "writer.lease")
        # a torn record (st[1] is None) is a dead holder: treat as free,
        # matching the old plain-file behavior
        return None if st is None else st[1]

    def _check_writer_lease(self, name: str) -> None:
        cur = self._read_lease(name)
        if cur is None or cur["expires"] <= time.time():
            return  # no fence registered (or expired): open access
        if cur["holder"] != self.writer_id:
            raise WriterFenced(
                f"table {name!r} writes fenced: lease held by {cur['holder']!r}"
            )

    # --- multi-writer commit CAS --------------------------------------
    # The writer lease above fences a SECOND long-lived writer out
    # entirely. append_cas is the cooperative alternative (SCALE.md §7
    # commit-manifest upgrade): racing committers serialize on a
    # per-watermark claim file — the optimistic-commit role of the
    # reference's Percolator primary-lock CAS (global_txn.cc:578-720,
    # prewrite locks + one atomic primary commit decide a single
    # winner) — so both batches land, one after the other, instead of
    # one being refused. Exactly one writer can hold claim-<W>.lock
    # (exclusive link-create) while the watermark is W; its commit record's
    # atomic rename advances the watermark, after which contenders
    # re-read and race for claim-<W'>. A claim whose holder died
    # expires after ttl and is taken over (same documented small
    # takeover window as the lease); a torn parquet tail left by the
    # dead holder is rolled back by the existing watermark recovery,
    # and new sequences are always allocated ABOVE any torn tail, so
    # readers never see a partial batch.

    def _claim_commit_slot(self, name: str, base_mark: int, holder: str, ttl_s: float) -> bool:
        d = self.root / name / "commits"
        d.mkdir(exist_ok=True)
        return self._try_excl_claim(d / f"claim-{base_mark}.lock", holder, ttl_s)

    # Slot primitives: thin delegates to the coordination arbiter.
    # The generation-slot protocol itself (the round-6 design proved
    # single-winner under 16/32-process takeover storms) lives in
    # tera_spark/coordination.py::PosixLinkArbiter; these shims exist
    # so every claim in this file routes through self.arbiter — the
    # seam a ZooKeeper/conditional-put backend plugs into (the
    # reference's src/zk/ role).

    def _slot_state(self, p):
        return self.arbiter.state(p)

    def _try_excl_claim(self, p, holder: str, ttl_s: float, *, renew: bool = False) -> bool:
        return self.arbiter.try_claim(p, holder, ttl_s, renew=renew)

    def _release_slot(self, p, holder: str) -> None:
        self.arbiter.release(p, holder)

    def _claim_holder(self, name: str, base_mark: int) -> str | None:
        st = self._slot_state(self.root / name / "commits" / f"claim-{base_mark}.lock")
        if st is None or st[1] is None:
            return None
        return st[1].get("holder")

    def _release_claim(self, name: str, base_mark: int, holder: str) -> None:
        self._release_slot(
            self.root / name / "commits" / f"claim-{base_mark}.lock", holder
        )

    # --- seq-window reservation + row manifests (disjoint fast path) --
    # The slot claim above serializes whole COMMITS; the reference's
    # conflict granularity is the row (per-row lock columns,
    # global_txn.cc:578-720) — two writers touching disjoint rows
    # should not wait on each other. The fast path below gets there
    # with two filesystem primitives:
    #   * alloc.json — a tiny locked counter handing out NON-OVERLAPPING
    #     seq windows, so concurrent appends can never interleave seqs;
    #   * resv-<holder>.json — a reservation manifest carrying the
    #     writer's row set and seq window. Two live manifests with
    #     intersecting row sets never both proceed (each writer
    #     registers its manifest BEFORE scanning others: whichever
    #     scans later sees the earlier one and backs off to the
    #     serialized slot path; if both see each other, both back off).
    # Visibility stays torn-free without a single linear watermark:
    # commit records now carry their window's low end, and read_oplog
    # masks any seq GAP below the watermark (a reserved window whose
    # record hasn't landed — in-flight or crashed) until its record
    # appears. Crash recovery rolls back torn tails EXCLUDING live
    # reservations, so a concurrent committer's parquet is never
    # swept from under it.

    def _alloc_paths(self, name: str):
        # CAS metadata lives BESIDE commits/, not inside it: several
        # paths (watermark, op-kinds census, stats) glob commits/*.json
        # expecting numeric stems, and major compaction clears both
        # dirs together to restart seq at 0.
        d = self.root / name / "casmeta"
        return d, d / "alloc.json", d / "alloc.lock"

    def _reserve_seq_window(
        self, name: str, n: int, holder: str, ttl_s: float = 60.0
    ) -> tuple[int, int]:
        """Atomically reserve ``n`` fresh sequence numbers. Returns
        (lo, hi). The counter floors at watermark+1 always, and at
        raw_max_seq+1 on first use (bootstrap above any legacy torn
        tail); after that every committed window bumps it, so windows
        never overlap each other or history."""
        d, alloc, lock = self._alloc_paths(name)
        d.mkdir(exist_ok=True)
        w = self.commit_watermark(name)
        floor = (w if w is not None else -1) + 1  # w == 0 is a real mark
        if not alloc.exists():  # bootstrap: one Spark job, outside the lock
            raw = self.raw_max_seq(name)
            floor = max(floor, (raw if raw is not None else -1) + 1)
        while not self._try_excl_claim(lock, holder, ttl_s):
            time.sleep(0.002)  # µs-scale critical section: spin briefly
        try:
            try:
                nxt = int(json.loads(alloc.read_text())["next"])
            except (OSError, ValueError, KeyError, json.JSONDecodeError):
                nxt = 0
            lo = max(nxt, floor)
            tmp = alloc.with_suffix(".json.tmp")
            tmp.write_text(json.dumps({"next": lo + n}))
            tmp.replace(alloc)
        finally:
            self._release_slot(lock, holder)
        return lo, lo + n - 1

    def _bump_alloc(self, name: str, hi: int, holder: str) -> None:
        """Keep the counter above a commit made OUTSIDE the reservation
        path (plain append on a table that has used CAS), so later
        reservations stay fresh. No-op until alloc.json exists."""
        d, alloc, lock = self._alloc_paths(name)
        if not alloc.exists():
            return
        while not self._try_excl_claim(lock, holder, 60.0):
            time.sleep(0.002)
        try:
            try:
                nxt = int(json.loads(alloc.read_text())["next"])
            except (OSError, ValueError, KeyError, json.JSONDecodeError):
                nxt = 0
            if hi + 1 > nxt:
                tmp = alloc.with_suffix(".json.tmp")
                tmp.write_text(json.dumps({"next": hi + 1}))
                tmp.replace(alloc)
        finally:
            self._release_slot(lock, holder)

    def _publish_reservation(
        self, name: str, holder: str, lo: int, hi: int, rows: list[str], ttl_s: float
    ):
        """Atomically publish a reservation manifest: the prewrite-lock
        record carrying this committer's seq window (always) and row
        set (empty for slot-path commits, which claim no rows — the
        window liveness alone shields the in-flight batch from peer
        recovery)."""
        d, _, _ = self._alloc_paths(name)
        d.mkdir(exist_ok=True)
        resv = d / f"resv-{holder}.json"
        tmp = d / f"resv-{holder}.json.tmp"
        tmp.write_text(
            json.dumps(
                {
                    "holder": holder,
                    "lo": lo,
                    "hi": hi,
                    "rows": sorted(rows),
                    "expires": time.time() + ttl_s,
                }
            )
        )
        tmp.replace(resv)
        return resv

    def _sweep_expired_reservations(self, name: str) -> None:
        """Drop reservation manifests whose ttl lapsed — dead
        committers' prewrite locks (their windows are, or will be,
        rolled back / gap-masked; the manifest itself is just dirt
        after expiry). The roll-forward-by-peers analog of the
        reference's lock cleanup (global_txn.cc:337-501), minus the
        reader-driven part (documented non-goal)."""
        d = self.root / name / "casmeta"
        if not d.exists():
            return
        now = time.time()
        for p in d.glob("resv-*.json"):
            try:
                rec = json.loads(p.read_text())
            except (OSError, json.JSONDecodeError):
                continue
            if rec.get("expires", 0) <= now:
                p.unlink(missing_ok=True)

    def _live_reservations(self, name: str, *, skip: str | None = None) -> list[dict]:
        d = self.root / name / "casmeta"
        out = []
        now = time.time()
        for p in d.glob("resv-*.json"):
            if skip is not None and p.name == f"resv-{skip}.json":
                continue
            try:
                rec = json.loads(p.read_text())
            except (OSError, json.JSONDecodeError):
                continue
            if rec.get("expires", 0) > now:
                out.append(rec)
        return out

    def _masked_gaps(self, name: str) -> list[tuple[int, int]]:
        """Commit gaps that still need their own read-side mask: gaps
        already inside a rollback window are dropped (the rollback
        filter handles them), so the read-path predicate stays bounded
        by IN-FLIGHT windows instead of growing one term per
        historical abort until major compaction."""
        rb = self._rollbacks(name)
        return [
            (lo, hi)
            for lo, hi in self._commit_gaps(name)
            if not any(r["after"] < lo and hi <= r["upto"] for r in rb)
        ]

    def _commit_gaps(self, name: str) -> list[tuple[int, int]]:
        """Uncommitted seq windows BELOW the watermark: reserved ranges
        whose commit record has not landed (in-flight or crashed
        concurrent committer). Readers must mask them — they are the
        window-granular form of the torn-batch rule. Empty unless the
        table has ever used seq-window reservation (alloc.json), so
        legacy/serialized tables pay one existence check. Memoized on
        the commit-record census (records only ever accumulate)."""
        _, alloc, _ = self._alloc_paths(name)
        if not alloc.exists():
            return []
        d = self.root / name / "commits"
        marks = sorted(int(p.stem) for p in d.glob("*.json") if p.stem.lstrip("-").isdigit())
        sig = (len(marks), marks[-1] if marks else None)
        memo = self._gap_memo.get(name)
        if memo is not None and memo[0] == sig:
            return memo[1]
        gaps: list[tuple[int, int]] = []
        expected = 0
        for hi in marks:
            try:
                rec = json.loads((d / f"{hi}.json").read_text())
            except (OSError, json.JSONDecodeError):
                rec = {}
            lo = rec.get("lo", expected)
            if lo > expected:
                gaps.append((expected, lo - 1))
            expected = hi + 1
        self._gap_memo[name] = (sig, gaps)
        return gaps

    def begin_disjoint_commit(
        self, name: str, n: int, rows: list[str], holder: str, ttl_s: float = 300.0
    ) -> dict | None:
        """Phase 1 of the row-disjointness fast path: reserve an
        ``n``-seq window and publish a manifest with the write set —
        the prewrite-lock role of the reference's per-row lock columns
        (global_txn.cc:578-720). Returns a token for
        finish/abort_disjoint_commit, or None when an intersecting live
        manifest exists. The publish-then-scan order makes the check
        sound: of two intersecting writers, whichever scans later sees
        the other (both may back off; never neither). While the token
        is held, no other fast-path writer can touch these rows — a
        caller may validate between begin and finish (the Percolator
        validate-under-locks shape GlobalTransaction uses)."""
        lo, hi = self._reserve_seq_window(name, n, holder, ttl_s)
        rowset = set(rows)
        resv = self._publish_reservation(name, holder, lo, hi, sorted(rowset), ttl_s)
        for other in self._live_reservations(name, skip=holder):
            if rowset & set(other.get("rows", ())):
                resv.unlink(missing_ok=True)
                return None  # intersecting write set in flight
        return {"name": name, "lo": lo, "hi": hi, "resv": resv}

    def stage_disjoint_data(self, token: dict, batch, *, now_us: int | None = None) -> None:
        """Phase 2a: land the window's parquet WITHOUT its commit
        record. The rows stay gap-masked (reservation-covered) until
        record_disjoint_commit — or a txn-marker roll-forward — lands
        the record. Splitting stage from record is what lets a
        MULTI-TABLE transaction put one atomic commit point (the txn
        marker) between all tables' data and all tables' records."""
        name = token["name"]
        self._check_enabled(name)
        self._authorize("write", name)
        self._check_writer_lease(name)
        self._consume(name, "write")
        self._recover_tail(name)
        batch._base_seq = token["lo"]
        self._staged_append(name, batch.to_arrow(now_us=now_us))
        token["op_kinds"] = [int(k) for k in batch.op_kinds]
        token["staged"] = True

    def record_disjoint_commit(self, token: dict) -> int:
        """Phase 2b: the window's commit record (visibility point),
        with the same rolled-back-mid-commit fence append() applies to
        reserved windows; releases the manifest either way."""
        name, lo, hi = token["name"], token["lo"], token["hi"]
        try:
            self._bump_alloc(name, hi, self.writer_id or self._auto_writer_id)
            for r in self._rollbacks(name):
                if r["after"] < hi and lo <= r["upto"]:
                    raise WriterFenced(
                        f"table {name!r}: reserved window [{lo},{hi}] was "
                        "rolled back mid-commit (reservation ttl elapsed?)"
                    )
            self._record_commit(name, hi, token.get("op_kinds"), lo=lo)
            return hi
        finally:
            token["resv"].unlink(missing_ok=True)

    def finish_disjoint_commit(self, token: dict, batch, *, now_us: int | None = None) -> int:
        """Phase 2 (single-table form): stage + record in one call.
        The commit record carries the window's low end so readers can
        gap-mask concurrent in-flight windows. ``now_us`` threads
        through the batch materialization (per-cell TTL stamping) for
        transactional callers."""
        try:
            if not token.get("staged"):
                self.stage_disjoint_data(token, batch, now_us=now_us)
        except BaseException:
            token["resv"].unlink(missing_ok=True)
            raise
        return self.record_disjoint_commit(token)

    # --- cross-table txn markers (Percolator primary-commit analog) ---
    # The reference's global transaction has ONE atomic commit point —
    # the primary cell's lock→write flip (global_txn.cc:578-720) —
    # after which readers/peers roll the secondaries FORWARD
    # (global_txn.cc:337-501) instead of back. Here the analog is a
    # txn marker file renamed into <root>/.txnlog/ AFTER every table's
    # window data is staged and BEFORE any table's commit record: crash
    # before the marker and recovery rolls every staged window back
    # (consistent abort); crash after it and recovery writes the
    # missing commit records (consistent commit). Without the marker, a
    # crash between two tables' records left the transaction
    # half-applied — head table visible, tail rolled back.

    def _txnlog_dir(self):
        return self.root / ".txnlog"

    def write_txn_marker(self, txn_id: str, tokens: dict) -> "Path":
        """THE cross-table commit point: one atomic rename publishing
        every (table, window, op_kinds) of the transaction. Call only
        after ALL windows' data is staged."""
        d = self._txnlog_dir()
        d.mkdir(exist_ok=True)
        rec = {
            "txn": txn_id,
            "tables": [
                {
                    "name": t["name"],
                    "lo": int(t["lo"]),
                    "hi": int(t["hi"]),
                    "op_kinds": t.get("op_kinds"),
                }
                for t in tokens.values()
            ],
        }
        p = d / f"txn-{txn_id}.json"
        tmp = d / f".txn-{txn_id}.tmp"
        tmp.write_text(json.dumps(rec))
        tmp.replace(p)  # atomic: the whole transaction commits HERE
        return p

    def _txn_markers_for(self, name: str) -> list[dict]:
        d = self._txnlog_dir()
        out = []
        if not d.is_dir():
            return out
        for p in d.glob("txn-*.json"):
            try:
                rec = json.loads(p.read_text())
            except (OSError, json.JSONDecodeError):
                continue
            if any(e["name"] == name for e in rec.get("tables", ())):
                rec["_path"] = p
                out.append(rec)
        return out

    def _window_recorded(self, name: str, hi: int) -> bool:
        return (self.root / name / "commits" / f"{int(hi)}.json").exists()

    def _window_rolled_back(self, name: str, lo: int, hi: int) -> bool:
        return any(r["after"] < hi and lo <= r["upto"] for r in self._rollbacks(name))

    def _window_live(self, name: str, lo: int, hi: int) -> bool:
        return any(
            int(r.get("lo", -1)) == lo and int(r.get("hi", -1)) == hi
            for r in self._live_reservations(name)
        )

    def _process_txn_marker(self, rec: dict) -> None:
        """Roll a marked transaction FORWARD (write the missing commit
        records) or, when its commit never actually started recording
        and a window already died, roll the remainder back — then
        retire the marker. A window under a LIVE reservation belongs
        to a committer still at work: untouched.

        Marker-vs-rollback conflicts (a window rolled back although
        the marker exists) are reachable only when a reservation
        expired MID-COMMIT — the same ttl-contract violation
        documented for leases; the masked window then stays masked
        (rollback wins on the read path) and the marker is retired."""
        entries = rec.get("tables", [])
        state = []
        for e in entries:
            n, lo, hi = e["name"], int(e["lo"]), int(e["hi"])
            state.append(
                (
                    e,
                    self._window_recorded(n, hi),
                    self._window_rolled_back(n, lo, hi),
                    self._window_live(n, lo, hi),
                )
            )
        if any(live and not rec_ for e, rec_, rb, live in state):
            return  # committer still at work on some window
        recorded = [s for s in state if s[1]]
        if not recorded and any(rb for _, _, rb, _ in state):
            # commit point reached but a window died before ANY record
            # landed: consistent abort — mask the remaining windows
            for e, rec_, rb, _ in state:
                if not rec_ and not rb:
                    self._add_rollback(e["name"], int(e["lo"]) - 1, int(e["hi"]))
            rec["_path"].unlink(missing_ok=True)
            return
        for e, rec_, rb, _ in state:
            if rec_ or rb:
                continue
            n, lo, hi = e["name"], int(e["lo"]), int(e["hi"])
            self._bump_alloc(n, hi, self.writer_id or self._auto_writer_id)
            self._record_commit(n, hi, e.get("op_kinds"), lo=lo)
        rec["_path"].unlink(missing_ok=True)

    def _roll_forward_marked(self, name: str) -> None:
        for rec in self._txn_markers_for(name):
            self._process_txn_marker(rec)

    def abort_disjoint_commit(self, token: dict) -> None:
        """Release without committing. The abandoned window is retired
        to a rollback range immediately (nothing was committed in it,
        and self-retiring keeps the read-path gap mask at in-flight
        windows only instead of one term per historical abort)."""
        token["resv"].unlink(missing_ok=True)
        self._add_rollback(token["name"], token["lo"] - 1, token["hi"])

    def _try_disjoint_commit(
        self, name: str, batch, rows: list[str], holder: str, ttl_s: float
    ) -> int | None:
        tok = self.begin_disjoint_commit(name, len(batch), rows, holder, ttl_s)
        if tok is None:
            return None
        return self.finish_disjoint_commit(tok, batch)

    def append_cas(
        self,
        name: str,
        batch,
        *,
        holder: str | None = None,
        max_wait_s: float = 10.0,
        claim_ttl_s: float = 300.0,
        rows: list[str] | None = None,
    ) -> int:
        """Serialized multi-writer group commit. ``batch`` is a
        MutationBatch whose base sequence THIS method assigns — under
        contention each committer's window lands strictly after the
        previous winner's record, so seq ranges never interleave.
        Returns the batch's committed high sequence. Raises
        WriterFenced if the slot can't be claimed within
        ``max_wait_s`` (a held lease still fences as usual).

        ``rows`` opts into the ROW-DISJOINTNESS fast path (the
        reference's per-row conflict granularity, global_txn.cc
        per-row lock columns): pass the batch's write set (e.g.
        ``batch.row_keys``) and the commit proceeds CONCURRENTLY with
        other committers whose row sets don't intersect it — no slot
        wait, no retry. Intersecting writers fall back to the
        serialized slot path above. One in-flight commit per holder id.
        """
        holder = holder or self.writer_id or self._auto_writer_id
        self._recover_tail(name)  # before reserving: see _recover_tail
        if rows:
            hi = self._try_disjoint_commit(name, batch, list(rows), holder, claim_ttl_s)
            if hi is not None:
                return hi
        deadline = time.time() + max_wait_s
        while True:
            w = self.commit_watermark(name)
            base_mark = w if w is not None else -1
            if self._claim_commit_slot(name, base_mark, holder, claim_ttl_s):
                try:
                    # the watermark may have advanced between the read
                    # and the claim win (stale slot freed by its
                    # winner): detect and go claim the current one
                    w2 = self.commit_watermark(name)
                    if (w2 if w2 is not None else -1) != base_mark:
                        continue
                    # a stale expired-claim takeover may have handed
                    # this slot to another holder in the meantime:
                    # commit only while the claim still records US
                    if self._claim_holder(name, base_mark) != holder:
                        continue
                    # allocate through the reservation counter: above
                    # the watermark, any torn tail (bootstrap floors at
                    # raw_max_seq), and every concurrent fast-path
                    # window — seq ranges can never interleave
                    base, hi = self._reserve_seq_window(
                        name, len(batch), holder, claim_ttl_s
                    )
                    # publish window liveness (rows=[]: no row claims)
                    # so a NEW writer's recovery never mistakes this
                    # in-flight batch for a dead writer's torn tail
                    resv = self._publish_reservation(
                        name, holder, base, hi, [], claim_ttl_s
                    )
                    try:
                        batch._base_seq = base
                        self.append(
                            name,
                            batch.to_arrow(),
                            commit_seq=hi,
                            commit_lo=base,
                            op_kinds=batch.op_kinds,
                        )
                        return hi
                    finally:
                        resv.unlink(missing_ok=True)
                finally:
                    self._release_claim(name, base_mark, holder)
            if time.time() >= deadline:
                raise WriterFenced(
                    f"table {name!r}: commit slot contended past {max_wait_s}s"
                )
            time.sleep(0.05)

    def table_stats(self, name: str) -> dict:
        """One-call observability roll-up per table (teracli `stat`
        spirit): metadata-only — files/rows/bytes from footers, op mix
        and watermark from commit records, snapshots/indexes/rollbacks
        from the registry, plus the fold route reads will take."""
        from tera_spark.model import CellOp

        self._authorize("read", name)
        infos = self.tablet_info(name)
        oplog = self.root / name / "oplog"
        kinds = self._op_kinds_union(name)
        idx = _load_indexes(self, name)
        return {
            "table": name,
            "kv_mode": self.get_schema(name).kv_mode,
            "enabled": self.is_table_enabled(name),
            "files": len([i for i in infos if i["rows"]]),
            "rows": sum(i["rows"] for i in infos),
            "bytes": sum(
                (oplog / i["file"]).stat().st_size for i in infos if i["rows"]
            ),
            "commit_watermark": self.commit_watermark(name),
            "op_kinds": sorted(CellOp.NAMES.get(k, str(k)) for k in kinds)
            if kinds is not None
            else None,
            "fold_route": self.fold_hints(name) or {"general": True},
            "snapshots": len(self.list_snapshots(name)),
            "indexes": sorted(idx),
            "pending_rollback_windows": len(self._rollbacks(name)),
            "delimiters": len(self.get_schema(name).delimiters),
            # commit-CAS observability: in-flight concurrent committers
            # and reserved-but-uncommitted windows readers are masking
            "live_reservations": len(self._live_reservations(name)),
            "commit_gaps": len(self._commit_gaps(name)),
        }

    def maintenance(self, name: str, *, now_us: int | None = None, apply: bool = True) -> dict:
        """Decide — and by default run — the right compaction for a
        table, from metadata only: the "when to compact" policy the
        reference's master owns (size-triggered `TabletIO::Compact`
        scheduling; split/merge procedures). Inputs are Parquet
        footers and commit records, no data read:

        * rolled-back seq windows pending physical drop → **major**
          (compact_inplace clears them);
        * a delete/atomic-heavy op mix (non-PUT codes in the op-kinds
          union) with more than one file → **major** (folds the marks
          away AND re-seeds the PUT-only fast-fold proof);
        * overlapping same-range files but a puts-only history →
          **minor** (compact_ranges folds just the dirty groups);
        * otherwise → **none**.

        Returns {"action", "reason", applied result...}. With
        ``apply=False`` it only reports — the dry-run a scheduler calls
        per table per maintenance window. At 100 TB this is the nightly
        bounded job: metadata decides in milliseconds whether to pay a
        bounded minor pass, a full fold, or nothing."""
        from tera_spark.model import CellOp

        self._check_enabled(name)
        self._authorize("admin", name)
        if self.get_schema(name).kv_mode:
            n_files = len(list((self.root / name / "oplog").glob("part-*.parquet")))
            action = "major" if n_files > 1 else "none"
            reason = "kv op-log has multiple files" if n_files > 1 else "single-file kv op-log"
        elif self._rollbacks(name):
            action, reason = "major", "rolled-back seq windows pending physical drop"
        else:
            kinds = self._op_kinds_union(name)
            infos = self.tablet_info(name)
            nonempty = sorted(
                (i for i in infos if i["rows"]),
                key=lambda i: (i["start_key"], i["end_key"]),
            )
            n_files = len(nonempty)
            rows = sum(i["rows"] for i in nonempty)
            # inclusive bound check, same closure rule compact_ranges
            # plans with: two files sharing even one key overlap
            overlapping = any(
                b["start_key"] <= a["end_key"] for a, b in zip(nonempty, nonempty[1:])
            )
            non_put = kinds is not None and bool(kinds - {CellOp.PUT})
            if non_put and n_files > 1:
                action, reason = "major", "delete/atomic ops in the history across multiple files"
            elif kinds is None and n_files > 1:
                action, reason = "major", "unknown op mix (legacy writer) across multiple files"
            elif overlapping:
                action, reason = "minor", "overlapping same-range files, puts-only history"
            else:
                # many tiny disjoint files: nothing to fold, but the
                # layout itself is the problem (listing + footer + task
                # overhead per file) — re-shard toward ~128 MB files
                # (the merge-tablet analog). Byte-based so the rule is
                # scale-independent and converges: the target bucket
                # count strictly shrinks the file count or the rule
                # stops firing.
                oplog = self.root / name / "oplog"
                total_b = sum((oplog / i["file"]).stat().st_size for i in nonempty)
                target = max(total_b // (128 << 20), 1)
                if n_files > 16 and total_b / n_files < (16 << 20) and target < n_files:
                    action, reason = "optimize", "small-file layout (avg file far below 128 MB target)"
                    buckets = int(target)
                else:
                    action, reason = "none", "compacted layout, nothing to fold"
        out: dict = {"action": action, "reason": reason}
        if apply and action == "major":
            self.compact_inplace(name, now_us=now_us)
        elif apply and action == "minor":
            out.update(self.compact_ranges(name, now_us=now_us))
        elif apply and action == "optimize":
            out["files"] = self.optimize(name, buckets=buckets)
        return out

    def tablet_info(self, name: str) -> list[dict]:
        """Partition introspection — the GetTabletLocation /
        GetStartEndKeys debug surface (include/tera/table.h:131-133):
        one entry per op-log file with its row_key bounds from Parquet
        footer stats (files are range-sorted, so bounds are tablet
        start/end keys)."""
        import pyarrow.parquet as pq

        key_col = "key" if self.get_schema(name).kv_mode else "row_key"
        out = []
        for f in sorted((self.root / name / "oplog").glob("part-*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            lo, hi, rows = None, None, 0
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                rows += g.num_rows
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    if col.path_in_schema == key_col and col.statistics:
                        st = col.statistics
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            out.append({"file": f.name, "start_key": lo, "end_key": hi, "rows": rows})
        return out

    def find_tablet(self, name: str, row_key: str) -> list[dict]:
        """Route a key to its tablet(s) — teracli `findtablet`
        (src/teracli_main.cc FindTabletOp): which range-sorted op-log
        files can contain the key, by footer bounds. The planner does
        the same pruning implicitly; this is the observable version.
        Hash-distributed tables route by the PREFIXED key, exactly as
        the reference hashes before its meta-cache lookup
        (table_impl.cc:1416-1418)."""
        schema = self.get_schema(name)
        if not schema.kv_mode and schema.hash_distribution:
            from tera_spark.functions.keys import py_hash_prefix_key

            row_key = py_hash_prefix_key(row_key)

        def as_str(v):
            return v.decode() if isinstance(v, (bytes, bytearray)) else v

        hits = []
        for info in self.tablet_info(name):
            lo, hi = as_str(info["start_key"]), as_str(info["end_key"])
            if lo is None or hi is None:
                continue
            if lo <= row_key <= hi:
                hits.append(info)
        return hits

    def optimize(self, name: str, *, buckets: int | None = None) -> int:
        """Re-shard the op-log into ``buckets`` range partitions sorted
        by row_key — the split/merge-tablet analog (TabletIO::Split
        tablet_io.cc:550-604, merge_tablet_procedure.cc): tera re-shards
        when tablets grow/shrink; here one job rewrites the layout and
        every later scan prunes against the new file ranges. Returns
        the file count written."""
        self._authorize("admin", name)
        df = self.read_oplog(name)
        oplog = self.root / name / "oplog"
        tmp = self.root / name / "oplog.opt"
        if self.get_schema(name).kv_mode:
            n = buckets or max(df.rdd.getNumPartitions(), 1)
            (
                df.repartitionByRange(n, "key")
                .sortWithinPartitions("key", "seq")
                .write.mode("overwrite")
                .parquet(str(tmp))
            )
        else:
            schema = self.get_schema(name)
            write_cell_table(
                df,
                str(tmp),
                buckets=buckets,
                # explicit bucket count overrides the declared pre-split
                delimiters=None if buckets else (schema.delimiters or None),
                compression=schema_codec(schema),
            )
        shutil.rmtree(oplog)
        tmp.rename(oplog)
        return len(list(oplog.glob("part-*")))


# --- secondary indexes (the TPC-C t_*_index pattern, first-class) ------
# The reference keeps secondary indexes as manually-maintained index
# TABLES (src/benchmark/tpcc/tpcc_schemas/t_customer_last_index etc.);
# observers maintain them incrementally (test_streaming.py). These
# helpers promote the pattern into the catalog: declarative create +
# automatic value-lookup routing, with index rows in the SAME cell
# model (index row_key = value, qualifier = primary key), so every
# existing operator (scan/seek/compact/snapshot) works on the index.

def _indexes_path(cat: "Catalog", name: str):
    return cat.root / name / "indexes.json"


def _load_indexes(cat: "Catalog", name: str) -> dict:
    """Registry entries normalized to {"table": idx_name, "seq": n}.
    ``seq`` is the base-table commit watermark the index reflects
    (None for legacy string entries — they predate incremental
    refresh and only support full rebuild)."""
    p = _indexes_path(cat, name)
    raw = json.loads(p.read_text()) if p.exists() else {}
    return {
        k: (v if isinstance(v, dict) else {"table": v, "seq": None})
        for k, v in raw.items()
    }


def _store_index(cat: "Catalog", name: str, key: str, entry: dict) -> None:
    idx = _load_indexes(cat, name)
    idx[key] = entry
    p = _indexes_path(cat, name)
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(idx))
    tmp.replace(p)  # atomic registration swap


def create_index(cat: "Catalog", name: str, cf: str, qualifier: str) -> str:
    """Materialize a secondary index over (cf, qualifier): one index
    row per distinct value, one index cell per (value, primary key).
    Registered in <table>/indexes.json; lookup_by_value routes through
    it. Rebuild by calling again; keep it fresh incrementally with the
    observer pattern (ObserverPipeline writes the same index-table
    rows — test_streaming.py demonstrates).

    Index row keys are the HEX encoding of the value (cell values are
    arbitrary bytes; hex is lossless and order-preserving, so distinct
    binary values never collide and range pruning still works).

    Rebuilds are atomic: the replacement builds under a fresh
    generation name, registration swaps by file rename only once the
    build succeeded, and the superseded generation drops last — a
    crash mid-rebuild leaves the previous index serving, never a
    registry entry pointing at a missing table.

    Scale shape: one pass over the folded view of the indexed column,
    one range-sorted write keyed by VALUE — the index is a cell table,
    so value lookups enjoy the same footer pruning as primary keys."""
    import uuid

    import pyspark.sql.functions as F

    from tera_spark.model import CellOp

    idx_name = f"{name}__idx__{cf}__{qualifier}__{uuid.uuid4().hex[:8]}"
    # pin the build to the watermark recorded in the registry: the view
    # is lazy (evaluated at append below), so without the snapshot bound
    # a concurrent-ish commit could slip into the build yet sit above
    # the recorded seq — refresh_index must see exactly the complement
    built_seq = cat.commit_watermark(name)
    v = cat.view(name, snapshot_seq=built_seq).filter(
        (F.col("cf") == cf) & (F.col("qualifier") == qualifier)
    )
    rows = v.select(
        F.hex(F.col("value")).alias("row_key"),
        F.lit("idx").alias("cf"),
        F.col("row_key").alias("qualifier"),
        F.col("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.lit(b"").alias("value"),
        F.lit(0).cast("long").alias("seq"),
    )
    cat.create_table(f"{idx_name} {{ idx }}")
    cat.append(idx_name, rows)
    old = _load_indexes(cat, name).get(f"{cf}:{qualifier}", {}).get("table")
    _store_index(cat, name, f"{cf}:{qualifier}", {"table": idx_name, "seq": built_seq})
    if old and cat.is_table_exist(old):
        cat.disable_table(old)
        cat.drop_table(old)
    return idx_name


def refresh_index(cat: "Catalog", name: str, cf: str, qualifier: str) -> dict:
    """Incrementally refresh a secondary index from the base table's
    changefeed — maintenance bounded by the CHANGE SET, not the table.
    A full rebuild (create_index) is a complete pass over the base; at
    100 TB that is a full-table job to pick up a handful of updates.
    This reads changes_between(built_seq, current watermark) restricted
    to the indexed column and appends one batch to the index table:

    * UPDATE/DELETE → a DEL_QUALIFIERS mark at (hex(old_value), idx,
      pk) — the index's tombstone machinery retires the stale entry;
    * INSERT/UPDATE → a PUT at (hex(new_value), idx, pk).

    Mark/put timestamps are allocated ABOVE every existing index-cell
    ts (one max-agg on the index op-log), so refresh batches stack
    correctly across value flap-backs. The registry entry's ``seq``
    advances to the watermark consumed, making refresh idempotent and
    resumable. Delete marks demote the index from the PUT-only fast
    fold — run compact_inplace on the index table periodically to fold
    them away and re-upgrade it (the same hygiene as any cell table).

    Returns {"changes": n, "from_seq": a, "to_seq": b}. Raises if no
    index is registered, or if the entry is a legacy one with no build
    watermark (rebuild once with create_index to upgrade)."""
    import pyspark.sql.functions as F

    from tera_spark.model import CellOp

    key = f"{cf}:{qualifier}"
    entry = _load_indexes(cat, name).get(key)
    if entry is None or not cat.is_table_exist(entry["table"]):
        raise ValueError(f"no index on {name}.{key}; create_index first")
    if entry["seq"] is None:
        raise ValueError(f"index on {name}.{key} predates incremental refresh; rebuild once")
    idx_name, since = entry["table"], entry["seq"]
    cur = cat.commit_watermark(name)
    if cur is None or cur <= since:
        return {"changes": 0, "from_seq": since, "to_seq": since}
    ch = cat.diff(name, since, cur).filter(
        (F.col("cf") == cf) & (F.col("qualifier") == qualifier)
    )
    base_ts = (
        cat.read_oplog(idx_name).agg(F.max("ts")).first()[0] or 0
    ) + 1
    base_seq = (cat.raw_max_seq(idx_name) or 0) + 1
    dels = ch.filter(F.col("old_value").isNotNull()).select(
        F.hex("old_value").alias("row_key"),
        F.lit("idx").alias("cf"),
        F.col("row_key").alias("qualifier"),
        F.lit(base_ts).cast("long").alias("ts"),
        F.lit(CellOp.DEL_QUALIFIERS).alias("op"),
        F.lit(None).cast("binary").alias("value"),
        F.lit(base_seq).cast("long").alias("seq"),
    )
    puts = ch.filter(F.col("new_value").isNotNull()).select(
        F.hex("new_value").alias("row_key"),
        F.lit("idx").alias("cf"),
        F.col("row_key").alias("qualifier"),
        F.lit(base_ts + 1).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.lit(b"").alias("value"),
        F.lit(base_seq + 1).cast("long").alias("seq"),
    )
    batch = dels.unionByName(puts)
    n = batch.count()
    if n:
        cat.append(
            idx_name,
            batch,
            commit_seq=base_seq + 1,
            op_kinds=[CellOp.DEL_QUALIFIERS, CellOp.PUT],
        )
    _store_index(cat, name, key, {"table": idx_name, "seq": cur})
    return {"changes": n, "from_seq": since, "to_seq": cur}


def lookup_by_value(cat: "Catalog", name: str, cf: str, qualifier: str, value) -> "DataFrame":
    """Point lookup by VALUE: route through the registered secondary
    index when one exists (index row scan -> tiny primary-key set ->
    broadcast batch_get), else fall back to a folded full-scan filter.
    Hits are RE-VERIFIED against the NEWEST live version of the base
    cell (older versions of a multi-version column don't count — a row
    matches only if its *current* value equals the target), so a stale
    index can only miss (documented), never return a wrong row — the
    same read-repair stance as the reference's TPC-C drivers, which
    always re-read the base row after an index hit. A registered index
    whose table is missing (interrupted rebuild of a pre-atomic-swap
    layout) falls back to the scan path instead of raising."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from tera_spark.operators.scan import batch_get

    val = value if isinstance(value, bytes) else str(value).encode()
    entry = _load_indexes(cat, name).get(f"{cf}:{qualifier}")
    idx = entry["table"] if entry else None

    def newest_match(cells):
        col = cells.filter((F.col("cf") == cf) & (F.col("qualifier") == qualifier))
        w = Window.partitionBy("row_key").orderBy(F.desc("ts"))
        return (
            col.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .filter(F.col("value") == F.lit(val))
        )

    if idx is None or not cat.is_table_exist(idx):
        out = newest_match(cat.view(name))
        if cat.get_schema(name).hash_distribution:
            from tera_spark.functions.keys import with_plain_row_key

            out = with_plain_row_key(out)
        return out
    keys = (
        cat.view(idx)
        .filter(F.col("row_key") == val.hex().upper())
        .select(F.col("qualifier").alias("row_key"))
    )
    got = batch_get(
        cat.read_oplog(name), cat.get_schema(name), keys, **cat.fold_hints(name)
    )
    out = newest_match(got)  # read-repair: drop stale index hits
    if cat.get_schema(name).hash_distribution:
        from tera_spark.functions.keys import with_plain_row_key

        out = with_plain_row_key(out)
    return out


# bind as methods (first parameter is the catalog instance)
Catalog.create_index = create_index
Catalog.refresh_index = refresh_index
Catalog.lookup_by_value = lookup_by_value
