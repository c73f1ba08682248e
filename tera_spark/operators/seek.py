"""Driver-side point-read fast path — the `LowLevelSeek` analog.

The reference serves point reads with a direct three-level LevelDB seek
(`TabletIO::LowLevelSeek`, src/io/tablet_io.cc:1148-1343) — routed by
the meta table to one tablet, then a block-index seek — NOT by running
the scan pipeline. Our Spark `operators/scan.get` is semantically the
scan-degenerate path (`tablet_io.cc:1439-1451`); it is correct but pays
a distributed-job fixed cost (~100 ms scheduling) per call, which
dominates single-row reads — exactly the workload behind tera's
32,000-QPS random-read number (doc/en/performance.md:31).

This module is the seek path:

  1. route the key to op-log files by Parquet footer bounds
     (= the SDK's meta-table tablet lookup,
     `GetTabletAddrOrScheduleUpdateMeta` src/sdk/table_impl.cc:1452);
  2. prune to the row groups whose row_key min/max cover the key
     (= the LevelDB block-index seek);
  3. read only those row groups with pyarrow — no Spark job;
  4. fold the row's cells with a pure-Python twin of
     `operators/view.current_view` (same semantics as the Spark fold,
     the way the reference shares `CompactStrategy` logic between the
     seek and scan paths).

At 100 TB the "driver" is any client process with DFS access — the
same topology as tera's SDK hitting tabletservers directly: a point
read touches one footer + one row group, never a cluster job. Footer
metadata is cached per (path, mtime), mirroring the SDK meta cache.

Equivalence with the Spark fold is pinned by property tests
(tests/test_seek.py): random op-logs → `Seeker.get` ≡ `scan.get`.
"""

from __future__ import annotations

from collections import OrderedDict, defaultdict
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tera_spark.model import CellOp
from tera_spark.registry import TableSchema

_ATOMIC = frozenset(
    (CellOp.ADD, CellOp.ADDINT64, CellOp.APPEND, CellOp.PUT_IFABSENT)
)
_MARKS = frozenset((CellOp.DEL_ROW, CellOp.DEL_FAMILY, CellOp.DEL_QUALIFIERS))
_NEG_INF = -(1 << 62)
_CELL_COLS = ["row_key", "cf", "qualifier", "ts", "op", "value", "seq"]


def _wrap_i64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def _be(v: int) -> bytes:
    return (v & ((1 << 64) - 1)).to_bytes(8, "big")


def _le(v: int) -> bytes:
    return (v & ((1 << 64) - 1)).to_bytes(8, "little")


def fold_row(
    rows: list[tuple],
    schema: TableSchema | None,
    *,
    now_us: int,
    default_max_versions: int = 1,
) -> list[tuple]:
    """Fold one row's op-log cells into visible cells.

    ``rows``: (row_key, cf, qualifier, ts, op, value, seq) tuples, all
    with the same row_key. Returns (row_key, cf, qualifier, ts, value)
    tuples. Exact twin of `current_view` (view.py) for a single row —
    the shared-semantics invariant is enforced by tests/test_seek.py.
    """
    cf_props = (
        {c.name: c for c in schema.column_families.values()}
        if schema is not None and schema.column_families
        else None
    )

    # delete-mark maxima per granularity (masks are ts-inclusive)
    del_row = _NEG_INF
    del_cf: dict[str, int] = defaultdict(lambda: _NEG_INF)
    del_qu: dict[tuple, int] = defaultdict(lambda: _NEG_INF)
    for rk, cf, qu, ts, op, val, seq in rows:
        if op == CellOp.DEL_ROW:
            del_row = max(del_row, ts)
        elif op == CellOp.DEL_FAMILY:
            del_cf[cf] = max(del_cf[cf], ts)
        elif op == CellOp.DEL_QUALIFIERS:
            del_qu[(cf, qu)] = max(del_qu[(cf, qu)], ts)

    cols: dict[tuple, list] = defaultdict(list)
    for rk, cf, qu, ts, op, val, seq in rows:
        if op in _MARKS:
            continue
        if ts <= max(del_row, del_cf[cf], del_qu[(cf, qu)]):
            continue
        if cf_props is not None:
            if cf not in cf_props:
                continue
            ttl = cf_props[cf].ttl
            if op >= CellOp.PUT and ttl > 0 and ts < now_us - ttl * 1_000_000:
                continue
        cols[(rk, cf, qu)].append((ts, op, val, seq))

    out: list[tuple] = []
    for (rk, cf, qu), entries in cols.items():
        maxv = (
            cf_props[cf].max_versions if cf_props is not None else default_max_versions
        )
        # LevelDB iteration order: ts desc, op asc (marks before
        # values), seq desc — same sort key as the Spark fold's
        # (nts, sop, nseq) struct sort.
        entries.sort(key=lambda x: (-x[0], x[1], -x[3]))

        # leading run of atomic ops + PUT merge base
        run = 0
        while run < len(entries) and entries[run][1] in _ATOMIC:
            run += 1
        glen = run + (
            1 if 0 < run < len(entries) and entries[run][1] == CellOp.PUT else 0
        )
        grp, rest = entries[:glen], entries[glen:]
        if run > 0 and maxv >= 1:
            kind = grp[0][1]
            deduped = [
                x
                for i, x in enumerate(grp)
                if x[1] == CellOp.PUT or i == 0 or x[0] != grp[i - 1][0]
            ]
            mergeable = [x for x in deduped if x[1] in (kind, CellOp.PUT)]
            if kind == CellOp.ADD:
                val = _be(_wrap_i64(sum(int.from_bytes(x[2], "big", signed=True) for x in mergeable)))
            elif kind == CellOp.ADDINT64:
                val = _le(_wrap_i64(sum(int.from_bytes(x[2], "little", signed=True) for x in mergeable)))
            elif kind == CellOp.APPEND:
                val = b"".join(x[2] for x in reversed(mergeable))
            else:  # PUT_IFABSENT: oldest wins
                val = mergeable[-1][2]
            out.append((rk, cf, qu, grp[0][0], val))

        # remainder: DEL_QUALIFIER arming + schema version cap
        vnum = 1 if run > 0 else 0
        prev = 0
        for ts, op, val, seq in rest:
            consumed = prev == CellOp.DEL_QUALIFIER
            if op == CellOp.PUT:
                vnum += 1
                if not consumed and vnum <= maxv:
                    out.append((rk, cf, qu, ts, val))
            prev = op
    return out


class Seeker:
    """Point-read client over a catalog table. Caches footer metadata
    per (file, mtime) — the SDK meta-cache analog.

    ``schema`` is a TableSchema, or a zero-argument callable returning
    the table's current one (client.Table passes its stat-guarded
    schema memo). With a catalog and no callable, every read re-reads
    the registry entry, so a long-lived Seeker folds with the schema an
    update_schema left, never the one it was built with."""

    def __init__(
        self,
        catalog=None,
        table: str | None = None,
        *,
        path: str | None = None,
        schema: TableSchema | None = None,
        cache_groups: int = 0,
        threads: int = 8,
    ):
        if callable(schema):
            self._schema_source = schema
        elif catalog is not None:
            self._schema_source = lambda: catalog.get_schema(table)
        else:
            self._schema_source = lambda: schema
        if catalog is not None:
            self._root = Path(catalog.oplog_path(table))
            self._get_rollbacks = lambda: catalog._rollbacks(table)
            self._get_watermark = lambda: catalog.commit_watermark(table)
            self._get_gaps = lambda: catalog._masked_gaps(table)
        else:
            self._root = Path(path)
            self._get_rollbacks = lambda: []
            self._get_watermark = lambda: None
            self._get_gaps = lambda: []
        self._meta: dict[str, tuple[float, list[tuple[int, str, str, int]]]] = {}
        # decoded-row-group LRU — the block-cache analog (reference:
        # per-LG block cache + persistent_cache; a hot point-read
        # working set stays decoded in client memory)
        self._cache_groups = cache_groups
        self._threads = threads
        self._rg_cache: OrderedDict[tuple[str, int], object] = OrderedDict()

    # --- routing ------------------------------------------------------

    @property
    def schema(self) -> TableSchema | None:
        return self._schema_source()

    @property
    def _kv(self) -> bool:
        schema = self.schema
        return bool(schema is not None and schema.kv_mode)

    def _key_col(self) -> str:
        return "key" if self._kv else "row_key"

    def _file_meta(self, f: Path) -> list[tuple[int, str, str, int]]:
        """[(row_group_idx, min_key, max_key, num_rows)] from the footer."""
        mtime = f.stat().st_mtime
        hit = self._meta.get(str(f))
        if hit is not None and hit[0] == mtime:
            return hit[1]
        md = pq.ParquetFile(str(f)).metadata
        key_col = self._key_col()
        groups = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            lo = hi = None
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == key_col and col.statistics is not None:
                    st = col.statistics
                    lo, hi = st.min, st.max
            if isinstance(lo, (bytes, bytearray)):
                lo = lo.decode()
            if isinstance(hi, (bytes, bytearray)):
                hi = hi.decode()
            groups.append((rg, lo, hi, g.num_rows))
        self._meta[str(f)] = (mtime, groups)
        return groups

    def _files(self) -> list[Path]:
        return sorted(self._root.glob("part-*.parquet"))

    def _route(self, keys: list[str]) -> dict[Path, dict[int, list[str]]]:
        """file → row_group → keys that may live there."""
        plan: dict[Path, dict[int, list[str]]] = {}
        for f in self._files():
            for rg, lo, hi, _ in self._file_meta(f):
                if lo is None or hi is None:
                    hit = list(keys)  # no stats: cannot prune
                else:
                    hit = [k for k in keys if lo <= k <= hi]
                if hit:
                    plan.setdefault(f, {}).setdefault(rg, []).extend(hit)
        return plan

    def _read_cells(
        self, keys: list[str], *, now_us: int | None = None
    ) -> dict[str, list[tuple]]:
        """Read all op-log cells for the given keys, pruned to the row
        groups whose footer bounds admit them. Table-mode rows come
        back as 7-tuples; per-cell TTL (expire_ts column, present only
        in files written by TTL puts) is applied here."""
        kv = self._kv
        key_col = "key" if kv else "row_key"
        columns = ["key", "value", "expire_ts", "seq"] if kv else _CELL_COLS
        rollbacks = self._get_rollbacks()
        watermark = self._get_watermark()
        gaps = self._get_gaps()
        by_key: dict[str, list[tuple]] = defaultdict(list)

        def _load(f: Path, rg: int):
            ck = (str(f), rg)
            t = self._rg_cache.get(ck)
            if t is not None:
                self._rg_cache.move_to_end(ck)
                return t
            pf = pq.ParquetFile(str(f))
            cols = columns
            if not kv and "expire_ts" in pf.schema_arrow.names:
                cols = columns + ["expire_ts"]
            t = pf.read_row_group(rg, columns=cols)
            if self._cache_groups > 0:
                self._rg_cache[ck] = t
                while len(self._rg_cache) > self._cache_groups:
                    self._rg_cache.popitem(last=False)
            return t

        work = [
            (f, rg, rg_keys)
            for f, rgs in self._route(keys).items()
            for rg, rg_keys in rgs.items()
        ]
        # pyarrow releases the GIL during IO/decode — parallel group reads
        if len(work) > 1 and self._threads > 1:
            with ThreadPoolExecutor(max_workers=self._threads) as ex:
                tables = list(ex.map(lambda w: _load(w[0], w[1]), work))
        else:
            tables = [_load(f, rg) for f, rg, _ in work]
        for (f, rg, rg_keys), t in zip(work, tables):
            t = t.filter(pc.is_in(t[key_col], value_set=pa.array(set(rg_keys))))
            if t.num_rows == 0:
                continue
            has_ttl = not kv and "expire_ts" in t.column_names
            read_cols = columns + (["expire_ts"] if has_ttl else [])
            for row in zip(*(t[c].to_pylist() for c in read_cols)):
                seq = row[len(columns) - 1]
                if any(r["after"] < seq <= r["upto"] for r in rollbacks):
                    continue  # RollbackDrop (dbformat.h:156)
                if watermark is not None and seq > watermark:
                    continue  # torn batch above the commit watermark
                if any(lo <= seq <= hi for lo, hi in gaps):
                    continue  # in-flight/crashed concurrent window below
                    # the watermark (commit-CAS gap mask — same rule as
                    # read_oplog, seek path must agree)
                if has_ttl:
                    exp = row[-1]
                    if exp is not None and 0 < exp <= (now_us or 0):
                        continue  # per-cell TTL (mutation.h:30-33)
                    row = row[: len(columns)]
                by_key[row[0]].append(row)
        return by_key

    # --- public API ---------------------------------------------------

    def get(
        self,
        row_key: str,
        *,
        columns: dict[str, list[str]] | None = None,
        max_versions: int | None = None,
        ts_range: tuple[int, int] | None = None,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> list[tuple]:
        return self.multi_get(
            [row_key],
            columns=columns,
            max_versions=max_versions,
            ts_range=ts_range,
            now_us=now_us,
            snapshot_seq=snapshot_seq,
        ).get(row_key, [])

    def multi_get(
        self,
        keys: list[str],
        *,
        columns: dict[str, list[str]] | None = None,
        max_versions: int | None = None,
        ts_range: tuple[int, int] | None = None,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> dict[str, list[tuple]]:
        """Batched point reads. Returns row_key → visible cells
        (row_key, cf, qualifier, ts, value), newest-first per column —
        the iteration order of `RowReader::ToMap`
        (include/tera/reader.h:52-55)."""
        schema = self.schema
        if schema is not None and schema.kv_mode:
            raise ValueError("use get_kv for KV-mode tables")
        if now_us is None:
            import time as _t

            now_us = int(_t.time() * 1_000_000)
        by_key = self._read_cells(list(dict.fromkeys(keys)), now_us=now_us)
        out: dict[str, list[tuple]] = {}
        for k, rows in by_key.items():
            if snapshot_seq is not None:
                rows = [r for r in rows if r[6] <= snapshot_seq]
            cells = fold_row(rows, schema, now_us=now_us)
            # scan-level semantics, mirroring scan.py steps 3-4:
            # version cap counts BEFORE projection/time-range post-filters
            if max_versions is not None:
                per_col: dict[tuple, int] = defaultdict(int)
                kept = []
                for c in sorted(cells, key=lambda c: (c[1], c[2], -c[3])):
                    per_col[(c[1], c[2])] += 1
                    if per_col[(c[1], c[2])] <= max_versions:
                        kept.append(c)
                cells = kept
            if columns:
                cells = [
                    c
                    for c in cells
                    if c[1] in columns and (not columns[c[1]] or c[2] in columns[c[1]])
                ]
            if ts_range is not None:
                cells = [c for c in cells if ts_range[0] <= c[3] <= ts_range[1]]
            cells.sort(key=lambda c: (c[1], c[2], -c[3]))
            if cells:
                out[k] = cells
        return out

    def scan_range(
        self,
        start: str | None = None,
        end: str | None = None,
        *,
        columns: dict[str, list[str]] | None = None,
        max_versions: int | None = None,
        ts_range: tuple[int, int] | None = None,
        number_limit: int | None = None,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ):
        """Client-side bounded ordered scan — the per-RPC
        `LowLevelScan` shape (src/io/tablet_io.cc:939-1137) for small
        ranges: footer bounds prune to the row groups overlapping
        [start, end), the rows fold locally, and cells stream back in
        (row_key, cf, qualifier, ts desc) order. Use the Spark `scan`
        operator for large ranges — this path is for interactive
        range reads (teracli scan ergonomics) where job latency
        dominates."""
        schema = self.schema
        if schema is not None and schema.kv_mode:
            raise ValueError("scan_range serves table-mode; use kv view for KV scans")
        if now_us is None:
            import time as _t

            now_us = int(_t.time() * 1_000_000)
        columns_arg = _CELL_COLS
        rollbacks = self._get_rollbacks()
        watermark = self._get_watermark()
        gaps = self._get_gaps()
        by_key: dict[str, list[tuple]] = defaultdict(list)
        for f in self._files():
            for rg, lo, hi, _ in self._file_meta(f):
                if lo is not None and hi is not None:
                    if (end is not None and lo >= end) or (
                        start is not None and hi < start
                    ):
                        continue
                pf = pq.ParquetFile(str(f))
                has_ttl = "expire_ts" in pf.schema_arrow.names
                read_cols = columns_arg + (["expire_ts"] if has_ttl else [])
                t = pf.read_row_group(rg, columns=read_cols)
                m = None
                if start is not None:
                    m = pc.greater_equal(t["row_key"], start)
                if end is not None:
                    lt = pc.less(t["row_key"], end)
                    m = lt if m is None else pc.and_(m, lt)
                if m is not None:
                    t = t.filter(m)
                for row in zip(*(t[c].to_pylist() for c in read_cols)):
                    seq = row[len(columns_arg) - 1]
                    if any(r["after"] < seq <= r["upto"] for r in rollbacks):
                        continue
                    if watermark is not None and seq > watermark:
                        continue
                    if any(lo <= seq <= hi for lo, hi in gaps):
                        continue  # commit-CAS gap mask (same as read_oplog)
                    if snapshot_seq is not None and seq > snapshot_seq:
                        continue
                    if has_ttl:
                        exp = row[-1]
                        if exp is not None and 0 < exp <= now_us:
                            continue
                        row = row[: len(columns_arg)]
                    by_key[row[0]].append(row)

        out: list[tuple] = []
        for k in sorted(by_key):
            cells = fold_row(by_key[k], schema, now_us=now_us)
            if max_versions is not None:
                per_col: dict[tuple, int] = defaultdict(int)
                kept = []
                for c in sorted(cells, key=lambda c: (c[1], c[2], -c[3])):
                    per_col[(c[1], c[2])] += 1
                    if per_col[(c[1], c[2])] <= max_versions:
                        kept.append(c)
                cells = kept
            if columns:
                cells = [
                    c
                    for c in cells
                    if c[1] in columns and (not columns[c[1]] or c[2] in columns[c[1]])
                ]
            if ts_range is not None:
                cells = [c for c in cells if ts_range[0] <= c[3] <= ts_range[1]]
            cells.sort(key=lambda c: (c[1], c[2], -c[3]))
            out.extend(cells)
            if number_limit is not None and len(out) >= number_limit:
                return out[:number_limit]
        return out

    def get_kv(self, key: str, *, now_us: int | None = None):
        """KV-mode point read: newest write by seq wins, NULL value is
        a tombstone, expired TTL keys invisible (kv_current_view twin)."""
        if not self._kv:
            raise ValueError("use get for table-mode tables")
        if now_us is None:
            import time as _t

            now_us = int(_t.time() * 1_000_000)
        rows = self._read_cells([key]).get(key, [])
        if not rows:
            return None
        key_, value, expire, seq = max(rows, key=lambda r: r[3])
        if value is None:
            return None
        if expire is not None and expire > 0 and expire <= now_us:
            return None
        return value
