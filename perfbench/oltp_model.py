"""Expected-value model of an OLTP table: what every read must return,
given every write the benchmark made (the `tera_mark --verify` idea).

Supports what the OLTP mix writes: PUTs (kept newest-first, capped at
the family's max versions) and big-endian int64 ADD counters (value =
wrapped sum of the deltas, ts = newest delta). Every write carries a
distinct timestamp, so no same-ts merge rules are needed.
"""

from __future__ import annotations


def be_i64(v: int) -> bytes:
    return (v & ((1 << 64) - 1)).to_bytes(8, "big")


def _wrap(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


class TableModel:
    def __init__(self, max_versions: dict[str, int]):
        self.max_versions = max_versions
        # row → (cf, qualifier) → versions [(ts, value)] newest-first
        self._puts: dict[str, dict[tuple[str, str], list[tuple[int, bytes]]]] = {}
        # row → (cf, qualifier) → (newest ts, running sum)
        self._adds: dict[str, dict[tuple[str, str], tuple[int, int]]] = {}

    # --- writes -------------------------------------------------------
    def put(self, row: str, cf: str, qu: str, ts: int, value: bytes) -> None:
        vs = self._puts.setdefault(row, {}).setdefault((cf, qu), [])
        vs.append((ts, bytes(value)))
        vs.sort(key=lambda tv: -tv[0])
        del vs[self.max_versions.get(cf, 1):]

    def add(self, row: str, cf: str, qu: str, ts: int, delta: int) -> None:
        cols = self._adds.setdefault(row, {})
        old_ts, total = cols.get((cf, qu), (ts, 0))
        cols[(cf, qu)] = (max(old_ts, ts), _wrap(total + delta))

    def check_and_put(self, row, cf, qu, expected: bytes, ts: int, value: bytes) -> bool:
        """CheckAndApply of one put: lands iff the newest visible value
        equals ``expected``. Returns whether it landed."""
        if self.newest(row, cf, qu) != expected:
            return False
        self.put(row, cf, qu, ts, value)
        return True

    # --- reads --------------------------------------------------------
    def newest(self, row: str, cf: str, qu: str) -> bytes | None:
        cells = [c for c in self.cells(row) if c[1] == cf and c[2] == qu]
        return cells[0][4] if cells else None

    def cells(self, row: str) -> list[tuple]:
        """Visible cells of one row as (row, cf, qualifier, ts, value),
        ordered (cf, qualifier, ts desc) — Seeker/multi_get order."""
        out = [(row, cf, qu, ts, v) for (cf, qu), vs in self._puts.get(row, {}).items() for ts, v in vs]
        out += [(row, cf, qu, ts, be_i64(s)) for (cf, qu), (ts, s) in self._adds.get(row, {}).items()]
        return sorted(out, key=lambda c: (c[1], c[2], -c[3]))

    def row_map(self, row: str) -> dict[str, dict[str, list[tuple[int, bytes]]]]:
        """Table.get shape: {cf: {qualifier: [(ts, value) newest-first]}}."""
        out: dict = {}
        for _, cf, qu, ts, v in self.cells(row):
            out.setdefault(cf, {}).setdefault(qu, []).append((ts, v))
        return out

    def multi_get(self, rows: list[str]) -> dict[str, list[tuple]]:
        return {r: cs for r in dict.fromkeys(rows) if (cs := self.cells(r))}

    def scan(self, start: str, end: str) -> list[tuple]:
        """Visible cells with start <= row < end in scan order."""
        rows = sorted(set(self._puts) | set(self._adds))
        return [c for r in rows if start <= r < end for c in self.cells(r)]

    def live_bytes(self) -> int:
        """User bytes of the visible cells: key parts + 8-byte ts + value."""
        return sum(
            len(r) + len(cf) + len(qu) + 8 + len(v)
            for row in set(self._puts) | set(self._adds)
            for r, cf, qu, _, v in self.cells(row)
        )
