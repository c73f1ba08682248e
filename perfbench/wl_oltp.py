"""oltp_sdk_mix: one SDK client reading and writing a preloaded table.

The table has a two-version value family ``d``, a counter family ``c``
and a single-version status family ``s``. The client runs rounds of
writes with reads between them, and every round ends with
``Catalog.maintenance``. The proportions follow YCSB's workload B
("read mostly": 95% reads, 5% writes) with keys drawn by the same
zipf-like rank rule as ``bench_oltp.py`` (TERA_OLTP_DIST=zipf, the
shape of the reference's YCSB adapter); short scans have YCSB
workload E's lengths (uniform, 1 to 100 rows). A round has enough
writes that the op-log grows from the compacted layout to tens of
files before maintenance folds it back. Every read is checked against
``oltp_model.TableModel``, which replays every write the benchmark
made.
"""

from __future__ import annotations

import random
from pathlib import Path

from harness import Ctx, Op, OpRecord, Workload, timed
from oltp_model import TableModel

SCHEMA = "oltp { d <maxversions=2>, c, s }"
MAX_VERSIONS = {"d": 2, "c": 1, "s": 1}
ROWS = 1_000
T0 = 1_700_000_000_000_000

# One round: WRITES_PER_ROUND slots, each READS_PER_WRITE reads then one
# write (95:5, YCSB workload B), then maintenance. Each write is one
# commit, which adds two op-log files (one data file with one row group,
# one empty): the compacted layout (4 files on 4 cores) grows to about
# 28 files before maintenance. Writes are puts (YCSB's updates) except
# two increments and one check-and-apply (the read-modify-write verbs,
# one server-side and one conditional); the check-and-apply expects the
# current value in even rounds (it lands) and a stale one in odd rounds
# (it is refused). Reads are point gets except two multi_gets and one
# short scan. The multi_gets ask for MULTI_GET_KEYS keys: the first
# meets the compacted op-log (4 row groups) and auto-routes to the Spark
# join, the second meets 11 or more row groups and takes the seek path.
WRITES_PER_ROUND = 12
READS_PER_WRITE = 19
MULTI_GET_KEYS = 4
MAX_SCAN_ROWS = 100
WRITE_AT = {3: "increment", 6: "cas", 9: "increment"}
READ_AT = {0: "multi_get", 4: "scan", 8: "multi_get"}

def round_kinds() -> list[str]:
    kinds = []
    for slot in range(WRITES_PER_ROUND):
        reads = ["get"] * READS_PER_WRITE
        if slot in READ_AT:
            reads[READS_PER_WRITE // 2] = READ_AT[slot]
        kinds += reads + [WRITE_AT.get(slot, "put")]
    return kinds + ["maintenance"]


ROUND = round_kinds()
# warm-up: the first execution of the fold behind a join-routed
# multi_get, of the commit and of compaction. The short scan and the
# check-and-apply reuse the fold; their first executions stay in the
# first round, which keeps a run's set-up and total time down.
WARM = ["get", "multi_get", "put", "maintenance"]
WRITES = {"put", "increment", "cas"}  # op kinds


def key(n: int) -> str:
    return f"user{n:06d}"


def user_bytes(row: str, cf: str, qu: str, value: bytes) -> int:
    return len(row) + len(cf) + len(qu) + 8 + len(value)


class Oltp(Workload):
    name = "oltp_sdk_mix"
    nominal_cycle_s = 14.0  # one round
    min_cycles = 2          # at least two write-then-maintenance rounds

    def __init__(self, seed: int, rows: int = ROWS):
        self.seed = seed
        self.rows = rows
        self.model = TableModel(MAX_VERSIONS)
        self._ts = T0 + 1_000_000
        self.written_user_bytes = 0  # by the measured writes
        self._counted_user_bytes = 0

    def _next_ts(self) -> int:
        self._ts += 10
        return self._ts

    def _files(self) -> dict[str, int]:
        return {p.name: p.stat().st_size for p in self.oplog.glob("part-*.parquet")}

    def setup(self, ctx: Ctx) -> None:
        from tera_spark.client import Client
        from tera_spark.operators.mutation import MutationBatch

        self.spark = ctx.spark
        rng = random.Random(f"{self.seed}:preload")
        with timed(ctx, "setup.generate"):
            client = Client(ctx.spark, str(ctx.workdir / "oltp"))
            client.create_table(SCHEMA)
            self.table = client.open_table("oltp")
            self.catalog = client.catalog
            self.oplog = Path(self.catalog.oplog_path("oltp"))
            batch = MutationBatch()
            for n in range(self.rows):
                r = key(n)
                for qu in ("v0", "v1"):
                    v = rng.randbytes(50).hex().encode()
                    batch.put(r, "d", qu, v, ts=T0 + n)
                    self.model.put(r, "d", qu, T0 + n, v)
                delta = rng.randrange(1, 100)
                batch.add(r, "c", "hits", delta, ts=T0 + n)
                self.model.add(r, "c", "hits", T0 + n, delta)
                batch.put(r, "s", "state", b"init", ts=T0 + n)
                self.model.put(r, "s", "state", T0 + n, b"init")
            self.table.apply_mutation(batch)
        with timed(ctx, "setup.warm"):
            for op in self._ops(WARM, random.Random(f"{self.seed}:warm"), fresh_cas=True):
                self._before = self._files()
                res = op.run()
                if not op.check(res):
                    ctx.verify_failures.append(f"warm {op.label}")
        self._before = self._files()
        self._counted_user_bytes = self.written_user_bytes

    # --- operations ---------------------------------------------------
    def _zipf(self, rng: random.Random) -> str:
        return key(int(self.rows * rng.random() ** 4))

    def _get(self, rng) -> Op:
        r = self._zipf(rng)
        return Op("get", f"get {r}", lambda: self.table.get(r, seek=True),
                  lambda got: got == self.model.row_map(r))

    def _multi_get(self, rng) -> Op:
        rows = [self._zipf(rng) for _ in range(MULTI_GET_KEYS)]
        return Op("multi_get", f"multi_get {len(rows)} keys", lambda: self.table.multi_get(rows),
                  lambda got: got == self.model.multi_get(rows))

    def _scan(self, rng) -> Op:
        from tera_spark.operators.scan import ScanDescriptor

        lo = int(self.rows * rng.random() ** 4)
        start, end = key(lo), key(min(lo + rng.randint(1, MAX_SCAN_ROWS), self.rows))

        def run():
            it = self.table.scan(ScanDescriptor(start=start, end=end))
            return [(x.row_key, x.cf, x.qualifier, x.ts, bytes(x.value)) for x in it]

        return Op("scan", f"scan [{start},{end})", run, lambda got: got == self.model.scan(start, end),
                  rows_out=len)

    def _put(self, rng) -> Op:
        r, qu, v = self._zipf(rng), rng.choice(["v0", "v1"]), rng.randbytes(50).hex().encode()
        ts = []

        def run():
            ts.append(self._next_ts())
            self.table.put(r, "d", qu, v, ts=ts[0])

        def check(_):
            self.model.put(r, "d", qu, ts[0], v)
            self.written_user_bytes += user_bytes(r, "d", qu, v)
            return True

        return Op("put", f"put {r}", run, check)

    def _increment(self, rng) -> Op:
        r, delta = self._zipf(rng), rng.randrange(1, 1000)
        ts = []

        def run():
            ts.append(self._next_ts())
            self.table.increment_column_value(r, "c", "hits", delta, ts=ts[0])

        def check(_):
            self.model.add(r, "c", "hits", ts[0], delta)
            self.written_user_bytes += user_bytes(r, "c", "hits", b"\0" * 8)
            return True

        return Op("increment", f"increment {r}", run, check)

    def _cas(self, rng, fresh: bool) -> Op:
        from tera_spark.operators.mutation import MutationBatch

        r = self._zipf(rng)
        new = f"s{rng.randrange(10**6)}".encode()
        args = {}

        def run():
            # the expected value is read from the model at run time:
            # earlier ops of the cycle may have changed it
            cur = self.model.newest(r, "s", "state")
            args["expected"] = cur if fresh else b"stale"
            args["ts"] = self._next_ts()
            batch = MutationBatch().put(r, "s", "state", new, ts=args["ts"])
            return self.table.check_and_apply(r, "s", "state", args["expected"], batch)

        def check(landed):
            want = self.model.check_and_put(r, "s", "state", args["expected"], args["ts"], new)
            if want:
                self.written_user_bytes += user_bytes(r, "s", "state", new)
            return landed == want

        return Op("cas", f"check_and_apply {r} fresh={fresh}", run, check)

    def _maintenance(self) -> Op:
        # the table holds ADD counters, so the policy must pick a major
        # compaction, and it must leave fewer files than it found (the
        # op-log before it is self._before: after_op has not run yet)
        def check(out):
            return out["action"] == "major" and len(self._files()) < len(self._before)

        return Op("maintenance", "maintenance", lambda: self.catalog.maintenance("oltp"), check)

    def _ops(self, kinds: list[str], rng: random.Random, fresh_cas: bool) -> list[Op]:
        make = {"get": self._get, "multi_get": self._multi_get, "scan": self._scan,
                "put": self._put, "increment": self._increment,
                "cas": lambda rng: self._cas(rng, fresh_cas), "maintenance": lambda rng: self._maintenance()}
        return [make[kind](rng) for kind in kinds]

    def cycle(self, i: int) -> list[Op]:
        return self._ops(ROUND, random.Random(f"{self.seed}:{i}"), fresh_cas=i % 2 == 0)

    def finish(self, ctx: Ctx) -> None:
        """After the last compaction: every visible cell of the table,
        read by a full scan, must equal the model."""
        got = [(x.row_key, x.cf, x.qualifier, x.ts, bytes(x.value)) for x in self.table.scan()]
        if got != self.model.scan(key(0), key(self.rows)):
            ctx.verify_failures.append("full scan after the last maintenance")

    # --- accounting ---------------------------------------------------
    def after_op(self, ctx: Ctx, rec: OpRecord) -> None:
        rec.extra["user_bytes"] = self.written_user_bytes - self._counted_user_bytes
        self._counted_user_bytes = self.written_user_bytes
        if rec.kind not in WRITES and rec.kind != "maintenance":
            rec.extra["oplog_files"] = len(self._before)
            return
        now = self._files()
        if rec.kind == "maintenance" and now.keys() != self._before.keys():
            rec.extra["compacted"] = True
            rec.extra["rewrite_bytes"] = sum(s for f, s in now.items() if f not in self._before)
        self._before = now
        rec.extra["oplog_files"] = len(now)

    def space_amp(self) -> float:
        return sum(self._files().values()) / self.model.live_bytes()

    def report(self, ctx: Ctx, recs: list[OpRecord]) -> dict:
        return {"space_amp": round(self.space_amp(), 4), "oplog_files_end": len(self._files())}

    def layer_extras(self, ctx: Ctx, recs: list[OpRecord], spans: list) -> dict:
        by_id = {s.id: s for s in spans}
        mg = [s for s in spans if s.name == "client.multi_get"]
        seek = {s.parent for s in spans if s.name == "operators.seek.multi_get"
                and s.parent in by_id and by_id[s.parent].name == "client.multi_get"}
        user = sum(r.extra.get("user_bytes", 0) for r in recs)
        return {
            "catalog.oplog_files": sum(r.extra["oplog_files"] for r in recs) / len(recs),
            "client.multi_get_seek_share": len(seek) / len(mg) if mg else 0.0,
            "catalog.compactions": sum(1 for r in recs if r.extra.get("compacted")),
            "catalog.rewrite_bytes_per_user_byte": (
                sum(r.extra.get("rewrite_bytes", 0) for r in recs) / user if user else 0.0
            ),
        }
