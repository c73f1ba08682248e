"""cell_fold_scaled: scans and folds over a versioned op-log at rest.

The op-log is generated from the seed: every row has four qualifiers
of family ``a`` with 1-5 PUT versions of 100-byte values, a big-endian
ADD counter in family ``n`` with 1-4 deltas, and a few percent of rows
carry each of the four delete kinds. It is written range-sorted by
row key into several Parquet files, as compaction leaves a table.

Each cycle runs narrow range scans, a medium scan, a wide scan, a
full-table ``current_view`` fold and batch gets in a fixed order, with
ranges, projections, time ranges and key sets drawn from the seed. Every
result is reduced to an all-column digest inside Spark and compared
with the same digest of an independent fold of the same files by the
pure-Python ``Seeker`` (``fold_row``) path.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

import stats
from harness import Ctx, Op, Workload, timed

SCHEMA = "cells { a <maxversions=3>, n }"
ROWS = 16_000
FILES = 8
T0 = 1_700_000_000_000_000
NOW_US = T0 + 86_400_000_000  # fixed fold clock: same answer on every run
QUALS = ["q0", "q1", "q2", "q3"]

# One cycle, in this order; ranges, projections and keys come from the
# seed, so every run measures the same mix.
CYCLE = ["scan_narrow", "batch_get", "scan_medium", "scan_narrow", "fold_full",
         "scan_narrow", "batch_get", "scan_wide"]


def generate(spark, path: str, seed: int, rows: int = ROWS, files: int = FILES) -> None:
    from tera_spark.model import CellOp

    base = seed * 1000

    def u(salt, n, *cols):
        return F.pmod(F.xxhash64(*cols, F.lit(base + salt)), F.lit(n))

    i = F.col("id")

    def cell(cf, qual, ts, op, value):
        return F.struct(
            F.lit(cf).alias("cf"),
            (F.lit(qual) if isinstance(qual, str) else qual).alias("qualifier"),
            ts.cast("long").alias("ts"),
            F.lit(op).cast("int").alias("op"),
            value.cast("binary").alias("value"),
        )

    def val(q, v):
        txt = F.concat_ws(":", i.cast("string"), q.cast("string"), v.cast("string"), F.lit(str(seed)))
        return F.substring(F.concat(F.sha2(txt, 256), F.sha2(F.concat(txt, F.lit("x")), 256)), 1, 100)

    def put_ts(q, v):
        return F.lit(T0) + v * 1000 + u(2, 1000, i, q, v)

    puts = F.flatten(F.transform(F.sequence(F.lit(0), F.lit(len(QUALS) - 1)), lambda q: F.transform(
        F.sequence(F.lit(0), u(1, 5, i, q)),
        lambda v: cell("a", F.concat(F.lit("q"), q.cast("string")), put_ts(q, v), CellOp.PUT, val(q, v)),
    )))
    counters = F.transform(F.sequence(F.lit(0), u(3, 4, i)), lambda k: cell(
        "n", "hits", F.lit(T0 + 500) + k * 1000, CellOp.ADD,
        F.unhex(F.lpad(F.hex(u(4, 1000, i, k) + 1), 16, "0")),
    ))
    nul = F.lit(None).cast("binary")
    marks = F.filter(F.array(
        F.when(u(5, 100, i) < 2, cell("", "", F.lit(T0 + 1500), CellOp.DEL_ROW, nul)),
        F.when(u(6, 100, i) < 3, cell("a", "", F.lit(T0 + 2500), CellOp.DEL_FAMILY, nul)),
        F.when(u(7, 100, i) < 4, cell("a", "q1", F.lit(T0 + 1500), CellOp.DEL_QUALIFIERS, nul)),
        F.when(u(8, 100, i) < 4, cell("a", "q2", put_ts(F.lit(2), F.lit(0)), CellOp.DEL_QUALIFIER, nul)),
    ), lambda c: c.isNotNull())
    cells = (
        spark.range(rows)
        .select(i, F.posexplode(F.concat(puts, counters, marks)).alias("pos", "c"))
        .select(
            F.format_string("row%08d", i).alias("row_key"), "c.cf", "c.qualifier", "c.ts", "c.op",
            "c.value", (i * 64 + F.col("pos")).alias("seq"),
        )
    )
    (
        cells.repartitionByRange(files, "row_key")
        .sortWithinPartitions("row_key", "cf", "qualifier", F.desc("ts"))
        .write.mode("overwrite")
        .option("parquet.block.size", str(1 << 20))
        .parquet(path)
    )


def key(n: int) -> str:
    return f"row{n:08d}"


def spark_digest(visible):
    """(count, sum of CRC32) over every visible cell, computed in Spark
    from all five output columns (stats.cell_crc is the Python twin)."""
    txt = F.concat_ws(stats.CELL_SEP, "row_key", "cf", "qualifier", F.col("ts").cast("string"), F.hex("value"))
    return visible.select(F.crc32(txt.cast("binary")).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("h"), F.lit(0)).alias("s")
    )


def expected(view: dict[str, list[tuple]], keys, columns=None, families=None, ts_range=None):
    """Digest of the Python fold restricted like a scan: rows in
    ``keys``, the cf/qualifier projection, then the time range."""
    out = []
    for k in keys:
        for c in view.get(k, ()):
            if columns is not None or families is not None:
                in_cols = columns is not None and c[1] in columns and (
                    not columns[c[1]] or c[2] in columns[c[1]])
                if not (in_cols or (families is not None and c[1] in families)):
                    continue
            if ts_range is not None and not (ts_range[0] <= c[3] <= ts_range[1]):
                continue
            out.append(c)
    return stats.cells_digest(out)


class CellFold(Workload):
    name = "cell_fold_scaled"
    nominal_cycle_s = 15.0

    def __init__(self, seed: int, rows: int = ROWS):
        self.seed = seed
        self.rows = rows

    def setup(self, ctx: Ctx) -> None:
        from tera_spark.model import CELL_SCHEMA
        from tera_spark.operators.seek import Seeker
        from tera_spark.registry import parse_schema_string

        self.spark = ctx.spark
        self._tracer = ctx.tracer
        self.path = str(ctx.workdir / "cells_oplog")
        self.schema = parse_schema_string(SCHEMA)
        self.cell_schema = CELL_SCHEMA
        with timed(ctx, "setup.generate"):
            generate(ctx.spark, self.path, self.seed, self.rows)
        with timed(ctx, "check.python_fold"):
            self.view: dict[str, list[tuple]] = {}
            for c in Seeker(path=self.path, schema=self.schema).scan_range(now_us=NOW_US):
                self.view.setdefault(c[0], []).append((c[0], c[1], c[2], c[3], bytes(c[4])))
            self.full = expected(self.view, self.view.keys())
        with timed(ctx, "setup.warm"):
            # a whole cycle: each operation costs 1-3 s in a fresh JVM
            for op in self._ops(CYCLE, random.Random(f"{self.seed}:warm")):
                res = op.run()
                if not op.check(res):
                    ctx.verify_failures.append(f"warm {op.label}: {res}")

    # --- operations ---------------------------------------------------
    def _read(self):
        return self.spark.read.schema(self.cell_schema).parquet(self.path)

    def _op(self, kind, label, build, want) -> Op:
        tr = self._tracer

        def run():
            v = build(self._read())
            d = spark_digest(v)
            with tr.span("spark.plan"):
                if tr.enabled:
                    d._jdf.queryExecution().executedPlan()
            with tr.span("spark.exec"):
                row = d.collect()[0]
            return int(row["n"]), int(row["s"])

        return Op(kind, label, run, lambda got: got == want, rows_out=lambda got: got[0])

    def _scan_op(self, kind, rng, width) -> Op:
        from tera_spark.operators import scan as scan_mod

        lo = rng.randrange(0, max(self.rows - width, 1))
        hi = lo + width
        columns = families = ts_range = None
        shape = rng.randrange(4)
        if shape == 1:
            columns = {"a": rng.sample(QUALS, 2)}
        elif shape == 2:
            families = ["n"]
        elif shape == 3:
            a = T0 + rng.randrange(0, 3000)
            ts_range = (a, a + rng.randrange(500, 3000))
        desc = scan_mod.ScanDescriptor(
            start=key(lo), end=key(hi), columns=columns, column_families=families,
            ts_start=ts_range[0] if ts_range else None, ts_end=ts_range[1] if ts_range else None,
        )
        want = expected(self.view, [key(n) for n in range(lo, hi)], columns, families, ts_range)
        label = f"{kind}[{lo}:{hi}]" + (f" cols={columns}" if columns else "") + (
            f" cf={families}" if families else "") + (f" ts={ts_range}" if ts_range else "")
        return self._op(kind, label, lambda cells: scan_mod.scan(cells, self.schema, desc, now_us=NOW_US), want)

    def _batch_get_op(self, rng) -> Op:
        from tera_spark.operators import scan as scan_mod

        keys = [key(rng.randrange(self.rows + self.rows // 10)) for _ in range(rng.randrange(20, 40))]
        want = expected(self.view, dict.fromkeys(keys))
        return self._op("batch_get", f"batch_get[{len(keys)} keys]",
                        lambda cells: scan_mod.batch_get(cells, self.schema, keys, now_us=NOW_US), want)

    def _fold_op(self) -> Op:
        from tera_spark.operators import view as view_mod

        return self._op("fold_full", "current_view[all]",
                        lambda cells: view_mod.current_view(cells, self.schema, now_us=NOW_US), self.full)

    def _ops(self, kinds: list[str], rng: random.Random) -> list[Op]:
        ops = []
        for kind in kinds:
            if kind == "scan_narrow":
                ops.append(self._scan_op(kind, rng, rng.randrange(10, 40)))
            elif kind == "scan_medium":
                ops.append(self._scan_op(kind, rng, rng.randrange(self.rows // 15, self.rows // 8)))
            elif kind == "scan_wide":
                ops.append(self._scan_op(kind, rng, rng.randrange(self.rows // 2, self.rows)))
            elif kind == "batch_get":
                ops.append(self._batch_get_op(rng))
            else:
                ops.append(self._fold_op())
        return ops

    def cycle(self, i: int) -> list[Op]:
        return self._ops(CYCLE, random.Random(f"{self.seed}:{i}"))
