"""analytics_mix: the 21 headline queries over a seeded corpus.

The seed generates the ten-table corpus (``corpus.py``). Each cycle is
one pass over the queries in a fixed order. An operation builds the
query's DataFrame (``queries`` layer), plans it and collects every
output row to the driver, so no column can be pruned away; the rows
must equal the query's DuckDB oracle on the same corpus.

The first pass is each query's first execution in the session, the
cost a batch job pays: codegen compilation is part of it. The warm-up
before it brings the JVM past class loading and early JIT with a
generic scan/join/aggregate job that shares no plan with the 21
queries. The order is fixed because a first execution is cheaper when
an earlier query already compiled code it shares (a shuffled order
moved single queries by 3x between runs).
"""

from __future__ import annotations

from pathlib import Path

import corpus
import stats
from harness import Ctx, Op, Workload, timed

# The headline set of bench.py at the time this benchmark was written,
# frozen here so a change to bench.py cannot change the benchmark.
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q13_cust_order_distribution", "q18_large_volume_customer",
    "q_topk_per_group", "cell_multiversion_trim", "cell_counter_add_merge",
    "cell_tombstone_mask", "events_sessionize", "events_tumbling_window",
    "events_m4_downsample", "events_dau_mau_stickiness", "dedup_exact_hash",
    "dedup_lsh_verified", "ann_cosine_topk", "ann_int8_topk", "text_quality_score",
    "pipeline_doc_chunking", "pipeline_dsir_importance",
]
SF = 0.01


def warm_up(spark, sf_dir: Path) -> None:
    """Scan, filter, join, aggregate, window and sort over the corpus:
    JVM warm-up without compiling any of the measured plans."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(str(sf_dir / "lineitem.parquet"))
    od = spark.read.parquet(str(sf_dir / "orders.parquet"))
    j = li.filter(F.col("l_quantity") > 1).join(od, li.l_orderkey == od.o_orderkey)
    j.groupBy("o_orderpriority").agg(F.sum("l_extendedprice").alias("s")).orderBy("s").toPandas()
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"))
    od.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 3).toPandas()


def oracle_connection(sf_dir: Path):
    """DuckDB over the corpus, with ``spark_round`` defined for the
    oracle SQL (``stats.with_spark_round``)."""
    import duckdb
    from duckdb.typing import DOUBLE, INTEGER

    con = duckdb.connect()
    con.create_function("spark_round", stats.spark_round, [DOUBLE, INTEGER], DOUBLE)
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
    return con


class Analytics(Workload):
    name = "analytics_mix"
    nominal_cycle_s = 30.0  # one pass

    def __init__(self, seed: int):
        self.seed = seed

    def setup(self, ctx: Ctx) -> None:
        import tera_spark.queries as Q

        self.spark = ctx.spark
        self._tracer = ctx.tracer
        with timed(ctx, "setup.generate"):
            self.sf_dir = ctx.workdir / "corpus"
            corpus.generate(self.sf_dir, SF, self.seed)
            Q.load_all()
            self.fns = {n: Q.QUERIES[n] for n in QUERIES}
        with timed(ctx, "check.oracle"):
            con = oracle_connection(self.sf_dir)
            self.want = {
                n: stats.norm_pandas(con.execute(stats.with_spark_round(Q.ORACLES[n])).df())
                for n in QUERIES
            }
            con.close()
        with timed(ctx, "setup.warm"):
            warm_up(ctx.spark, self.sf_dir)

    def _op(self, name: str) -> Op:
        tr, fn = self._tracer, self.fns[name]

        def run():
            with tr.span("queries.construct"):
                df = fn(self.spark, str(self.sf_dir))
            with tr.span("spark.plan"):
                if tr.enabled:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.exec"):
                return df.toPandas()

        return Op("query", name, run, lambda pdf: stats.norm_pandas(pdf) == self.want[name])

    def cycle(self, i: int) -> list[Op]:
        return [self._op(n) for n in QUERIES]
