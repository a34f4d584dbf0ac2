"""olap_query_mix: 14 read-only registry queries over a seeded star schema.

Each op builds `QUERIES[name](spark, data_dir)` and executes it to
Spark's `noop` sink. Short ops whose table open and build are a large
share of the op, so catalog and planning changes show here.

Output check: an untimed verifying pass collects every query and
compares it with the query's `registry.ORACLES` DuckDB result on the
same tables (row count, column names, order-insensitive values). The
same pass records an order-insensitive digest of the verified result, taken with
`DataFrame.observe` while the rows stream out. Every later op observes
its digest on the way into the `noop` sink and must match; an op whose
digest differs is collected again, untimed, and compared with the
oracle directly.
"""

from __future__ import annotations

import math
import os

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen_star
from tracer import Tracer

OPS = [
    "q1_pricing_summary", "q3_top_unshipped", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q9_product_profit", "q18_large_orders",
    "agg_rollup_sales", "window_top3_parts_per_supplier",
    "topk_customers_by_revenue", "sessionize_events", "events_tumbling_1h",
    "asof_join_purchase_to_view", "pipeline_declarative_demo",
    "upsert_orders_corrections",
]


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v + 0.0, 9)
    return v


def normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order, floats rounded to 9 places
    (-0.0 folded into 0.0), sorted: the comparison the engine's parity
    tests use."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def arrow_rows(table) -> list[tuple]:
    """Rows of a pyarrow Table as tuples, in column order."""
    return list(zip(*(c.to_pylist() for c in table.columns)))


def observed(df, obs: Observation):
    """`df` with an order-insensitive digest of its rows attached."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("h1"),
        F.sum(F.hash(*cols).cast("long")).alias("h2"),
    )


class OlapQueryMix:
    name = "olap_query_mix"
    ops = OPS
    verify_ops = OPS

    def __init__(self, work_dir: str, seed: int, sf: float):
        self.seed = seed
        self.sf = sf
        self.data_dir = os.path.join(work_dir, "star")
        self.table_rows: dict[str, int] = {}
        self.op_tables: dict[str, set[str]] = {}
        self.oracle: dict[str, tuple[list[str], list[tuple]]] = {}
        self.digest: dict[str, dict | None] = {}

    def generate(self) -> list[str]:
        self.table_rows = gen_star.write(self.sf, self.seed, self.data_dir)
        return [os.path.join(self.data_dir, f"{t}.parquet") for t in sorted(self.table_rows)]

    def open_inputs(self, spark) -> None:
        from statcan_etl_pipeline_spark.catalog import TABLES, load_table

        for t in TABLES:
            load_table(spark, self.data_dir, t)

    def prepare(self, spark) -> None:
        """DuckDB oracle results for every op, once per seed."""
        from statcan_etl_pipeline_spark.catalog import TABLES, table_path
        from statcan_etl_pipeline_spark.registry import ORACLES

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.data_dir, t)}')")
            for name in OPS:
                res = con.execute(ORACLES[name])
                cols = [d[0] for d in res.description]
                self.oracle[name] = (cols, normalize(cols, res.fetchall()))
        finally:
            con.close()

    def rows_in(self, name: str) -> int:
        """Rows of the tables `name` opened when it was verified; none if
        its verification raised before it opened a table."""
        return sum(self.table_rows[t] for t in self.op_tables.get(name, ()))

    def verify(self, spark, name: str):
        """Collect `name` and record the tables it opens. Returns the
        check, to be called after the timer stops: it compares the rows
        with the oracle and records the digest of a verified result."""
        import statcan_etl_pipeline_spark.catalog as catalog
        from statcan_etl_pipeline_spark.registry import QUERIES

        rec = Tracer(spark, enabled=True)
        rec.instrument({"catalog": [catalog]})
        try:
            df = QUERIES[name](spark, self.data_dir)
        finally:
            rec.restore()
        self.op_tables[name] = {s["args"][-1] for s in rec.spans if s["name"] == "catalog.load_table"}
        obs = Observation()
        table = observed(df, obs).toArrow()
        digest = obs.get

        def check() -> bool:
            ok = self._compare(name, df.columns, arrow_rows(table))
            self.digest[name] = digest if ok else None
            return ok

        return check

    def _compare(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        want_cols, want = self.oracle[name]
        return sorted(cols) == sorted(want_cols) and normalize(cols, rows) == want

    def run_op(self, spark, name: str, tracer: Tracer):
        """One timed op: build, execute to `noop`. Returns the output
        check, to be called after the timer stops."""
        from statcan_etl_pipeline_spark.registry import QUERIES

        with tracer.span("queries.build", query=name):
            df = QUERIES[name](spark, self.data_dir)
        obs = Observation()
        out = observed(df, obs)
        if tracer.enabled:
            with tracer.span("queries.plan", query=name) as rec:
                qe = out._jdf.queryExecution()
                qe.executedPlan()
                rec["phases_s"] = _phase_seconds(qe)
        with tracer.span("queries.exec", query=name):
            out.write.format("noop").mode("overwrite").save()
        got = obs.get
        return lambda: self.check(spark, name, got)

    def check(self, spark, name: str, got: dict) -> bool:
        """True when `got` is the verified result's digest; otherwise the
        query is collected again and compared with its oracle."""
        from statcan_etl_pipeline_spark.registry import QUERIES

        if self.digest.get(name) is not None and got == self.digest[name]:
            return True
        df = QUERIES[name](spark, self.data_dir)
        return self._compare(name, df.columns, arrow_rows(df.toArrow()))

    def profile(self, spark, name: str) -> dict[str, int]:
        """Executed-plan metrics of one extra, untimed rep."""
        from statcan_etl_pipeline_spark.plans.metrics import profile
        from statcan_etl_pipeline_spark.registry import QUERIES

        return profile(QUERIES[name](spark, self.data_dir))


def _phase_seconds(qe) -> float:
    """Sum of the Catalyst phase times in a QueryExecution's tracker."""
    total = 0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0
