"""wds_etl_publish: publish StatCan-WDS products end to end.

One op publishes one product:

1. `sources.read_wds_csv` types the full-table CSV;
2. `plans.run_pipeline` runs a spec that drops malformed lines, keeps
   the latest release per (vector, ref_date), adds the
   period-over-period change and a year column, and, as its `write`
   step, lands many small parquet files per year partition;
3. `sources.build_dimension(GEO)` builds the geography dimension;
4. `sinks.compact_parquet` compacts the year partitions;
5. `sinks.read_back` reads the compacted table and aggregates it.

The only workload that writes, and it never calls `catalog.load_table`.

Output check, per op: the read-back row count, value sum and count of
period-over-period changes per year equal an independent DuckDB
computation over the CSV (made once per seed, before timing); the GEO
dimension has one member per generated geography; compaction kept
every row and did not increase the file count.
"""

from __future__ import annotations

import math
import os
import shutil

import duckdb
from pyspark.sql import functions as F

import gen_wds
from tracer import Tracer

RELEASE_ORDER = "CASE SYMBOL WHEN 'r' THEN 2 WHEN 'p' THEN 0 ELSE 1 END"
SMALL_FILES_PER_YEAR = 2


def pipeline_spec(out_path: str) -> dict:
    return {
        "source": "wds",
        "steps": [
            {"op": "filter", "expr": "vector IS NOT NULL AND ref_date IS NOT NULL"},
            {"op": "derive", "name": "release_rank",
             "expr": f"row_number() OVER (PARTITION BY vector, ref_date ORDER BY {RELEASE_ORDER} DESC)"},
            {"op": "filter", "expr": "release_rank = 1"},
            {"op": "derive", "name": "pop_change",
             "expr": "value - lag(value) OVER (PARTITION BY vector ORDER BY ref_date)"},
            {"op": "derive", "name": "year", "expr": "year(ref_date)"},
            {"op": "select", "exprs": [
                "vector", "COORDINATE", "GEO", "DGUID", *gen_wds.DIMENSIONS, "UOM",
                "SCALAR_FACTOR", "ref_date", "year", "value", "pop_change", "STATUS",
                "SYMBOL", "terminated", "decimals"]},
            {"op": "repartition", "n": SMALL_FILES_PER_YEAR},
            {"op": "write", "path": out_path, "partition_by": ["year"]},
        ],
    }


EXPECTED_SQL = f"""
WITH raw AS (
  SELECT * FROM read_csv(?, header = true, all_varchar = true, null_padding = true)
), latest AS (
  SELECT VECTOR, REF_DATE, TRY_CAST(VALUE AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY VECTOR, REF_DATE ORDER BY {RELEASE_ORDER} DESC) AS rn
  FROM raw WHERE VECTOR IS NOT NULL
), changes AS (
  SELECT *, CAST(substr(REF_DATE, 1, 4) AS INTEGER) AS year,
         value - lag(value) OVER (PARTITION BY VECTOR ORDER BY REF_DATE) AS pop_change
  FROM latest WHERE rn = 1
)
SELECT year, count(*) AS n, sum(value) AS value_sum, count(pop_change) AS n_change
FROM changes GROUP BY year ORDER BY year
"""


def _same(got: dict[int, tuple], want: dict[int, tuple]) -> bool:
    if got.keys() != want.keys():
        return False
    for year, (n, s, c) in want.items():
        gn, gs, gc = got[year]
        if gn != n or gc != c or not math.isclose(gs or 0.0, s or 0.0, rel_tol=1e-9, abs_tol=1e-6):
            return False
    return True


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written table directory."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class WdsEtlPublish:
    name = "wds_etl_publish"
    # Every op is checked against the DuckDB expectations from `prepare`,
    # so no op needs a verifying run first.
    verify_ops: list[str] = []

    def __init__(self, work_dir: str, seed: int, n_products: int, min_rows: int, max_rows: int):
        self.seed = seed
        self.sizes = (n_products, min_rows, max_rows)
        self.csv_dir = os.path.join(work_dir, "wds")
        self.out_dir = os.path.join(work_dir, "published")
        self.products: dict[str, gen_wds.Product] = {}
        self.expected: dict[str, dict[int, tuple]] = {}
        self.ops: list[str] = []

    def generate(self) -> list[str]:
        products = gen_wds.write(self.seed, self.csv_dir, *self.sizes)
        self.products = {p.pid: p for p in products}
        self.ops = [p.pid for p in products]
        return [p.path for p in products]

    def open_inputs(self, spark) -> None:
        from statcan_etl_pipeline_spark.sources import read_wds_csv

        for p in self.products.values():
            read_wds_csv(spark, p.path, gen_wds.DIMENSIONS)

    def prepare(self, spark) -> None:
        """Expected per-year aggregates from DuckDB, once per seed."""
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for pid, p in self.products.items():
                rows = con.execute(EXPECTED_SQL, [p.path]).fetchall()
                self.expected[pid] = {y: (n, s, c) for y, n, s, c in rows}
        finally:
            con.close()

    def rows_in(self, pid: str) -> int:
        return self.products[pid].rows

    def bytes_in(self, pid: str) -> int:
        return os.path.getsize(self.products[pid].path)

    def run_op(self, spark, pid: str, tracer: Tracer):
        """Publish one product. Returns the output check, to be called
        after the timer stops; the check also removes the output."""
        from statcan_etl_pipeline_spark.plans.pipeline import run_pipeline
        from statcan_etl_pipeline_spark.sinks import compact_parquet, read_back
        from statcan_etl_pipeline_spark.sources import build_dimension, read_wds_csv

        p = self.products[pid]
        written = os.path.join(self.out_dir, pid, "written")
        compacted = os.path.join(self.out_dir, pid, "compacted")
        df = read_wds_csv(spark, p.path, gen_wds.DIMENSIONS)
        run_pipeline(pipeline_spec(written), {"wds": df})
        if tracer.enabled:
            n_files, n_bytes = dir_files(written)
            tracer.count(files_written=n_files, bytes_written=n_bytes, bytes_in=self.bytes_in(pid))
        with tracer.span("wds.dimension"):
            n_geo = build_dimension(df, "GEO", "geo_id").count()
        stats = compact_parquet(spark, written, compacted, partition_cols=["year"])
        tracer.count(compact_files_in=stats["before"]["n_files"],
                     compact_files_out=stats["after"]["n_files"],
                     bytes_rewritten=stats["after"]["total_bytes"])
        with tracer.span("wds.readback"):
            back = read_back(spark, compacted).groupBy("year").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"),
                F.count("pop_change").alias("n_change"))
            rows = back.collect()
        if tracer.enabled:
            tracer.count(readback_files_read=_files_read(back))
        got = {r["year"]: (r["n"], r["value_sum"], r["n_change"]) for r in rows}
        return lambda: self.check(pid, n_geo, stats, got)

    def check(self, pid: str, n_geo: int, stats: dict, got: dict[int, tuple]) -> bool:
        shutil.rmtree(os.path.join(self.out_dir, pid), ignore_errors=True)
        return (n_geo == self.products[pid].geos
                and 0 < stats["after"]["n_files"] <= stats["before"]["n_files"]
                and _same(got, self.expected[pid]))

    def parse(self, spark, pid: str) -> dict:
        """A `noop` pass over the lazy `read_wds_csv` output: its time is
        the parse cost; rows and null VALUE cells are counted on the way."""
        from pyspark.sql import Observation

        from statcan_etl_pipeline_spark.sources import read_wds_csv

        obs = Observation()
        df = read_wds_csv(spark, self.products[pid].path, gen_wds.DIMENSIONS)
        df.observe(obs, F.count(F.lit(1)).alias("rows"),
                   F.count_if(F.col("value").isNull()).alias("null_values")
                   ).write.format("noop").mode("overwrite").save()
        return obs.get


def _files_read(df) -> int:
    from statcan_etl_pipeline_spark.plans.metrics import execution_metrics

    return sum(v for cls, name, v in execution_metrics(df)
               if "FileSourceScan" in cls and name == "numFiles")
