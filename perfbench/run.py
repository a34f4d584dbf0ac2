#!/usr/bin/env python3
"""The repository's benchmark: seeded, closed-loop, single-client workloads.

    python3 perfbench/run.py --workload olap_query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives Spark `local[nproc]`
(`SPARK_GRAFT_CPUS`, default the CPUs this process may use); each op
starts after the previous one finished. A run:

1. generates the workload's inputs from `--seed` and checks their
   content hash against `input_hashes.json` when the seed is listed
   there (a mismatch exits with code 3);
2. sets up: starts the Spark session once (a cold start, JVM launch
   included) and opens the inputs once, computes the DuckDB
   expectations (untimed), runs the workload's verifying ops, if any,
   then untimed warm-up ops of the timed shape, each checked like
   every other op;
3. runs one timed pass, each op shape once in a seeded order, and
   checks every op's output;
4. with `--trace 1`, runs traced ops as well (see `tracer.py`) and
   reports per-layer metrics instead of the end-to-end ones.

`--seconds` is accepted for the benchmark's command line and recorded
in the provenance; a run's size is fixed per workload, so every run
makes the same ops whatever the machine's speed.

Stdout ends with a provenance line and then the result line
`{"correct", "attempted", "failed", "metrics"}`. A record with every op
time, the provenance and, when traced, every span goes to
`.perfbench/results/`. All files are written under `.perfbench/` in the
repository root; the work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "statcan_etl_pipeline_spark"

from tracer import Tracer  # noqa: E402

# Warm-up and traced ops are taken from the head of their own seeded
# pass order. Warm-up runs the timed ops' own code path, so the timed
# pass starts near the end of the JIT slope.
WORKLOADS = {
    "olap_query_mix": {
        "sf": 0.01,
        "warmup_ops": 3,
        "traced_ops": 7,
    },
    "wds_etl_publish": {
        "products": 11,
        "min_rows": 3_000,
        "max_rows": 30_000,
        "warmup_ops": 5,
        "traced_ops": 4,
    },
}
TIMED_PASS = 0

E2E_METRICS = {
    "setup_s": "s", "run_s": "s", "op_s_p50": "s", "op_s_tail": "s", "rows_per_s": "1/s",
}


def end_to_end(setup_s: float, timed: list[dict]) -> dict[str, float]:
    """End-to-end metrics of the timed pass's op log. Every op has a
    time, a failed one too (up to its raise), so a failure shows in
    `failed` and never removes a metric.

    `op_s_tail` is the 90th percentile, interpolated between the two
    nearest ops: a pass of 11 to 14 ops cannot leave ten ops beyond any
    upper percentile, and the maximum alone moves with every stall of
    the host, which the 90th percentile halves."""
    times = [o["s"] for o in timed]
    run_s = sum(times)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "op_s_p50": statistics.median(times),
        "op_s_tail": statistics.quantiles(times, n=10, method="inclusive")[-1],
        "rows_per_s": sum(o["rows_in"] for o in timed) / run_s,
    }


def make_workload(name: str, work_dir: str, seed: int):
    cfg = WORKLOADS[name]
    if name == "olap_query_mix":
        from olap import OlapQueryMix

        return OlapQueryMix(work_dir, seed, cfg["sf"])
    from wds import WdsEtlPublish

    return WdsEtlPublish(work_dir, seed, cfg["products"], cfg["min_rows"], cfg["max_rows"])


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def input_hash(paths: list[str], base: str) -> str:
    """One hash over every input file's relative path and content."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, base).encode())
        h.update(file_sha256(p).encode())
    return h.hexdigest()


def recorded_hashes() -> dict:
    path = HERE / "input_hashes.json"
    return json.loads(path.read_text()) if path.exists() else {}


def source_hash() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(start: list[int], end: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(start) < 8 or len(end) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else None


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pass_order(ops: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def spark_conf(work_dir: str) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    def __init__(self, workload: str, seed: int, trace: bool, work_dir: str):
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.trace = trace
        self.work_dir = work_dir
        self.wl = make_workload(workload, work_dir, seed)
        self.ops_log: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def timed_op(self, spark, fn, op: str, tracer: Tracer) -> tuple[float, bool]:
        """Run one op; time it, then check its output untimed. An op
        that raises is timed up to the raise and fails."""
        tracer.op = op
        t0 = time.perf_counter()
        try:
            with tracer.span("op", query=op):
                t0 = time.perf_counter()
                check = fn(spark, op, tracer)
                dt = time.perf_counter() - t0
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc()
            return dt, False
        enabled, tracer.enabled = tracer.enabled, False
        try:
            return dt, bool(check())
        except Exception:
            traceback.print_exc()
            return dt, False
        finally:
            tracer.enabled = enabled

    def run_ops(self, spark, ops: list[str], fn, tracer: Tracer, kind: str, pass_no: int) -> float:
        """Run `ops` in order, each timed and checked; returns their summed time."""
        total = 0.0
        for op in ops:
            dt, ok = self.timed_op(spark, fn, op, tracer)
            self.attempted += 1
            self.failed += not ok
            if not ok:
                print(f"perfbench: {kind} op {op} failed its output check", file=sys.stderr)
            self.ops_log.append({"kind": kind, "pass": pass_no, "op": op, "s": dt, "ok": ok,
                                 "rows_in": self.wl.rows_in(op)})
            total += dt
        return total

    def execute(self) -> dict:
        from statcan_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        inputs = self.wl.generate()
        gen_s = time.perf_counter() - t0
        digest = input_hash(inputs, self.work_dir)
        want = recorded_hashes().get(self.name, {}).get(str(self.seed))
        if want is not None and want != digest:
            raise InputDrift(f"{self.name} seed {self.seed}: input hash {digest} != recorded {want}")

        conf = spark_conf(self.work_dir)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        start_s = time.perf_counter() - t0
        try:
            return self._measure(spark, start_s, gen_s, digest)
        finally:
            stop_spark(spark)

    def _head(self, pass_no: int, n: int) -> list[str]:
        """The first `n` ops of a seeded order, cycling through the shapes."""
        order = pass_order(self.wl.ops, self.seed, pass_no)
        return [order[i % len(order)] for i in range(n)]

    def _measure(self, spark, start_s, gen_s, digest) -> dict:
        t0 = time.perf_counter()
        self.wl.open_inputs(spark)
        open_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.wl.prepare(spark)
        prepare_s = time.perf_counter() - t0

        off = Tracer(spark, enabled=False)
        warm = self.run_ops(spark, pass_order(self.wl.verify_ops, self.seed, -1),
                            lambda s, o, _t: self.wl.verify(s, o), off, "verify", -1)
        warm += self.run_ops(spark, self._head(-2, self.cfg["warmup_ops"]), self.wl.run_op,
                             off, "warmup", -2)
        self.run_ops(spark, pass_order(self.wl.ops, self.seed, TIMED_PASS), self.wl.run_op,
                     off, "timed", TIMED_PASS)
        timed = [o for o in self.ops_log if o["kind"] == "timed"]
        record = {
            "e2e": end_to_end(start_s + open_s + warm, timed),
            "op_samples": len(timed),
            "session_start_s": start_s,
            "input_open_s": open_s,
            "warmup_s": warm,
            "generate_s": gen_s,
            "prepare_s": prepare_s,
            "input_sha256": digest,
        }
        if self.trace:
            record.update(self._traced(spark, timed, start_s))
        return record

    def _traced(self, spark, timed: list[dict], start_s: float) -> dict:
        import layers

        ops = self._head(10_000, self.cfg["traced_ops"])
        tracer = Tracer(spark, enabled=True)
        tracer.instrument(layers.layer_modules())
        try:
            self.run_ops(spark, ops, self.wl.run_op, tracer, "traced", 10_000)
        finally:
            tracer.restore()
        jobs = tracer.job_table()
        extra = layers.untimed_reps(self.wl, spark, ops)
        per_layer = layers.metrics(tracer, jobs, len(ops), extra)
        per_layer["session.start_s"] = start_s
        traced = [o["s"] for o in self.ops_log if o["kind"] == "traced"]
        untraced = [o["s"] for o in timed if o["op"] in set(ops)]
        per_layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        return {"per_layer": per_layer, "spans": tracer.spans}


class InputDrift(RuntimeError):
    pass


def provenance(args, cfg: dict, load_start, load_end, cpu_start: list[int]) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": cfg,
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "cpu_steal_share": steal_share(cpu_start, cpu_times()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": git_commit(),
        "source_sha256": source_hash(),
    }


def result_line(record: dict, run: Run, trace: bool) -> dict:
    if trace:
        from layers import PER_LAYER

        metrics = {k: {"value": record["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": record["e2e"][k], "unit": u} for k, u in E2E_METRICS.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": metrics}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE}/ package next to {HERE.name}/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpu_count()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    base = ROOT / ".perfbench"
    work_dir = base / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    work_dir.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work_dir / "tmp")
    load_start, cpu_start = os.getloadavg(), cpu_times()
    run = Run(args.workload, args.seed, bool(args.trace), str(work_dir))
    try:
        record = run.execute()
    except InputDrift as e:
        print(f"perfbench: inputs drifted: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    prov = provenance(args, WORKLOADS[args.workload], load_start, os.getloadavg(), cpu_start)
    result = result_line(record, run, bool(args.trace))
    record["fail_ratio"] = run.failed / run.attempted
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    side = results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    side.write_text(json.dumps({"provenance": prov, "result": result, "record": record,
                                "ops": run.ops_log}, default=str))
    print(json.dumps({"provenance": prov, "fail_ratio": record["fail_ratio"],
                      "op_samples": record["op_samples"], "record": str(side.relative_to(ROOT))}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
