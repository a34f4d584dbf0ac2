"""Per-layer metrics of a traced run.

Layers are the engine's modules: `catalog` (table open), `queries`
(build, Catalyst planning and execution of a registry query), `operators`,
`sources`, `plans` (the pipeline runner) and `sinks`. Times are span wall
times in seconds; a span's self time excludes its child spans; job and
stage counts come from Spark's status store through each span's job
group, children included.

Every figure is a mean per traced op (counts too), so it does not
depend on how many ops a run traces.
"""

from __future__ import annotations

import math
import sys
import time

PER_LAYER = {
    "session.start_s": "s",
    "catalog.open_s": "s",
    "catalog.opens": "count",
    "catalog.open_jobs": "count",
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "queries.build_gap_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.exec_stages": "count",
    "queries.shuffle_bytes": "bytes",
    "queries.shuffle_records": "count",
    "queries.spill_bytes": "bytes",
    "queries.scan_rows": "count",
    "queries.exchanges": "count",
    "queries.broadcasts": "count",
    "operators.call_s": "s",
    "operators.calls": "count",
    "sources.parse_s": "s",
    "sources.rows_in": "count",
    "sources.bytes_in": "bytes",
    "sources.null_value_ratio": "ratio",
    "sources.dimension_s": "s",
    "plans.pipeline_s": "s",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.compact_s": "s",
    "sinks.compact_files_in": "count",
    "sinks.compact_files_out": "count",
    "sinks.bytes_rewritten": "bytes",
    "sinks.readback_s": "s",
    "sinks.readback_files_read": "count",
    "trace.overhead_s": "s",
}

PROFILE_KEYS = {
    "queries.shuffle_bytes": "shuffle_bytes",
    "queries.shuffle_records": "shuffle_records",
    "queries.spill_bytes": "spill_bytes",
    "queries.scan_rows": "scan_rows",
    "queries.exchanges": "n_exchanges",
    "queries.broadcasts": "n_broadcasts",
}


def layer_modules() -> dict[str, list]:
    """The loaded modules of each traced layer."""
    pkg = "statcan_etl_pipeline_spark"
    prefixes = {
        "catalog": f"{pkg}.catalog",
        "operators": f"{pkg}.operators.",
        "sources": f"{pkg}.sources.",
        "plans": f"{pkg}.plans.pipeline",
        "sinks": f"{pkg}.sinks.",
    }
    out: dict[str, list] = {}
    for layer, prefix in prefixes.items():
        out[layer] = [m for n, m in sorted(sys.modules.items())
                      if m is not None and (n == prefix or (prefix.endswith(".") and n.startswith(prefix)))]
    return out


def untimed_reps(wl, spark, ops: list[str]) -> dict[str, float]:
    """One extra, untimed rep of each op: executed-plan metrics for
    registry queries, a parse pass for WDS products. Means per op."""
    out = {k: 0.0 for k in PROFILE_KEYS}
    out.update({"sources.parse_s": 0.0, "sources.rows_in": 0, "sources.bytes_in": 0,
                "null_values": 0})
    for op in ops:
        if hasattr(wl, "profile"):
            prof = wl.profile(spark, op)
            for metric, key in PROFILE_KEYS.items():
                out[metric] += prof[key]
        if hasattr(wl, "parse"):
            t0 = time.perf_counter()
            counted = wl.parse(spark, op)
            out["sources.parse_s"] += time.perf_counter() - t0
            out["sources.rows_in"] += counted["rows"]
            out["null_values"] += counted["null_values"]
            out["sources.bytes_in"] += wl.bytes_in(op)
    return {k: v / len(ops) for k, v in out.items()}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class SpanTree:
    def __init__(self, spans: list[dict], jobs: dict[str, list[dict]]):
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.jobs = jobs

    def named(self, name: str) -> list[dict]:
        return [s for s in self.by_id.values() if s["name"] == name]

    def starting(self, prefix: str) -> list[dict]:
        return [s for s in self.by_id.values() if s["name"].startswith(prefix)]

    def has_ancestor(self, span: dict, prefix: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.by_id[p]["name"].startswith(prefix):
                return True
            p = self.by_id[p]["parent"]
        return False

    @staticmethod
    def dur(span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        return self.dur(span) - sum(self.dur(c) for c in self.children.get(span["id"], []))

    def subtree_jobs(self, span: dict) -> list[dict]:
        out = list(self.jobs.get(span["group"], []))
        for c in self.children.get(span["id"], []):
            out += self.subtree_jobs(c)
        return out

    def job_seconds(self, span: dict) -> float:
        """Time within the span during which one of its jobs ran."""
        iv = [(max(j["submit"], span["start"]), min(j["complete"], span["end"]))
              for j in self.subtree_jobs(span)
              if j["submit"] is not None and j["complete"] is not None]
        return union_length([(a, b) for a, b in iv if b > a])


def metrics(tracer, jobs: dict[str, list[dict]], n_ops: int, extra: dict) -> dict[str, float]:
    t = SpanTree(tracer.spans, jobs)
    c = tracer.counts
    opens = t.named("catalog.load_table")
    builds = t.named("queries.build")
    execs = t.named("queries.exec")
    ops = [s for s in t.starting("operators.") if not t.has_ancestor(s, "operators.")]
    m = {
        "catalog.open_s": sum(map(t.dur, opens)),
        "catalog.opens": len(opens),
        "catalog.open_jobs": sum(len(t.subtree_jobs(s)) for s in opens),
        "queries.build_s": sum(map(t.dur, builds)),
        "queries.build_self_s": sum(map(t.self_time, builds)),
        "queries.build_jobs": sum(len(t.subtree_jobs(s)) for s in builds),
        "queries.build_job_s": sum(map(t.job_seconds, builds)),
        "queries.plan_s": sum(s["phases_s"] for s in t.named("queries.plan")),
        "queries.exec_s": sum(map(t.dur, execs)),
        "queries.exec_jobs": sum(len(t.subtree_jobs(s)) for s in execs),
        "queries.exec_stages": sum(j["stages"] for s in execs for j in t.subtree_jobs(s)),
        "operators.call_s": sum(map(t.dur, ops)),
        "operators.calls": len(t.starting("operators.")),
        "sources.dimension_s": sum(map(t.dur, t.named("wds.dimension"))),
        "plans.pipeline_s": sum(map(t.self_time, t.named("plans.run_pipeline"))),
        "sinks.write_s": sum(map(t.dur, t.named("sinks.write_partitioned_parquet"))),
        "sinks.files_written": c["files_written"],
        "sinks.bytes_written": c["bytes_written"],
        "sinks.compact_s": sum(map(t.dur, t.named("sinks.compact_parquet"))),
        "sinks.compact_files_in": c["compact_files_in"],
        "sinks.compact_files_out": c["compact_files_out"],
        "sinks.bytes_rewritten": c["bytes_rewritten"],
        "sinks.readback_s": sum(map(t.dur, t.named("wds.readback"))),
        "sinks.readback_files_read": c["readback_files_read"],
    }
    m = {k: v / n_ops for k, v in m.items()}
    m["queries.build_gap_s"] = m["queries.build_s"] - m["queries.build_job_s"]
    m["sinks.bytes_per_input_byte"] = c["bytes_written"] / c["bytes_in"] if c["bytes_in"] else 0.0
    m.update({k: extra[k] for k in (*PROFILE_KEYS, "sources.parse_s", "sources.rows_in", "sources.bytes_in")})
    rows = extra["sources.rows_in"]
    m["sources.null_value_ratio"] = extra["null_values"] / rows if rows else 0.0
    return m
