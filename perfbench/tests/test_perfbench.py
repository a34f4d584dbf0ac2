"""The benchmark's own tests: seeded generators, metric names, failed ops.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen_star  # noqa: E402
import gen_wds  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from tracer import Tracer  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _same_tree(a: Path, b: Path) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_star_generator_is_byte_identical_per_seed(tmp_path):
    gen_star.write(0.002, 7, str(tmp_path / "a"))
    gen_star.write(0.002, 7, str(tmp_path / "b"))
    gen_star.write(0.002, 8, str(tmp_path / "c"))
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_wds_generator_is_byte_identical_per_seed(tmp_path):
    gen_wds.write(7, str(tmp_path / "a"), 3, 500, 3000)
    gen_wds.write(7, str(tmp_path / "b"), 3, 500, 3000)
    gen_wds.write(8, str(tmp_path / "c"), 3, 500, 3000)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert os.listdir(tmp_path / "a") != os.listdir(tmp_path / "c") or not _same_tree(
        tmp_path / "a", tmp_path / "c")


def test_wds_products_hold_every_feature(tmp_path):
    products = gen_wds.write(3, str(tmp_path), 3, 2000, 4000)
    text = "".join(Path(p.path).read_text() for p in products)
    assert '"p","' in text and '"r","' in text  # preliminary and revised releases
    assert '"","x"' in text  # suppressed cell: empty VALUE, STATUS set
    assert '"t","' in text  # terminated vector
    assert any(p.monthly for p in products) and not all(p.monthly for p in products)
    width = len(gen_wds.HEADER)
    short = [ln for ln in text.splitlines() if ln.count('","') + 1 < width]
    assert len(short) == 3 * len(products)  # the malformed lines


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_recorded_input_hashes_match(tmp_path, workload):
    recorded = run.recorded_hashes().get(workload, {})
    assert recorded, f"no recorded input hashes for {workload}"
    seed = min(recorded, key=int)
    wl = run.make_workload(workload, str(tmp_path), int(seed))
    assert run.input_hash(wl.generate(), str(tmp_path)) == recorded[seed]


def test_declared_metrics_are_the_printed_ones():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == run.E2E_METRICS
    assert per_layer == layers.PER_LAYER


def test_result_line_prints_exactly_the_declared_metrics():
    class Done:
        attempted, failed = 30, 0

    e2e = {k: 1.0 for k in run.E2E_METRICS}
    line = run.result_line({"e2e": e2e}, Done(), trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.E2E_METRICS
    traced = run.result_line({"per_layer": {k: 0.0 for k in layers.PER_LAYER}}, Done(), trace=True)
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == layers.PER_LAYER


def test_failed_ops_are_counted_and_the_result_line_is_printed(tmp_path, capsys):
    """An op whose build raises (so the workload never learned its
    tables) and an op with a wrong result both count as failed; every
    metric is still a number and the run reports correct: false."""
    bench = run.Run("olap_query_mix", 1, False, str(tmp_path))
    bench.wl.table_rows = {"lineitem": 600}
    bench.wl.op_tables = {"q6_forecast_revenue": {"lineitem"}}

    def op(_spark, name, _tracer):
        if name == "q1_pricing_summary":
            raise RuntimeError("build failed")
        return lambda: name != "q3_top_unshipped"

    off = Tracer(SimpleNamespace(sparkContext=None), enabled=False)
    ops = ["q1_pricing_summary", "q3_top_unshipped", "q6_forecast_revenue"]
    bench.run_ops(None, ops, op, off, "timed", run.TIMED_PASS)
    assert (bench.attempted, bench.failed) == (3, 2)
    assert "RuntimeError: build failed" in capsys.readouterr().err
    e2e = run.end_to_end(1.0, bench.ops_log)
    line = run.result_line({"e2e": e2e}, bench, trace=False)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 2)
    values = [m["value"] for m in line["metrics"].values()]
    assert all(math.isfinite(v) and v > 0 for v in values)
    json.loads(json.dumps(line), parse_constant=pytest.fail)  # strict JSON


def test_end_to_end_tail_is_the_interpolated_90th_percentile():
    ops = [{"s": float(s), "rows_in": 10} for s in (4, 11, 2, 6, 1, 9, 3, 10, 5, 7, 8)]
    e2e = run.end_to_end(5.0, ops)
    assert e2e == {"setup_s": 5.0, "run_s": 66.0, "op_s_p50": 6.0, "op_s_tail": 10.0,
                   "rows_per_s": 110 / 66.0}
    e2e = run.end_to_end(5.0, ops + [{"s": 12.0, "rows_in": 10}])
    assert e2e["op_s_tail"] == pytest.approx(10.9)  # 90% of the way from 10 to 11 s


def test_union_length_merges_overlaps():
    assert layers.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert layers.union_length([]) == 0
