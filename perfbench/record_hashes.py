#!/usr/bin/env python3
"""Record the input content hash of every workload for a range of seeds.

    python3 perfbench/record_hashes.py --seeds 0-39

Writes `perfbench/input_hashes.json`, which `run.py` checks each run's
generated inputs against. Re-run it only when a generator or a
workload's input size changes on purpose.
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile

import run


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="0-39", help="inclusive range, e.g. 0-39")
    lo, hi = map(int, ap.parse_args().seeds.split("-"))
    out: dict[str, dict[str, str]] = {}
    base = run.ROOT / ".perfbench"
    base.mkdir(exist_ok=True)
    for name in run.WORKLOADS:
        out[name] = {}
        for seed in range(lo, hi + 1):
            work = tempfile.mkdtemp(dir=base)
            try:
                wl = run.make_workload(name, work, seed)
                out[name][str(seed)] = run.input_hash(wl.generate(), work)
            finally:
                shutil.rmtree(work)
    (run.HERE / "input_hashes.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
