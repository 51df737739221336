#!/usr/bin/env python3
"""Record the golden digests the benchmark compares against.

For each workload and input variant (0 to run.GOLDEN_VARIANTS - 1; a run
with seed n uses variant n % GOLDEN_VARIANTS) this generates the inputs
and computes the reference digests without Spark (in-process ``extract_doc`` for pages,
DuckDB's oracle SQL for queries), then writes perfbench/golden.json.  Run
from the repository root, on the tree whose outputs are the reference:

    python3 perfbench/record_golden.py
"""
from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main() -> int:
    import run
    from session import prepare_env

    root = os.getcwd()
    work = os.path.join(root, ".bench_work", f"golden-{os.getpid()}")
    prepare_env(root, work)
    golden: dict[str, dict[str, dict[str, str]]] = {}
    try:
        for cls in run.GOLDEN:
            name = cls.name
            for variant in range(run.GOLDEN_VARIANTS):
                d = os.path.join(work, f"{name}-{variant}")
                wl = cls(d, variant)
                wl.reference()
                golden.setdefault(name, {})[str(variant)] = wl.golden_digests()
                shutil.rmtree(d, ignore_errors=True)
            print(f"{name}: {run.GOLDEN_VARIANTS} variants recorded",
                  flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
