"""Check that the input generators are seeded: the same seed writes
byte-identical files, another seed writes different ones.

    python3 perfbench/check_inputs.py [--seed N]

Exits non-zero on a violation.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, then the package

from run import WORK  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def digest(workload, out_dir: str, seed: int) -> dict[str, str]:
    os.makedirs(out_dir)
    workload(None, None, out_dir, seed).generate()
    out = {}
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    root = os.path.join(WORK, f"check-inputs-{os.getpid()}")
    bad = 0
    try:
        for name, fn in WORKLOADS.items():
            a = digest(fn, os.path.join(root, name, "a"), seed)
            b = digest(fn, os.path.join(root, name, "b"), seed)
            c = digest(fn, os.path.join(root, name, "c"), seed + 1)
            same = a == b
            differ = all(a[f] != c[f] for f in a)
            print(f"{name}: same seed identical={same}, other seed differs={differ}, files={sorted(a)}")
            bad += (not same) + (not differ)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
