"""Tracing overhead: end-to-end numbers of traced runs against untraced
runs of the same workload and seeds, from the run records in
``.perfbench/results``.

    python3 perfbench/overhead.py [stream_live batch_registry]

Prints, per workload and metric, the median over seeds of each side and
the traced median's change relative to the untraced one. A number a
run could not support (None in its record) is left out of the median.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def load(workload: str, trace: int) -> dict[int, dict]:
    out = {}
    for path in glob.glob(os.path.join(common.OUT, "results", f"{workload}-seed*-trace{trace}.json")):
        with open(path) as f:
            rec = json.load(f)
        out[rec["environment"]["seed"]] = {**rec["end_to_end"], **rec["detail"]}
    return out


def main(workloads) -> int:
    for wl in workloads:
        plain, traced = load(wl, 0), load(wl, 1)
        seeds = sorted(plain.keys() & traced.keys())
        if not seeds:
            print(f"{wl}: no seed has both a traced and an untraced run")
            continue
        print(f"{wl}: {len(seeds)} seeds")
        for name in plain[seeds[0]]:
            a_vals = [plain[s][name] for s in seeds if plain[s].get(name) is not None]
            b_vals = [traced[s][name] for s in seeds if traced[s].get(name) is not None]
            if not a_vals or not b_vals:
                print(f"  {name:24s} no supported value")
                continue
            a, b = statistics.median(a_vals), statistics.median(b_vals)
            change = (b - a) / a if a else float("nan")
            print(f"  {name:24s} untraced {a:12.4f}  traced {b:12.4f}  change {change:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["stream_live", "batch_registry"]))
