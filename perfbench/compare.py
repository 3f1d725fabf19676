"""Summarise the run records that ``run.py`` writes to ``.perfbench/out``.

    python3 perfbench/compare.py

For each workload it prints every end-to-end metric's median over the
untraced runs (``--trace 0``) and its spread, the distance between the
first and third quartile as a share of the median; and the tracing
overhead, the traced runs' end-to-end medians minus the untraced ones.
Runs marked DISTURBED by their calibration op are listed and left out.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".perfbench", "out")


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(OUT, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec["interference"]["disturbed"]:
            print(f"left out (disturbed): {os.path.basename(path)}")
            continue
        runs.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    for (workload, trace), recs in sorted(runs.items()):
        if trace:
            continue
        traced = runs.get((workload, 1), [])
        print(f"{workload}: {len(recs)} untraced runs, {len(traced)} traced")
        for name, (_, unit) in recs[0]["end_to_end"].items():
            vals = [r["end_to_end"][name][0] for r in recs]
            med = statistics.median(vals)
            line = f"  {name:<20} median {med:12.4f} {unit:<6}"
            if len(vals) >= 2:
                line += f" spread {spread(vals):7.2%}"
            if traced:
                tmed = statistics.median(r["end_to_end"][name][0] for r in traced)
                line += f"  tracing overhead {tmed - med:+.4f} {unit}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
