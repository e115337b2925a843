"""Compare the recorded runs of two checkouts.

    python3 perfbench/compare.py BASE/.perfbench_results NEW/.perfbench_results

Each run leaves one JSON record in ``.perfbench_results/``.  For every
workload this prints the median of each metric on both sides and the
relative change, and the tracing overhead of each side (median of the
``traced.*`` metrics of ``--trace 1`` runs against the same metric of
``--trace 0`` runs).

It refuses to compare when a (workload, seed) pair had different inputs
on the two sides (``feed_digest``: the page bytes served and, in
``publish_dual``, the query mix's fixture bytes and order).  The feed
comes from ``synthesize_filings`` in the checkout, so a change there
would change the input, not only the code under test.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(results_dir: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path) as fh:
            runs.append(json.load(fh))
    return runs


def digests(runs: list[dict]) -> dict[tuple[str, int], set[str]]:
    out: dict[tuple[str, int], set[str]] = defaultdict(set)
    for r in runs:
        d = r["detail"]
        out[(d["workload"], d["seed"])].add(d["feed_digest"])
    return out


def digest_conflicts(base: list[dict], new: list[dict]) -> list[str]:
    a, b = digests(base), digests(new)
    problems = []
    for key in sorted(set(a) | set(b)):
        seen = a.get(key, set()) | b.get(key, set())
        if len(seen) > 1:
            problems.append(f"{key[0]} seed {key[1]}: feed digests differ {sorted(seen)}")
    return problems


def medians(runs: list[dict], trace: int) -> dict[str, dict[str, float]]:
    values: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for r in runs:
        d = r["detail"]
        if d["trace"] == trace:
            for name, value in r["metrics"].items():
                values[d["workload"]][name].append(value)
    return {
        wl: {name: statistics.median(v) for name, v in metrics.items()}
        for wl, metrics in values.items()
    }


def tracing_overhead(runs: list[dict]) -> dict[str, dict[str, float]]:
    plain, traced = medians(runs, 0), medians(runs, 1)
    out: dict[str, dict[str, float]] = {}
    for wl, metrics in traced.items():
        for name, value in metrics.items():
            base = name.removeprefix("traced.")
            if name.startswith("traced.") and plain.get(wl, {}).get(base):
                out.setdefault(wl, {})[base] = value / plain[wl][base] - 1
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    conflicts = digest_conflicts(base, new)
    if conflicts:
        print("refusing to compare: the two sides did not serve the same feed", file=sys.stderr)
        for c in conflicts:
            print("  " + c, file=sys.stderr)
        return 1
    mb, mn = medians(base, 0), medians(new, 0)
    for wl in sorted(set(mb) | set(mn)):
        print(wl)
        for name in sorted(set(mb.get(wl, {})) | set(mn.get(wl, {}))):
            a, b = mb.get(wl, {}).get(name), mn.get(wl, {}).get(name)
            change = f"{b / a - 1:+.1%}" if a and b is not None else "n/a"
            print(f"  {name:24s} {a!s:>22} -> {b!s:>22}  {change}")
    for side, runs in (("base", base), ("new", new)):
        for wl, over in sorted(tracing_overhead(runs).items()):
            pretty = ", ".join(f"{k} {v:+.1%}" for k, v in sorted(over.items()))
            print(f"tracing overhead ({side}, {wl}): {pretty}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
