"""Summarise one result set, or diff two (such as parent and change).

    python3 perfbench/compare.py RESULTS_DIR
    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

A result set is a directory of the records ``run.py`` writes to
``.scratch/perfbench/results/`` (one JSON file per run). For each
workload and metric it prints each side's run count, median and
quartiles (``statistics.quantiles(n=4)``) and the spread, the distance
between the quartiles as a share of the median.

With two sets, a metric is flagged only when the medians differ by more
than the base set's own spread; an end-to-end metric that got worse by
more than its bound in BENCHMARK.json is marked REGRESSED. Tracing
overhead per workload is the traced runs' median cycle wall time minus
the untraced runs' median timed wall time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    """{(workload, trace): {metric: [values]}}, plus '_timed' wall times."""
    out: dict = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        prov = rec["provenance"]
        side = out.setdefault((prov["workload"], prov["trace"]), {})
        for name, m in rec["metrics"].items():
            side.setdefault(name, []).append(m["value"])
        side.setdefault("_timed", []).append(rec["timed_s"])
    return out


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def bounds() -> dict[str, dict]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def _fmt(s: dict) -> str:
    return f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] n={s['n']} spread={s['spread']:.3f}"


def summarise(sets: dict) -> list[str]:
    lines = []
    spec = bounds()
    for (wl, trace), metrics in sorted(sets.items()):
        lines.append(f"== {wl} (trace={trace})")
        for name, values in metrics.items():
            if name.startswith("_"):
                continue
            s = stats(values)
            bound = spec.get(name, {}).get("bound")
            note = f" bound={bound} spread/bound={s['spread'] / bound:.2f}" if bound else ""
            lines.append(f"  {name:42s} {_fmt(s)}{note}")
    return lines


def overhead(sets: dict) -> dict[str, float]:
    """Traced minus untraced wall time of the timed region, per workload."""
    out = {}
    for (wl, trace), metrics in sets.items():
        if trace == 1 and (wl, 0) in sets and "trace.cycle_s" in metrics:
            out[wl] = (statistics.median(metrics["trace.cycle_s"])
                       - statistics.median(sets[(wl, 0)]["_timed"]))
    return out


def diff(base: dict, change: dict) -> list[str]:
    lines = []
    spec = bounds()
    for key in sorted(set(base) & set(change)):
        wl, trace = key
        lines.append(f"== {wl} (trace={trace})")
        for name in base[key]:
            if name.startswith("_") or name not in change[key]:
                continue
            b, c = stats(base[key][name]), stats(change[key][name])
            delta = c["median"] - b["median"]
            flag = ""
            if abs(delta) > b["q3"] - b["q1"] and delta != 0:
                flag = " CHANGED"
                m = spec.get(name, {})
                worse = delta > 0 if m.get("better") == "lower" else delta < 0
                if "bound" in m and worse and abs(delta) > m["bound"] * b["median"]:
                    flag = " REGRESSED"
            lines.append(f"  {name:42s} base {_fmt(b)} | change {_fmt(c)}{flag}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(p) for p in argv]
    lines = summarise(sets[0]) if len(sets) == 1 else diff(sets[0], sets[1])
    for i, s in enumerate(sets):
        for wl, o in sorted(overhead(s).items()):
            lines.append(f"tracing overhead [{argv[i]}] {wl}: {o:.3f} s")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
