#!/usr/bin/env python3
"""Compares two sets of benchmark results.

    python3 replaybench/diff.py BEFORE_DIR AFTER_DIR

Each directory holds run artifacts (the JSON files run.py writes under
<build dir>/replaybench/results). For every workload and metric the tool
prints each side's median and quartiles. An end-to-end metric whose AFTER
median is worse than BEFORE by more than its BENCHMARK.json bound is flagged
REGRESSION; one whose spread (quartile distance over median) on either side is
wider than the bound is flagged unresolved. Per-layer metrics carry no bound
and are listed with their change only. Exits 1 when any regression is flagged.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(directory: str) -> dict:
    """{(workload, metric): [values]} over every artifact in the directory."""
    out = {}
    for f in sorted(Path(directory).rglob("*.json")):
        try:
            art = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if "stamp" not in art:
            continue
        workload = art["stamp"]["workload"]
        for section in ("end_to_end", "per_layer"):
            for name, m in (art.get(section) or {}).items():
                if m.get("value") is not None:
                    out.setdefault((workload, name), []).append(float(m["value"]))
    return out


def quartiles(values: list) -> tuple:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    before, after = load(sys.argv[1]), load(sys.argv[2])
    regressions = 0
    workloads = sorted({w for w, _ in before} | {w for w, _ in after})
    for w in workloads:
        print(f"== {w}")
        names = sorted({n for ww, n in before if ww == w} | {n for ww, n in after if ww == w},
                       key=lambda n: (n not in e2e, n))
        for name in names:
            a, b = before.get((w, name)), after.get((w, name))
            if not a or not b:
                print(f"  {name:28s} only in {'after' if b else 'before'}")
                continue
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else float("inf")
            spec = e2e.get(name) or layer.get(name) or {}
            verdict = ""
            if name in e2e:
                worse = change if spec["better"] == "lower" else -change
                if max(spread(a), spread(b)) > spec["bound"]:
                    verdict = "unresolved"
                elif worse > spec["bound"]:
                    verdict = "REGRESSION"
                    regressions += 1
                else:
                    verdict = "within bound"
            print(f"  {name:28s} before {qa[1]:14.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(a):<3d}"
                  f" after {qb[1]:14.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(b):<3d}"
                  f" {change:+8.1%} {spec.get('unit', '')} {verdict}")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
